"""Benchmark harness.

Default: runs the headline query suite at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` plus a frontier
throughput run, and prints ONE JSON line::

  {"metric": "...", "value": <total headline sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "extras": {"frontier_urls_per_sec": ...}}

Modes:
  python bench.py                 # headline suite + frontier throughput
  python bench.py --frontier-only --cpus 8   # one frontier run (scaling leg)
  python bench.py --scaling       # local[8] vs local[32] legs in fresh JVMs,
                                  # writes BENCH/BASELINE.md, adds extras
  python bench.py --check         # streaming==batch equality artifact
                                  # (BENCH/STREAMCHECK.json; exit 0 = match)

The frontier throughput bench schedules with effectively-unbounded
politeness budgets so the measurement reflects pipeline throughput
(extract → canonicalize → dedup → seen-filter → schedule → checkpoint),
not the politeness cap. Input is the deterministic synthetic interleaved
corpus (seeded generator, no external data), cached under /tmp by config.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "800000"))
BENCH_ROUNDS = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "2"))

HEADLINE = [
    "frontier_schedule",
    "indexer_compact",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "topk_parts_per_supplier",
    "champion_oldest_order",
    "asof_backward_events_orders",
    "minhash_lsh_buckets",
    "simhash_buckets_md5",
    "ann_topk_lsh",
    "emb_near_dup_pairs",
    "cosine_topk",
    "lang_quality",
    "session_stats",
    "hourly_rollup",
    "gopher_repetition",
    "decontam_overlap",
    "media_video",
    "media_phash_pairs",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def bench_gen_config(n_docs: int):
    from image_search_indexing_spark.frontier.datagen import GenConfig

    # skew-leg knobs: SPARK_GRAFT_BENCH_HOSTS=8 SPARK_GRAFT_BENCH_ZIPF=2.0
    # concentrates ~half the candidates on one host (straggler evidence)
    return GenConfig(
        n_docs=n_docs,
        n_hosts=int(os.environ.get("SPARK_GRAFT_BENCH_HOSTS", "2000")),
        zipf_alpha=float(os.environ.get("SPARK_GRAFT_BENCH_ZIPF", "1.3")),
        dup_rate=0.25,
    )


def corpus_dir(cfg) -> str:
    # key the cache on the FULL generator config — changing any knob
    # (hosts, dup_rate, seed, ...) must not silently reuse a stale corpus
    import dataclasses
    import hashlib

    tag = hashlib.md5(repr(dataclasses.asdict(cfg)).encode()).hexdigest()[:10]
    return f"/tmp/isis_bench_corpus_{cfg.n_docs}_{tag}"


def ensure_corpus(spark, n_docs: int) -> str:
    from image_search_indexing_spark.frontier.datagen import write_corpus

    cfg = bench_gen_config(n_docs)
    d = corpus_dir(cfg)
    marker = os.path.join(d, "_DONE")
    if os.path.exists(marker):
        return d
    log(f"generating bench corpus ({n_docs} docs) -> {d}")
    shutil.rmtree(d, ignore_errors=True)
    write_corpus(spark, cfg, d)
    open(marker, "w").write("ok")
    return d


def stage_stats(spark, top_n: int = 10) -> list[dict]:
    """Per-stage executor metrics from the UI REST API (needs spark.ui on).

    This is the scaling-evidence instrument: comparing a leg's top stages
    at local[8] vs local[32] shows WHERE wall time goes — if per-stage
    executorRunTime (total cpu-seconds) inflates at 32 threads while
    shuffle/input bytes stay identical, the cores are stalling on a shared
    resource (single-box memory bandwidth), not doing extra work.
    """
    import json as _json
    import urllib.request

    url = spark.sparkContext.uiWebUrl
    if not url:
        return []
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?status=complete"
            "&withSummaries=true&quantiles=0.0,0.5,1.0",
            timeout=10,
        ) as r:
            stages = _json.loads(r.read())
    except Exception as ex:  # UI off / API drift — evidence is best-effort
        log(f"stage_stats unavailable: {ex}")
        return []
    stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    out = []
    for s in stages[:top_n]:
        out.append(
            {
                "stage": s.get("stageId"),
                "name": (s.get("name") or "").split("\n")[0][:70],
                "tasks": s.get("numTasks"),
                "run_ms": s.get("executorRunTime"),
                "cpu_ms": (s.get("executorCpuTime") or 0) // 1_000_000,
                "shuf_read_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 1),
                "shuf_write_mb": round((s.get("shuffleWriteBytes") or 0) / 1e6, 1),
                "input_mb": round((s.get("inputBytes") or 0) / 1e6, 1),
                "spill_mb": round((s.get("memoryBytesSpilled") or 0) / 1e6, 1),
            }
        )
        # straggler instrument: median vs max task run time (skew shows up
        # as max >> median in the window stage)
        dist = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
        if dist and len(dist) == 3:
            out[-1]["task_run_ms_med"] = int(dist[1])
            out[-1]["task_run_ms_max"] = int(dist[2])
    return out


def bench_frontier(spark, n_docs: int, n_rounds: int) -> dict:
    """Frontier rounds over the cached corpus; returns throughput stats."""
    from pyspark.sql import functions as F

    from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver

    d = ensure_corpus(spark, n_docs)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    meta = spark.read.parquet(f"{d}/docmeta.parquet")
    seeds = spark.read.parquet(f"{d}/seeds.parquet")
    robots = spark.read.parquet(f"{d}/robots.parquet")

    wd = tempfile.mkdtemp(prefix="isis-bench-", dir="/dev/shm")
    cfg = FrontierConfig(
        n_rounds=n_rounds,
        n_buckets=max(32, CPUS * 2),
        default_budget=int(
            os.environ.get("SPARK_GRAFT_BENCH_BUDGET", str(1 << 30))
        ),  # default: throughput mode, schedule everything new
        expected_per_bucket=max(4096, int(n_docs * 6 / max(32, CPUS * 2))),
    )
    drv = FrontierDriver(spark, wd, cfg)
    t0 = time.time()
    counters = drv.run(docs, meta, seeds, None, robots, n_rounds=n_rounds)
    dt = time.time() - t0
    scheduled = sum(c["scheduled"] for c in counters)
    candidates = sum(c["round_candidates"] for c in counters)
    out = {
        "seconds": round(dt, 2),
        "scheduled": scheduled,
        "candidates": candidates,
        "urls_per_sec": round(scheduled / dt, 1),
        "rounds": n_rounds,
    }
    if os.environ.get("SPARK_GRAFT_STAGE_STATS"):
        out["stages"] = stage_stats(spark)
        out["executor_run_ms_total"] = sum(s["run_ms"] or 0 for s in out["stages"])
    shutil.rmtree(wd, ignore_errors=True)
    return out


def bench_queries(spark) -> dict[str, float]:
    """Per-query wall time, MIN of ``SPARK_GRAFT_BENCH_REPS`` (default 3)
    back-to-back executions. The min is the contamination-robust
    statistic: co-tenant load only ever ADDS time (the r4 artifact showed
    2.1× spikes within one code-identical session), so the fastest rep is
    the closest observable to the machine's true cost. Every rep is
    logged to stderr for spread inspection."""
    import __spark_entry__ as E

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    qs = E.queries()
    out = {}
    for name in HEADLINE:
        fn = qs[name]
        times = []
        n = 0
        for _ in range(reps):
            t0 = time.time()
            n = fn(spark, SF_DIR).count()
            times.append(round(time.time() - t0, 3))
        out[name] = min(times)
        log(f"  {name}: {out[name]}s min of {times} ({n} rows)")
    return out


def check_streaming(spark) -> dict:
    """``--check``: streaming==batch equality ARTIFACT (VERDICT r3 ask
    #9 — the streaming surface's evidence outside pytest). The same
    interleaved corpus is read once through the Structured Streaming
    ingest (file-source micro-batches → span explode → ref extraction)
    and once through the batch extractor; row counts AND an order-
    independent checksum over (doc_id, offset, url_hash) must match
    exactly. Written to BENCH/STREAMCHECK.json. Uses the deterministic
    synthetic corpus (the driver's sf tables carry no span sequences —
    the frontier corpus format is the streaming input contract)."""
    from pyspark.sql import functions as F

    from image_search_indexing_spark.frontier.extract import media_refs
    from image_search_indexing_spark.streaming.ingest import run_to_memory

    n_docs = int(os.environ.get("SPARK_GRAFT_CHECK_DOCS", "100000"))
    d = ensure_corpus(spark, n_docs)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    meta = spark.read.parquet(f"{d}/docmeta.parquet")
    tmp = tempfile.mkdtemp(prefix="isis-check-", dir="/dev/shm")
    src = f"{tmp}/src"
    docs.join(meta, "doc_id").write.mode("overwrite").parquet(src)
    t0 = time.time()
    got = run_to_memory(spark, src, "t_check_refs")
    stream_sec = round(time.time() - t0, 2)
    t0 = time.time()
    want = media_refs(docs, meta).where(F.col("drop_reason").isNull())

    def agg(df):
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.concat_ws("|", "doc_id", "offset", "url_hash"))).alias("ck"),
        ).collect()[0]

    g = agg(got)
    w = agg(want)
    batch_sec = round(time.time() - t0, 2)

    # stateful-operator leg: the cross-batch cumulative per-host budget
    # (applyInPandasWithState) must grant, per host, EXACTLY
    # min(budget, batch-side distinct URLs) — state carried across
    # micro-batches equals the batch contract.
    from image_search_indexing_spark.streaming.politeness import run_streaming_budget

    budget = int(os.environ.get("SPARK_GRAFT_CHECK_BUDGET", "3"))
    t0 = time.time()
    granted = run_streaming_budget(spark, src, budget=budget, query_name="t_check_budget")
    s_counts = {
        r["host"]: r["n"]
        for r in granted.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    b_counts = {
        r["host"]: r["n"]
        for r in want.groupBy("host")
        .agg(F.least(F.lit(budget), F.countDistinct("url_hash")).alias("n"))
        .collect()
    }
    budget_sec = round(time.time() - t0, 2)

    out = {
        "n_docs": n_docs,
        "stream_rows": g["n"],
        "batch_rows": w["n"],
        "stream_checksum": g["ck"],
        "batch_checksum": w["ck"],
        "rows_match": bool(g["n"] == w["n"]),
        "checksum_match": bool(g["ck"] == w["ck"]),
        "stream_seconds": stream_sec,
        "batch_seconds": batch_sec,
        "budget": budget,
        "budget_hosts": len(b_counts),
        "budget_granted_rows": sum(s_counts.values()),
        "budget_counts_match": bool(s_counts == b_counts),
        "budget_seconds": budget_sec,
    }
    shutil.rmtree(tmp, ignore_errors=True)
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "STREAMCHECK.json"), "w") as f:
        json.dump(out, f, indent=1)
    return out


def run_leg(cpus: int) -> dict:
    """Run one frontier-only leg in a fresh JVM at the given parallelism.

    The per-leg timeout defaults to 3600 s; a low-width leg over the 13M
    corpus sits near 2500-2700 s on a quiet box and can cross 3600 under
    co-tenant load, so SPARK_GRAFT_LEG_TIMEOUT lets a scaling run extend
    it instead of losing the whole pair."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_STAGE_STATS="1")
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--frontier-only"],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.abspath(__file__)),
        timeout=int(os.environ.get("SPARK_GRAFT_LEG_TIMEOUT", "3600")),
    )
    line = [l for l in p.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def write_scaling_md(pairs: list[tuple[int, dict, int, dict, float]], n_docs: int) -> None:
    os.makedirs("BENCH", exist_ok=True)
    rows = []
    effs = []
    seen_legs = set()
    for n, legn, n4, leg4, eff in pairs:
        for c, leg in ((n, legn), (n4, leg4)):
            if c not in seen_legs:
                seen_legs.add(c)
                fr = leg["extras"]["frontier"]
                rows.append(f"| local[{c}] | {fr['urls_per_sec']} | {fr['seconds']} |")
        effs.append(f"- **local[{n}] → local[{n4}] (N vs 4N): efficiency = {eff:.3f}**")
    cands = pairs[-1][3]["extras"]["frontier"]["candidates"]
    # per-stage evidence: where the wall time goes at each parallelism
    stage_md = []
    for c in sorted(seen_legs):
        leg = next(l for n, ln, n4, l4, _ in pairs for cc, l in ((n, ln), (n4, l4)) if cc == c)
        fr = leg["extras"]["frontier"]
        stages = fr.get("stages") or []
        if not stages:
            continue
        stage_md.append(
            f"\n### local[{c}] — top stages by executor time "
            f"(total executorRunTime {fr.get('executor_run_ms_total', 0) / 1000:.0f} cpu-s)\n"
        )
        stage_md.append("| stage | tasks | run s | cpu s | shuf R MB | shuf W MB | input MB | spill MB |")
        stage_md.append("|---|---|---|---|---|---|---|---|")
        for s in stages[:6]:
            stage_md.append(
                f"| {s['name']} | {s['tasks']} | {(s['run_ms'] or 0) / 1000:.1f} "
                f"| {(s['cpu_ms'] or 0) / 1000:.1f} | {s['shuf_read_mb']} "
                f"| {s['shuf_write_mb']} | {s['input_mb']} | {s['spill_mb']} |"
            )
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(
            f"""# BENCH baseline — frontier scaling (N vs 4N parallelism)

Same job (frontier rounds: extract → canonicalize → dedup → Bloom+exact
seen-filter → per-host top-k schedule → checkpoint), same deterministic input
({n_docs} docs, ≈{cands} frontier URL candidates in the largest pair),
multiple N-vs-4N parallelism pairs on this 32-core host (the sandbox analog
of two cluster sizes, per BASELINE.md protocol):

| leg | URLs scheduled/sec | wall sec |
|---|---|---|
{chr(10).join(rows)}

{chr(10).join(effs)}
{chr(10).join(stage_md)}

**Reading the stage tables:** identical shuffle/input bytes across legs
mean both ran the same work; if total executorRunTime (cpu-seconds, all
threads) inflates at the higher thread count while bytes are unchanged,
the extra "cpu time" is threads stalling on the shared memory subsystem —
the single-box bandwidth ceiling, not engine overhead. On a real cluster
4N executors bring 4x the memory bandwidth and this term scales.

Notes on the sandbox's single-box ceiling: this Firecracker VM shares one
memory subsystem and a noisy host (co-tenant variance ±50% observed, ~2%
CPU steal at idle; raw CPU scales linearly to 32 procs but string-heavy
Spark stages saturate memory bandwidth well before 32 threads). On a real
4N-executor cluster each executor brings its own memory bandwidth and
disks; the lower-core pair is therefore the more faithful analog of
N → 4N *executors*. Both pairs are reported; outputs are bit-identical
across every leg (partition-count-invariant total ordering, verified by
tests/test_frontier_golden.py::test_partition_count_invariance and the
resume tests).

See also: `BENCH/CLUSTER_r4.md` (standalone 2×4-core executor JVMs beat
local[8] by 21.5% at the same cores — mechanism evidence that the
threads-per-JVM term above is deployment shape, not engine),
`BENCH/SCALING_CLUSTER_r4.md` (the N→4N pair re-measured with constant
executor shape) and `BENCH/AB_r4.md` (interleaved r2-vs-HEAD A/B
clearing the co-tenant-noise question).
"""
        )


def main() -> None:
    # capture before ANY Spark/corpus work so the gauge reflects co-tenant
    # load, not our own
    load_before = os.getloadavg()
    args = sys.argv[1:]
    frontier_only = "--frontier-only" in args
    scaling = "--scaling" in args

    if "--check" in args:
        from image_search_indexing_spark.session import get_spark

        spark = get_spark(app_name="bench-check", master=f"local[{CPUS}]",
                          shuffle_partitions=max(16, CPUS))
        out = check_streaming(spark)
        spark.stop()
        print(
            json.dumps(
                {
                    "metric": "streaming==batch ref-extraction equality",
                    "value": int(out["rows_match"] and out["checksum_match"] and out["budget_counts_match"]),
                    "unit": "bool",
                    "queries": {},
                    "sf": "synthetic",
                    "extras": out,
                }
            )
        )
        sys.exit(0 if out["rows_match"] and out["checksum_match"] and out["budget_counts_match"] else 1)

    if scaling:
        # pairs of (N, 4N); override like SPARK_GRAFT_SCALING_PAIRS="2:8,8:32"
        pair_spec = os.environ.get("SPARK_GRAFT_SCALING_PAIRS", "2:8,8:32")
        pairs_cfg = [tuple(map(int, p.split(":"))) for p in pair_spec.split(",")]
        log(f"scaling mode: {pairs_cfg} in fresh JVMs")
        legs: dict[int, dict] = {}
        results = []
        extras: dict[str, float] = {}
        for n, n4 in pairs_cfg:
            for c in (n, n4):
                if c not in legs:
                    legs[c] = run_leg(c)
            tn = legs[n]["extras"]["frontier"]["urls_per_sec"]
            t4 = legs[n4]["extras"]["frontier"]["urls_per_sec"]
            eff = (t4 / tn) / 4
            results.append((n, legs[n], n4, legs[n4], eff))
            extras[f"urls_per_sec_local{n}"] = tn
            extras[f"urls_per_sec_local{n4}"] = t4
            extras[f"scaling_efficiency_{n}_to_{n4}"] = round(eff, 3)
        write_scaling_md(results, BENCH_DOCS)
        best = max(r[4] for r in results)
        print(
            json.dumps(
                {
                    "metric": "frontier URLs scheduled/sec, N vs 4N parallelism",
                    "value": results[-1][3]["extras"]["frontier"]["urls_per_sec"],
                    "unit": "urls/sec",
                    "queries": {},
                    "sf": "synthetic",
                    "extras": dict(extras, scaling_efficiency_best=round(best, 3)),
                }
            )
        )
        return

    from image_search_indexing_spark.session import get_spark

    extra = {"spark.ui.enabled": "true"} if os.environ.get("SPARK_GRAFT_STAGE_STATS") else None
    # per-task shuffle footprint must fit execution memory at full thread
    # count (cores-wide partitions spilled ~14GB/stage at 32 threads with a
    # 16g heap — BENCH/BASELINE.md stage tables); the multiplier trades
    # per-task footprint against task overhead at small inputs
    # mult=1 measured best end-to-end: the 48g heap alone keeps the 6.5M-doc
    # 32-thread legs spill-free, and fewer tasks win at small inputs
    # (800k docs: 47.5k urls/s at mult=1 vs 35.5k at mult=2)
    mult = int(os.environ.get("SPARK_GRAFT_SHUFFLE_MULT", "1"))
    # SPARK_GRAFT_MASTER lets a scaling leg run against a standalone
    # cluster (spark://...) instead of local[N]; executor shape comes
    # from the companion env vars, CPUS still sizes shuffle partitions.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{CPUS}]")
    # knob-sweep hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" injects arbitrary
    # Spark confs into a leg (used by the scaling sweeps to try shuffle
    # compression / Arrow batch / GC knobs without code edits per run)
    if os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        extra = dict(extra or {})
        for kv in os.environ["SPARK_GRAFT_EXTRA_CONF"].split(";"):
            if "=" in kv:
                k, _, v = kv.partition("=")
                extra[k.strip()] = v.strip()
    if master.startswith("spark://"):
        extra = dict(extra or {})
        extra.setdefault("spark.cores.max", str(CPUS))
        extra.setdefault("spark.executor.cores", os.environ.get("SPARK_GRAFT_EXECUTOR_CORES", "4"))
        extra.setdefault("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "20g"))
        extra.setdefault(
            "spark.executorEnv.PYTHONPATH", os.path.dirname(os.path.abspath(__file__))
        )
    spark = get_spark(
        app_name="bench", master=master, shuffle_partitions=max(16, CPUS * mult),
        extra_conf=extra,
    )

    # contamination guard: loadavg BEFORE we spun anything up is the
    # "is this box ours" gauge; a contended box inflates every number
    # (r4's committed artifact was 1.5–9.6× off for exactly this reason),
    # so the artifact carries an explicit flag instead of silently lying.
    contended = load_before[0] > max(2.0, 0.1 * (os.cpu_count() or 32))
    if contended:
        log(f"WARNING: box looks contended (load1={load_before[0]:.1f} before "
            f"start) — numbers below are upper bounds, artifact flagged")

    fr = bench_frontier(spark, BENCH_DOCS, BENCH_ROUNDS)
    log(f"frontier: {fr}")
    if frontier_only:
        queries, total = {}, 0.0
    else:
        queries = bench_queries(spark)
        total = round(sum(queries.values()), 3)
    spark.stop()

    extras = {
        "frontier": fr,
        "cpus": CPUS,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "contended": contended,
        "query_reps_min_of": max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))),
    }
    print(
        json.dumps(
            {
                "metric": "headline suite wall time (frontier round + operator queries)",
                "value": total if not frontier_only else fr["seconds"],
                "unit": "sec",
                "queries": queries,
                "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
                "extras": extras,
            }
        )
    )


if __name__ == "__main__":
    main()
