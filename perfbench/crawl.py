"""The crawl workloads: frontier rounds over a seeded synthetic corpus.

One *pass* is a fresh crawl of ``n_rounds`` rounds in a new workdir; the
client is closed-loop (the next round starts when the previous one has
committed). Passes repeat until the run's time is spent. After each pass,
outside the timed region, the fetch batches, the seen set and the counters
are compared with ``frontier/oracle.py`` (computed once, in set-up), the
scheduling invariants are asserted, and the checkpoint is accounted from
its files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import ckpt
from proc import cpu_s
from spans import DESC_PREFIX, Tracer, union_len

BATCH_COLS = [
    "url_hash", "ref_url", "surt", "host", "kind", "priority", "page_ts",
    "doc_id", "offset", "queue_pos", "fetch_delay_ms",
]
COUNTER_KEYS = [
    "valid_ref", "valid_img", "valid_a", "valid_css", "data_url_refs", "robots_blocked",
    "round_candidates", "queue_after_dedup", "dup_dropped", "scheduled", "pending_after",
    "seen_total", "url_too_long", "a_not_image", "pages", "pages_with_media",
]


@dataclass(frozen=True)
class CrawlSpec:
    n_docs: int
    n_hosts: int
    n_rounds: int


# The datagen politeness table's budgets of 3-10 URLs per host bind on 200
# hosts, so round 0 leaves a pending queue, round 1 probes the seen set and
# Blooms round 0 filled, and round 1 compacts the pending deltas.
SPEC = CrawlSpec(n_docs=3000, n_hosts=200, n_rounds=2)
TOY = CrawlSpec(n_docs=400, n_hosts=20, n_rounds=2)
# the untimed warm-up crawl of set-up: one round pays the first-use costs
# (~19 s on a 4-core host, against ~10 s for a warm measured round)
WARMUP = CrawlSpec(n_docs=100, n_hosts=20, n_rounds=1)
DEFAULT_BUDGET = 5  # URLs per round for a host the politeness table omits
COMPACT_EVERY = 2


def _naive(ts):
    return ts.replace(tzinfo=None) if getattr(ts, "tzinfo", None) else ts


class CrawlWorkload:
    # per-layer metric prefixes a traced run of this workload must move
    LAYERS = ("extract.", "dedup.", "seen.", "politeness.", "catalog.", "rounds.", "cpu.", "wall.")

    def __init__(self, spark, seed: int, work: str, toy: bool, nproc: int):
        from image_search_indexing_spark.frontier.datagen import GenConfig
        from image_search_indexing_spark.frontier.rounds import FrontierConfig

        self.spark, self.work = spark, work
        self.spec = TOY if toy else SPEC
        s = self.spec
        self.gen_cfg = GenConfig(n_docs=s.n_docs, seed=seed, n_hosts=s.n_hosts, dup_rate=0.25)
        n_buckets = self.n_files = 2 * nproc
        self.fcfg = FrontierConfig(
            n_rounds=s.n_rounds, n_buckets=n_buckets, n_salts=16, default_budget=DEFAULT_BUDGET,
            pending_compact_every=COMPACT_EVERY,
            expected_per_bucket=max(4096, s.n_docs * 6 // n_buckets),
        )
        self.passes: list[dict] = []
        self.checks = 0
        self.failures: list[str] = []
        self.corpus, self.inputs = self._load_corpus(self.gen_cfg, "corpus")

    def config(self) -> dict:
        return {"spec": asdict(self.spec), "warmup": asdict(WARMUP), "gen": asdict(self.gen_cfg),
                "frontier": {k: v for k, v in asdict(self.fcfg).items() if k != "extra"}}

    # ------------------------------------------------------------ set-up
    def _load_corpus(self, cfg, name: str):
        """Generate ``cfg``'s corpus on the driver, write it as parquet into
        the run's directory in ``2 x nproc`` files, and read it back.

        ``datagen``'s batch generator is seekable by doc id, so one batch
        over every id equals ``datagen.generate``'s distributed output row
        for row, without a Spark job; the side tables stay lazy frames."""
        from image_search_indexing_spark.frontier import datagen as dg

        pdf = dg._gen_batch(np.arange(cfg.n_docs), cfg)
        spans = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                    ("media_ref", pa.string()), ("offset", pa.int32())]))
        tables = {
            "documents": pa.schema([("doc_id", pa.string()), ("spans", spans)]),
            "docmeta": pa.schema([("doc_id", pa.string()), ("base_url", pa.string()),
                                  ("fetch_ts", pa.string())]),
        }
        frames = []
        for table_name, schema in tables.items():
            path = os.path.join(self.work, name, f"{table_name}.parquet")
            os.makedirs(path)
            table = pa.Table.from_pandas(pdf[schema.names], schema=schema, preserve_index=False)
            bounds = np.linspace(0, table.num_rows, self.n_files + 1).astype(int)
            for i in range(self.n_files):
                pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                               os.path.join(path, f"part-{i:05d}.parquet"))
            frames.append(self.spark.read.parquet(path))
        side = (dg.seeds(self.spark, cfg),
                dg.politeness(self.spark, cfg),
                dg.robots(self.spark, cfg))
        return pdf, (*frames, *side)

    def warm_up(self) -> None:
        """An untimed crawl of ``WARMUP``'s toy corpus through every step of
        a round (extraction UDFs, seen filter, scheduling, checkpoint
        writes): the first-use costs (class loading, JIT, the first Python
        workers) then stay out of the measured rounds."""
        from image_search_indexing_spark.frontier.rounds import FrontierDriver

        _, warm_inputs = self._load_corpus(
            replace(self.gen_cfg, n_docs=WARMUP.n_docs, n_hosts=WARMUP.n_hosts), "warmup-corpus")
        wd = os.path.join(self.work, "warmup")
        drv = FrontierDriver(self.spark, wd, replace(self.fcfg, n_rounds=WARMUP.n_rounds))
        for r in range(WARMUP.n_rounds):
            drv.run_round(r, *warm_inputs)
        shutil.rmtree(wd, ignore_errors=True)

    def build_oracle(self) -> None:
        from image_search_indexing_spark.frontier.oracle import FrontierOracle, OracleConfig

        docs = self.corpus.to_dict("records")
        rows = lambda df: [r.asDict() for r in df.collect()]  # noqa: E731
        _, _, seeds, pol, robots = self.inputs
        self.budgets = {r["host"]: r["max_fetch_per_round"] for r in rows(pol)}
        oracle = FrontierOracle(
            OracleConfig(n_rounds=self.spec.n_rounds, default_budget=DEFAULT_BUDGET),
            seeds=rows(seeds), politeness=rows(pol), robots=rows(robots),
        )
        self.oracle = oracle.run(docs, self.spec.n_rounds)

    def install_tracing(self, tracer: Tracer) -> None:
        tracer.install_frontier()

    # ------------------------------------------------------------ passes
    def run_pass(self, tracer: Tracer | None = None) -> dict:
        from image_search_indexing_spark.frontier.rounds import FrontierDriver

        wd = os.path.join(self.work, f"crawl-{len(self.passes)}")
        shutil.rmtree(wd, ignore_errors=True)
        drv = FrontierDriver(self.spark, wd, self.fcfg)
        rounds = []
        for r in range(self.spec.n_rounds):
            pend_rows = 0
            if tracer is None:
                self.spark.sparkContext.setJobDescription(f"{DESC_PREFIX}pass.{len(self.passes)}")
            else:
                snap = drv.catalog.snapshot()
                pend_rows = ckpt.dir_rows((snap or {}).get("tables", {}).get("pending", []))
                first_span = len(tracer.spans)
                tracer.active = True
            c0, t0 = cpu_s(), time.perf_counter()
            counters = drv.run_round(r, *self.inputs)
            t1, c1 = time.perf_counter(), cpu_s()
            rec = {"s": t1 - t0, "cpu_s": c1 - c0, "counters": counters}
            if tracer is None:
                self.spark.sparkContext.setJobDescription(None)
            else:
                tracer.active = False
                rec["spans"] = (first_span, len(tracer.spans))
                rec["pending_rows_in"] = pend_rows
                tracer.release()
            rounds.append(rec)
        rec = {"rounds": rounds, "wall_s": sum(x["s"] for x in rounds),
               "cpu_s": sum(x["cpu_s"] for x in rounds), "traced": tracer is not None}
        if tracer is not None:
            for sp in tracer.spans[rounds[0]["spans"][0]:]:
                if sp.name.startswith("catalog.write."):
                    sp.extra["bytes"] = ckpt.dir_bytes(sp.extra["path"])
        self._check_pass(drv, rounds)
        rec["ckpt"] = ckpt.account(wd)
        rec["scheduled"] = sum(x["counters"]["scheduled"] for x in rounds)
        rec["queue"] = sum(x["counters"]["queue_after_dedup"] for x in rounds)
        shutil.rmtree(wd, ignore_errors=True)
        self.passes.append(rec)
        return rec

    # ------------------------------------------------------------ checks
    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failures.append(what)

    def _check_pass(self, drv, rounds: list[dict]) -> None:
        want = self.oracle
        scheduled_once: set[str] = set()
        dup_sched = False
        for r, rec in enumerate(rounds):
            got_c, want_c = rec["counters"], want.counters[r]
            bad = [k for k in COUNTER_KEYS if got_c.get(k, 0) != want_c.get(k, 0)]
            self.check(not bad, f"round {r} counters differ from oracle: {bad}")
            batch = [r_.asDict() for r_ in drv.fetch_batch(r).select(*BATCH_COLS).collect()]
            batch.sort(key=lambda x: (x["host"], x["queue_pos"]))
            for row in batch:
                row["page_ts"] = _naive(row["page_ts"])
            exp = [{k: row[k] for k in BATCH_COLS} for row in want.fetch_batches[r]]
            for row in exp:
                row["page_ts"] = _naive(row["page_ts"])
            self.check(batch == exp, f"round {r} fetch batch differs from oracle "
                                      f"({len(batch)} vs {len(exp)} rows)")
            per_host: dict[str, list[int]] = defaultdict(list)
            for row in batch:
                per_host[row["host"]].append(row["queue_pos"])
                dup_sched |= row["url_hash"] in scheduled_once
                scheduled_once.add(row["url_hash"])
            contiguous = all(
                pos == list(range(1, len(pos) + 1)) and len(pos) <= self.budgets.get(h, DEFAULT_BUDGET)
                for h, pos in per_host.items()
            )
            self.check(contiguous, f"round {r} queue_pos not contiguous or over budget")
        self.check(not dup_sched, "a url_hash was scheduled twice")
        seen = {x["url_hash"] for x in drv.seen_table().select("url_hash").collect()}
        self.check(seen == want.seen, f"seen set differs from oracle ({len(seen)} vs {len(want.seen)})")
        total = sum(x["counters"]["scheduled"] for x in rounds)
        self.check(rounds[-1]["counters"]["seen_total"] == total, "seen_total != sum(scheduled)")

    # ------------------------------------------------------------ metrics
    def times(self) -> dict[str, float]:
        ps = [p for p in self.passes if not p["traced"]]
        med = statistics.median
        return {
            "cpu.pass_s": med(p["cpu_s"] for p in ps),
            "cpu.round_s_max": med(max(r["cpu_s"] for r in p["rounds"]) for p in ps),
            "wall.pass_s": med(p["wall_s"] for p in ps),
            "wall.round_s_max": med(max(r["s"] for r in p["rounds"]) for p in ps),
        }

    def per_layer(self, tracer: Tracer, events: dict) -> dict[str, float]:
        import eventlog

        plain = [p for p in self.passes if not p["traced"]]
        traced = [p for p in self.passes if p["traced"]]
        n = len(traced)
        acc: dict[str, float] = defaultdict(float)
        coverage = []
        for p in traced:
            for rec in p["rounds"]:
                lo, hi = rec["spans"]
                idx = [i for i in range(lo, hi) if tracer.spans[i].parent is None]
                covered = union_len([(tracer.spans[i].start, tracer.spans[i].end) for i in idx])
                acc["rounds.residual.s"] += rec["s"] - covered
                coverage.append(covered / rec["s"])
                acc["dedup.rows_in"] += rec["counters"]["round_candidates"] + rec["pending_rows_in"]
                for i in range(lo, hi):
                    sp = tracer.spans[i]
                    acc[f"{sp.name}.s"] += tracer.self_time(i)
                    if sp.name == "extract":
                        acc["extract.refs_out"] += sp.rows
                    elif sp.name == "dedup":
                        acc["dedup.rows_out"] += sp.rows
                    elif sp.name == "seen.probe":
                        acc["seen.probe_rows"] += sp.rows
                        acc["__maybe"] += sp.extra["maybe"]
                        # rows the probe saw minus rows the filter kept: every
                        # dropped row was a Bloom "maybe" confirmed in seen
                        acc["__hits"] += sp.rows - tracer.spans[sp.parent].rows
                    elif sp.name == "politeness":
                        acc["politeness.rows_in"] += sp.extra["rows_in"]
                        acc["politeness.rows_out"] += sp.rows
                    elif sp.name.startswith("catalog.write."):
                        acc[f"{sp.name}.bytes"] += sp.extra["bytes"]
            acc["seen.table_rows"] += p["ckpt"]["tables"].get("seen", {}).get("rows", 0)
            acc["catalog.pending_files"] += p["ckpt"]["tables"].get("pending", {}).get("files", 0)
            acc["catalog.ckpt_bytes_per_url"] += p["ckpt"]["disk_bytes"] / max(1, p["scheduled"])
        out = {k: v / n for k, v in acc.items() if not k.startswith("__")}
        out["seen.maybe_frac"] = acc["__maybe"] / max(1.0, acc["seen.probe_rows"])
        out["seen.confirm_hit_frac"] = acc["__hits"] / max(1.0, acc["__maybe"])
        for layer in ("dedup", "seen", "politeness"):
            out[f"{layer}.shuffle_bytes"] = eventlog.combine(events, layer)["shuffle_bytes"] / n
        out["politeness.task_skew"] = eventlog.combine(events, "politeness")["task_skew"]
        out["rounds.coverage_min"] = min(coverage)
        out["rounds.urls_per_s"] = statistics.median(p["scheduled"] / p["wall_s"] for p in plain)
        out["rounds.queue_urls_per_s"] = statistics.median(p["queue"] / p["wall_s"] for p in plain)
        out.update(self.times())
        out["trace.wall_s"] = statistics.median(p["wall_s"] for p in traced)
        out["trace.overhead_s"] = out["trace.wall_s"] - statistics.median(p["wall_s"] for p in plain)
        return out
