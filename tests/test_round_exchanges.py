"""The round's exchanges: one bucket exchange carries each new candidate
from the documents scan to the Bloom cogroup (the J4 window rides it), the
pending rows get their own, the partition-aware union feeds the champion
dedup with none, no exchange carries the recomputable h1/h2 except the
Bloom update's, which carries them in place of the key, and none of the
queue's exchanges but the seen write's carries the recomputable
url_hash. Every exchange and cached frame of the round is sized by the
data, never by ``n_buckets``. Also: checkpoints whose pending files still
carry h1/h2 resume identically, the politeness ``top`` is read once per
run, an unreadable observation is counted in the lineage, a listed
checkpoint path missing on disk fails the round instead of reading as
empty, the pending files keep url_hash = md5(surt(ref_url)), and a
rediscovered URL variant collapses with its pending row."""

import glob
import json
import logging
import os
import shutil

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from image_search_indexing_spark.frontier import politeness as pol
from image_search_indexing_spark.frontier import seen as seenmod
from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver
from image_search_indexing_spark.sources.catalog import Catalog

N_ROUNDS = 3
N_BUCKETS = 16


def _cfg():
    return FrontierConfig(n_rounds=N_ROUNDS, n_buckets=N_BUCKETS, default_budget=5)


def _args(corpus):
    return (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"], corpus["robots"])


def _batches(drv):
    out = []
    for r in range(N_ROUNDS):
        rows = [x.asDict() for x in drv.fetch_batch(r).collect()]
        out.append(sorted(rows, key=lambda x: (x["host"], x["queue_pos"])))
    return out


def _seen(drv):
    return sorted(
        tuple(r) for r in drv.seen_table().select("url_hash", "h1", "h2", "bucket", "seen_round")
        .collect()
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan()


def _kids(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _name(node):
    return node.getClass().getSimpleName()


def _find(node, pred):
    """The first node in pre-order satisfying ``pred``."""
    if pred(node):
        return node
    for k in _kids(node):
        hit = _find(k, pred)
        if hit is not None:
            return hit
    return None


def _streamed(node):
    """The nodes of the path below ``node``, leaving out broadcast build
    sides (small dimensions, not the path the rows travel)."""
    out = [node]
    for k in _kids(node):
        if _name(k) != "BroadcastExchangeExec":
            out += _streamed(k)
    return out


def _output(node):
    attrs = node.output()
    return [attrs.apply(i).name() for i in range(attrs.size())]


def _crawl(counters):
    # bloom_* counters describe the filter maintenance, not the crawl
    return {k: v for k, v in counters.items() if not k.startswith("bloom_")}


def _shuffle_partitions(df):
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


class _Crawl(tuple):
    """The crawl fixture's tuple, with its other records in ``extra``."""


@pytest.fixture(scope="module")
def crawl(spark, corpus, tmp_path_factory):
    """A 3-round crawl. For round 1 (a filled seen set, pending rows from
    round 0) it records the candidates handed to the seen filter, the live
    queue handed to the scheduler, the scheduled frame the round persists
    (the one it hands the seen set's commit), the Bloom update (the frame
    of the ``bloom`` write), the seen write, and the partitions of the
    three cached frames (probe, live queue, scheduled) as the round
    materialized them; and, for the whole run, each ``top`` the scheduler
    was handed and each ``budget_top`` call."""
    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("exchanges")), _cfg())
    seen_in, sched_in, blooms, probes, seen_w, tops, top_jobs = [], [], [], [], [], [], []
    committed, parts = [], {}
    orig_filter, orig_sched = seenmod.filter_new_urls, pol.schedule_round
    orig_probe, orig_top = seenmod.bloom_probe, pol.budget_top
    orig_write, orig_commit = Catalog.write_table, seenmod.SeenSet.commit

    def filt(spark_, cand, *a, **kw):
        seen_in.append(cand)
        return orig_filter(spark_, cand, *a, **kw)

    def schedule(live, *a, **kw):
        sched_in.append(live)
        tops.append(kw.get("top"))
        return orig_sched(live, *a, **kw)

    def probe(*a, **kw):
        out = orig_probe(*a, **kw)
        probes.append(out)
        return out

    def budget_top(*a, **kw):
        top_jobs.append(a)
        return orig_top(*a, **kw)

    def write(cat, df, table, round_id, partition_by=None):
        if table == "seen":
            seen_w.append(df)
        if table == "bloom":
            _plan(df)  # planned (and kept) while the scheduled batch is cached
            blooms.append(df)
        return orig_write(cat, df, table, round_id, partition_by)

    def commit(state, scheduled, per_bucket, round_id, cache):
        committed.append(scheduled)
        if round_id == 1:
            # the frames are cached and materialized here: .rdd scans the cache
            parts.update({name: f.rdd.getNumPartitions() for name, f in
                          (("probe", probes[-1]), ("live", sched_in[-1]),
                           ("scheduled", scheduled))})
        return orig_commit(state, scheduled, per_bucket, round_id, cache)

    seenmod.filter_new_urls, pol.schedule_round = filt, schedule
    seenmod.bloom_probe, pol.budget_top, Catalog.write_table = probe, budget_top, write
    seenmod.SeenSet.commit = commit
    try:
        counters = drv.run(*_args(corpus), n_rounds=N_ROUNDS)
    finally:
        seenmod.filter_new_urls, pol.schedule_round = orig_filter, orig_sched
        seenmod.bloom_probe, pol.budget_top, Catalog.write_table = orig_probe, orig_top, orig_write
        seenmod.SeenSet.commit = orig_commit
    live, scheduled = sched_in[1], committed[1]
    out = _Crawl((drv, counters, seen_in[1], live, scheduled, blooms[1]))
    out.extra = {"parts": parts, "seen_write": seen_w[1], "tops": tops, "top_jobs": top_jobs}
    return out


def test_one_bucket_exchange_from_documents_to_the_probe(crawl):
    """Round 1's new candidates cross one exchange, by bucket, with the J4
    window above it; pending rows cross one; the union feeds the champion
    aggregate directly."""
    _, counters, cand, _, _, _ = crawl
    assert counters[1]["scheduled"] > 0
    plan = _plan(cand)
    agg = _find(plan, lambda n: "min_by(" in n.simpleString(25))
    assert agg is not None
    union, between = agg, []
    while _name(union) != "UnionExec":
        (union,) = _kids(union)
        between.append(_name(union))
    assert "ShuffleExchangeExec" not in between, between

    def path(child):
        nodes = _streamed(child)
        is_pending = any("/pending/" in n.simpleString(25) for n in nodes if "Scan" in _name(n))
        return is_pending, nodes

    paths = dict(path(k) for k in _kids(union))
    assert set(paths) == {True, False}
    for is_pending, nodes in paths.items():
        xs = [i for i, n in enumerate(nodes) if _name(n) == "ShuffleExchangeExec"]
        assert len(xs) == 1, [nodes[i].simpleString(25) for i in xs]
        assert "hashpartitioning(bucket#" in nodes[xs[0]].simpleString(25)
        # repartition("bucket"): shuffle-partitions wide, and AQE may coalesce it
        assert nodes[xs[0]].shuffleOrigin().toString() == "REPARTITION_BY_COL"
        assert nodes[xs[0]].outputPartitioning().numPartitions() == _shuffle_partitions(cand)
        if not is_pending:
            windows = [i for i, n in enumerate(nodes) if _name(n) == "WindowExec"]
            assert len(windows) == 1 and windows[0] < xs[0]
            assert "bucket#" in nodes[windows[0]].simpleString(25)


def test_no_exchange_carries_h1_h2(crawl, plan_ops):
    """h1/h2 derive from url_hash: the candidate path, the host exchange
    and everything under the cached live queue shuffle without them."""
    _, _, cand, _, scheduled, _ = crawl
    exchanges = [
        (line, node) for df in (cand, scheduled) for cls, line, node in plan_ops(df)
        if cls == "ShuffleExchangeExec"
    ]
    assert any("hashpartitioning(host" in line for line, _ in exchanges)
    for line, node in exchanges:
        assert not {"h1", "h2"} & set(_output(node)), line
    assert {"h1", "h2"} <= set(cand.columns)


def test_queue_exchanges_carry_no_url_hash(crawl, plan_ops):
    """url_hash derives from ref_url (``extract.with_url_hash``): round 1's
    extraction and pending bucket exchanges and its host exchange ship
    without it, and the seen write's bucket exchange, which writes the key,
    is the only exchange of the queue's path that carries it."""
    _, _, cand, _, scheduled, _ = crawl
    seen_write = crawl.extra["seen_write"]
    exchanges = lambda df: [  # noqa: E731
        (line, _output(node)) for cls, line, node in plan_ops(df)
        if cls == "ShuffleExchangeExec"
    ]
    # the queue's rows: under the persisted scheduled frame lie the live
    # queue, the probe and the candidates (side tables carry no ref_url)
    queue = [(line, out) for line, out in exchanges(scheduled) if "ref_url" in out]
    kinds = sorted(line.split("(")[1].split("#")[0] for line, _ in queue)
    assert kinds == ["bucket", "bucket", "host"], queue
    for line, out in queue:
        assert "url_hash" not in out, line
    # the seen write's plan holds the queue's too, under the cached batch
    ((line, out),) = [x for x in exchanges(seen_write) if "url_hash" in x[1]]
    assert "hashpartitioning(bucket#" in line and "ref_url" not in out, line
    # the derived key feeds the seen filter and the persisted batch
    assert "url_hash" in cand.columns
    assert {"url_hash", "surt"} <= set(scheduled.columns)


def _python_nodes(df):
    """The Python operators of ``df``'s own plan: cached relations are
    leaves here (the cached scheduled batch holds the Bloom probe)."""
    out = []

    def walk(node):
        cls = _name(node)
        if "Python" in cls or "Pandas" in cls or "Arrow" in cls:
            out.append(node)
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        for k in _kids(node):
            walk(k)

    walk(_plan(df))
    return out


def test_bloom_update_is_one_kernel_and_one_hash_exchange(crawl, plan_ops):
    """The Bloom maintenance of a round is one Python node, which takes the
    old filter rows and the scheduled keys, and the one exchange that
    carries h1/h2: it shuffles the two hashes the kernel folds into the
    bits, with the bucket and without the url_hash they derive from. Every
    other exchange under it has neither."""
    *_, update = crawl
    (kernel,) = _python_nodes(update)
    assert _name(kernel) == "FlatMapCoGroupsInPandasExec", kernel.simpleString(25)
    exchanges = [
        (line, _output(node)) for cls, line, node in plan_ops(update)
        if cls == "ShuffleExchangeExec"
    ]
    with_hashes = [(line, out) for line, out in exchanges if {"h1", "h2"} & set(out)]
    assert len(with_hashes) == 1, with_hashes
    ((line, out),) = with_hashes
    assert "hashpartitioning(bucket#" in line
    # the grouped kernel shuffles its grouping key next to the input columns
    assert set(out) == {"bucket", "h1", "h2"}, out
    assert any("hashpartitioning(host" in line for line, _ in exchanges)


def test_live_queue_has_twice_the_probe_partitions(crawl):
    """The live queue is the union of the seen filter's two routes, each
    with the cached Bloom probe's AQE-chosen partitions, and nothing
    re-widens it before the scheduler and the pending write read it."""
    parts = crawl.extra["parts"]
    assert parts["live"] == 2 * parts["probe"], parts


def test_round_is_data_sized(crawl, plan_ops):
    """On the test corpus, round 1's cached scheduled batch and live queue
    have fewer partitions than n_buckets, the cached probe and scheduled
    batch fewer than the shuffle partitions (AQE coalesced the last stage
    of their cached plans), and no exchange or coalesce of the round,
    cached plans and the Bloom update and seen write included, is n_buckets
    wide. Each bucket's seen directory still gets one file."""
    drv, _, _, live, scheduled, update = crawl
    parts = crawl.extra["parts"]
    n_shuffle = _shuffle_partitions(live)
    assert n_shuffle != N_BUCKETS  # else the width check below proves nothing
    assert parts["live"] < N_BUCKETS, parts
    assert max(parts["probe"], parts["scheduled"]) < min(N_BUCKETS, n_shuffle), parts
    widths = [
        (cls, line, node.numPartitions() if cls == "CoalesceExec"
         else node.outputPartitioning().numPartitions())
        for df in (scheduled, update, crawl.extra["seen_write"])
        for cls, line, node in plan_ops(df)
        if cls in ("ShuffleExchangeExec", "CoalesceExec")
    ]
    assert any("REPARTITION_BY_COL" in line for _, line, _ in widths)
    assert not [w for w in widths if w[2] == N_BUCKETS], widths
    (seen_path,) = [p for p in drv.catalog.snapshot()["tables"]["seen"] if p.endswith("round=1")]
    bucket_dirs = glob.glob(os.path.join(seen_path, "bucket=*"))
    assert bucket_dirs
    for d in bucket_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_politeness_top_read_once_per_run(crawl):
    """The politeness table does not change between rounds: ``run`` reads
    its ``top`` with one job and hands it to every round's scheduler."""
    _, counters, *_ = crawl
    assert len(crawl.extra["top_jobs"]) == 1
    assert len(crawl.extra["tops"]) == len(counters) == N_ROUNDS
    assert len(set(crawl.extra["tops"])) == 1 and crawl.extra["tops"][0] >= 5


def test_unreadable_observation_is_counted(spark, corpus, tmp_path_factory, crawl,
                                           monkeypatch, caplog):
    """An observation that cannot be read leaves its counters at 0 but not
    silently: each one is logged and counted in the lineage. A normal round
    records no ``obs_errors``."""
    drv_ok, *_ = crawl
    assert "obs_errors" not in drv_ok.catalog.snapshot()["lineage"]

    def unreadable(self):
        raise RuntimeError("observation never ran")

    monkeypatch.setattr(Observation, "get", property(unreadable))
    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("obs-errors")), _cfg())
    with caplog.at_level(logging.WARNING, logger="image_search_indexing_spark.frontier.rounds"):
        counters = drv.run_round(0, *_args(corpus))
    # docs, spans, media, robots, the merged queue and the live queue
    assert drv.catalog.snapshot()["lineage"]["obs_errors"] == 6
    assert counters["pages"] == 0
    assert sum("observation never ran" in r.getMessage() for r in caplog.records) == 6


def _old_pending_checkpoint(spark, corpus, wd, old_manifest):
    """Round 0 in ``wd``, its pending file rewritten in the layout that
    carried h1/h2; with ``old_manifest``, the snapshot also loses what
    manifests of that time lacked: table schemas and Bloom stats."""
    FrontierDriver(spark, wd, _cfg()).run(*_args(corpus), n_rounds=1)
    cat = Catalog(wd)
    (path,) = cat.snapshot()["tables"]["pending"]
    old = cat.read_table(spark, "pending").select(
        "url_hash", "ref_url", "kind", "priority", "page_ts", "doc_id", "offset",
        F.xxhash64("url_hash").alias("h1"), F.xxhash64("url_hash", F.lit(1)).alias("h2"),
        "bucket",
    )
    tmp = path + ".old-layout"
    old.write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    if old_manifest:
        snap_path = os.path.join(cat.meta_dir, f"snapshot-{cat.current_snapshot_id()}.json")
        with open(snap_path) as f:
            snap = json.load(f)
        del snap["schemas"], snap["lineage"]["bloom"]
        with open(snap_path, "w") as f:
            json.dump(snap, f)
    return cat


def test_resume_from_pending_with_h1_h2(spark, corpus, tmp_path_factory, crawl):
    """A checkpoint written when pending files carried h1/h2 (and its
    manifest recorded no schemas and no Bloom stats) resumes to the same
    batches, seen set and counters as an uninterrupted run."""
    drv_full, counters_full, _, _, _, _ = crawl
    wd = str(tmp_path_factory.mktemp("old-pending"))
    cat = _old_pending_checkpoint(spark, corpus, wd, old_manifest=True)
    assert {"h1", "h2"} <= set(cat.read_table(spark, "pending").columns)

    drv = FrontierDriver(spark, wd, _cfg())
    counters = drv.run(*_args(corpus), n_rounds=N_ROUNDS)
    assert counters[0]["bloom_rebuilt_buckets"] > 0  # no stats: the stale-filter path
    assert [_crawl(c) for c in counters] == [_crawl(c) for c in counters_full[1:]]
    assert _batches(drv) == _batches(drv_full)
    assert _seen(drv) == _seen(drv_full)


def test_pending_with_h1_h2_under_a_recorded_schema(spark, corpus, tmp_path_factory, crawl):
    """Pending files that carry h1/h2 under a manifest that records the
    pending schema (a checkpoint resumed across the layout change) read
    without them, and the run resumes as an uninterrupted one."""
    drv_full, counters_full, _, _, _, _ = crawl
    wd = str(tmp_path_factory.mktemp("old-pending-schema"))
    cat = _old_pending_checkpoint(spark, corpus, wd, old_manifest=False)
    assert not {"h1", "h2"} & set(cat.read_table(spark, "pending").columns)

    drv = FrontierDriver(spark, wd, _cfg())
    counters = drv.run(*_args(corpus), n_rounds=N_ROUNDS)
    assert counters == counters_full[1:]
    assert _batches(drv) == _batches(drv_full)
    assert _seen(drv) == _seen(drv_full)


def test_missing_seen_round_fails_the_next_round(spark, corpus, tmp_path_factory):
    """A seen round directory the manifest lists but the disk lost must
    fail the next round (read as empty, its URLs would be rescheduled)."""
    wd = str(tmp_path_factory.mktemp("lost-seen"))
    FrontierDriver(spark, wd, _cfg()).run(*_args(corpus), n_rounds=1)
    (seen_path,) = Catalog(wd).snapshot()["tables"]["seen"]
    shutil.rmtree(seen_path)
    drv = FrontierDriver(spark, wd, _cfg())
    with pytest.raises(FileNotFoundError, match="'seen'.*round=0"):
        drv.run_round(1, *_args(corpus))
    assert drv.catalog.snapshot()["round"] == 0


def test_pending_url_hash_is_md5_of_surt(spark, corpus, tmp_path_factory):
    """The pending files keep url_hash, and after round 0 every row's is
    md5(surt(ref_url)) as the pure-Python oracle derives it."""
    from image_search_indexing_spark.frontier.oracle import md5, surt

    wd = str(tmp_path_factory.mktemp("pending-key"))
    FrontierDriver(spark, wd, _cfg()).run(*_args(corpus), n_rounds=1)
    rows = Catalog(wd).read_table(spark, "pending").select("url_hash", "ref_url").collect()
    assert rows
    assert all(r["url_hash"] == md5(surt(r["ref_url"])) for r in rows)


def _doc_in_round(round_id, n_rounds):
    """A doc id the round slice (pmod(xxhash64(doc_id), n_rounds)) assigns
    to ``round_id``."""
    from image_search_indexing_spark.functions.hashing import xxhash64

    return next(d for d in (f"toy-{i}" for i in range(1000))
                if xxhash64(d) % n_rounds == round_id)


def test_rediscovered_variant_collapses_with_its_pending_row(spark, tmp_path_factory):
    """Round 0 leaves three URLs of a host with budget 1 pending; round 1
    rediscovers each under a variant that differs only in scheme, ``www.``
    or host case, from a page fetched earlier, so the variant is the new
    champion. The key derived after the exchanges is the pending row's, so
    each pair collapses to one champion: batches, pending queue and
    counters (``queue_after_dedup`` and ``dup_dropped`` too) equal the
    oracle's. A ``data:`` ref (a ``hash:`` URL) in both rounds is scheduled
    once."""
    from image_search_indexing_spark.frontier.oracle import FrontierOracle, OracleConfig

    from image_search_indexing_spark.frontier.datagen import DOCMETA_SCHEMA, SPANS_SCHEMA

    d0, d1 = _doc_in_round(0, 2), _doc_in_round(1, 2)
    data_ref = "data:image/png;base64,iVBORw0KGgo="
    docs = [
        {"doc_id": d0, "base_url": "http://h.example/p.html", "fetch_ts": "20200102000000",
         "refs": ["/a.jpg", "/b.jpg", "/c.jpg", "/d.jpg", data_ref]},
        {"doc_id": d1, "base_url": "http://other.example/q.html", "fetch_ts": "20200101000000",
         "refs": ["https://h.example/b.jpg", "http://www.h.example/c.jpg",
                  "http://H.EXAMPLE/d.jpg", data_ref]},
    ]
    for d in docs:
        d["spans"] = [{"kind": "img", "text": None, "media_ref": ref, "offset": i + 1}
                      for i, ref in enumerate(d.pop("refs"))]
    politeness = [{"host": "h.example", "max_fetch_per_round": 1, "crawl_delay_ms": 1000}]
    docs_df = spark.createDataFrame([(d["doc_id"], d["spans"]) for d in docs], SPANS_SCHEMA)
    meta_df = spark.createDataFrame(
        [(d["doc_id"], d["base_url"], d["fetch_ts"]) for d in docs], DOCMETA_SCHEMA)
    pol_df = spark.createDataFrame(
        politeness, "host string, max_fetch_per_round int, crawl_delay_ms long")

    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("variants")),
                         FrontierConfig(n_rounds=2, n_buckets=4, default_budget=5))
    counters = drv.run(docs_df, meta_df, None, pol_df, None)
    oracle = FrontierOracle(OracleConfig(n_rounds=2, default_budget=5), politeness=politeness)
    state = oracle.run(docs, 2)

    # the three variants met their pending rows; the data: ref, scheduled
    # in round 0, meets the seen set in round 1, not a pending row
    assert counters[1]["dup_dropped"] == 3
    assert counters[0]["data_url_refs"] == counters[1]["data_url_refs"] == 1
    for got, want in zip(counters, state.counters):
        for k in ("round_candidates", "queue_after_dedup", "dup_dropped", "scheduled",
                  "pending_after", "seen_total", "data_url_refs"):
            assert got.get(k, 0) == want.get(k, 0), (k, got, want)
    cols = ["url_hash", "ref_url", "surt", "host", "doc_id", "offset", "queue_pos"]
    for r in range(2):
        got = sorted(tuple(x) for x in drv.fetch_batch(r).select(*cols).collect())
        assert got == sorted(tuple(row[c] for c in cols) for row in state.fetch_batches[r])
    hash_url = [row["ref_url"] for row in state.fetch_batches[0] if row["host"] == "hash"]
    assert len(hash_url) == 1 and hash_url[0].startswith("hash:")
    # round 1 scheduled the (shortest) host-case variant; the other two
    # wait in their variants' spelling
    assert [row["ref_url"] for row in state.fetch_batches[1]] == ["http://H.EXAMPLE/d.jpg"]
    pending = {(r["url_hash"], r["ref_url"])
               for r in drv.catalog.read_table(spark, "pending").collect()}
    assert pending == {(h, row["ref_url"]) for h, row in state.pending.items()}
    assert {u for _, u in pending} == {"https://h.example/b.jpg", "http://www.h.example/c.jpg"}
