"""Physical-plan quality gates + skew behavior + crash consistency.

The task brief: "after each operator works, .explain the plan and iterate
until it's the plan you'd want". These tests pin the plan properties that
matter at 100 TB: small dimensions broadcast, filters/projections reach
the parquet scan, the politeness partial top-k bounds what a pathological
hot host sends through the host exchange, and a crash between data write
and snapshot commit never corrupts the checkpoint.
"""

import json
import os
from collections import Counter

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_politeness_budgets_broadcast(spark, corpus):
    from image_search_indexing_spark.frontier import politeness as pol
    from image_search_indexing_spark.frontier.extract import media_refs
    from image_search_indexing_spark.frontier.seen import with_hashes
    from image_search_indexing_spark.frontier.rounds import CAND_COLS, _dedup_candidates

    refs = media_refs(corpus["docs"], corpus["meta"])
    from image_search_indexing_spark.functions import urls as U

    cand = with_hashes(
        refs.where(F.col("drop_reason").isNull()).withColumn("priority", F.lit(9)),
        "url_hash",
        16,
    ).select(*CAND_COLS)
    # host is recomputed post-dedup (CAND_COLS carries no host/surt strings)
    deduped = _dedup_candidates(cand).withColumn("host", U.url_host(F.col("ref_url")))
    sched = pol.schedule_round(deduped, corpus["politeness"])
    plan = _plan(sched)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # robots rules also broadcast
    marked = pol.robots_filter(
        refs.where(F.col("drop_reason").isNull()), pol.robots_rules(corpus["robots"])
    )
    assert "BroadcastHashJoin" in _plan(marked)


def test_filter_pushdown_to_scan(spark, tmpdir_path, corpus):
    corpus["docs"].write.mode("overwrite").parquet(f"{tmpdir_path}/d.parquet")
    df = (
        spark.read.parquet(f"{tmpdir_path}/d.parquet")
        .where(F.col("doc_id") == "doc-000000007")
        .select("doc_id")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,doc-000000007)]" in plan
    assert "ReadSchema: struct<doc_id:string>" in plan


def test_hot_host_skew_no_straggler(spark, plan_ops):
    """A host holding 50% of all candidates must not cross the host
    exchange in full: the partial WindowGroupLimit keeps each map
    partition's per-host top-``budget``, so the exchange carries at most
    input partitions × budget of the hot host's rows."""
    from image_search_indexing_spark.frontier.politeness import schedule_round

    n = 40_000
    hot = spark.range(n).select(
        F.concat(F.lit("http://hot.pt/u"), F.col("id")).alias("ref_url"),
        F.md5(F.col("id").cast("string")).alias("url_hash"),
        F.lit("hot.pt").alias("host"),
        F.lit(5).alias("priority"),
        F.to_timestamp(F.lit("2016-01-01")).alias("page_ts"),
    )
    cold = spark.range(n).select(
        F.concat(F.lit("http://c"), (F.col("id") % 997), F.lit(".pt/u"), F.col("id")).alias("ref_url"),
        F.md5((F.col("id") + 10 * n).cast("string")).alias("url_hash"),
        F.concat(F.lit("c"), (F.col("id") % 997), F.lit(".pt")).alias("host"),
        F.lit(5).alias("priority"),
        F.to_timestamp(F.lit("2016-01-01")).alias("page_ts"),
    )
    cand = hot.unionByName(cold)
    budget = 7
    sched = schedule_round(cand, None, default_budget=budget)
    rows = sched.collect()
    per_host = Counter(r["host"] for r in rows)
    assert per_host["hot.pt"] == budget  # exact top-k survived the partial limit
    assert max(per_host.values()) <= budget
    # determinism: hot host's picks are the global minima by crawl order
    picked = sorted(r["ref_url"] for r in rows if r["host"] == "hot.pt")
    want = sorted(
        f"http://hot.pt/u{i}" for i in sorted(range(n), key=lambda i: (len(f"http://hot.pt/u{i}"), f"http://hot.pt/u{i}"))[:budget]
    )
    assert picked == want
    exchanges = [
        node for cls, line, node in plan_ops(sched)
        if cls == "ShuffleExchangeExec" and "hashpartitioning(host" in line
    ]
    assert len(exchanges) == 1, exchanges
    written = exchanges[0].metrics().apply("shuffleRecordsWritten").value()
    assert written <= n + cand.rdd.getNumPartitions() * budget, written


def test_crash_between_write_and_commit_is_invisible(spark, corpus, tmpdir_path):
    """Data files written but snapshot NOT committed == crash mid-round.
    The resumed driver must redo the round and end bit-identical."""
    from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver

    args = (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"], corpus["robots"])
    cfgs = dict(n_rounds=2, n_buckets=16, default_budget=5)

    wd_ref = f"{tmpdir_path}/ref"
    ref = FrontierDriver(spark, wd_ref, FrontierConfig(**cfgs))
    ref.run(*args, n_rounds=2)

    wd = f"{tmpdir_path}/crash"
    drv = FrontierDriver(spark, wd, FrontierConfig(**cfgs))
    drv.run(*args, n_rounds=1)
    # simulate a crash in round 1 AFTER some data was written but BEFORE the
    # snapshot commit: write garbage data dirs that a commit never refers to
    os.makedirs(f"{wd}/data/pending/round=1", exist_ok=True)
    with open(f"{wd}/data/pending/round=1/part-zzz.parquet.tmp", "w") as f:
        f.write("torn write")
    drv2 = FrontierDriver(spark, wd, FrontierConfig(**cfgs))
    drv2.run(*args, n_rounds=2)  # resumes at round 1, overwrites torn dir

    a = sorted(map(tuple, ref.fetch_batch(1).collect()))
    b = sorted(map(tuple, drv2.fetch_batch(1).collect()))
    assert a == b
    snap = drv2.catalog.snapshot()
    assert snap["round"] == 1
    # the torn temp file is gone (overwrite semantics)
    assert not os.path.exists(f"{wd}/data/pending/round=1/part-zzz.parquet.tmp")


def test_snapshot_manifest_contents(spark, corpus, tmpdir_path):
    from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver

    drv = FrontierDriver(spark, f"{tmpdir_path}/m", FrontierConfig(n_rounds=1, n_buckets=16))
    drv.run(corpus["docs"], corpus["meta"], None, None, None, n_rounds=1)
    with open(f"{tmpdir_path}/m/metadata/snapshot-0.json") as f:
        snap = json.load(f)
    assert snap["round"] == 0 and snap["parent"] is None
    assert set(snap["tables"]) >= {"fetch_batch_0", "seen", "pending", "bloom"}
    assert snap["counters"]["scheduled"] > 0
    assert sum(snap["lineage"]["seen_rows_per_bucket"].values()) == snap["counters"]["scheduled"]
