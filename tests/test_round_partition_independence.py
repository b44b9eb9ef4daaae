"""The round's output does not depend on how many partitions its stages
run. AQE sizes the bucket exchanges and the cached frames from the data,
so the partition counts change with the input and the host; a 3-round
crawl (Bloom on, one ``invalidate()`` between rounds 1 and 2) must give
bit-identical fetch batches (per-host order included), seen rows, live
pending queue and counters with AQE's partition coalescing off and on."""

import glob
import os

from pyspark.sql import functions as F

from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver

COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _crawl(spark, corpus, workdir, coalesce: bool):
    prev = spark.conf.get(COALESCE)
    spark.conf.set(COALESCE, str(coalesce).lower())
    try:
        drv = FrontierDriver(
            spark, workdir, FrontierConfig(n_rounds=3, n_buckets=16, default_budget=5)
        )
        args = (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"],
                corpus["robots"])
        counters = drv.run(*args, n_rounds=2)
        # round 0's URLs on the first quarter of its hosts by name: seen
        # URLs become tombstones, and round 2 may schedule them again
        hosts = sorted({r["host"] for r in drv.fetch_batch(0).select("host").collect()})
        inv = drv.fetch_batch(0).where(F.col("host") <= hosts[len(hosts) // 4])
        invalidated = drv.invalidate(inv.select("url_hash"))
        counters += drv.run(*args, n_rounds=3)
        batches = [
            sorted((r.asDict() for r in drv.fetch_batch(r).collect()),
                   key=lambda x: (x["host"], x["queue_pos"]))
            for r in range(3)
        ]
        seen = sorted(tuple(r) for r in drv.seen_table().collect())
        pending = sorted(tuple(r) for r in drv.pending_live().collect())
        tables = drv.catalog.snapshot()["tables"]
        n_files = sum(
            len(glob.glob(os.path.join(tables[f"fetch_batch_{r}"][0], "*.parquet")))
            for r in range(3)
        )
        return (counters, invalidated, batches, seen, pending), n_files
    finally:
        spark.conf.set(COALESCE, prev)


def test_partition_count_does_not_change_the_crawl(spark, corpus, tmp_path_factory):
    off, files_off = _crawl(spark, corpus, str(tmp_path_factory.mktemp("coalesce-off")), False)
    on, files_on = _crawl(spark, corpus, str(tmp_path_factory.mktemp("coalesce-on")), True)
    counters, invalidated, batches, seen, pending = on
    assert invalidated["invalidated_in_seen"] > 0
    assert all(batches) and seen and pending
    assert files_on < files_off  # the two crawls did run at different widths
    assert on == off
