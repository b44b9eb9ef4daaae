"""Custom stateful streaming operator: per-host cumulative budget.

State (URLs already granted per host) must carry ACROSS micro-batches —
a host exhausting its budget early emits nothing later, which a stateless
per-batch top-k cannot do.
"""

from pyspark.sql import functions as F


def test_stateful_host_budget_across_batches(spark, corpus, tmpdir_path):
    from image_search_indexing_spark.frontier.extract import media_refs
    from image_search_indexing_spark.streaming.politeness import run_streaming_budget

    src = f"{tmpdir_path}/sp_src"
    # 4 files + maxFilesPerTrigger=1 → 4 micro-batches
    corpus["docs"].join(corpus["meta"], "doc_id").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)

    budget = 3
    got = run_streaming_budget(spark, src, budget=budget, query_name="t_budget_live")
    rows = got.collect()
    assert rows, "stream emitted nothing"

    per_host: dict[str, list[int]] = {}
    for r in rows:
        per_host.setdefault(r["host"], []).append(r["queue_pos"])
    for h, qs in per_host.items():
        assert len(qs) <= budget, (h, qs)
        # cumulative 1-based positions, contiguous across micro-batches
        assert sorted(qs) == list(range(1, len(qs) + 1)), (h, qs)

    # every host with >= budget distinct URLs must have hit the cap exactly
    refs = media_refs(corpus["docs"], corpus["meta"]).where(
        F.col("drop_reason").isNull()
    )
    distinct_per_host = {
        r["host"]: r["n"]
        for r in refs.groupBy("host")
        .agg(F.countDistinct("url_hash").alias("n"))
        .collect()
    }
    capped = [h for h, n in distinct_per_host.items() if n >= budget]
    assert capped, "corpus should contain hosts with enough candidates"
    for h in capped:
        assert len(per_host.get(h, [])) == budget, h


def test_stateful_budget_multi_batch_golden(spark, tmpdir_path):
    """Exact cross-batch golden: micro-batch membership is CONTROLLED
    (one parquet file appended per batch, processAllAvailable between
    writes), and the streaming output must equal a plain-Python replay of
    the operator's semantics — per-batch (page_ts, len, url) order,
    within-batch URL dedup, cumulative per-host budget carried in state,
    hosts exhausting budgets mid-stream emitting nothing later."""
    import datetime as dt

    from image_search_indexing_spark.streaming.politeness import stateful_host_budget

    budget = 3
    ts = lambda i: dt.datetime(2016, 1, 1, 0, 0, i)
    u = lambda h, n: (h, f"hash-{h}-{n}", f"http://{h}/{n}", "img")
    # batches[i] = rows arriving in micro-batch i: (host, url_hash, ref_url, kind, page_ts)
    batches = [
        [u("a.pt", 1) + (ts(1),), u("a.pt", 2) + (ts(2),), u("b.pt", 1) + (ts(3),)],
        # a exhausts its budget here (a3 taken, a4 over); a1 re-arrives and
        # is NOT deduped across batches (state keeps only the counter)
        [u("a.pt", 3) + (ts(4),), u("a.pt", 4) + (ts(5),), u("a.pt", 1) + (ts(6),),
         u("b.pt", 2) + (ts(7),)],
        # a emits nothing (budget spent in batch 2); c takes 3 of 5
        [u("a.pt", 5) + (ts(8),), u("b.pt", 3) + (ts(9),)] + [
            u("c.pt", n) + (ts(10 + n),) for n in range(1, 6)],
    ]
    schema = "host string, url_hash string, ref_url string, kind string, page_ts timestamp"

    src = f"{tmpdir_path}/golden_src"
    spark.createDataFrame(batches[0], schema).repartition(1).write.mode("append").parquet(src)
    refs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stateful_host_budget(refs, budget=budget)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_budget_golden")
        .start()
    )
    q.processAllAvailable()
    for b in batches[1:]:
        spark.createDataFrame(b, schema).repartition(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    q.stop()
    got = {
        (r["host"], r["url_hash"], r["queue_pos"])
        for r in spark.sql("SELECT * FROM t_budget_golden").collect()
    }

    # plain-Python replay of the contract
    used: dict[str, int] = {}
    want = set()
    for b in batches:
        per_host: dict[str, list] = {}
        for row in b:
            per_host.setdefault(row[0], []).append(row)
        for h, rows in per_host.items():
            rows = sorted(rows, key=lambda r: (r[4], len(r[2]), r[2]))
            seen_in_batch = set()
            deduped = [
                r for r in rows
                if r[1] not in seen_in_batch and not seen_in_batch.add(r[1])
            ]
            left = budget - used.get(h, 0)
            for pos, r in enumerate(deduped[:max(0, left)], start=used.get(h, 0) + 1):
                want.add((h, r[1], pos))
            used[h] = used.get(h, 0) + min(len(deduped), max(0, left))
    assert got == want
    # the mid-stream exhaustion actually happened: a emitted exactly budget,
    # none from batch 3; the cross-batch re-arrival of a1 was a candidate
    a_rows = sorted(p for h, uh, p in got if h == "a.pt")
    assert a_rows == [1, 2, 3]
    assert ("a.pt", "hash-a.pt-5", 4) not in got
    assert sorted(p for h, _, p in got if h == "c.pt") == [1, 2, 3]
