"""Seen-set integration: bloom routing exactness + cuckoo deletion resurrects."""

from pyspark.sql import functions as F

from image_search_indexing_spark.frontier.seen import (
    BLOOM_REBUILD_LOAD,
    _bloom_params,
    bloom_probe,
    bloom_update,
    build_cuckoo_table,
    filter_new_urls,
    with_hashes,
)


def _urls(spark, lo, hi):
    return with_hashes(
        spark.range(lo, hi).select(F.md5(F.col("id").cast("string")).alias("url_hash")),
        "url_hash",
        16,
    )


def _blooms(seen):
    """Per-bucket Blooms of a seen table, each sized for its own keys at 12
    bits per key (fpp about 0.3%), so some new candidates test Bloom-positive
    and only the exact confirm keeps them. ``bloom_plan`` cannot size them so:
    at 12 bits per key its capacity policy rebuilds every bucket at 4x."""
    counts = {int(r["bucket"]): int(r["count"]) for r in seen.groupBy("bucket").count().collect()}
    stats = {b: (_bloom_params(n, 12)[0], n) for b, n in counts.items()}
    return bloom_update(None, seen, None, stats, set(), 12)


def test_bloom_routing_is_exact(spark, cache):
    seen = _urls(spark, 0, 3000)
    cand = _urls(spark, 2000, 6000)
    bloom = _blooms(seen)
    fp = bloom_probe(spark, _urls(spark, 3000, 6000), bloom).where("maybe_seen").count()
    assert fp > 0  # some unseen URLs take the Bloom-positive route
    new = filter_new_urls(spark, cand, seen, bloom, cache=cache)
    assert new.count() == 3000  # ids 3000..5999; bloom fp never drops a URL
    # without bloom, identical result (bloom is routing only)
    new2 = filter_new_urls(spark, cand, seen, None, cache=cache)
    assert {r["url_hash"] for r in new.collect()} == {r["url_hash"] for r in new2.collect()}


def test_cuckoo_deletions_resurrect(spark, cache):
    seen = _urls(spark, 0, 3000)
    cand = _urls(spark, 2000, 6000)
    bloom = _blooms(seen)
    tomb = _urls(spark, 2500, 3000)  # re-crawl invalidation of 500 URLs
    cuckoo = build_cuckoo_table(tomb)
    new = filter_new_urls(spark, cand, seen, bloom, tomb, cuckoo, cache=cache)
    assert new.count() == 3500  # 3000 unseen + 500 resurrected
    # tombstones remain ground truth even without the cuckoo accelerator
    new2 = filter_new_urls(spark, cand, seen, bloom, tomb, None, cache=cache)
    assert {r["url_hash"] for r in new.collect()} == {r["url_hash"] for r in new2.collect()}


def test_cuckoo_probe_runs_on_candidate_slice_not_seen_table(spark, plan_ops, cache):
    """Scale-shape regression guard: with tombstones active, the cuckoo
    cogroup must probe the maybe-seen candidates found in seen, NOT the
    full seen table — an earlier shape piped O(seen) rows through Arrow
    every round once any tombstone existed. Witness: exactly two Python
    cogroups (one Bloom probe, read by every route from its cache, and one
    cuckoo probe), and the cuckoo cogroup's subtree holds the semi join
    against seen and the Bloom-positive filter — it consumes the in-seen
    maybe slice, not the seen relation."""
    seen = _urls(spark, 0, 3000)
    cand = _urls(spark, 2000, 6000)
    bloom = _blooms(seen)
    tomb = _urls(spark, 2500, 3000)
    cuckoo = build_cuckoo_table(tomb)
    new = filter_new_urls(spark, cand, seen, bloom, tomb, cuckoo, cache=cache)
    cogroups = [n for cls, _, n in plan_ops(new) if cls == "FlatMapCoGroupsInPandasExec"]
    assert len(cogroups) == 2, [n.simpleString(25) for n in cogroups]
    (cuckoo_node,) = [n for n in cogroups if "maybe_deleted" in n.simpleString(25)]
    subtree = cuckoo_node.toString()
    assert "LeftSemi" in subtree, subtree
    assert "AND maybe_seen" in subtree and "NOT maybe_seen" not in subtree, subtree


def test_bloom_rebuild_keeps_fpp_bounded(spark, corpus, tmpdir_path):
    """Capacity policy (rounds.py): filters sized for ~8 items/bucket get
    ~50x that inserted across rounds; overfull buckets must be rebuilt at a
    larger m from the exact seen table, keeping the false-positive rate of
    fresh probes under 2% (without rebuild it would be ~99% here)."""
    from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver
    from image_search_indexing_spark.frontier.seen import bloom_probe

    cfg = FrontierConfig(
        n_rounds=3, n_buckets=2, expected_per_bucket=8, default_budget=1 << 30
    )
    drv = FrontierDriver(spark, f"{tmpdir_path}/bloomcap", cfg)
    counters = drv.run(corpus["docs"], corpus["meta"], None, None, None, n_rounds=3)
    assert any(c.get("bloom_rebuilt_buckets", 0) > 0 for c in counters)

    bloom = drv.catalog.read_table(spark, "bloom")
    stats = {int(r["bucket"]): (int(r["m"]), int(r["n_items"])) for r in bloom.collect()}
    # every bucket ends within its load budget (n * bits_per_key <= load * m)
    for b, (m, n) in stats.items():
        assert n * cfg.bits_per_key <= BLOOM_REBUILD_LOAD * m, (b, m, n)

    fresh = with_hashes(
        spark.range(50_000).select(
            F.md5(F.concat(F.lit("fresh-"), F.col("id").cast("string"))).alias("url_hash")
        ),
        "url_hash",
        cfg.n_buckets,
    )
    marked = bloom_probe(spark, fresh, bloom)
    fpp = marked.where(F.col("maybe_seen")).count() / 50_000
    assert fpp < 0.02, fpp


def test_missing_bloom_row_routes_to_exact_check(spark, cache):
    """A bucket without a Bloom row must not count as "not seen": its
    candidates go to the exact check, so dropping one bucket's filter
    changes nothing against running with no Bloom at all."""
    seen = _urls(spark, 0, 3000)
    cand = _urls(spark, 2000, 6000)
    bloom = _blooms(seen).where(F.col("bucket") != 3)
    got = filter_new_urls(spark, cand, seen, bloom, cache=cache)
    want = filter_new_urls(spark, cand, seen, None, cache=cache)
    got, want = ({r["url_hash"] for r in df.collect()} for df in (got, want))
    assert got == want
    assert len(got) == 3000


def test_filter_hash_exchange_count(spark, plan_ops):
    """Pins the shuffles of one seen filter with broadcast joins off: the
    Bloom build (seen by bucket) and the re-exchange of its output, the
    candidates by bucket for the Bloom cogroup, and the two sides of the
    seen-key join. The probe is cached, so both routes share its three."""
    seen = _urls(spark, 0, 3000)
    cand = _urls(spark, 2000, 6000)
    bloom = _blooms(seen)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cache = []
    try:
        new = filter_new_urls(spark, cand, seen, bloom, cache=cache)
        assert new.count() == 3000
        ops = plan_ops(new)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for df in cache:
            df.unpersist()
    hash_exchanges = [
        line for cls, line, _ in ops
        if cls == "ShuffleExchangeExec" and "hashpartitioning" in line
    ]
    assert len(hash_exchanges) == 5, hash_exchanges


def test_bloom_negatives_never_meet_seen_table(spark, plan_ops):
    """The Bloom routes: the seen-key join reads only Bloom positives, and
    the negatives reach the output without any join."""
    seen = _urls(spark, 0, 3000)
    cand = _urls(spark, 2000, 6000)
    bloom = _blooms(seen)
    for threshold in ("-1", None):  # shuffled join, then broadcast join
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        if threshold:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        cache = []
        try:
            new = filter_new_urls(spark, cand, seen, bloom, cache=cache)
            ops = plan_ops(new)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            for df in cache:
                df.unpersist()
        (union,) = [n for cls, _, n in ops if cls == "UnionExec"]
        routes = [union.children().apply(i).toString() for i in range(2)]
        (negatives,) = [r for r in routes if "NOT maybe_seen" in r]
        (positives,) = [r for r in routes if r is not negatives]
        assert "Join" not in negatives, negatives
        assert "Join" in positives and "AND maybe_seen" in positives, positives
