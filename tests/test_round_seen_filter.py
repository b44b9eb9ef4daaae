"""Round driver × seen filter: one cached Bloom probe per round on the
dedup's bucket partitioning, Bloom on/off equivalence (also across a
resume and a stale filter in the manifest), and cached frames released
when a round raises."""

import pytest

from image_search_indexing_spark.frontier import politeness as pol
from image_search_indexing_spark.frontier import seen as seenmod
from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver
from image_search_indexing_spark.sources.catalog import Catalog

N_ROUNDS = 3


def _cfg(use_bloom=True):
    return FrontierConfig(
        n_rounds=N_ROUNDS, n_buckets=16, n_salts=4, default_budget=5, use_bloom=use_bloom
    )


def _args(corpus):
    return (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"], corpus["robots"])


def _batches(drv):
    out = []
    for r in range(N_ROUNDS):
        rows = [x.asDict() for x in drv.fetch_batch(r).collect()]
        out.append(sorted(rows, key=lambda x: (x["host"], x["queue_pos"])))
    return out


def _seen(drv):
    return {r["url_hash"] for r in drv.seen_table().select("url_hash").collect()}


def _crawl_counters(counters):
    # bloom_* counters describe the filter maintenance, not the crawl
    return [{k: v for k, v in c.items() if not k.startswith("bloom_")} for c in counters]


@pytest.fixture(scope="module")
def bloom_on(spark, corpus, tmp_path_factory, plan_ops):
    """A 3-round crawl with the Bloom on. For round 1 it records every
    Bloom probe built, whether that probe is cached when scheduling runs,
    and the operators of ``scheduled``'s plan."""
    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("bloom-on")), _cfg())
    probes, at_sched = [], {}
    orig_probe, orig_sched = seenmod.bloom_probe, pol.schedule_round

    def probe(*a, **kw):
        out = orig_probe(*a, **kw)
        probes.append(out)
        return out

    def schedule(*a, **kw):
        out = orig_sched(*a, **kw)
        at_sched[len(at_sched)] = (
            list(probes), [p.is_cached for p in probes], plan_ops(out)
        )
        return out

    seenmod.bloom_probe, pol.schedule_round = probe, schedule
    try:
        counters = drv.run(*_args(corpus), n_rounds=N_ROUNDS)
    finally:
        seenmod.bloom_probe, pol.schedule_round = orig_probe, orig_sched
    return drv, counters, at_sched[1]


def test_one_bloom_probe_on_dedup_partitioning(bloom_on, plan_ops):
    """Round 1 probes the Bloom once and caches the result, so both routes
    (negatives, and positives to the seen join) read one probe; and the
    candidates reach the probe straight from the champion aggregate, with
    no exchange between them."""
    _, _, (probes, cached, ops) = bloom_on
    assert len(probes) == 1 and cached == [True]
    assert [cls for cls, _, _ in ops].count("FlatMapCoGroupsInPandasExec") == 1, ops
    probe_ops = plan_ops(probes[0])
    names = [cls for cls, _, _ in probe_ops]
    start = names.index("FlatMapCoGroupsInPandasExec")
    agg = next(i for i in range(start, len(probe_ops)) if "min_by(" in probe_ops[i][1])
    between = [line for cls, line, _ in probe_ops[start + 1:agg] if "Exchange" in cls]
    assert not between, between


def test_bloom_off_equals_bloom_on(spark, corpus, tmp_path_factory, bloom_on):
    """The Bloom only routes: without it the batches, seen set and
    counters are the same."""
    drv_on, c_on, _ = bloom_on
    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("bloom-off")), _cfg(False))
    c_off = drv.run(*_args(corpus), n_rounds=N_ROUNDS)
    assert _batches(drv) == _batches(drv_on)
    assert _seen(drv) == _seen(drv_on)
    assert _crawl_counters(c_off) == _crawl_counters(c_on)
    assert "bloom" not in drv.catalog.snapshot()["tables"]


def test_bloom_turned_on_at_resume(spark, corpus, tmp_path_factory, bloom_on):
    """Round 0 without the Bloom, rounds 1-2 with it: round 1 must build
    its filter from the whole seen table, or round 0's URLs are Bloom
    negatives in round 2 and get scheduled again."""
    drv_on, _, _ = bloom_on
    wd = str(tmp_path_factory.mktemp("bloom-off-on"))
    FrontierDriver(spark, wd, _cfg(False)).run(*_args(corpus), n_rounds=1)
    drv = FrontierDriver(spark, wd, _cfg(True))
    drv.run(*_args(corpus), n_rounds=N_ROUNDS)
    batches = _batches(drv)
    hashes = [row["url_hash"] for b in batches for row in b]
    assert len(hashes) == len(set(hashes)), "a url_hash was scheduled twice"
    assert batches == _batches(drv_on)


def test_stale_bloom_in_manifest_is_rebuilt(spark, corpus, tmp_path_factory, bloom_on):
    """A checkpoint from before rounds without the Bloom dropped it: round
    0 on, round 1 off with round 0's filter left in the manifest, round 2
    on. The filter misses round 1's URLs, so round 2 must not route on it
    and must rebuild it from the seen table."""
    drv_on, _, _ = bloom_on
    wd = str(tmp_path_factory.mktemp("bloom-stale"))
    FrontierDriver(spark, wd, _cfg(True)).run(*_args(corpus), n_rounds=1)
    cat = Catalog(wd)
    stale = cat.snapshot()["tables"]["bloom"]
    FrontierDriver(spark, wd, _cfg(False)).run(*_args(corpus), n_rounds=2)
    snap = cat.snapshot()
    tables = dict(snap["tables"], bloom=stale)
    cat.commit(snap["round"], tables, snap["counters"], snap["lineage"], snap["snapshot_id"])
    drv = FrontierDriver(spark, wd, _cfg(True))
    counters = drv.run(*_args(corpus), n_rounds=N_ROUNDS)
    batches = _batches(drv)
    hashes = [row["url_hash"] for b in batches for row in b]
    assert len(hashes) == len(set(hashes)), "a url_hash was scheduled twice"
    assert batches == _batches(drv_on)
    assert counters[0]["bloom_rebuilt_buckets"] > 0


def test_failed_round_releases_cache_and_resumes(spark, corpus, tmp_path_factory, bloom_on):
    """A round that raises mid-way (here: its pending write) leaves no
    cached frame behind, commits nothing, and a resume replays it
    bit-identically."""
    drv_on, _, _ = bloom_on
    wd = str(tmp_path_factory.mktemp("round-fails"))
    drv = FrontierDriver(spark, wd, _cfg())
    drv.run(*_args(corpus), n_rounds=1)

    orig = Catalog.write_table

    def failing(cat, df, table, round_id, partition_by=None):
        if table == "pending" and round_id == 1:
            raise RuntimeError("injected pending write failure")
        return orig(cat, df, table, round_id, partition_by)

    persistent = lambda: spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: E731
    before = persistent()
    Catalog.write_table = failing
    try:
        with pytest.raises(RuntimeError, match="injected"):
            drv.run_round(1, *_args(corpus))
    finally:
        Catalog.write_table = orig
    assert persistent() == before
    assert drv.catalog.snapshot()["round"] == 0

    drv2 = FrontierDriver(spark, wd, _cfg())
    drv2.run(*_args(corpus), n_rounds=N_ROUNDS)
    assert _batches(drv2) == _batches(drv_on)
    assert _seen(drv2) == _seen(drv_on)
