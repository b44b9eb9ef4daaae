"""The round's per-host side tables (robots rule arrays, seed priority,
politeness budgets) are prepared once per driver: from round 1 on, the
round broadcasts them from the driver's cache, with no aggregate or source
scan under the broadcast. A new input frame is prepared again and gives
the same batches as a fresh driver, and the prepared frames are released
by ``close()``, by ``run()`` on exit and by a dropped driver's collection."""

import gc

from pyspark.sql import functions as F

from image_search_indexing_spark.frontier import politeness as pol
from image_search_indexing_spark.frontier import seen as seenmod
from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver
from image_search_indexing_spark.sources.catalog import Catalog

STAGES = {"ShuffleQueryStageExec", "BroadcastQueryStageExec",
          "ResultQueryStageExec", "TableCacheQueryStageExec"}
# the column each side table's broadcast carries
SIDES = {"__rules": "robots", "__prio": "seeds", "__budget": "politeness"}


def _cfg():
    return FrontierConfig(n_rounds=2, n_buckets=16, default_budget=5)


def _args(corpus, politeness=None, robots=None):
    return (corpus["docs"], corpus["meta"], corpus["seeds"],
            politeness or corpus["politeness"], robots or corpus["robots"])


def _persistent(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _output(node):
    attrs = node.output()
    return {attrs.apply(i).name() for i in range(attrs.size())}


def _under(node):
    """The nodes of a broadcast's build side, down to (and including) the
    cache scans it reads; query-stage wrappers are unwrapped."""
    cls = node.getClass().getSimpleName()
    if cls in STAGES:
        return _under(node.plan())
    if cls == "AdaptiveSparkPlanExec":
        return _under(node.executedPlan())
    out = [node]
    if cls != "InMemoryTableScanExec":
        kids = node.children()
        for i in range(kids.size()):
            out += _under(kids.apply(i))
    return out


def _side_broadcasts(ops):
    """{side name: [the build-side nodes of each broadcast of that side]}."""
    found = {}
    for cls, _, node in ops:
        if cls != "BroadcastExchangeExec":
            continue
        for col, side in SIDES.items():
            if col in _output(node):
                found.setdefault(side, []).append(_under(node)[1:])
    return found


def _batch(drv, r):
    rows = [x.asDict() for x in drv.fetch_batch(r).collect()]
    return sorted(rows, key=lambda x: (x["host"], x["queue_pos"]))


def test_later_rounds_broadcast_the_prepared_side_tables(spark, corpus, plan_ops,
                                                         tmp_path_factory):
    """Round 1's candidates (robots, seeds) and scheduled batch (the
    politeness budgets, and the candidates under the cached probe) read
    each side table through an ``InMemoryTableScan`` only: no exchange or
    source scan under its broadcast. Rounds 0 and 1 read the same cache.
    The plans are taken while the round's frames are cached, at its
    fetch-batch write."""
    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("prepared")), _cfg())
    cands, scheds, ops = [], [], []
    orig_filter, orig_sched = seenmod.filter_new_urls, pol.schedule_round
    orig_write = Catalog.write_table

    def filt(spark_, cand, *a, **kw):
        cands.append(cand)
        return orig_filter(spark_, cand, *a, **kw)

    def schedule(live, *a, **kw):
        out = orig_sched(live, *a, **kw)
        scheds.append(out)
        return out

    def write(cat, df, table, *a, **kw):
        if table.startswith("fetch_batch_"):
            ops.append(plan_ops(cands[-1]) + plan_ops(scheds[-1]))
        return orig_write(cat, df, table, *a, **kw)

    seenmod.filter_new_urls, pol.schedule_round = filt, schedule
    Catalog.write_table = write
    try:
        for r in (0, 1):
            drv.run_round(r, *_args(corpus))
    finally:
        seenmod.filter_new_urls, pol.schedule_round = orig_filter, orig_sched
        Catalog.write_table = orig_write
        drv.close()

    ident = spark._jvm.System.identityHashCode
    builders = []
    for r in (0, 1):
        sides = _side_broadcasts(ops[r])
        assert set(sides) == set(SIDES.values()), (r, sorted(sides))
        scans = {}
        for side, builds in sides.items():
            for nodes in builds:
                names = [n.getClass().getSimpleName() for n in nodes]
                leaves = [n for n in nodes if n.children().size() == 0]
                assert all(n.getClass().getSimpleName() == "InMemoryTableScanExec"
                           for n in leaves), (r, side, names)
                assert not [x for x in names if "Exchange" in x
                            or ("Scan" in x and x != "InMemoryTableScanExec")], (r, side, names)
                scans.setdefault(side, set()).update(
                    ident(n.relation().cacheBuilder()) for n in leaves)
        assert all(len(s) == 1 for s in scans.values()), scans
        builders.append(scans)
    assert builders[0] == builders[1]


def test_new_side_frames_match_a_fresh_driver(spark, corpus, tmp_path_factory):
    """Round 1 handed new robots and politeness frames: the driver that
    ran round 0 releases what it prepared from the old frames, prepares
    the new ones, and schedules the batch a fresh driver resuming an equal
    round-0 checkpoint schedules."""
    wd_fresh = str(tmp_path_factory.mktemp("new-frames-fresh"))
    FrontierDriver(spark, wd_fresh, _cfg()).run(*_args(corpus), n_rounds=1)
    base = _persistent(spark)
    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("new-frames")), _cfg())
    drv.run_round(0, *_args(corpus))
    assert _persistent(spark) == base + 3

    # every host's budget drops to 1; the only robots rule disallows the
    # first politeness host entirely
    pol2 = corpus["politeness"].withColumn("max_fetch_per_round", F.lit(1))
    host = corpus["politeness"].first()["host"]
    robots2 = spark.createDataFrame(
        [(host, "disallow", "/")], "host string, rule string, path_pre string"
    )
    counters = drv.run_round(1, *_args(corpus, pol2, robots2))
    assert _persistent(spark) == base + 3
    fresh = FrontierDriver(spark, wd_fresh, _cfg())
    counters_fresh = fresh.run_round(1, *_args(corpus, pol2, robots2))
    fresh.close()
    drv.close()
    assert _persistent(spark) == base

    assert counters == counters_fresh
    batch = _batch(drv, 1)
    assert batch == _batch(fresh, 1)
    budgeted = {r["host"] for r in corpus["politeness"].collect()}
    assert batch and all(r["queue_pos"] == 1 for r in batch if r["host"] in budgeted)
    # robots apply at discovery: the host's only rows are round 0's queue
    round1_docs = {r["doc_id"] for r in corpus["docs"].where(
        F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1).select("doc_id").collect()}
    assert not [r for r in batch if r["host"] == host and r["doc_id"] in round1_docs]


def test_prepared_frames_are_released(spark, corpus, tmp_path_factory):
    """``close()`` releases the prepared frames and the next round
    prepares them again; ``run()`` releases them on exit; a driver dropped
    without ``close()`` releases them when collected (not at interpreter
    exit, where the JVM may be gone)."""
    base = _persistent(spark)
    wd = str(tmp_path_factory.mktemp("release"))
    drv = FrontierDriver(spark, wd, _cfg())
    assert drv._finalizer.atexit is False
    drv.run_round(0, *_args(corpus))
    assert _persistent(spark) == base + 3
    drv.close()
    assert _persistent(spark) == base
    drv.run_round(1, *_args(corpus))
    assert _persistent(spark) == base + 3
    del drv
    gc.collect()
    assert _persistent(spark) == base

    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("release-run")), _cfg())
    assert len(drv.run(*_args(corpus))) == 2
    assert _persistent(spark) == base


def test_host_budgets_one_row_per_host(spark):
    """A host listed twice keeps its strictest rule, the smallest budget
    and the longest delay, in the politeness table's schema; scheduled
    against it, each URL is scheduled once."""
    politeness = spark.createDataFrame(
        [("a.pt", 3, 100), ("a.pt", 1, 500), ("b.pt", 2, 50)],
        "host string, max_fetch_per_round int, crawl_delay_ms long",
    )
    budgets = pol.host_budgets(politeness)
    assert sorted(map(tuple, budgets.collect())) == [("a.pt", 1, 500), ("b.pt", 2, 50)]
    assert dict(budgets.dtypes) == dict(politeness.dtypes)
    cand = spark.createDataFrame(
        [(f"http://a.pt/{i}.png", f"h{i}", "a.pt", 9, None) for i in range(2)],
        "ref_url string, url_hash string, host string, priority int, page_ts timestamp",
    )
    rows = pol.schedule_round(cand, budgets).collect()
    assert [(r["url_hash"], r["queue_pos"], r["fetch_delay_ms"]) for r in rows] == [("h0", 1, 0)]
