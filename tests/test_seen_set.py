"""The seen set's tables have one owner, and invalidation edge cases match
the oracle.

400 documents draw 90% of their media refs from a popular pool, so URLs
are rediscovered every round (4 buckets, budget 6). The sequence: round 0;
an ``invalidate()`` whose input repeats url_hashes and holds batch-0 URLs,
queued URLs never scheduled and two hashes never discovered; a second one
with two URLs already tombstoned and two still seen; rounds 1-3 (see
``BLOOM_ON``). ``FrontierOracle`` runs the same sequence, and after every
step the engine's counters, batches, effective seen set and
``pending_live()`` are compared with it. Throughout, every
``Catalog.read_table``/``write_table`` call on a seen-set table is recorded
with the file that made it."""

import inspect
import sys

import pytest

from image_search_indexing_spark.frontier import datagen as dg
from image_search_indexing_spark.frontier import seen as seenmod
from image_search_indexing_spark.frontier.oracle import (
    FrontierOracle,
    OracleConfig,
    OracleState,
    md5,
    xxhash64,
)
from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver
from image_search_indexing_spark.sources.catalog import Catalog

N_ROUNDS = 4
BUDGET = 6
STATE_TABLES = ("seen", "bloom", "tombstones", "cuckoo")
# rounds 0, 1 and 3 route on the Bloom; round 2 runs without it and drops
# it, so round 3 finds no filter holding every scheduled URL and rebuilds
# each bucket from seen. The two never-discovered hashes stay tombstoned,
# so rounds 1-3 all run with tombstones.
BLOOM_ON = (True, True, False, True)
COUNTERS = ("round_candidates", "queue_after_dedup", "dup_dropped", "scheduled",
            "pending_after", "seen_total")
BATCH_COLS = ("host", "queue_pos", "url_hash", "ref_url", "kind", "priority", "page_ts",
              "doc_id", "offset", "fetch_delay_ms")
PENDING_COLS = ("url_hash", "ref_url", "kind", "priority", "page_ts", "doc_id", "offset")
NEVER_DISCOVERED = [md5(f"never-discovered-{i}") for i in range(2)]


def _hashes(df):
    return [r["url_hash"] for r in df.select("url_hash").collect()] if df is not None else []


def _recording(orig, op, calls, phase):
    """``orig`` (a Catalog read or write), recording each call on a seen-set
    table as ``(phase, op, table, calling file)``. This file's own reads are
    the test's, not the program's, and are not recorded."""
    sig = inspect.signature(orig)

    def wrapper(*a, **kw):
        table = sig.bind(*a, **kw).arguments["table"]
        caller = sys._getframe(1).f_code.co_filename
        if table in STATE_TABLES and caller != __file__:
            calls.append((phase[0], op, table, caller))
        return orig(*a, **kw)

    return wrapper


@pytest.fixture(scope="module")
def sequence(spark, tmp_path_factory):
    gen = dg.GenConfig(n_docs=400, dup_rate=0.9, n_hosts=40)
    docs, meta = dg.generate(spark, gen, partitions=3)
    docs, meta = docs.persist(), meta.persist()
    metas = {r["doc_id"]: r for r in meta.collect()}
    docs_py = [
        {"doc_id": r["doc_id"], "spans": [s.asDict() for s in r["spans"]],
         "base_url": metas[r["doc_id"]]["base_url"], "fetch_ts": metas[r["doc_id"]]["fetch_ts"]}
        for r in docs.collect()
    ]
    oracle = FrontierOracle(OracleConfig(n_rounds=N_ROUNDS, default_budget=BUDGET))
    state = OracleState()
    wd = str(tmp_path_factory.mktemp("seen-set"))
    cfg = lambda use_bloom: FrontierConfig(  # noqa: E731
        n_rounds=N_ROUNDS, n_buckets=4, default_budget=BUDGET, use_bloom=use_bloom)
    calls, phase = [], ["setup"]
    out = {"steps": [], "counters": [], "invalidated": [], "calls": calls}

    def observe(step, drv, got_counters=None, want_counters=None):
        """One step's engine-vs-oracle pairs, read through the public API."""
        snap = drv.catalog.snapshot()
        phase[0] = "seen_table"
        seen = set(_hashes(drv.seen_table()))
        tomb = set(_hashes(drv.catalog.read_table(spark, "tombstones", snap)))
        phase[0] = "pending_live"
        key = lambda r: tuple(r[c] for c in PENDING_COLS)  # noqa: E731
        live = sorted(key(r.asDict()) for r in drv.pending_live().collect())
        pairs = {
            "seen_total": (snap["counters"]["seen_total"], len(state.seen)),
            "effective seen": (seen - tomb, set(state.seen)),
            "pending_live": (live, sorted(key(dict(r, url_hash=h))
                                          for h, r in state.pending.items())),
        }
        if got_counters is not None:
            r = snap["round"]
            batch = [tuple(x[c] for c in BATCH_COLS) for x in drv.fetch_batch(r).collect()]
            pairs["batch"] = (sorted(batch), [tuple(x[c] for c in BATCH_COLS)
                                              for x in state.fetch_batches[r]])
            pairs["counters"] = ({k: got_counters[k] for k in COUNTERS},
                                 {k: want_counters[k] for k in COUNTERS})
        out["steps"].append((step, pairs))
        return tomb

    def crawl(r):
        drv = FrontierDriver(spark, wd, cfg(BLOOM_ON[r]))
        phase[0] = "run_round"
        got = drv.run_round(r, docs, meta)
        drv.close()
        want = oracle.run_round(r, [d for d in docs_py if xxhash64(d["doc_id"]) % N_ROUNDS == r],
                                state)
        out["counters"].append(got)
        return drv, observe(f"round {r}", drv, got, want)

    def invalidate(drv, hashes):
        phase[0] = "invalidate"
        got = drv.invalidate(spark.createDataFrame([(h,) for h in hashes], "url_hash string"))
        want = oracle.invalidate(state, hashes)
        out["invalidated"].append((got["invalidated_in_seen"], want))
        return observe(f"invalidate {len(out['invalidated'])}", drv)

    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(Catalog, "read_table", _recording(Catalog.read_table, "read", calls, phase))
            mp.setattr(Catalog, "write_table",
                       _recording(Catalog.write_table, "write", calls, phase))
            drv, _ = crawl(0)
            batch0 = sorted(_hashes(drv.fetch_batch(0)))
            queued = sorted(state.pending)[:5]
            assert len(batch0) >= 8 and queued
            tombstoned, still_seen = batch0[::2], batch0[1::2]
            # repeats within the input: every hash twice, the first three thrice
            first = tombstoned + queued + NEVER_DISCOVERED
            assert invalidate(drv, first + first + first[:3]) == set(first)
            assert invalidate(drv, tombstoned[:2] + still_seen[:2]) == (
                set(first) | set(still_seen[:2])
            )
            for r in range(1, N_ROUNDS):
                drv, tomb = crawl(r)
        out["expected_invalidated"] = [(len(tombstoned),) * 2, (2, 2)]
        out["tombstoned"] = set(first) | set(still_seen[:2])
        out["tombstones_left"] = tomb
        out["batches"] = {r: set(_hashes(drv.fetch_batch(r))) for r in range(1, N_ROUNDS)}
        out["final_counters"] = drv.catalog.snapshot()["counters"]
        yield out
    finally:
        docs.unpersist()
        meta.unpersist()


def test_invalidation_edge_cases_match_the_oracle(sequence):
    """Repeated input hashes count once, queued and never-discovered hashes
    count as not seen, and already-tombstoned ones are not counted again;
    after every step the seen_total counter, the effective seen set (seen
    minus tombstones), the live queue, and each round's batch (per-host
    order) and counters equal the oracle's."""
    assert sequence["invalidated"] == sequence["expected_invalidated"]
    for step, pairs in sequence["steps"]:
        for what, (got, want) in pairs.items():
            assert got == want, f"{step}: {what}"
    # rediscovered, some invalidated URLs were scheduled again, which
    # cleared their tombstones; the never-discovered hashes stay tombstoned
    rescheduled = set().union(*sequence["batches"].values()) & sequence["tombstoned"]
    assert rescheduled
    assert sequence["tombstones_left"] == sequence["tombstoned"] - rescheduled
    assert set(NEVER_DISCOVERED) <= sequence["tombstones_left"]


def test_invalidated_count_outlives_the_rounds_after_it(sequence):
    """The rounds after the invalidations carry their count forward, so the
    last snapshot still counts every URL ever scheduled as ``seen_total +
    invalidated``: the count ``SeenSet.load`` trusts a filter by."""
    counters = sequence["final_counters"]
    assert counters["invalidated"] == sum(got for got, _ in sequence["invalidated"])
    scheduled = sum(c["scheduled"] for c in sequence["counters"])
    assert counters["seen_total"] + counters["invalidated"] == scheduled


def test_only_the_seen_set_touches_its_tables(sequence):
    """Every Catalog read and write of the seen, bloom, tombstones and
    cuckoo tables, in Bloom rounds, tombstone rounds, a no-Bloom round, the
    stale-Bloom rebuild of round 3, both invalidations, ``seen_table()`` and
    ``pending_live()``, is made by ``frontier/seen.py``."""
    calls = sequence["calls"]
    assert sequence["counters"][3]["bloom_rebuilt_buckets"] == 4  # every bucket, from seen
    ops = {(p, op, t) for p, op, t, _ in calls}
    for t in STATE_TABLES:
        assert {("run_round", "read", t), ("run_round", "write", t)} <= ops, t
    assert {("invalidate", "write", "tombstones"), ("invalidate", "write", "cuckoo"),
            ("invalidate", "read", "seen"), ("pending_live", "read", "seen"),
            ("pending_live", "read", "tombstones"), ("seen_table", "read", "seen")} <= ops
    callers = {f for *_, f in calls}
    assert callers == {seenmod.__file__}, callers
