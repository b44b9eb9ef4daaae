"""Bloom maintenance and re-crawls: a URL scheduled, invalidated and
scheduled again has two ``seen`` rows, and must still be scheduled at most
once per batch when it is invalidated and rediscovered; each bucket's
filter on disk holds exactly its seen rows, through capacity rebuilds, a
stale-filter rebuild and re-crawls; the pending table is the live queue
after every round and invalidation; and a resume whose filter sizing no
longer matches the filters on disk fails before it commits."""

import re

import numpy as np
import pytest

from image_search_indexing_spark.frontier import datagen as dg
from image_search_indexing_spark.frontier.oracle import (
    FrontierOracle,
    OracleConfig,
    OracleState,
    xxhash64,
)
from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver
from image_search_indexing_spark.frontier.seen import bloom_build

N_ROUNDS = 5
# per host and round: most rediscoveries are scheduled, and every round
# leaves a queue (8 to 55 URLs), so the pending checks read real rows
BUDGET = 12
COUNTERS = ("round_candidates", "queue_after_dedup", "dup_dropped", "scheduled",
            "pending_after", "seen_total")
PENDING_COLS = ("url_hash", "ref_url", "kind", "priority", "page_ts", "doc_id", "offset")
# rounds 0-2 route on the Bloom; round 3 runs without it and drops it, so
# round 4 finds no filter holding every scheduled URL and rebuilds from seen
BLOOM_ON = (True, True, True, False, True)


def _cfg(use_bloom):
    return FrontierConfig(n_rounds=N_ROUNDS, n_buckets=4, expected_per_bucket=8,
                          default_budget=BUDGET, use_bloom=use_bloom)


def _hashes(df):
    return [r["url_hash"] for r in df.select("url_hash").collect()]


def _filters_hold_their_seen_rows(spark, drv):
    """Each bucket's filter equals ``bloom_build`` over that bucket's seen
    rows at the recorded m, and its n_items equals both the row count and
    the manifest stats."""
    snap = drv.catalog.snapshot()
    filters = {r["bucket"]: r for r in drv.catalog.read_table(spark, "bloom", snap).collect()}
    rows: dict[int, list] = {}
    for r in drv.seen_table().select("bucket", "h1", "h2").collect():
        rows.setdefault(r["bucket"], []).append((r["h1"], r["h2"]))
    assert set(filters) == set(rows)
    recorded = {int(b): v for b, v in snap["lineage"]["bloom"].items()}
    for b, f in filters.items():
        h = np.array(rows[b], dtype=np.int64).astype(np.uint64)
        assert f["n_items"] == len(rows[b]), b
        assert recorded[b] == [f["m"], f["n_items"]], b
        assert bytes(f["bits"]) == bloom_build(h[:, 0], h[:, 1], f["m"], f["k"]), b


def _pending_state(spark, drv, state):
    """The pending table as the next round will read it: its number of
    listed paths, its url_hashes (repeats kept), those of the effective
    seen set (seen minus tombstones), and its rows next to
    ``pending_live()``'s and the oracle's queue."""
    snap = drv.catalog.snapshot()
    rows = [r.asDict() for r in drv.catalog.read_table(spark, "pending", snap).collect()]
    tomb = drv.catalog.read_table(spark, "tombstones", snap)
    effective = set(_hashes(drv.seen_table())) - set(_hashes(tomb) if tomb is not None else [])
    key = lambda r: tuple(r[c] for c in PENDING_COLS)
    return {
        "paths": len(snap["tables"]["pending"]),
        "hashes": [r["url_hash"] for r in rows],
        "seen": effective & {r["url_hash"] for r in rows},
        "table": sorted(map(key, rows)),
        "live": sorted(key(r.asDict()) for r in drv.pending_live().collect()),
        "oracle": sorted(key(dict(r, url_hash=h)) for h, r in state.pending.items()),
    }


@pytest.fixture(scope="module")
def recrawl(spark, tmp_path_factory):
    """400 documents drawing 90% of their media refs from a popular pool,
    so URLs are rediscovered every round. Round 0; then every URL of batch
    0 is invalidated; round 1 schedules some again; those rescheduled URLs
    are invalidated again; rounds 2-4 follow (see ``BLOOM_ON``). The
    oracle runs the same sequence. Each Bloom round's filters are checked
    right after the round; the pending table is read after every round and
    every invalidation."""
    cfg = dg.GenConfig(n_docs=400, dup_rate=0.9, n_hosts=40)
    docs, meta = dg.generate(spark, cfg, partitions=3)
    docs, meta = docs.persist(), meta.persist()
    metas = {r["doc_id"]: r for r in meta.collect()}
    docs_py = [
        {"doc_id": r["doc_id"], "spans": [s.asDict() for s in r["spans"]],
         "base_url": metas[r["doc_id"]]["base_url"], "fetch_ts": metas[r["doc_id"]]["fetch_ts"]}
        for r in docs.collect()
    ]
    oracle = FrontierOracle(OracleConfig(n_rounds=N_ROUNDS, default_budget=BUDGET))
    state = OracleState()
    wd = str(tmp_path_factory.mktemp("recrawl"))
    counters, invalidated, rebuilt, pending = [], [], [], []
    try:
        for r, use_bloom in enumerate(BLOOM_ON):
            drv = FrontierDriver(spark, wd, _cfg(use_bloom))
            counters.append(drv.run_round(r, docs, meta))
            drv.close()
            if use_bloom:
                _filters_hold_their_seen_rows(spark, drv)
                rebuilt.append(counters[-1].get("bloom_rebuilt_buckets", 0))
            oracle.run_round(r, [d for d in docs_py if xxhash64(d["doc_id"]) % N_ROUNDS == r], state)
            pending.append(_pending_state(spark, drv, state))
            batch = drv.fetch_batch(r)
            if r == 0:
                target = batch
            elif r == 1:
                target = batch.join(drv.fetch_batch(0).select("url_hash"), "url_hash", "left_semi")
            else:
                continue
            hashes = _hashes(target)
            assert hashes
            assert drv.invalidate(target.select("url_hash"))["invalidated_in_seen"] == len(hashes)
            assert oracle.invalidate(state, hashes) == len(hashes)
            invalidated.append(hashes)
            pending.append(_pending_state(spark, drv, state))
        yield drv, counters, state, invalidated, rebuilt, pending
    finally:
        docs.unpersist()
        meta.unpersist()


def test_recrawled_url_is_scheduled_once(recrawl):
    """A URL invalidated twice has two seen rows; rediscovered, it is
    scheduled once. Batches (with per-host order), counters and the
    effective seen set (seen minus tombstones) match the oracle, and no
    batch holds a url_hash twice."""
    drv, counters, state, invalidated, *_ = recrawl
    seen_rows = _hashes(drv.seen_table())
    assert len(seen_rows) > len(set(seen_rows))  # the twice-scheduled URLs
    for r in range(N_ROUNDS):
        rows = [x.asDict() for x in drv.fetch_batch(r).collect()]
        hashes = [x["url_hash"] for x in rows]
        assert len(hashes) == len(set(hashes)), f"round {r}: a url_hash scheduled twice"
        got = sorted((x["host"], x["queue_pos"], x["url_hash"], x["ref_url"]) for x in rows)
        want = sorted((x["host"], x["queue_pos"], x["url_hash"], x["ref_url"])
                      for x in state.fetch_batches[r])
        assert got == want, f"round {r}"
        for k in COUNTERS:
            assert counters[r][k] == state.counters[r][k], (r, k)
    tomb = drv.catalog.read_table(drv.spark, "tombstones")
    assert set(seen_rows) - set(_hashes(tomb) if tomb is not None else []) == state.seen
    # round 2 rediscovered some of the URLs invalidated twice
    assert set(invalidated[1]) & {x["url_hash"] for x in state.fetch_batches[2]}


def test_filters_rebuilt_and_resumed_stale(recrawl):
    """The fixture checked each Bloom round's filters against the seen
    rows; this pins that the checks covered capacity rebuilds, an OR-merge
    round and the stale-filter rebuild of round 4."""
    _, counters, *_, rebuilt, _ = recrawl
    assert rebuilt[0] > 0  # filters sized for 8 keys
    assert rebuilt[1] == 0  # round 1 OR-merges its keys into every filter
    assert rebuilt[2] > 0  # ... and round 2 outgrows them
    assert counters[4]["bloom_rebuilt_buckets"] == 4  # every bucket, from seen


def test_pending_is_the_live_queue(recrawl):
    """After every round and every invalidation the manifest lists one
    pending path, and its rows hold no url_hash twice and no URL of the
    effective seen set, and equal both ``pending_live()`` and the oracle's
    queue: so the seen filter never drops a queued champion."""
    *_, pending = recrawl
    for step, p in enumerate(pending):
        assert p["paths"] == 1, step
        assert len(p["hashes"]) == len(set(p["hashes"])), step
        assert not p["seen"], step
        assert p["table"] == p["live"] == p["oracle"], step
    assert all(p["table"] for p in pending)


def test_changed_bloom_sizing_fails_before_commit(spark, corpus, tmp_path_factory):
    """A resume with another ``bits_per_key`` cannot OR-merge into the
    filters on disk: the round raises the (m, k) error and commits no
    snapshot."""
    wd = str(tmp_path_factory.mktemp("bloom-sizing"))
    args = (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"],
            corpus["robots"])
    cfg = dict(n_rounds=2, n_buckets=16, default_budget=5)
    FrontierDriver(spark, wd, FrontierConfig(**cfg)).run(*args, n_rounds=1)
    drv = FrontierDriver(spark, wd, FrontierConfig(**cfg, bits_per_key=10))
    with pytest.raises(Exception, match=r"bloom sizing config changed.*k=\[7, 8\]"):
        drv.run_round(1, *args)
    assert drv.catalog.snapshot()["round"] == 0


def test_recrawl_without_bloom_dedups_once(spark, corpus, tmp_path_factory, monkeypatch,
                                           plan_ops):
    """Without a Bloom table, a round with tombstones reads its champions
    in the seen filter's anti and semi joins; they come from one cache, so
    the dedup and its queue observation run once (the plan, taken at the
    seen write while the round's frames are cached, walks each cache once)."""
    from image_search_indexing_spark.frontier import seen as seenmod
    from image_search_indexing_spark.sources.catalog import Catalog

    wd = str(tmp_path_factory.mktemp("recrawl-no-bloom"))
    cfg = FrontierConfig(n_rounds=2, n_buckets=4, default_budget=5, use_bloom=False)
    drv = FrontierDriver(spark, wd, cfg)
    drv.run_round(0, corpus["docs"], corpus["meta"])
    assert drv.invalidate(drv.fetch_batch(0).select("url_hash"))["invalidated_in_seen"] > 0

    filtered, ops = [], []
    orig_filter, orig_write = seenmod.filter_new_urls, Catalog.write_table

    def filt(*a, **kw):
        filtered.append(orig_filter(*a, **kw))
        return filtered[-1]

    def write(self, df, kind, *a, **kw):
        if kind == "seen":
            ops.extend(plan_ops(filtered[-1]))
        return orig_write(self, df, kind, *a, **kw)

    monkeypatch.setattr(seenmod, "filter_new_urls", filt)
    monkeypatch.setattr(Catalog, "write_table", write)
    drv.run_round(1, corpus["docs"], corpus["meta"])
    drv.close()
    joins = [d for c, d, _ in ops if "Join" in c]
    assert any("LeftAnti" in d for d in joins) and any("LeftSemi" in d for d in joins), joins
    queue_obs = [d for c, d, _ in ops if c == "CollectMetricsExec" and re.search(r"\bAS n#", d)]
    assert len(queue_obs) == 1, queue_obs
