"""Golden end-to-end: Spark frontier engine vs pure-Python oracle.

Mirrors the reference's test strategy (SURVEY.md §5): the distributed
engine must match the single-process oracle exactly — fetch-batch rows
*and order*, URL-seen membership, pending queue, and counters — and must
be invariant to partition count (the reference got this via 1 reducer;
we get it via total ordering keys), and resumable bit-identically.
"""

import pytest

from image_search_indexing_spark.frontier.oracle import (
    FrontierOracle,
    OracleConfig,
    OracleState,
)
from image_search_indexing_spark.frontier.rounds import CAND_COLS, FrontierConfig, FrontierDriver

N_ROUNDS = 3
BATCH_COLS = [
    "url_hash",
    "ref_url",
    "surt",
    "host",
    "kind",
    "priority",
    "page_ts",
    "doc_id",
    "offset",
    "queue_pos",
    "fetch_delay_ms",
]


def _run_engine(spark, corpus, workdir, n_rounds=N_ROUNDS):
    drv = FrontierDriver(
        spark,
        workdir,
        FrontierConfig(n_rounds=n_rounds, n_buckets=16, default_budget=5),
    )
    counters = drv.run(
        corpus["docs"],
        corpus["meta"],
        corpus["seeds"],
        corpus["politeness"],
        corpus["robots"],
        n_rounds=n_rounds,
    )
    return drv, counters


def _run_oracle(corpus_py, n_rounds=N_ROUNDS):
    oracle = FrontierOracle(
        OracleConfig(n_rounds=n_rounds, default_budget=5),
        seeds=corpus_py["seeds"],
        politeness=corpus_py["politeness"],
        robots=corpus_py["robots"],
    )
    return oracle.run(corpus_py["docs"], n_rounds)


def _batch_rows(drv, round_id):
    df = drv.fetch_batch(round_id)
    rows = [r.asDict() for r in df.select(*BATCH_COLS).collect()]
    rows.sort(key=lambda r: (r["host"], r["queue_pos"]))
    return rows


@pytest.fixture(scope="module")
def engine_and_oracle(spark, corpus, corpus_py, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("frontier"))
    drv, counters = _run_engine(spark, corpus, wd)
    state = _run_oracle(corpus_py)
    return drv, counters, state


def test_fetch_batches_match_oracle(engine_and_oracle):
    drv, _, state = engine_and_oracle
    for r in range(N_ROUNDS):
        got = _batch_rows(drv, r)
        want = [{k: row[k] for k in BATCH_COLS} for row in state.fetch_batches[r]]
        assert len(got) == len(want), f"round {r}: {len(got)} vs {len(want)}"
        for g, w in zip(got, want):
            assert g == w, f"round {r}: {g} != {w}"


def test_seen_set_matches_oracle(engine_and_oracle):
    drv, _, state = engine_and_oracle
    got = {r["url_hash"] for r in drv.seen_table().select("url_hash").collect()}
    assert got == state.seen


def test_pending_matches_oracle(spark, engine_and_oracle):
    drv, _, state = engine_and_oracle
    pend = drv.pending_live()
    got = {r["url_hash"] for r in pend.select("url_hash").collect()}
    assert got == set(state.pending)
    # champion rows (not just membership) must match the oracle queue
    got_rows = {
        r["url_hash"]: (r["ref_url"], r["priority"], r["doc_id"], r["offset"])
        for r in pend.collect()
    }
    want_rows = {
        h: (row["ref_url"], row["priority"], row["doc_id"], row["offset"])
        for h, row in state.pending.items()
    }
    assert got_rows == want_rows


def test_counters_match_oracle(engine_and_oracle):
    _, counters, state = engine_and_oracle
    keys = [
        "valid_ref",
        "valid_img",
        "valid_a",
        "valid_css",
        "data_url_refs",
        "robots_blocked",
        "round_candidates",
        "queue_after_dedup",
        "dup_dropped",
        "scheduled",
        "pending_after",
        "seen_total",
        "url_too_long",
        "a_not_image",
        "pages",
        "pages_with_media",
        "pages_span_capped",
        "spans_not_parsed",
    ]
    for r in range(N_ROUNDS):
        for k in keys:
            assert counters[r].get(k, 0) == state.counters[r].get(k, 0), (
                f"round {r} counter {k}: {counters[r].get(k)} vs {state.counters[r].get(k)}"
            )


def test_partition_count_invariance(spark, corpus, corpus_py, tmp_path_factory):
    """Crawl order must be identical when the input is partitioned differently
    and the shuffle width changes (local[8]-vs-local[32] analog)."""
    from image_search_indexing_spark.frontier import datagen as dg

    docs7, meta7 = dg.generate(spark, corpus["cfg"], partitions=7)
    corpus7 = dict(corpus, docs=docs7, meta=meta7)
    wd = str(tmp_path_factory.mktemp("frontier-p7"))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        drv7, _ = _run_engine(spark, corpus7, wd, n_rounds=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    state = _run_oracle(corpus_py, n_rounds=2)
    for r in range(2):
        got = _batch_rows(drv7, r)
        want = [{k: row[k] for k in BATCH_COLS} for row in state.fetch_batches[r]]
        assert got == want


def test_resume_bit_identical(spark, corpus, tmp_path_factory):
    """Kill-and-resume: rounds 0..1, then a NEW driver resumes 2; the
    resulting batches/seen must equal an uninterrupted 3-round run."""
    wd_a = str(tmp_path_factory.mktemp("frontier-full"))
    drv_full, _ = _run_engine(spark, corpus, wd_a, n_rounds=3)

    wd_b = str(tmp_path_factory.mktemp("frontier-resume"))
    cfgs = dict(n_rounds=3, n_buckets=16, default_budget=5)
    drv1 = FrontierDriver(spark, wd_b, FrontierConfig(**cfgs))
    args = (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"], corpus["robots"])
    drv1.run(*args, n_rounds=2)  # "killed" after round 1
    drv2 = FrontierDriver(spark, wd_b, FrontierConfig(**cfgs))  # fresh process analog
    drv2.run(*args, n_rounds=3)  # resumes at round 2 (from the snapshot)

    for r in range(3):
        assert _batch_rows(drv2, r) == _batch_rows(drv_full, r)
    seen_a = {x["url_hash"] for x in drv_full.seen_table().collect()}
    seen_b = {x["url_hash"] for x in drv2.seen_table().collect()}
    assert seen_a == seen_b
    # lineage + counters recorded in the snapshot metadata
    snap = drv2.catalog.snapshot()
    assert snap["round"] == 2
    assert "seen_rows_per_bucket" in snap["lineage"]
    assert snap["counters"]["scheduled"] >= 0


def test_invalidation_resurrects_and_matches_oracle(spark, corpus, corpus_py, tmp_path_factory):
    """Re-crawl invalidation (cuckoo/tombstone overlay): URLs invalidated
    between rounds become schedulable again on rediscovery; batches, seen
    set and counters keep matching the oracle; scheduling clears the
    tombstone."""
    wd = str(tmp_path_factory.mktemp("frontier-inv"))
    cfgs = dict(n_rounds=3, n_buckets=16, default_budget=5)
    drv = FrontierDriver(spark, wd, FrontierConfig(**cfgs))
    args = (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"], corpus["robots"])
    drv.run(*args, n_rounds=2)

    # invalidate round-0 scheduled URLs that are REDISCOVERED in round 2's
    # doc slice (so the resurrection actually changes round 2's batch)
    batch0 = {r["url_hash"] for r in drv.fetch_batch(0).select("url_hash").collect()}
    from image_search_indexing_spark.frontier.oracle import xxhash64

    r2_docs = [d for d in corpus_py["docs"] if xxhash64(d["doc_id"]) % 3 == 2]
    oracle = FrontierOracle(
        OracleConfig(n_rounds=3, default_budget=5),
        seeds=corpus_py["seeds"],
        politeness=corpus_py["politeness"],
        robots=corpus_py["robots"],
    )
    r2_hashes = {
        row["url_hash"] for d in r2_docs
        for row in oracle.extract_doc(d["doc_id"], d["spans"], d["base_url"], d["fetch_ts"])[0]
    }
    target = sorted(batch0 & r2_hashes)[:10]
    assert target, "fixture must rediscover some round-0 URLs in round 2"

    inv_df = spark.createDataFrame([(h,) for h in target], "url_hash string")
    res = drv.invalidate(inv_df)
    assert res["invalidated_in_seen"] == len(target)

    # oracle mirror: rounds 0-1, invalidate, round 2
    state = OracleState()
    for r in range(2):
        docs_r = [d for d in corpus_py["docs"] if xxhash64(d["doc_id"]) % 3 == r]
        oracle.run_round(r, docs_r, state)
    assert oracle.invalidate(state, target) == len(target)
    c2_oracle = oracle.run_round(2, r2_docs, state)

    drv2 = FrontierDriver(spark, wd, FrontierConfig(**cfgs))  # resume path
    c2 = drv2.run(*args, n_rounds=3)[-1]

    got = _batch_rows(drv2, 2)
    want = [{k: row[k] for k in BATCH_COLS} for row in state.fetch_batches[2]]
    assert got == want
    resurrected = {r["url_hash"] for r in got} & set(target)
    assert resurrected, "invalidated URLs must be rescheduled in round 2"
    for k in ("scheduled", "seen_total", "pending_after", "queue_after_dedup"):
        assert c2.get(k, 0) == c2_oracle.get(k, 0), k
    # scheduled resurrections cleared their tombstones
    snap = drv2.catalog.snapshot()
    tomb = drv2.catalog.read_table(spark, "tombstones", snap)
    left = {r["url_hash"] for r in tomb.collect()} if tomb is not None else set()
    assert left == set(target) - resurrected


def test_invalidation_of_queue_scheduled_url_without_rediscovery(
    spark, corpus, corpus_py, tmp_path_factory
):
    """A URL discovered in round 0, scheduled FROM THE QUEUE in round 1,
    then invalidated, must NOT reappear in round 2 unless round 2
    rediscovers it. Round 1 rewrote pending as its live queue minus its
    batch, so no stale copy of the URL is left there for the tombstone to
    bring back — matching the oracle, which deletes pending entries at
    schedule time."""
    wd = str(tmp_path_factory.mktemp("frontier-inv-stale"))
    cfgs = dict(n_rounds=3, n_buckets=16, default_budget=2)
    drv = FrontierDriver(spark, wd, FrontierConfig(**cfgs))
    args = (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"], corpus["robots"])
    drv.run(*args, n_rounds=2)

    from image_search_indexing_spark.frontier.oracle import xxhash64

    oracle = FrontierOracle(
        OracleConfig(n_rounds=3, default_budget=2),
        seeds=corpus_py["seeds"],
        politeness=corpus_py["politeness"],
        robots=corpus_py["robots"],
    )
    docs_by_round = {
        r: [d for d in corpus_py["docs"] if xxhash64(d["doc_id"]) % 3 == r] for r in range(3)
    }
    state = OracleState()
    oracle.run_round(0, docs_by_round[0], state)
    pending0 = set(state.pending)
    oracle.run_round(1, docs_by_round[1], state)
    batch1 = {r["url_hash"] for r in state.fetch_batches[1]}
    r2_hashes = {
        row["url_hash"]
        for d in docs_by_round[2]
        for row in oracle.extract_doc(d["doc_id"], d["spans"], d["base_url"], d["fetch_ts"])[0]
    }
    target = sorted((pending0 & batch1) - r2_hashes)[:5]
    assert target, (
        "fixture must schedule some round-0 discoveries from the queue in "
        "round 1 that round 2 does not rediscover"
    )

    inv_df = spark.createDataFrame([(h,) for h in target], "url_hash string")
    assert drv.invalidate(inv_df)["invalidated_in_seen"] == len(target)
    assert oracle.invalidate(state, target) == len(target)

    c2_oracle = oracle.run_round(2, docs_by_round[2], state)
    drv2 = FrontierDriver(spark, wd, FrontierConfig(**cfgs))
    c2 = drv2.run(*args, n_rounds=3)[-1]

    got = _batch_rows(drv2, 2)
    want = [{k: row[k] for k in BATCH_COLS} for row in state.fetch_batches[2]]
    assert got == want
    assert not ({r["url_hash"] for r in got} & set(target)), (
        "invalidated-but-not-rediscovered URLs must not resurrect from "
        "the pending table"
    )
    for k in ("scheduled", "seen_total", "pending_after", "queue_after_dedup"):
        assert c2.get(k, 0) == c2_oracle.get(k, 0), k
    # the live queue view agrees with the oracle's pending dict
    live = drv2.pending_live()
    live_hashes = {r["url_hash"] for r in live.collect()} if live is not None else set()
    assert live_hashes == set(state.pending)


@pytest.fixture(scope="module")
def delta_layout(spark, corpus, tmp_path_factory):
    """A checkpoint of the older layout, whose pending table was a list of
    delta files: rounds 0-1, then round 0's pending directory listed again
    before round 1's, so the queue read back holds round 0's rows of
    ``stale`` URLs round 1 scheduled. Before the resume, ``invalidate()``
    of batch 0 is tried on it and on the one pending file the older
    ``invalidate()`` wrote (which kept the stale rows of URLs it did not
    tombstone); each error message and the snapshot id after it are kept."""
    import json
    import os

    wd = str(tmp_path_factory.mktemp("frontier-delta-layout"))
    args = (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"], corpus["robots"])
    cfg = FrontierConfig(n_rounds=N_ROUNDS, n_buckets=16, default_budget=5)
    drv = FrontierDriver(spark, wd, cfg)
    drv.run(*args, n_rounds=2)
    cat = drv.catalog
    sid = cat.current_snapshot_id()
    snap_path = os.path.join(cat.meta_dir, f"snapshot-{sid}.json")
    with open(snap_path) as f:
        snap = json.load(f)
    (path1,) = snap["tables"]["pending"]
    path0 = os.path.join(os.path.dirname(path1), "round=0")
    stale = spark.read.parquet(path0).join(drv.fetch_batch(1), "url_hash", "left_semi").count()

    def list_pending(paths):
        snap["tables"]["pending"] = paths
        with open(snap_path, "w") as f:
            json.dump(snap, f)

    inv = drv.fetch_batch(0).select("url_hash")
    refused = []
    for paths in ([path0, path1], [os.path.join(os.path.dirname(path1), f"round={sid}-inv")]):
        list_pending(paths)
        try:
            drv.invalidate(inv)
            refused.append((None, cat.current_snapshot_id()))
        except ValueError as e:
            refused.append((str(e), cat.current_snapshot_id()))
    list_pending([path0, path1])
    resumed = FrontierDriver(spark, wd, cfg).run(*args)
    return drv, sid, stale, refused, resumed


def test_invalidate_refuses_delta_layout_checkpoint(delta_layout):
    """On a checkpoint whose pending files may hold stale rows,
    ``invalidate()`` raises and commits nothing: a tombstone would bring
    those rows back to the queue without a rediscovery."""
    _, sid, stale, refused, _ = delta_layout
    assert stale > 0, "round 1 must schedule some of round 0's queue"
    assert len(refused) == 2
    for msg, sid_after in refused:
        assert msg is not None and "run one round first" in msg, msg
        assert sid_after == sid


def test_resume_from_delta_layout_checkpoint(spark, delta_layout, engine_and_oracle):
    """The resumed round drops the stale rows in the seen filter, gives the
    uninterrupted run's batches, seen set, live queue and counters, and
    leaves one pending path. Only its ``queue_after_dedup`` and
    ``dup_dropped`` count the stale rows."""
    drv, _, stale, _, resumed = delta_layout
    drv_full, counters_full, _ = engine_and_oracle
    assert len(resumed) == 1
    for r in range(N_ROUNDS):
        assert _batch_rows(drv, r) == _batch_rows(drv_full, r), r
    seen = lambda d: sorted(x["url_hash"] for x in d.seen_table().select("url_hash").collect())
    assert seen(drv) == seen(drv_full)
    assert len(drv.catalog.snapshot()["tables"]["pending"]) == 1
    rows = lambda df: sorted(map(tuple, df.select(*CAND_COLS).collect()))
    pending = lambda d: rows(d.catalog.read_table(spark, "pending"))
    assert pending(drv) == pending(drv_full) == rows(drv.pending_live())
    got, want = resumed[0], counters_full[N_ROUNDS - 1]
    extra = got["queue_after_dedup"] - want["queue_after_dedup"]
    assert 0 < extra <= stale
    assert want["dup_dropped"] - got["dup_dropped"] == extra
    skip = ("queue_after_dedup", "dup_dropped")
    assert {k: v for k, v in got.items() if k not in skip} == {
        k: v for k, v in want.items() if k not in skip
    }


def test_span_cap_counters_match_oracle(spark, corpus, corpus_py, tmp_path_factory):
    """P4 cap exercised: with spans_cap=4 (mean_spans=10) most docs get
    truncated — EXCEDED/NOT_PARSED counters and the scheduled batches must
    still match the oracle exactly (cap applies in offset order)."""
    wd = str(tmp_path_factory.mktemp("frontier-capped"))
    drv = FrontierDriver(
        spark,
        wd,
        FrontierConfig(n_rounds=2, n_buckets=16, default_budget=5, spans_cap=4),
    )
    counters = drv.run(
        corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"],
        corpus["robots"], n_rounds=2,
    )
    oracle = FrontierOracle(
        OracleConfig(n_rounds=2, default_budget=5, spans_cap=4),
        seeds=corpus_py["seeds"],
        politeness=corpus_py["politeness"],
        robots=corpus_py["robots"],
    )
    state = oracle.run(corpus_py["docs"], 2)
    assert sum(c["pages_span_capped"] for c in counters) > 0
    assert sum(c["spans_not_parsed"] for c in counters) > 0
    for r in range(2):
        for k in ("pages", "pages_with_media", "pages_span_capped",
                  "spans_not_parsed", "valid_ref", "scheduled", "seen_total"):
            assert counters[r].get(k, 0) == state.counters[r].get(k, 0), (
                f"round {r} counter {k}: {counters[r].get(k)} vs {state.counters[r].get(k)}"
            )
        assert _batch_rows(drv, r) == [
            {k: row[k] for k in BATCH_COLS} for row in state.fetch_batches[r]
        ]


def test_duplicated_politeness_row_matches_oracle(spark, corpus, corpus_py, tmp_path_factory):
    """A host listed twice in the politeness table keeps its strictest
    rule (smallest budget, longest delay): the batches and counters match
    the oracle, and no url_hash is scheduled twice."""
    from pyspark.sql import functions as F

    dup = corpus["politeness"].select(
        "host",
        (F.col("max_fetch_per_round") + 2).alias("max_fetch_per_round"),
        (F.col("crawl_delay_ms") + 500).alias("crawl_delay_ms"),
    )
    politeness = corpus["politeness"].unionByName(dup)
    wd = str(tmp_path_factory.mktemp("frontier-dup-politeness"))
    drv = FrontierDriver(spark, wd, FrontierConfig(n_rounds=2, n_buckets=16, default_budget=5))
    counters = drv.run(
        corpus["docs"], corpus["meta"], corpus["seeds"], politeness, corpus["robots"], n_rounds=2,
    )
    oracle = FrontierOracle(
        OracleConfig(n_rounds=2, default_budget=5),
        seeds=corpus_py["seeds"],
        politeness=[r.asDict() for r in politeness.collect()],
        robots=corpus_py["robots"],
    )
    state = oracle.run(corpus_py["docs"], 2)
    hashes = []
    for r in range(2):
        assert counters[r]["scheduled"] == state.counters[r]["scheduled"]
        assert counters[r]["seen_total"] == state.counters[r]["seen_total"]
        rows = _batch_rows(drv, r)
        assert rows == [{k: row[k] for k in BATCH_COLS} for row in state.fetch_batches[r]]
        hashes += [row["url_hash"] for row in rows]
    assert len(hashes) == len(set(hashes)), "a url_hash was scheduled twice"
    # the smaller budget binds on some host, so taking the larger would show
    budget = {r["host"]: r["max_fetch_per_round"] for r in corpus_py["politeness"]}
    per_host = {}
    for row in _batch_rows(drv, 0):
        per_host[row["host"]] = per_host.get(row["host"], 0) + 1
    assert any(n == budget.get(h) for h, n in per_host.items())


def test_robots_rfc9309_precedence(spark):
    """RFC 9309 rule precedence in robots_filter: longest matching prefix
    wins; allow wins equal-length ties; empty prefixes are allow-all; no
    matching rule = allowed (engine and Python oracle agree case by case)."""
    from image_search_indexing_spark.frontier.oracle import FrontierOracle, OracleConfig
    from image_search_indexing_spark.frontier.politeness import robots_filter, robots_rules

    rules = [
        ("h1", "disallow", "/img/"),
        ("h1", "allow", "/img/12"),     # longer → /img/12* fetchable
        ("h2", "disallow", "/a"),
        ("h2", "allow", "/a"),          # tie → allow wins
        ("h3", "disallow", ""),         # "Disallow:" = allow-all, dropped
        ("h4", "allow", "/only"),       # allow-only host: nothing blocked
    ]
    cases = [
        ("h1", "http://h1/img/9.png", True),    # /img/ disallow wins
        ("h1", "http://h1/img/123.png", False),  # /img/12 allow is longer
        ("h1", "http://h1/other.png", False),    # no match
        ("h2", "http://h2/a/x.png", False),      # equal length → allow
        ("h3", "http://h3/img/1.png", False),    # empty prefix dropped
        ("h4", "http://h4/only/x.png", False),
        ("h5", "http://h5/img/1.png", False),    # host with no rules
    ]
    refs = spark.createDataFrame(
        [(h, u) for h, u, _ in cases], "host string, ref_url string"
    )
    robots = spark.createDataFrame(rules, "host string, rule string, path_pre string")
    got = {
        (r["host"], r["ref_url"]): r["robots_blocked"]
        for r in robots_filter(refs, robots_rules(robots)).collect()
    }
    oracle = FrontierOracle(
        OracleConfig(),
        robots=[{"host": h, "rule": r, "path_pre": p} for h, r, p in rules],
    )
    for h, u, expected in cases:
        assert got[(h, u)] is expected, (h, u)
        assert oracle._robots_blocked({"host": h, "ref_url": u}) is expected, (h, u)


def test_parse_robots_txt_groups_and_wildcards():
    """robots.txt FILE parsing: RFC 9309 group selection (specific agent
    beats *, adjacent user-agent lines share a group), comment/blank
    handling, wildcard patterns kept verbatim, empty Disallow dropped,
    crawl-delay seconds→ms from the winning group only."""
    from image_search_indexing_spark.frontier.politeness import parse_robots_txt

    txt = """
# robots for example.pt
User-agent: *
Disallow: /private/
Crawl-delay: 10

User-agent: archivebot   # our crawler
User-agent: otherbot
Disallow: /img/*/raw
Allow: /img/
Disallow: /exact$
Disallow:
Crawl-delay: 2.5

User-agent: evilbot
Disallow: /
"""
    rules, delay = parse_robots_txt(txt, agent="archivebot")
    # the specific group wins; the * group's /private/ does NOT apply;
    # wildcard/$ patterns are preserved verbatim for exact evaluation
    assert rules == [
        ("disallow", "/img/*/raw"),
        ("allow", "/img/"),
        ("disallow", "/exact$"),
    ]
    assert delay == 2500

    rules2, delay2 = parse_robots_txt(txt, agent="randombot")
    assert rules2 == [("disallow", "/private/")] and delay2 == 10_000

    assert parse_robots_txt("", agent="x") == ([], None)
    # no matching group at all (file without *) → no rules
    assert parse_robots_txt("User-agent: a\nDisallow: /x", agent="b") == ([], None)
    # prefix-of-product-token agent match beats *
    rules3, _ = parse_robots_txt(
        "User-agent: *\nDisallow: /a\nUser-agent: archive\nDisallow: /b",
        agent="archivebot",
    )
    assert rules3 == [("disallow", "/b")]
    # disallow-all via wildcard survives parsing (was silently dropped)
    assert parse_robots_txt("User-agent: *\nDisallow: *", agent="x") == (
        [("disallow", "*")], None
    )
    # an EMPTY User-agent: value is malformed and must not hijack group
    # selection away from the * group
    rules4, _ = parse_robots_txt(
        "User-agent:\nDisallow: /a\n\nUser-agent: *\nDisallow: /b", agent="x"
    )
    assert rules4 == [("disallow", "/b")]
    # a longer UA prefix is more specific than a shorter one
    rules5, _ = parse_robots_txt(
        "User-agent: arch\nDisallow: /short\nUser-agent: archivebo\nDisallow: /long",
        agent="archivebot",
    )
    assert rules5 == [("disallow", "/long")]


def test_robots_wildcard_exact_semantics(spark):
    """RFC 9309 wildcard rules evaluated EXACTLY (engine + oracle):
    'Disallow: *' blocks everything; 'Disallow: *.php' blocks only
    matching paths; '/img/*/raw' outranks a shorter 'Allow: /img/' by
    pattern length (no truncation tie-flip); trailing $ anchors."""
    from pyspark.sql import functions as F

    from image_search_indexing_spark.frontier.oracle import FrontierOracle, OracleConfig
    from image_search_indexing_spark.frontier.politeness import (
        robots_filter,
        robots_rules,
        robots_table_from_txt,
    )

    files = [
        ("all.pt", "User-agent: *\nDisallow: *"),
        ("php.pt", "User-agent: *\nDisallow: *.php"),
        ("raw.pt", "User-agent: *\nAllow: /img/\nDisallow: /img/*/raw"),
        ("end.pt", "User-agent: *\nDisallow: /exact$"),
    ]
    tbl = robots_table_from_txt(
        spark.createDataFrame(files, "host string, robots_txt string")
    )
    cases = [
        ("all.pt", "http://all.pt/anything/at/all.png", True),
        ("php.pt", "http://php.pt/x/page.php", True),
        ("php.pt", "http://php.pt/x/page.html", False),
        ("raw.pt", "http://raw.pt/img/a/raw", True),     # /img/*/raw (len 10) > /img/ (5)
        ("raw.pt", "http://raw.pt/img/a/cooked", False),  # only allow matches
        ("end.pt", "http://end.pt/exact", True),
        ("end.pt", "http://end.pt/exactly", False),       # $ anchors the end
    ]
    refs = spark.createDataFrame(
        [(h, u) for h, u, _ in cases], "host string, ref_url string"
    )
    got = {
        (r["host"], r["ref_url"]): r["robots_blocked"]
        for r in robots_filter(
            refs, robots_rules(tbl.where(F.col("rule").isNotNull()))
        ).collect()
    }
    # oracle mirror takes full patterns
    pats = {
        "all.pt": [("disallow", "*")],
        "php.pt": [("disallow", "*.php")],
        "raw.pt": [("allow", "/img/"), ("disallow", "/img/*/raw")],
        "end.pt": [("disallow", "/exact$")],
    }
    oracle = FrontierOracle(
        OracleConfig(),
        robots=[
            {"host": h, "rule": r, "pattern": p}
            for h, rs in pats.items() for r, p in rs
        ],
    )
    for h, u, expected in cases:
        assert got[(h, u)] is expected, (h, u)
        assert oracle._robots_blocked({"host": h, "ref_url": u}) is expected, (h, u)


def test_robots_txt_to_filter_end_to_end(spark):
    """robots.txt files → distributed parse → robots_filter: the full
    fetch-side path a crawler runs, with per-host groups and delays."""
    from pyspark.sql import functions as F

    from image_search_indexing_spark.frontier.politeness import (
        robots_filter,
        robots_rules,
        robots_table_from_txt,
    )

    files = [
        ("site1.pt", "User-agent: archivebot\nDisallow: /img/\nAllow: /img/ok\nCrawl-delay: 3"),
        ("site2.pt", "User-agent: *\nDisallow: /\nUser-agent: archivebot\nDisallow:\n"),
        ("site3.pt", "User-agent: *\nCrawl-delay: 7\n"),
    ]
    tbl = robots_table_from_txt(
        spark.createDataFrame(files, "host string, robots_txt string")
    )
    rows = tbl.collect()
    delays = {r["host"]: r["crawl_delay_ms"] for r in rows}
    assert delays["site1.pt"] == 3000 and delays["site3.pt"] == 7000
    # site2: archivebot's own group is empty Disallow (allow-all) → no rules
    assert not [r for r in rows if r["host"] == "site2.pt" and r["rule"] is not None]

    refs = spark.createDataFrame(
        [
            ("site1.pt", "http://site1.pt/img/okthing.png"),
            ("site1.pt", "http://site1.pt/img/no.png"),
            ("site2.pt", "http://site2.pt/anything.png"),
        ],
        "host string, ref_url string",
    )
    got = {
        r["ref_url"]: r["robots_blocked"]
        for r in robots_filter(
            refs, robots_rules(tbl.where(F.col("rule").isNotNull()))
        ).collect()
    }
    assert got["http://site1.pt/img/okthing.png"] is False  # longer allow
    assert got["http://site1.pt/img/no.png"] is True
    assert got["http://site2.pt/anything.png"] is False
