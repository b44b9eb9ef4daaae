"""``schedule_round``'s literal ``top`` cut against a brute-force pandas
reference: each host's rows sorted by crawl order, the first ``budget``
kept. The cases are the ones where ``top`` could be taken wrong (a host
outside the politeness table, NULL and missing budgets) and the one where
Spark plans no partial limit (``top`` above the WindowGroupLimit
threshold)."""

import datetime as dt
import hashlib

import pandas as pd
import pytest

from image_search_indexing_spark.frontier.politeness import schedule_round

CAND_SCHEMA = "ref_url string, url_hash string, host string, priority int, page_ts timestamp"
POL_SCHEMA = "host string, max_fetch_per_round int, crawl_delay_ms long"
DEFAULT_DELAY = 1000


def _candidates(per_host: dict[str, int]) -> pd.DataFrame:
    rows = []
    for host, n in per_host.items():
        for i in range(n):
            url = f"http://{host}/p{(i * 7919) % n}" + "x" * (i % 3)
            rows.append({
                "ref_url": url,
                "url_hash": hashlib.md5(url.encode()).hexdigest(),
                "host": host,
                "priority": None if i % 5 == 0 else i % 3,
                "page_ts": None if i % 7 == 0 else dt.datetime(2016, 1, 1 + i % 4),
            })
    return pd.DataFrame(rows)


def _reference(cand: pd.DataFrame, pol: list | None, default_budget: int) -> set:
    table = {h: (b, d) for h, b, d in pol or []}
    df = cand.assign(
        p_null=cand["priority"].isna(), p=cand["priority"].fillna(0),
        t_null=cand["page_ts"].isna(), t=cand["page_ts"].fillna(pd.Timestamp(0)),
        ulen=cand["ref_url"].str.len(),
    ).sort_values(["host", "p_null", "p", "t_null", "t", "ulen", "ref_url"])
    df["queue_pos"] = df.groupby("host").cumcount() + 1
    out = set()
    for r in df.itertuples():
        budget, delay = table.get(r.host, (None, None))
        budget = default_budget if budget is None else budget
        delay = DEFAULT_DELAY if delay is None else delay
        if r.queue_pos <= budget:
            out.add((r.host, r.ref_url, r.queue_pos, (r.queue_pos - 1) * delay))
    return out


CASES = {
    # c.pt is not in the table and its default budget beats every table
    # budget: a top read from the table alone would cut it at 3
    "missing_host_default_above_table": (
        [("a.pt", 2, 10), ("b.pt", 3, 20)], 6, {"a.pt": 9, "b.pt": 9, "c.pt": 12},
    ),
    "null_budget": ([("a.pt", None, 10), ("b.pt", 4, None)], 3, {"a.pt": 8, "b.pt": 8}),
    "empty_table": ([], 4, {"a.pt": 7, "b.pt": 2}),
    "no_table": (None, 5, {"a.pt": 11, "b.pt": 3}),
    # top = 1100 > spark.sql.optimizer.windowGroupLimitThreshold (1000)
    "top_above_threshold": ([("a.pt", 1100, 5)], 2, {"a.pt": 1300, "b.pt": 6}),
}


@pytest.mark.parametrize("case", list(CASES))
def test_schedule_round_matches_reference(spark, plan_ops, case):
    pol, default_budget, per_host = CASES[case]
    cand = _candidates(per_host)
    pol_df = None if pol is None else spark.createDataFrame(pol, POL_SCHEMA)
    sched = schedule_round(
        spark.createDataFrame(cand, CAND_SCHEMA), pol_df, default_budget=default_budget
    )
    got = {
        (r["host"], r["ref_url"], r["queue_pos"], r["fetch_delay_ms"])
        for r in sched.collect()
    }
    assert got == _reference(cand, pol, default_budget)
    limits = [cls for cls, _, _ in plan_ops(sched) if cls == "WindowGroupLimitExec"]
    assert len(limits) == (0 if case == "top_above_threshold" else 2)
