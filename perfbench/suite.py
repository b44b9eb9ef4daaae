"""The query-suite workload: the 19 headline queries over the sf0.01 tables.

The tables under ``perfbench/sf0.01`` are the repository's scale-factor
0.01 test tables (see ``TESTDATA.md``; the correctness tests read the same
set), copied unchanged so that a run reads nothing outside its checkout.
They are fixed: the seed does not change this workload's inputs.

One *pass* runs every query once as ``fn(spark, sf_dir).toPandas()``, one
after the other (closed loop, one client). The result is fetched rather
than counted: ``count()`` lets the optimizer prune projected expressions,
so a projection-only query such as ``lang_quality`` would never run its
text functions, and the fetched rows are the output the check compares.
Each result is compared, outside the timed region, with the query's DuckDB
oracle SQL from ``__spark_entry__.oracle_sql()`` (computed once per run)
after the canonicalization ``tools/compare_oracle.py`` uses.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd

from proc import cpu_s
from spans import DESC_PREFIX, Tracer

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

HEADLINE = [
    "frontier_schedule", "indexer_compact", "q1_pricing_summary", "q3_shipping_priority",
    "topk_parts_per_supplier", "champion_oldest_order", "asof_backward_events_orders",
    "minhash_lsh_buckets", "simhash_buckets_md5", "ann_topk_lsh", "emb_near_dup_pairs",
    "cosine_topk", "lang_quality", "session_stats", "hourly_rollup", "gopher_repetition",
    "decontam_overlap", "media_video", "media_phash_pairs",
]
LAYER_MODULES = [
    "plans.indexer", "plans.flagship", "operators.similarity", "operators.dedup",
    "operators.multimodal", "operators.curation", "operators.asof", "operators.events",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column."""
    cols = sorted(df.columns)
    out = df[cols]
    if len(out):
        out = out.sort_values(by=cols, kind="mergesort")
    return out.reset_index(drop=True)


def same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Exact, dtype-sensitive equality of two canonical frames (an int
    column never equals a float column, floats compare bit for bit)."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        fx, fy = x.dtype.kind == "f", y.dtype.kind == "f"
        if fx != fy:
            return False
        if fx:
            if not np.array_equal(x, y, equal_nan=True):
                return False
        elif x.dtype.kind == "M" or y.dtype.kind == "M":
            sx, sy = pd.to_datetime(pd.Series(x)), pd.to_datetime(pd.Series(y))
            if not ((sx == sy) | (sx.isna() & sy.isna())).all():
                return False
        elif not all(
            (p is None or p is pd.NaT or (isinstance(p, float) and np.isnan(p)))
            and (q is None or q is pd.NaT or (isinstance(q, float) and np.isnan(q)))
            or p == q
            for p, q in zip(x.tolist(), y.tolist())
        ):
            return False
    return True


class SuiteWorkload:
    # per-layer metric prefixes a traced run of this workload must move
    LAYERS = ("q.", "plans.", "operators.", "cpu.", "wall.")

    def __init__(self, spark, seed: int):
        import __spark_entry__ as E

        self.spark, self.seed = spark, seed
        self.sf_dir = SF_DIR
        self.queries = {n: E.queries()[n] for n in HEADLINE}
        self.oracle_sql = E.oracle_sql()
        self.passes: list[dict] = []
        self.checks = 0
        self.failures: list[str] = []

    def config(self) -> dict:
        return {"tables": "sf0.01", "seed": self.seed, "queries": HEADLINE}

    def warm_up(self) -> None:
        """Warm the session with one untimed run of the slowest query
        (``indexer_compact``), as an application's first query would: the
        engine-wide first-use costs (class loading, the first Python
        workers) and that query's own then stay out of the timed pass,
        which otherwise charged them, with most of their run-to-run spread,
        to whichever query came first and to the slowest one."""
        self.queries["indexer_compact"](self.spark, self.sf_dir).toPandas()

    def build_oracle(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self.oracle = {n: canon(con.execute(self.oracle_sql[n]).df()) for n in HEADLINE}
        finally:
            con.close()

    def install_tracing(self, tracer: Tracer) -> None:
        tracer.install_modules(LAYER_MODULES)

    def run_pass(self, tracer: Tracer | None = None) -> dict:
        times, cpus, spans = {}, {}, {}
        for name in HEADLINE:
            fn = self.queries[name]
            if tracer is None:
                self.spark.sparkContext.setJobDescription(f"{DESC_PREFIX}pass.{len(self.passes)}")
            else:
                first = len(tracer.spans)
                tracer.active = True
            c0, t0 = cpu_s(), time.perf_counter()
            try:
                pdf = fn(self.spark, self.sf_dir).toPandas()
            except Exception as ex:  # a failing query is counted, the pass goes on
                pdf = None
                self.check(False, f"{name}: {type(ex).__name__}: {ex}")
            times[name] = time.perf_counter() - t0
            cpus[name] = cpu_s() - c0
            if tracer is None:
                self.spark.sparkContext.setJobDescription(None)
            else:
                tracer.active = False
                spans[name] = (first, len(tracer.spans))
                tracer.release()
            if pdf is not None:
                self.check(same(canon(pdf), self.oracle[name]), f"{name}: result differs from oracle")
        rec = {"times": times, "cpus": cpus, "wall_s": sum(times.values()), "cpu_s": sum(cpus.values()),
               "traced": tracer is not None, "spans": spans}
        self.passes.append(rec)
        return rec

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failures.append(what)

    def times(self) -> dict[str, float]:
        ps = [p for p in self.passes if not p["traced"]]
        med = statistics.median
        return {
            "cpu.pass_s": med(p["cpu_s"] for p in ps),
            "cpu.round_s_max": med(max(p["cpus"].values()) for p in ps),
            "wall.pass_s": med(p["wall_s"] for p in ps),
            "wall.round_s_max": med(max(p["times"].values()) for p in ps),
        }

    def per_layer(self, tracer: Tracer, events: dict) -> dict[str, float]:
        plain = [p for p in self.passes if not p["traced"]]
        traced = [p for p in self.passes if p["traced"]]
        out: dict[str, float] = defaultdict(float)
        for name in HEADLINE:
            out[f"q.{name}.s"] = statistics.median(p["times"][name] for p in plain)
        for p in traced:
            for lo, hi in p["spans"].values():
                for i in range(lo, hi):
                    layer = ".".join(tracer.spans[i].name.split(".")[:2])
                    out[f"{layer}.s"] += tracer.self_time(i) / len(traced)
        out.update(self.times())
        out["trace.wall_s"] = statistics.median(p["wall_s"] for p in traced)
        out["trace.overhead_s"] = out["trace.wall_s"] - statistics.median(p["wall_s"] for p in plain)
        return dict(out)
