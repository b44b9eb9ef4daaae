"""Out-of-program tracing: spans around calls into each layer's functions.

``Tracer.install_*`` replace module attributes that the program resolves at
call time (``rounds`` calls ``extract.extract_refs_frontier``,
``seenmod.filter_new_urls`` and so on through its module imports), so the
program itself is unchanged. Each wrapper

- persists the function's input or output and counts it, so the lazy plan
  runs inside the span instead of inside a later action,
- records a span (name, start, end, parent, rows) in memory, and
- sets a Spark job description ``bench:<span>`` that the event-log summary
  (``eventlog.py``) uses to attribute shuffle bytes and task times.

``uninstall`` restores every replaced attribute.
"""

from __future__ import annotations

import importlib
import inspect
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

DESC_PREFIX = "bench:"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    rows: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.active = False
        self._internal = 0  # >0 while the tracer runs its own actions
        self._extract_end: float | None = None
        self._cached: list[DataFrame] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, start: float | None = None):
        parent = self.stack[-1] if self.stack else None
        rec = Span(name, start or time.perf_counter(), parent)
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(DESC_PREFIX + name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self.stack.pop()
            outer = self.spans[self.stack[-1]].name if self.stack else None
            self.sc.setJobDescription(DESC_PREFIX + outer if outer else None)

    def materialize(self, df: DataFrame) -> int:
        """Run ``df``'s plan now and keep the result for its consumers."""
        self._internal += 1
        try:
            df.persist()
            self._cached.append(df)
            return df.count()
        finally:
            self._internal -= 1

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return s.dur - sum(c.dur for c in self.children(idx))

    # ----------------------------------------------------------- patching
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _tracing(self) -> bool:
        return self.active and not self._internal

    def install_frontier(self) -> None:
        """Wrap the frontier layers that ``FrontierDriver.run_round`` calls."""
        # pyspark.sql.DataFrame is a facade; the session's frames are
        # instances of the classic subclass, which defines its own collect
        from pyspark.sql import functions as F
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        from image_search_indexing_spark.frontier import extract, politeness, seen
        from image_search_indexing_spark.sources.catalog import Catalog

        tr = self
        orig_extract = extract.extract_refs_frontier
        orig_filter = seen.filter_new_urls
        orig_probe = seen.bloom_probe
        orig_sched = politeness.schedule_round
        orig_write, orig_commit, orig_read = Catalog.write_table, Catalog.commit, Catalog.read_table
        orig_collect, orig_count = ClassicDataFrame.collect, ClassicDataFrame.count

        def extract_w(*a, **kw):
            if not tr._tracing():
                return orig_extract(*a, **kw)
            with tr.span("extract") as sp:
                out = orig_extract(*a, **kw)
                sp.rows = tr.materialize(out[0])
            tr._extract_end = sp.end
            return out

        def filter_w(spark, candidates, seen_df, *a, **kw):
            if not tr._tracing():
                return orig_filter(spark, candidates, seen_df, *a, **kw)
            # the robots filter, pending union and champion dedup are built
            # between extraction and this call: the span starts there
            with tr.span("dedup", start=tr._extract_end) as sp:
                sp.rows = tr.materialize(candidates)
            tr._extract_end = None
            with tr.span("seen.confirm") as sp:
                out = orig_filter(spark, candidates, seen_df, *a, **kw)
                sp.rows = tr.materialize(out)
            return out

        def probe_w(spark, candidates, bloom_table, out_col="maybe_seen"):
            out = orig_probe(spark, candidates, bloom_table, out_col)
            if not tr._tracing():
                return out
            with tr.span("seen.probe") as sp:
                tr._internal += 1
                try:
                    out.persist()
                    tr._cached.append(out)
                    row = out.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col(out_col).cast("long")).alias("maybe"),
                    ).collect()[0]
                finally:
                    tr._internal -= 1
                sp.rows = int(row["n"])
                sp.extra["maybe"] = int(row["maybe"] or 0)
            return out

        def sched_w(candidates, *a, **kw):
            if not tr._tracing():
                return orig_sched(candidates, *a, **kw)
            with tr.span("politeness") as sp:
                sp.extra["rows_in"] = tr.materialize(candidates)
                out = orig_sched(candidates, *a, **kw)
                sp.rows = tr.materialize(out)
            return out

        def write_w(cat, df, table, round_id, partition_by=None):
            if not tr._tracing():
                return orig_write(cat, df, table, round_id, partition_by)
            kind = "fetch_batch" if table.startswith("fetch_batch_") else table
            with tr.span(f"catalog.write.{kind}") as sp:
                path = orig_write(cat, df, table, round_id, partition_by)
                sp.extra["path"] = path
            return path

        def commit_w(cat, *a, **kw):
            if not tr._tracing():
                return orig_commit(cat, *a, **kw)
            with tr.span("catalog.commit"):
                return orig_commit(cat, *a, **kw)

        def read_w(cat, *a, **kw):
            if not tr._tracing():
                return orig_read(cat, *a, **kw)
            with tr.span("catalog.read"):
                return orig_read(cat, *a, **kw)

        # the round driver's own actions (lineage and Bloom-stats collects,
        # the scheduled count) share one span name
        def collect_w(df, *a, **kw):
            if not tr._tracing():
                return orig_collect(df, *a, **kw)
            with tr.span("rounds.collect") as sp:
                rows = orig_collect(df, *a, **kw)
                sp.rows = len(rows)
            return rows

        def count_w(df):
            if not tr._tracing():
                return orig_count(df)
            with tr.span("rounds.collect") as sp:
                sp.rows = orig_count(df)
            return sp.rows

        self._patch(extract, "extract_refs_frontier", extract_w)
        self._patch(seen, "filter_new_urls", filter_w)
        self._patch(seen, "bloom_probe", probe_w)
        self._patch(politeness, "schedule_round", sched_w)
        self._patch(Catalog, "write_table", write_w)
        self._patch(Catalog, "commit", commit_w)
        self._patch(Catalog, "read_table", read_w)
        self._patch(ClassicDataFrame, "collect", collect_w)
        self._patch(ClassicDataFrame, "count", count_w)

    def install_modules(self, modules: list[str]) -> None:
        """Wrap every public DataFrame-returning function of each module.

        Only functions annotated to return a DataFrame are wrapped: they
        build plans on the driver, never run inside a Python UDF, so the
        wrapper is never pickled into a worker. Span names are
        ``<module suffix>.<function>``, e.g. ``operators.dedup.hamming_pairs``.
        """
        tr = self
        for mod_name in modules:
            mod = importlib.import_module(f"image_search_indexing_spark.{mod_name}")
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or "DataFrame" not in str(inspect.signature(fn).return_annotation)
                ):
                    continue

                def make(fn=fn, span_name=f"{mod_name}.{name}"):
                    def wrapper(*a, **kw):
                        if not tr._tracing():
                            return fn(*a, **kw)
                        with tr.span(span_name) as sp:
                            out = fn(*a, **kw)
                            if isinstance(out, DataFrame):
                                sp.rows = tr.materialize(out)
                        return out

                    wrapper.__wrapped__ = fn
                    return wrapper

                self._patch(mod, name, make())


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
