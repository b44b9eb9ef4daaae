"""The benchmark's tracing contract. ``perfbench/spans.py`` measures the
round's layers by wrapping module attributes the round driver resolves at
call time; a layer renamed or bypassed in the program would leave its span
silent, and a traced benchmark run would fail its own checks. This runs
the tracer, imported unchanged from ``perfbench/``, over a toy crawl."""

import importlib.util
import os
import sys

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from image_search_indexing_spark.frontier import extract, politeness, seen
from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver
from image_search_indexing_spark.sources.catalog import Catalog

SPANS = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "spans.py")
WRAPPED = [
    (extract, "extract_refs_frontier"), (seen, "filter_new_urls"), (seen, "bloom_probe"),
    (politeness, "schedule_round"), (Catalog, "write_table"), (Catalog, "commit"),
    (Catalog, "read_table"), (ClassicDataFrame, "collect"), (ClassicDataFrame, "count"),
]
LAYERS = {
    "extract", "dedup", "seen.probe", "seen.confirm", "politeness",
    "catalog.write.fetch_batch", "catalog.write.seen", "catalog.write.pending",
    "catalog.write.bloom", "catalog.commit", "catalog.read",
}


def _tracer_class():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve their module
    spec.loader.exec_module(mod)
    return mod.Tracer


def test_every_layer_span_fires_on_a_bloom_crawl(spark, corpus, tmp_path):
    """Two Bloom rounds under ``Tracer.install_frontier``: every layer's
    span fires (the Bloom probe on rows), and ``uninstall`` puts every
    original attribute back."""
    originals = [getattr(owner, name) for owner, name in WRAPPED]
    tracer = _tracer_class()(spark)
    tracer.install_frontier()
    try:
        drv = FrontierDriver(spark, str(tmp_path),
                             FrontierConfig(n_rounds=2, n_buckets=8, default_budget=5))
        for r in range(2):
            tracer.active = True
            try:
                drv.run_round(r, corpus["docs"], corpus["meta"], corpus["seeds"],
                              corpus["politeness"], corpus["robots"])
            finally:
                tracer.active = False
                tracer.release()
        drv.close()
    finally:
        tracer.uninstall()
        spark.sparkContext.setJobDescription(None)
    assert [getattr(owner, name) for owner, name in WRAPPED] == originals
    fired = {s.name for s in tracer.spans}
    assert LAYERS <= fired, LAYERS - fired
    assert sum(s.rows for s in tracer.spans if s.name == "seen.probe") > 0
