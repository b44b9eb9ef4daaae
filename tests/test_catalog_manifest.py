"""What a round reads from the snapshot manifest instead of the data files:
each table's schema (so reading seen, pending and bloom runs no Spark job)
and each Bloom filter's ``(m, n_items)``. A manifest without either still
reads, by inference and by the stale-filter rebuild."""

import json
import os

import pytest

from image_search_indexing_spark.frontier.rounds import FrontierConfig, FrontierDriver
from image_search_indexing_spark.sources.catalog import Catalog

N_ROUNDS = 3
STATE = ("seen", "pending", "bloom")


def _args(corpus):
    return (corpus["docs"], corpus["meta"], corpus["seeds"], corpus["politeness"], corpus["robots"])


@pytest.fixture(scope="module")
def crawl(spark, corpus, tmp_path_factory):
    """A 3-round crawl whose filters, sized for 8 URLs a bucket, are
    rebuilt at a larger size in some rounds."""
    cfg = FrontierConfig(n_rounds=N_ROUNDS, n_buckets=4, expected_per_bucket=8)
    drv = FrontierDriver(spark, str(tmp_path_factory.mktemp("manifest")), cfg)
    counters = drv.run(*_args(corpus))
    assert any(c.get("bloom_rebuilt_buckets") for c in counters)
    return drv


def _jobs(spark, read):
    """The Spark jobs ``read()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup("catalog-read", "catalog read")
    try:
        read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup("catalog-read"))


def test_state_reads_run_no_job(spark, crawl):
    """With the schemas in the manifest, reading the round's state tables
    runs no job; inferring them (a manifest without schemas) runs some."""
    cat, snap = crawl.catalog, crawl.catalog.snapshot()
    assert set(STATE) <= set(snap["schemas"])
    assert _jobs(spark, lambda: [cat.read_table(spark, t, snap) for t in STATE]) == []
    old = dict(snap, schemas={})
    assert _jobs(spark, lambda: [cat.read_table(spark, t, old) for t in STATE])


def test_recorded_schema_reads_as_inferred(spark, crawl):
    """Every table reads the same columns, types and rows with its
    recorded schema as with an inferred one."""
    cat, snap = crawl.catalog, crawl.catalog.snapshot()
    old = dict(snap, schemas={})
    for table in snap["tables"]:
        given, inferred = cat.read_table(spark, table, snap), cat.read_table(spark, table, old)
        assert given.schema == inferred.schema, table
        assert sorted(given.collect()) == sorted(inferred.collect()), table


def test_bloom_stats_in_manifest_match_filters(spark, crawl):
    """The manifest's per-bucket ``(m, n_items)`` are those of the filters
    on disk, rebuilt buckets included."""
    snap = crawl.catalog.snapshot()
    bloom = crawl.catalog.read_table(spark, "bloom", snap)
    on_disk = {r["bucket"]: [r["m"], r["n_items"]] for r in bloom.select("bucket", "m", "n_items").collect()}
    assert {int(b): v for b, v in snap["lineage"]["bloom"].items()} == on_disk


def test_empty_data_directory_is_absent(spark, tmp_path):
    """A listed directory without data files reads as no table, with a
    recorded schema as without one."""
    cat = Catalog(str(tmp_path))
    empty = spark.createDataFrame([], "url_hash string, bucket int")
    path = cat.write_table(empty, "seen", 0, partition_by=["bucket"])
    assert not [f for _, _, fs in os.walk(path) for f in fs if not f.startswith(("_", "."))]
    cat.commit(0, {"seen": [path]}, {}, {}, None)
    snap = cat.snapshot()
    assert snap["schemas"]["seen"] == json.loads(empty.schema.json())
    assert cat.read_table(spark, "seen", snap) is None
    assert cat.read_table(spark, "seen", dict(snap, schemas={})) is None


def test_carried_table_keeps_its_schema(spark, tmp_path):
    """A table a commit carries unchanged keeps the parent's schema; one
    carried from a manifest without schemas gets none."""
    cat = Catalog(str(tmp_path))
    df = spark.createDataFrame([("a", 1)], "url_hash string, n long")
    a = cat.write_table(df, "a", 0)
    b = cat.write_table(df, "b", 0)
    cat.commit(0, {"a": [a], "b": [b]}, {}, {}, None)
    assert set(cat.snapshot()["schemas"]) == {"a", "b"}
    b1 = cat.write_table(df.select("url_hash"), "b", 1)
    cat.commit(1, {"a": [a], "b": [b, b1]}, {}, {}, 0)
    schemas = cat.snapshot()["schemas"]
    assert schemas["a"] == json.loads(df.schema.json())
    assert schemas["b"] == json.loads(df.select("url_hash").schema.json())

    fresh = Catalog(str(tmp_path / "old"))
    c = fresh.write_table(df, "c", 0)
    fresh.commit(0, {"c": [c]}, {}, {}, None)
    snap_path = os.path.join(fresh.meta_dir, "snapshot-0.json")
    with open(snap_path) as f:
        old = json.load(f)
    del old["schemas"]
    with open(snap_path, "w") as f:
        json.dump(old, f)
    fresh.commit(1, {"c": [c]}, {}, {}, 0)
    assert fresh.snapshot()["schemas"] == {}
    assert fresh.read_table(spark, "c").collect() == df.collect()
