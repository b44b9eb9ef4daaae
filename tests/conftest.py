import shutil
import tempfile

import pytest

from image_search_indexing_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def cache():
    """Receives the frames a call persists; unpersisted after the test."""
    frames = []
    yield frames
    for df in frames:
        df.unpersist()


@pytest.fixture(scope="session")
def plan_ops(spark):
    """Flatten a frame's executed plan into ``(class name, one-line
    description, node)`` in pre-order. Adaptive wrappers and query stages
    are unwrapped, and each cached relation's plan is walked once however
    many scans read it, so counts are of operators that run."""
    stages = {"ShuffleQueryStageExec", "BroadcastQueryStageExec",
              "ResultQueryStageExec", "TableCacheQueryStageExec"}
    ident = spark._jvm.System.identityHashCode

    def ops(df):
        out, cached = [], set()

        def walk(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                return walk(node.executedPlan())
            if cls in stages:
                return walk(node.plan())
            out.append((cls, node.simpleString(25), node))
            if cls == "InMemoryTableScanExec":
                builder = node.relation().cacheBuilder()
                if ident(builder) not in cached:
                    cached.add(ident(builder))
                    walk(builder.cachedPlan())
            kids = node.children()
            for i in range(kids.size()):
                walk(kids.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return out

    return ops


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="isis-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def corpus(spark):
    """Small deterministic interleaved corpus + side tables, collected once."""
    from image_search_indexing_spark.frontier import datagen as dg

    cfg = dg.GenConfig(n_docs=220, n_hosts=40, mean_spans=10)
    docs, meta = dg.generate(spark, cfg, partitions=3)
    docs = docs.persist()
    meta = meta.persist()
    docs.count()
    return {
        "cfg": cfg,
        "docs": docs,
        "meta": meta,
        "seeds": dg.seeds(spark, cfg),
        "politeness": dg.politeness(spark, cfg),
        "robots": dg.robots(spark, cfg),
    }


@pytest.fixture(scope="session")
def corpus_py(corpus):
    """The same corpus as plain Python rows (oracle input)."""
    docs_rows = corpus["docs"].collect()
    meta_rows = {r["doc_id"]: r for r in corpus["meta"].collect()}
    all_docs = [
        {
            "doc_id": r["doc_id"],
            "spans": [s.asDict() for s in r["spans"]],
            "base_url": meta_rows[r["doc_id"]]["base_url"],
            "fetch_ts": meta_rows[r["doc_id"]]["fetch_ts"],
        }
        for r in docs_rows
    ]
    seeds = [r.asDict() for r in corpus["seeds"].collect()]
    politeness = [r.asDict() for r in corpus["politeness"].collect()]
    robots = [r.asDict() for r in corpus["robots"].collect()]
    return {"docs": all_docs, "seeds": seeds, "politeness": politeness, "robots": robots}
