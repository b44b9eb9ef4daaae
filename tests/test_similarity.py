"""Similarity operators at their edges and against the DuckDB oracle: a
zero-norm corpus vector ranks last in every top-k operator, an empty side
yields an empty frame, and the similarity queries of ``__spark_entry__``
equal their oracle SQL on the sf0.001 tables."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from image_search_indexing_spark.operators import similarity as S

ORACLE_QUERIES = ("cosine_topk", "ann_topk_lsh", "ivf_topk", "emb_near_dup_pairs",
                  "near_dup_components")

# each top-k operator on 4-dim vectors; the LSH has one plane and IVF probes
# every list, so each corpus vector of the zero-norm case meets the query
TOPK = {
    "cosine_topk": lambda q, c, k: S.cosine_topk(q, c, k=k),
    "ann_topk_lsh": lambda q, c, k: S.ann_topk_lsh(q, c, dim=4, k=k, n_planes=1),
    "ivf_topk": lambda q, c, k: S.ivf_topk(q, c, k=k, n_centroids=2, nprobe=2),
}


def _frame(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def plane(spark):
    """The signs of the one hyperplane of ``ann_topk_lsh(n_planes=1)``,
    read off the signatures of the unit vectors."""
    units = _frame(spark, [(i, [float(i == j) for j in range(4)]) for i in range(4)])
    sig = S.hyperplane_signature(F.col("embedding"), 4, 1)
    signs = dict(units.select("vec_id", sig.alias("s")).collect())
    return [1.0 if signs[i] else -1.0 for i in range(4)]


@pytest.mark.parametrize("op", TOPK)
def test_a_zero_norm_vector_ranks_last(spark, plane, op):
    """Query and corpus vectors all lie on the plane's positive side, as
    the zero vector does (a sign of 0 counts as positive), so they share
    the one LSH bucket; IVF probes both of its lists. The zero vector has
    the lowest id, so only its NULL sim can rank it last."""
    corpus = [(1, [0.0] * 4)] + [
        (i, [p * x for p, x in zip(plane, w)])
        for i, w in ((2, [1.0, 2.0, 3.0, 4.0]), (3, [1.0, 1.0, 1.0, 3.0]),
                     (4, [2.0, 2.0, 2.0, 1.0]))
    ]
    out = TOPK[op](_frame(spark, [(0, plane)]), _frame(spark, corpus), 4).collect()
    ranks = {r["neighbor_id"]: r["rank"] for r in out}
    assert sorted(ranks.values()) == [1, 2, 3, 4] and ranks[1] == 4, ranks
    if op == "ann_topk_lsh":
        sims = {r["neighbor_id"]: r["sim"] for r in out}
        assert sims[1] is None and None not in (sims[2], sims[3], sims[4]), sims


EMPTY_CASES = [
    ("cosine_topk", "queries"), ("cosine_topk", "corpus"),
    ("ann_topk_lsh", "queries"), ("ann_topk_lsh", "corpus"),
    ("ivf_topk", "queries"), ("ivf_topk", "corpus"),
    ("near_dup_pairs", "corpus"),
]


@pytest.mark.parametrize("op,side", EMPTY_CASES)
def test_an_empty_side_yields_an_empty_frame(spark, op, side):
    rng = np.random.RandomState(3)
    emb = _frame(spark, [(i, [float(x) for x in rng.randn(4)]) for i in range(12)])
    none = emb.where(F.col("vec_id") < 0)
    q, c = (none, emb) if side == "queries" else (emb.where(F.col("vec_id") < 3), none)
    if op == "near_dup_pairs":
        out, cols = S.near_dup_pairs(c, dim=4), ["id_a", "id_b"]
    else:
        out = TOPK[op](q, c, 3)
        cols = ["query_id", "neighbor_id", "rank"] + (["sim"] if op == "ann_topk_lsh" else [])
    assert out.collect() == [] and out.columns == cols


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_similarity_queries_equal_the_duckdb_oracle(oracle, name):
    oracle(name)
