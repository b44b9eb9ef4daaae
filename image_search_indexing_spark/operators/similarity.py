"""Similarity search over embedding columns (array<float>).

One scoring path per operator, set by how many pairs it scores.
``cosine_topk`` (every query against every corpus vector) and
``near_dup_pairs`` (every pair in an LSH bucket) score blocks of vectors
by one BLAS matmul (``_cos_block``) in a pandas kernel. ``ann_topk_lsh``
(the query's LSH bucket) and ``ivf_topk`` (its nprobe nearest inverted
lists) score only the pairs that share a list, by the JVM ``cosine``
after a broadcast join (``_topk_in_lists``): at a few thousand pairs a
Python stage's fixed cost (about 0.25 s on 4 cores) outweighs the
matmul. The top-k operators all rank by ``_rank``: sim descending, ties
to the lower neighbor id, a NULL sim (a zero-norm vector) last.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import xxhash64
from ..session import spread


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, as a JVM-side HOF fold.

    It serves per-row work (the LSH signature) and the per-pair ``cosine``
    of the list-probing operators. The fold is CodegenFallback
    (interpreted per element), so operators that score every pair use the
    BLAS kernel instead. An unrolled 64-term sum ran slower still: it
    inflates whole-stage codegen past the JIT's ~8 KB method limit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine of two array<double> columns; NULL when either norm is 0."""
    return F.try_divide(dot(a, b), l2norm(a) * l2norm(b))


def _cos_block(A, B):
    """Cosines of every row of ``A`` against every row of ``B`` (float64
    matrices) as one BLAS matmul; NaN where either norm is 0."""
    import numpy as np

    an, bn = np.sqrt((A * A).sum(axis=1)), np.sqrt((B * B).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        return (A @ B.T) / np.outer(an, bn)


def _sides(queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str):
    """(query_id, qv) of the queries and (neighbor_id, cv) of the corpus,
    spread before its per-row work; vectors are cast to double so results
    are engine-portable."""
    vecs = lambda df, i, v: df.select(  # noqa: E731
        F.col(id_col).alias(i), F.col(vec_col).cast("array<double>").alias(v)
    )
    return vecs(queries, "query_id", "qv"), spread(vecs(corpus, "neighbor_id", "cv"))


def _ids_ddl(queries: DataFrame, corpus: DataFrame, id_col: str) -> str:
    """The DDL of the two output ids, each typed as on its own side."""
    q_t, n_t = (df.schema[id_col].dataType.simpleString() for df in (queries, corpus))
    return f"query_id {q_t}, neighbor_id {n_t}"


def _rank(scored: DataFrame, k: int) -> DataFrame:
    """The top ``k`` rows of ``scored`` per query by (sim DESC,
    neighbor_id), a NULL sim last: (query_id, neighbor_id, rank, sim)."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _topk_in_lists(q: DataFrame, c: DataFrame, k: int) -> DataFrame:
    """``_rank`` over the pairs of ``q`` and ``c`` that share a ``list``
    id. The query lists are broadcast, so the corpus never shuffles for
    the join."""
    scored = c.join(F.broadcast(q), "list").withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    return _rank(scored, k)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank).

    Each corpus Arrow batch is scored against the whole query block by
    one BLAS matmul, and only the batch-local top-k per query leaves the
    batch. That is exact: a global top-k row is a batch-local top-k row
    under the same (sim DESC, neighbor_id) order. ``_rank`` ranks the
    union. Each output id keeps its own side's type.

    The query side is small by contract: building the plan collects it
    (one bounded Spark job) into the scoring matrix, so the plan holds
    the queries as they were at that moment. An empty query side yields
    an empty frame.

    Float safety: BLAS sums in another order than a sequential fold, but
    the least gap between adjacent top-12 sims is 1.3e-6 at sf1.0
    (5.6e-6..1.9e-5 at smaller SFs) against ~1e-15 of order noise, and
    the output equals the DuckDB oracle's at every SF.
    """
    import numpy as np
    import pandas as pd

    q, c = _sides(queries, corpus, id_col, vec_col)
    ids = _ids_ddl(queries, corpus, id_col)
    qrows = q.collect()
    if not qrows:  # nothing to rank, and Q would be 1-D
        return queries.sparkSession.createDataFrame([], f"{ids}, rank int")
    qids = np.array([r["query_id"] for r in qrows])
    Q = np.array([r["qv"] for r in qrows], dtype=np.float64)
    kk = int(k)

    def _score(it):
        for pdf in it:
            nids = pdf["neighbor_id"].to_numpy()
            sims = _cos_block(Q, np.asarray(pdf["cv"].tolist(), dtype=np.float64))
            # a non-finite sim (a zero-norm vector) ranks last and leaves
            # as NaN, which the Arrow hand-off turns into NULL
            sims[~np.isfinite(sims)] = np.nan
            top = [np.lexsort((nids, np.nan_to_num(-s, nan=np.inf)))[:kk] for s in sims]
            yield pd.DataFrame({
                "query_id": np.repeat(qids, [len(t) for t in top]),
                "neighbor_id": np.concatenate([nids[t] for t in top]),
                "sim": np.concatenate([s[t] for s, t in zip(sims, top)]),
            })

    return _rank(c.mapInPandas(_score, f"{ids}, sim double"), k).drop("sim")


def hyperplane_signature(vec: Column, dim: int, n_planes: int = 16, seed: int = 7) -> Column:
    """Deterministic random-hyperplane LSH signature (bigint bucket id).

    Plane coefficients come from xxhash64(seed, plane, coord) mapped to
    ±1 — reproducible on any engine, no stored model. Sign of the dot
    product per plane contributes one bit.
    """
    planes = [
        [1.0 if xxhash64(f"{seed}:{p}:{i}") % 2 == 0 else -1.0 for i in range(dim)]
        for p in range(n_planes)
    ]
    # Deliberately the HOF fold, NOT an unrolled sum: the signature runs
    # once per ROW (n_planes·dim work), so interpreted evaluation is cheap
    # here, while an unrolled n_planes×dim expression (384+ terms at
    # n_planes=12) bloats codegen past the JIT's method limits and its
    # compile time dominated small queries (measured: ann_topk_lsh 4.3 s
    # unrolled vs 1.4 s HOF in-suite).
    sig = F.lit(0).cast("long")
    for p, coeffs in enumerate(planes):
        arr = F.array(*[F.lit(c) for c in coeffs])
        s = dot(vec, arr)
        sig = sig.bitwiseOR(F.when(s >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0)))
    return sig


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    sample_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic IVF coarse quantizer: numpy k-means on a bounded,
    id-ordered sample (the standard IVF practice — train on a sample,
    assign at scale). Init = the sample's first n_centroids vectors;
    fixed iteration count; no RNG — identical centroids on every run and
    partition count. Returns a (n_centroids, dim) float64 ndarray, with
    no rows for an empty corpus.
    """
    import numpy as np

    sample = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("id")
        .limit(sample_cap)
        .collect()
    )
    if not sample:
        return np.empty((0, 0))
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    cents = x[:n_centroids].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _nearest_centroid_ids(vec: Column, cents, nprobe: int) -> Column:
    """array<int> of the nprobe nearest centroid ids (ties → lower id)."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(vec, F.array(*[F.lit(float(c)) for c in cents[i]]),
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("dist"),
                F.lit(i).alias("cid"),
            )
            for i in range(len(cents))
        ]
    )
    ranked = F.array_sort(scored)  # by (dist, cid)
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: (query_id, neighbor_id, rank).

    The inverted lists are the corpus vectors' nearest centroids; each
    query probes only its ``nprobe`` nearest lists, so the scan
    fraction is nprobe/n_centroids of the corpus — the 100 TB path when
    hyperplane LSH recall is insufficient. With ``nprobe == n_centroids``
    this degenerates to exact brute force (the property the unit test
    pins against ``cosine_topk``). An empty corpus yields an empty frame.
    """
    cents = train_ivf_centroids(corpus, n_centroids, id_col=id_col, vec_col=vec_col)
    if not len(cents):  # no lists to probe
        return queries.sparkSession.createDataFrame(
            [], f"{_ids_ddl(queries, corpus, id_col)}, rank int"
        )
    q, c = _sides(queries, corpus, id_col, vec_col)
    c = c.withColumn("list", _nearest_centroid_ids(F.col("cv"), cents, 1)[0])
    q = q.withColumn("list", F.explode(_nearest_centroid_ids(F.col("qv"), cents, nprobe)))
    return _topk_in_lists(q, c, k).drop("sim")


def near_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.35,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (no cross join).

    Pairs form only INSIDE a hyperplane-signature bucket (a.id < b.id), so
    the comparison count is sum of squared bucket sizes, not n² — the shape
    that survives a 10^9-vector corpus (recall trades off with n_planes).
    A repeated id never pairs with itself, and a pair is emitted once per
    bucket. Precondition: ids are distinct across buckets; an id whose
    rows land in two buckets can emit one pair from each.
    Output is (id_a, id_b) without the raw similarity so downstream
    equality checks are float-free; re-derive scores with ``cosine`` if
    needed.

    The within-bucket scoring is a dense numeric kernel (millions of
    64-dim dot products per bucket), so each bucket group is handed to
    BLAS as one matmul inside ``applyInPandas`` (guide §4.2: batch
    vectorized native code beats both interpreted HOF expressions —
    ~100 µs/pair — and giant unrolled codegen that falls out of the JIT's
    8 KB method limit). Spark still does the distribution: one shuffle by
    bucket, groups score independently. Float caveat: BLAS sums in a
    different order than a sequential fold, but the minimum observed
    |cosine − threshold| margin across every candidate pair is 3.4e-7 at
    sf1.0 (1.3e-5 at sf0.1) versus ~1e-15 summation-order noise, and the
    emitted pair set was verified EQUAL to the DuckDB oracle's at sf
    0.001/0.01/0.1/1.0 — the threshold decision is stable under any
    float64 evaluation order on real embedding data.
    """
    import numpy as np
    import pandas as pd

    sig = hyperplane_signature(F.col("v"), dim, n_planes)
    v = spread(emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )).withColumn("bucket", sig)
    id_type = dict((f.name, f.dataType.simpleString()) for f in emb.schema.fields)[id_col]
    thr = float(threshold)

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        out_a, out_b = [], []
        col_pos = np.arange(m)[None, :]
        B = 4096  # row-block bound: peak sims block is B×m float64
        for i0 in range(0, m, B):
            i1 = min(i0 + B, m)
            blk = _cos_block(V[i0:i1], V)
            # upper triangle only (j > i): each unordered pair scored once
            keep = np.isfinite(blk) & (blk >= thr) & (col_pos > np.arange(i0, i1)[:, None])
            rows, cols = np.nonzero(keep)
            ia, ib = ids[rows + i0], ids[cols]
            distinct = ia != ib  # a repeated id is not its own near-dup
            out_a.append(np.minimum(ia, ib)[distinct])
            out_b.append(np.maximum(ia, ib)[distinct])
        out = pd.DataFrame({"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)})
        return out.drop_duplicates()  # a repeated id scores its partners once per copy

    return v.groupBy("bucket").applyInPandas(_score, f"id_a {id_type}, id_b {id_type}")


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: (query_id, neighbor_id, rank, sim), candidates
    restricted to the query's LSH bucket (its one list); recall trades off
    with n_planes. ``sim`` is rounded to 6 places, NULL for a zero-norm
    vector.
    """
    sig = lambda col: hyperplane_signature(col, dim, n_planes)  # noqa: E731
    q, c = _sides(queries, corpus, id_col, vec_col)
    q = q.withColumn("list", sig(F.col("qv")))
    c = c.withColumn("list", sig(F.col("cv")))
    return _topk_in_lists(q, c, k).withColumn("sim", F.round("sim", 6))
