"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — queries × corpus with the dot
product as a JVM-side higher-order ``zip_with``/``aggregate`` expression
(no Python in the hot path); broadcast the (small) query side so the big
corpus never shuffles. Scale path: LSH bucketing by random-hyperplane
signs (deterministic seed), so each query only scans its bucket —
the IVF-style variant a 100 TB corpus needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import xxhash64
from ..session import spread


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, as a JVM-side HOF fold.

    The fold is CodegenFallback (interpreted per element); per-pair
    kernels at volume belong in a vectorized Arrow batch (see
    ``near_dup_pairs`` / ``cosine_topk``). An unrolled 64-term sum ran
    slower still: it inflates whole-stage codegen past the JIT's ~8 KB
    method limit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, rank).

    The query side is small by construction (broadcast, or collected for
    the matmul); ranking ties break by neighbor id for determinism.
    Vectors are cast to double before arithmetic so results are
    engine-portable. Without ``dim`` each pair is scored by the HOF
    ``cosine`` over a broadcast cross join; with ``dim`` (the vector
    length) each corpus Arrow batch is scored by one BLAS matmul against
    the collected query block, and only the batch-local top-k per query
    survives.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    if dim is not None:
        # Vectorized kernel (guide §4.2): the query block is small by
        # contract (it was broadcast before; collecting it to build the
        # scoring matrix is the same driver-bounded transfer), each corpus
        # Arrow batch is scored as ONE BLAS matmul, and only the
        # batch-local top-k per query survives — exact, because a global
        # top-k row is necessarily batch-local top-k under the SAME
        # (sim DESC, neighbor_id) order. The final window ranks the tiny
        # union. Float caveat: BLAS sum order differs from the HOF fold,
        # but the minimum adjacent top-12 sim gap is 1.3e-6 at sf1.0
        # (5.6e-6..1.9e-5 at smaller SFs) vs ~1e-15 order noise, and the
        # output was verified equal to the DuckDB oracle at every SF.
        import numpy as np
        import pandas as pd

        qrows = q.collect()  # bounded: the query side of a top-k probe
        # each id keeps its own side's type, as on the cross-join path
        q_t, n_t = (df.schema[id_col].dataType.simpleString() for df in (queries, corpus))
        if not qrows:  # no query vectors: nothing to rank, and Q would be 1-D
            return queries.sparkSession.createDataFrame(
                [], f"query_id {q_t}, neighbor_id {n_t}, rank int"
            )
        qids = np.array([r["query_id"] for r in qrows])
        Q = np.array([r["qv"] for r in qrows], dtype=np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        kk = int(k)

        def _score(it):
            for pdf in it:
                nids = pdf["neighbor_id"].to_numpy()
                C = np.asarray(pdf["cv"].tolist(), dtype=np.float64)
                cn = np.sqrt((C * C).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (Q @ C.T) / np.outer(qn, cn)
                out_q, out_n, out_s = [], [], []
                for i in range(len(qids)):
                    s = sims[i]
                    # non-finite sims (zero-norm vectors) mirror the JVM
                    # path's NULL: ordered last here, emitted as NULL below
                    key = np.where(np.isfinite(s), -s, np.inf)
                    order = np.lexsort((nids, key))[:kk]
                    out_q.append(np.full(len(order), qids[i]))
                    out_n.append(nids[order])
                    out_s.append(s[order])
                s_all = np.concatenate(out_s)
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "sim": pd.array(
                            np.where(np.isfinite(s_all), s_all, np.nan), dtype="Float64"
                        ).to_numpy(dtype=object, na_value=None)
                        if not np.isfinite(s_all).all()
                        else s_all,
                    }
                )

        scored = spread(c).mapInPandas(
            _score, f"query_id {q_t}, neighbor_id {n_t}, sim double"
        )
    else:
        scored = c.crossJoin(F.broadcast(q)).withColumn(
            "sim", cosine(F.col("qv"), F.col("cv"))
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    # unrolled vs 1.4 s HOF in-suite). Unrolling pays only in per-PAIR
    # hot paths (see ``dot``).
    sig = F.lit(0).cast("long")
    for p, coeffs in enumerate(planes):
        arr = F.array(*[F.lit(c) for c in coeffs])
        s = dot(vec, arr)
        sig = sig.bitwiseOR(F.when(s >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0)))
    return sig


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
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
    partition count. Returns a (n_centroids, dim) float64 ndarray.
    """
    import numpy as np

    sample = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("id")
        .limit(sample_cap)
        .collect()
    )
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
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: (query_id, neighbor_id, rank).

    The corpus shuffles ONCE by its nearest centroid (the inverted lists);
    each query probes only its ``nprobe`` nearest lists, so the scan
    fraction is nprobe/n_centroids of the corpus — the 100 TB path when
    hyperplane LSH recall is insufficient. With ``nprobe == n_centroids``
    this degenerates to exact brute force (the property the unit test
    pins against ``cosine_topk``). The query side is broadcast.
    """
    cents = train_ivf_centroids(corpus, dim, n_centroids, id_col=id_col, vec_col=vec_col)
    c = spread(corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )).withColumn("cid", _nearest_centroid_ids(F.col("cv"), cents, 1)[0])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("cid", F.explode(_nearest_centroid_ids(F.col("qv"), cents, nprobe)))
    scored = c.join(F.broadcast(q), "cid").withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
        nr = np.sqrt((V * V).sum(axis=1))
        out_a, out_b = [], []
        col_pos = np.arange(m)[None, :]
        B = 4096  # row-block bound: peak sims block is B×m float64
        for i0 in range(0, m, B):
            i1 = min(i0 + B, m)
            with np.errstate(divide="ignore", invalid="ignore"):
                blk = (V[i0:i1] @ V.T) / np.outer(nr[i0:i1], nr)
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
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    One equi-join on the signature against the broadcast query side instead
    of a cross join; recall trades off with n_planes.
    """
    sig = lambda col: hyperplane_signature(col, dim, n_planes)
    # Per-pair HOF cosine kept on purpose: the banding means only a few
    # thousand pairs survive the bucket join, so interpreted evaluation is
    # cheap, while the unrolled 64-term form was measured SLOWER in-suite
    # (codegen bloat/compile; same lesson as hyperplane_signature). The
    # one real cost was the 1-row-group corpus scan serializing the
    # signature stage — spread() fixes that.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("bucket", sig(F.col("qv")))
    c = spread(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )).withColumn("bucket", sig(F.col("cv")))
    scored = c.join(F.broadcast(q), "bucket").withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )
