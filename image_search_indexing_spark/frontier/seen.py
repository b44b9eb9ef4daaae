"""URL-seen set: partitioned Bloom prefilter + exact confirm + cuckoo overlay.

The reference dedups URLs/images exactly, via two group-bys (SURT then
content digest — ``ImageIndexerWithDupsJob.java:281-314``,
``DupDigestMergerJob.java:151-174``). At 10^10 frontier URLs an exact
anti-join of every candidate against the full seen table shuffles ~TBs per
round, so this engine uses the classic two-tier design:

1. **Partitioned Bloom filters** (one per ``bucket = pmod(h1, n_buckets)``)
   route candidates: "definitely new" URLs skip the exact join entirely;
   only "maybe seen" candidates (true dups + ~1% false positives) reach it.
2. **Exact confirm**: the maybe-seen slice left-joins the exact seen keys.
   Bloom false positives therefore never drop URLs — the seen set matches
   the single-process oracle bit-exactly (the BASELINE.json exactness
   contract).
3. **Cuckoo overlay for deletions** (re-crawl invalidation): tombstones are
   exact ground truth in a small table; a per-bucket cuckoo filter (which,
   unlike Bloom, supports deletes) accelerates "was this URL un-seen?" —
   a positive is confirmed against the tombstone table, a negative is final.

All hashing is JVM-side (``xxhash64`` twice, independent seeds); the numpy
bit-set work runs in Arrow-vectorized ``applyInPandas`` / ``pandas_udf``
(no per-row Python). Filters are stored per bucket as binary rows in the
checkpoint, so a 1000-executor cluster loads only its buckets' filters.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOOM_SCHEMA = "bucket int, m long, k int, n_items long, bits binary"
CUCKOO_SCHEMA = "bucket int, n_buckets long, n_items long, table binary"


def with_hashes(df: DataFrame, key: str = "url_hash", n_buckets: int = 64) -> DataFrame:
    """Attach (h1, h2, bucket) derived JVM-side from the key column."""
    h1 = F.xxhash64(F.col(key))
    h2 = F.xxhash64(F.col(key), F.lit(1))
    return (
        df.withColumn("h1", h1)
        .withColumn("h2", h2)
        .withColumn("bucket", F.pmod(h1, F.lit(n_buckets)).cast("int"))
    )


# ---------------------------------------------------------------------------
# Bloom filter (numpy bit array, double hashing)
# ---------------------------------------------------------------------------


def _bloom_params(n_items: int, bits_per_key: int = 12) -> tuple[int, int]:
    m = max(1024, int(n_items * bits_per_key))
    m = (m + 63) // 64 * 64  # whole uint64 words
    k = max(1, int(round(bits_per_key * math.log(2))))  # ≈ 8 for 12 bpk
    return m, k


def _bloom_positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing — all uint64 vectorized."""
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def bloom_build(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> bytes:
    bits = np.zeros(m // 64, dtype=np.uint64)
    pos = _bloom_positions(h1, h2, m, k).ravel()
    np.bitwise_or.at(bits, pos // 64, np.uint64(1) << (pos % np.uint64(64)))
    return bits.tobytes()


def bloom_contains(bits_buf: bytes, h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    bits = np.frombuffer(bits_buf, dtype=np.uint64)
    pos = _bloom_positions(h1, h2, m, k)
    word = bits[pos // 64]
    hit = (word >> (pos % np.uint64(64))) & np.uint64(1)
    return hit.all(axis=1)


def build_bloom_table(
    seen: DataFrame,
    n_buckets: int,
    bits_per_key: int = 12,
    expected_per_bucket: int | None = None,
    m_by_bucket: dict[int, int] | None = None,
) -> DataFrame:
    """Per-bucket Bloom rows from a seen table carrying (h1, h2, bucket).

    Partial+final pattern (reference A1's map-side pre-agg analog): each
    bucket's filter is built where its rows live after one hash shuffle.

    ``m_by_bucket`` pins specific buckets to an existing filter size so the
    delta OR-merges with filters already on disk (buckets grow independently
    via the rebuild policy in rounds.py); unlisted buckets size from
    ``expected_per_bucket``. The dict is tiny (n_buckets entries) and ships
    in the task closure.
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        b = int(pdf["bucket"].iloc[0])
        if m_by_bucket and b in m_by_bucket:
            m = int(m_by_bucket[b])
            k = max(1, int(round(bits_per_key * math.log(2))))
        else:
            m, k = _bloom_params(expected_per_bucket or max(n, 1), bits_per_key)
        h1 = pdf["h1"].to_numpy().astype(np.uint64)
        h2 = pdf["h2"].to_numpy().astype(np.uint64)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "m": [m],
                "k": [k],
                "n_items": [n],
                "bits": [bloom_build(h1, h2, m, k)],
            }
        )

    return seen.select("bucket", "h1", "h2").groupBy("bucket").applyInPandas(build, BLOOM_SCHEMA)


def bloom_probe(
    spark: SparkSession, candidates: DataFrame, bloom_table: DataFrame, out_col: str = "maybe_seen"
) -> DataFrame:
    """Mark candidates maybe-seen via the per-bucket Blooms — distributed.

    Cogroup by ``bucket``: each group receives its candidate slice plus its
    single Bloom row, so filters NEVER pass through the driver and no
    executor holds more than its buckets' filters — the property that keeps
    a 10^10-entry seen set feasible (total filter bytes stay sharded). An
    earlier collect+broadcast variant serialized ~2MB × n_buckets through
    the driver and every Python worker; at bench scale that alone capped
    scaling at ~1.7x from 8→32 cores.

    A bucket without a Bloom row is marked maybe-seen: an absent filter
    routes its rows to the exact check instead of declaring them new.
    """
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields)
    out_schema += f", {out_col} boolean"

    def probe(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf.copy()
        if len(cand_pdf) == 0:
            out[out_col] = pd.Series([], dtype=bool)
            return out
        if len(bloom_pdf) == 0:
            out[out_col] = True  # no filter for this bucket → exact check
            return out
        m = int(bloom_pdf["m"].iloc[0])
        k = int(bloom_pdf["k"].iloc[0])
        bits = bloom_pdf["bits"].iloc[0]
        u1 = cand_pdf["h1"].to_numpy().astype(np.uint64)
        u2 = cand_pdf["h2"].to_numpy().astype(np.uint64)
        out[out_col] = bloom_contains(bits, u1, u2, m, k)
        return out

    return (
        candidates.groupBy("bucket")
        .cogroup(bloom_table.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


# ---------------------------------------------------------------------------
# Cuckoo filter (deletable membership, per bucket)
# ---------------------------------------------------------------------------

SLOTS = 4
MAX_KICKS = 500


def _mix_fp(fp) -> np.ndarray:
    """64-bit mixer (splitmix64 finalizer) so alt-index low bits are good."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        x = np.asarray(fp, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        x ^= x >> np.uint64(32)
        x = x * np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
    return x


@dataclass
class CuckooFilter:
    """Numpy cuckoo filter: (n_buckets, 4) uint16 fingerprints, 0 = empty."""

    table: np.ndarray  # shape (n_buckets, SLOTS), dtype uint16

    @classmethod
    def sized_for(cls, n_items: int) -> "CuckooFilter":
        nb = 8
        while nb * SLOTS < int(max(8, n_items) / 0.85):
            nb *= 2
        return cls(np.zeros((nb, SLOTS), dtype=np.uint16))

    @classmethod
    def build(cls, h1: np.ndarray, h2: np.ndarray) -> "CuckooFilter":
        """Build with grow-on-overflow retry (builder path always succeeds)."""
        n = len(h1)
        cf = cls.sized_for(n)
        for _ in range(8):
            try:
                cf.insert(h1, h2)
                return cf
            except RuntimeError:
                cf = cls(np.zeros((cf.n_buckets * 2, SLOTS), dtype=np.uint16))
        raise RuntimeError("cuckoo filter could not be built")

    @property
    def n_buckets(self) -> int:
        return self.table.shape[0]

    def _fp_idx(self, h1: np.ndarray, h2: np.ndarray):
        fp = (h1 & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks empty slots
        nb = np.uint64(self.n_buckets)
        i1 = (h2 % nb).astype(np.int64)
        alt = _mix_fp(fp) % nb
        i2 = (np.uint64(i1) ^ alt) % nb
        return fp, i1, i2.astype(np.int64)

    def contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        fp, i1, i2 = self._fp_idx(h1, h2)
        t = self.table
        return ((t[i1] == fp[:, None]).any(axis=1)) | ((t[i2] == fp[:, None]).any(axis=1))

    def insert(self, h1: np.ndarray, h2: np.ndarray) -> None:
        fp, i1, i2 = self._fp_idx(h1, h2)
        nb = np.uint64(self.n_buckets)
        for f, a, b in zip(fp, i1, i2):  # eviction chains are inherently sequential
            placed = False
            for idx in (a, b):
                empty = np.flatnonzero(self.table[idx] == 0)
                if len(empty):
                    self.table[idx, empty[0]] = f
                    placed = True
                    break
            if placed:
                continue
            cur, fcur = a, f
            for kick in range(MAX_KICKS):
                slot = kick % SLOTS
                fcur, self.table[cur, slot] = self.table[cur, slot], fcur
                alt = _mix_fp(np.uint64(fcur)) % nb
                cur = int((np.uint64(cur) ^ alt) % nb)
                empty = np.flatnonzero(self.table[cur] == 0)
                if len(empty):
                    self.table[cur, empty[0]] = fcur
                    placed = True
                    break
            if not placed:
                raise RuntimeError("cuckoo filter overfull; resize upstream")

    def delete(self, h1: np.ndarray, h2: np.ndarray) -> None:
        fp, i1, i2 = self._fp_idx(h1, h2)
        for f, a, b in zip(fp, i1, i2):
            for idx in (a, b):
                hit = np.flatnonzero(self.table[idx] == f)
                if len(hit):
                    self.table[idx, hit[0]] = 0
                    break

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CuckooFilter":
        arr = np.frombuffer(buf, dtype=np.uint16).copy()
        return cls(arr.reshape(-1, SLOTS))


def build_cuckoo_table(tombstones: DataFrame) -> DataFrame:
    """Per-bucket cuckoo filters over the deletion tombstones (h1,h2,bucket)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        cf = CuckooFilter.build(
            pdf["h1"].to_numpy().astype(np.uint64), pdf["h2"].to_numpy().astype(np.uint64)
        )
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "n_buckets": [cf.n_buckets],
                "n_items": [len(pdf)],
                "table": [cf.to_bytes()],
            }
        )

    return (
        tombstones.select("bucket", "h1", "h2").groupBy("bucket").applyInPandas(build, CUCKOO_SCHEMA)
    )


def cuckoo_probe(
    spark: SparkSession, df: DataFrame, cuckoo_table: DataFrame, out_col: str = "maybe_deleted"
) -> DataFrame:
    """Distributed cuckoo probe — cogroup by bucket (see bloom_probe)."""
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += f", {out_col} boolean"

    def probe(pdf: pd.DataFrame, ck_pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        if len(pdf) == 0:
            out[out_col] = pd.Series([], dtype=bool)
            return out
        if len(ck_pdf) == 0:
            out[out_col] = False
            return out
        cf = CuckooFilter.from_bytes(ck_pdf["table"].iloc[0])
        u1 = pdf["h1"].to_numpy().astype(np.uint64)
        u2 = pdf["h2"].to_numpy().astype(np.uint64)
        out[out_col] = cf.contains(u1, u2)
        return out

    return (
        df.groupBy("bucket")
        .cogroup(cuckoo_table.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


# ---------------------------------------------------------------------------
# The seen-set operation used by the round driver
# ---------------------------------------------------------------------------


def filter_new_urls(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom_table: DataFrame | None,
    tombstones: DataFrame | None = None,
    cuckoo_table: DataFrame | None = None,
    key: str = "url_hash",
    n_buckets: int = 64,
    *,
    cache: list[DataFrame],
) -> DataFrame:
    """Return candidates not in the effective seen set (seen − tombstones).

    Preconditions: ``candidates`` and ``seen`` carry (h1, h2, bucket) — see
    ``with_hashes``; ``candidates`` is UNIQUE per ``key`` (the round driver
    calls this after the champion dedup), so no join fans out; and, for the
    Bloom cogroup to shuffle only the filter table, ``candidates`` is
    hash-partitioned by ``bucket`` (the round driver's dedup exchange).

    The filters only *route* rows; membership is decided by the exact
    tables, so Bloom and cuckoo false positives never change the result.
    One Bloom probe marks every candidate: negatives are new and never meet
    the seen table; the maybe-seen slice left-joins the seen keys. The probe
    is persisted so both routes read it once, and appended to ``cache`` for
    the caller to unpersist after materializing the result. A maybe-seen row
    found in seen is kept iff it is cuckoo-positive ∧ ∈ tombstones; a cuckoo
    negative (no false negatives) never matches in the tombstone join. The
    10^10-row seen table is only the build side of one join and never flows
    through a Python kernel.
    """
    if seen is None:
        return candidates

    if bloom_table is not None:
        probed = bloom_probe(spark, candidates, bloom_table)
        cache.append(probed.persist())
        fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    else:
        fresh, maybe = None, candidates
    # seen is unique per key (one row per scheduled URL)
    seen_keys = seen.select(F.col(key).alias("__seen_key")).withColumn("__in_seen", F.lit(1))
    flagged = maybe.join(
        seen_keys, maybe[key] == seen_keys["__seen_key"], "left"
    ).drop("__seen_key")
    keep = F.col("__in_seen").isNull()
    if tombstones is not None:
        if cuckoo_table is not None:
            flagged = cuckoo_probe(spark, flagged, cuckoo_table)
        else:
            flagged = flagged.withColumn("maybe_deleted", F.lit(True))
        t_keys = tombstones.select(F.col(key).alias("__t_key")).withColumn("__tomb", F.lit(1))
        flagged = flagged.join(
            t_keys,
            (flagged[key] == t_keys["__t_key"]) & flagged["maybe_deleted"]
            & flagged["__in_seen"].isNotNull(),
            "left",
        ).drop("__t_key", "maybe_deleted")
        keep = keep | F.col("__tomb").isNotNull()
    confirmed = flagged.where(keep).drop("__in_seen", "__tomb")
    return confirmed if fresh is None else fresh.unionByName(confirmed)
