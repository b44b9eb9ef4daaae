"""URL-seen set: partitioned Bloom prefilter + exact confirm + cuckoo overlay.

The reference dedups URLs/images exactly, via two group-bys (SURT then
content digest — ``ImageIndexerWithDupsJob.java:281-314``,
``DupDigestMergerJob.java:151-174``). At 10^10 frontier URLs an exact
anti-join of every candidate against the full seen table shuffles ~TBs per
round, so this engine uses the classic two-tier design:

1. **Partitioned Bloom filters** (one per ``bucket = pmod(h1, n_buckets)``)
   route candidates: "definitely new" URLs skip the exact join entirely;
   only "maybe seen" candidates reach it: true dups plus false positives,
   ≈0.3% at the sized load (12 bits per key, k = 8) by design. Buckets
   measure about 11x over that, as probe 0 (``h1 mod m``) shares its low
   bits with the bucket (``pmod(h1, n_buckets)``) and so reaches only
   m / n_buckets bits; only a new filter layout removes the correlation.
2. **Exact confirm**: the maybe-seen slice anti-joins the exact seen keys.
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

This module owns the seen set's state: ``SeenSet`` alone reads and writes
its four checkpoint tables, decides whether the filters may route and
keeps their counters and recorded sizes. The round driver hands it the
champions to filter and the scheduled batch to commit; ``bloom_plan``
sizes each bucket from counts and ``bloom_update`` folds the keys in (or
rebuilds a bucket from seen) in one grouped kernel.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import Catalog

BLOOM_SCHEMA = "bucket int, m long, k int, n_items long, bits binary"
CUCKOO_SCHEMA = "bucket int, n_buckets long, n_items long, table binary"


def bucket_of(key: Column, n_buckets: int) -> Column:
    """The seen-set bucket of a key: ``pmod(h1, n_buckets)``."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def with_probe_hashes(df: DataFrame, key: str = "url_hash") -> DataFrame:
    """Attach the filters' (h1, h2), derived JVM-side from the key column.

    Both are recomputable from the key, so the round driver attaches them
    after its last exchange instead of shuffling two incompressible longs
    per row."""
    return df.withColumn("h1", F.xxhash64(F.col(key))).withColumn(
        "h2", F.xxhash64(F.col(key), F.lit(1))
    )


def with_hashes(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """Attach (h1, h2, bucket) derived JVM-side from the key column."""
    return with_probe_hashes(df, key).withColumn("bucket", bucket_of(F.col(key), n_buckets))


# ---------------------------------------------------------------------------
# Bloom filter (numpy bit array, double hashing)
# ---------------------------------------------------------------------------


BLOOM_REBUILD_LOAD = 0.5  # rebuild a bucket's filter at 4x m past this load


def _bloom_params(n_items: int, bits_per_key: int = 12) -> tuple[int, int]:
    m = max(1024, int(n_items * bits_per_key))
    m = (m + 63) // 64 * 64  # whole uint64 words
    return m, bloom_k(bits_per_key)


def bloom_k(bits_per_key: int) -> int:
    return max(1, int(round(bits_per_key * math.log(2))))  # ≈ 8 for 12 bpk


def _bloom_positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing — all uint64 vectorized."""
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def bloom_build(h1: np.ndarray, h2: np.ndarray, m: int, k: int, bits: bytes | None = None) -> bytes:
    """The filter of the keys (h1, h2) at (m, k); with ``bits``, that
    filter's bits with the keys' positions set (an OR-merge at its m)."""
    arr = np.zeros(m // 64, dtype=np.uint64) if bits is None else np.frombuffer(bits, np.uint64).copy()
    pos = _bloom_positions(h1, h2, m, k).ravel()
    np.bitwise_or.at(arr, pos // 64, np.uint64(1) << (pos % np.uint64(64)))
    return arr.tobytes()


def bloom_contains(bits_buf: bytes, h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    bits = np.frombuffer(bits_buf, dtype=np.uint64)
    pos = _bloom_positions(h1, h2, m, k)
    word = bits[pos // 64]
    hit = (word >> (pos % np.uint64(64))) & np.uint64(1)
    return hit.all(axis=1)


def bloom_plan(
    filters: dict[int, tuple[int, int]] | None,
    scheduled: dict[int, int],
    bits_per_key: int,
    expected_per_bucket: int,
    seen_rows: dict[int, int] | None = None,
) -> tuple[dict[int, tuple[int, int]], set[int]]:
    """The round's filter maintenance, decided from counts alone: each
    bucket's new ``(m, n_items)`` and the buckets rebuilt from the seen
    table.

    ``filters`` are the trusted filters' ``(m, n_items)``; None when no
    filter can be trusted, and then every bucket of ``seen_rows`` (its
    per-bucket seen row counts) is rebuilt. A bucket without a filter is
    sized for ``expected_per_bucket`` keys (or its own count when that is
    0). Capacity policy: once a bucket's items exceed ``BLOOM_REBUILD_LOAD``
    of its sized capacity (m / bits_per_key), it is rebuilt at 4x its items,
    which keeps the false-positive rate bounded when the seen set outgrows
    the initial sizing by orders of magnitude. The rest OR-merge their new
    keys at their m."""
    untrusted = dict(seen_rows or {}) if filters is None else {}
    filters = filters or {}
    stats: dict[int, tuple[int, int]] = {}
    rebuild: set[int] = set()
    for b in set(filters) | set(untrusted) | set(scheduled):
        if b in filters:
            m, n = filters[b]
        elif b in untrusted:
            m, n = 0, untrusted[b]  # no usable filter: over capacity at any load
        else:
            m, n = _bloom_params(expected_per_bucket or max(scheduled[b], 1), bits_per_key)[0], 0
        n += scheduled.get(b, 0)
        if n * bits_per_key > BLOOM_REBUILD_LOAD * m:
            m = _bloom_params(4 * n, bits_per_key)[0]
            rebuild.add(b)
        stats[b] = (m, n)
    return stats, rebuild


def bloom_update(
    old: DataFrame | None,
    keys: DataFrame,
    seen: DataFrame | None,
    stats: dict[int, tuple[int, int]],
    rebuild: set[int],
    bits_per_key: int,
) -> DataFrame:
    """Each bucket's new filter row, from ``bloom_plan``'s ``stats`` and
    ``rebuild``: one grouped Python kernel.

    One side is the old filter rows (``old``; None when no filter is
    kept), grouped by ``bucket``; the other is the ``(bucket, h1, h2)`` of
    ``keys`` (rows carrying ``url_hash`` and ``bucket``: the round's
    scheduled URLs), plus the ``seen`` rows of the rebuilt buckets (read by
    bucket directory). A rebuilt bucket, or one without an old row, gets a
    filter of its keys at the planned m; any other bucket sets its new keys'
    bits in its old filter, whose ``(m, k)`` must be the planned one. Each
    row's ``(m, n_items)`` is the plan's, so the rows and the manifest stats
    that record the plan agree. The plan is tiny (n_buckets entries) and
    ships in the task closure; filters never pass through the driver."""
    k = bloom_k(bits_per_key)
    added = with_probe_hashes(keys).select("bucket", "h1", "h2")
    if rebuild and seen is not None:
        added = added.unionByName(
            seen.where(F.col("bucket").isin(*sorted(rebuild))).select("bucket", "h1", "h2")
        )

    def update(old_pdf: pd.DataFrame, key_pdf: pd.DataFrame) -> pd.DataFrame:
        b = int((key_pdf if len(key_pdf) else old_pdf)["bucket"].iloc[0])
        m, n = stats[b]
        base = None
        if b not in rebuild and len(old_pdf):
            old_m, old_k = int(old_pdf["m"].iloc[0]), int(old_pdf["k"].iloc[0])
            if (old_m, old_k) != (m, k):
                raise ValueError(
                    f"bloom sizing config changed across rounds for bucket {b}: "
                    f"m={sorted({old_m, m})} k={sorted({old_k, k})}; OR-merge needs one "
                    "(m, k) — resume with the original expected_per_bucket/bits_per_key "
                    "or rebuild the filters from the seen table"
                )
            base = old_pdf["bits"].iloc[0]
        h1 = key_pdf["h1"].to_numpy().astype(np.uint64)
        h2 = key_pdf["h2"].to_numpy().astype(np.uint64)
        bits = bloom_build(h1, h2, m, k, base)
        return pd.DataFrame(
            {"bucket": [b], "m": [m], "k": [k], "n_items": [n], "bits": [bits]}
        )

    if old is None:
        return added.groupBy("bucket").applyInPandas(
            lambda pdf: update(pdf.iloc[:0], pdf), BLOOM_SCHEMA
        )
    return (
        old.groupBy("bucket").cogroup(added.groupBy("bucket")).applyInPandas(update, BLOOM_SCHEMA)
    )


def _probe(df: DataFrame, filters: DataFrame, out_col: str, absent: bool, contains) -> DataFrame:
    """``df`` with ``out_col``: ``contains(filter_row, h1, h2)`` against its
    bucket's filter row, ``absent`` in a bucket without one. One cogroup by
    ``bucket``: each group gets its rows and its one filter row, so filters
    never pass through the driver."""
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += f", {out_col} boolean"

    def probe(pdf: pd.DataFrame, filter_pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        if len(pdf) == 0:
            out[out_col] = pd.Series([], dtype=bool)
        elif len(filter_pdf) == 0:
            out[out_col] = absent
        else:
            u1 = pdf["h1"].to_numpy().astype(np.uint64)
            u2 = pdf["h2"].to_numpy().astype(np.uint64)
            out[out_col] = contains(filter_pdf.iloc[0], u1, u2)
        return out

    return df.groupBy("bucket").cogroup(filters.groupBy("bucket")).applyInPandas(probe, out_schema)


def bloom_probe(
    spark: SparkSession, candidates: DataFrame, bloom_table: DataFrame, out_col: str = "maybe_seen"
) -> DataFrame:
    """Mark candidates maybe-seen via the per-bucket Blooms — distributed.

    Cogroup by ``bucket``, so no executor holds more than its buckets'
    filters — the property that keeps a 10^10-entry seen set feasible
    (total filter bytes stay sharded). An earlier collect+broadcast variant
    serialized ~2MB × n_buckets through the driver and every Python worker;
    at bench scale that alone capped scaling at ~1.7x from 8→32 cores.

    A bucket without a Bloom row is marked maybe-seen: an absent filter
    routes its rows to the exact check instead of declaring them new.
    """
    return _probe(
        candidates, bloom_table, out_col, True,
        lambda f, h1, h2: bloom_contains(f["bits"], h1, h2, int(f["m"]), int(f["k"])),
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
    """Distributed cuckoo probe — cogroup by bucket (see bloom_probe); a
    bucket without a filter holds no tombstone."""
    return _probe(
        df, cuckoo_table, out_col, False,
        lambda f, h1, h2: CuckooFilter.from_bytes(f["table"]).contains(h1, h2),
    )


# ---------------------------------------------------------------------------
# The seen set: its filter operation and the owner of its state
# ---------------------------------------------------------------------------


def filter_new_urls(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom_table: DataFrame | None,
    tombstones: DataFrame | None = None,
    cuckoo_table: DataFrame | None = None,
    *,
    cache: list[DataFrame],
) -> DataFrame:
    """Return candidates not in the effective seen set (seen − tombstones).

    Preconditions: ``candidates`` carry (h1, h2, bucket) — see
    ``with_hashes`` — and are UNIQUE per ``url_hash`` (the round's
    champions). ``seen`` may hold a key more than once (a URL scheduled,
    invalidated and scheduled again has a row per scheduling); it only
    meets the candidates in anti and semi joins, so no key fans out. For
    the Bloom cogroup to shuffle only the filter table, ``candidates`` is
    hash-partitioned by ``bucket`` (in the round, by the partition-aware
    union of two bucket exchanges); without that, the result is the same,
    with one more exchange. The width is the caller's (in the round,
    data-sized by AQE); the Bloom side is exchanged to match it. With a
    Bloom table the output is the union of the routes, each with the
    candidates' partitions (Spark does not plan it partition-aware).

    The filters only *route* rows; membership is decided by the exact
    tables, so Bloom and cuckoo false positives never change the result.
    One Bloom probe marks every candidate: negatives are new and never meet
    the seen table; the maybe-seen slice anti-joins the seen keys. The probe
    is persisted so every route reads it once, and appended to ``cache`` for
    the caller to unpersist after materializing the result. With
    tombstones, the maybe-seen rows found in seen (a semi join) are
    resurrected iff they are cuckoo-positive and in the tombstone table (a
    second semi join); a cuckoo negative (no false negatives) is final.
    Without a Bloom table those two joins read ``candidates`` directly, so a
    caller whose candidates are costly to compute persists them first
    (``SeenSet.filter`` does). The 10^10-row seen table is only the build
    side of the joins and never flows through a Python kernel.
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
    seen_keys = seen.select(F.col("url_hash").alias("__seen_key"))
    in_seen = maybe["url_hash"] == seen_keys["__seen_key"]
    confirmed = maybe.join(seen_keys, in_seen, "left_anti")
    if tombstones is not None:
        resurrected = maybe.join(seen_keys, in_seen, "left_semi")
        if cuckoo_table is not None:
            resurrected = cuckoo_probe(spark, resurrected, cuckoo_table)
            resurrected = resurrected.where(F.col("maybe_deleted")).drop("maybe_deleted")
        t_keys = tombstones.select(F.col("url_hash").alias("__t_key"))
        in_tomb = resurrected["url_hash"] == t_keys["__t_key"]
        resurrected = resurrected.join(t_keys, in_tomb, "left_semi")
        confirmed = confirmed.unionByName(resurrected)
    return confirmed if fresh is None else fresh.unionByName(confirmed)


class SeenSet:
    """The seen set at one snapshot, the only reader and writer of its
    tables: ``seen`` (a row per scheduling of a URL), ``bloom`` (a filter
    row per bucket), ``tombstones`` (invalidated URLs) and ``cuckoo`` (a
    filter of a bucket's tombstones). ``commit`` and ``invalidate`` return
    the snapshot's tables with their new paths and the seen set's counters
    for the caller's ``Catalog.commit``. ``cfg`` is a ``FrontierConfig``."""

    @classmethod
    def load(cls, spark: SparkSession, catalog: Catalog, snap: dict | None, cfg) -> SeenSet:
        """The seen set ``snap`` lists (None: nothing committed yet). Its
        tables are read with the schemas the manifest records, so no Spark
        job runs, and the Bloom routes only when it can be trusted."""
        self = cls()
        self.spark, self.catalog, self.snap, self.cfg = spark, catalog, snap or {}, cfg
        read = lambda table: catalog.read_table(spark, table, snap)  # noqa: E731
        self.seen, self.tombstones, self.cuckoo = read("seen"), read("tombstones"), read("cuckoo")
        self.bloom = read("bloom") if cfg.use_bloom else None
        counters = self.snap.get("counters", {})  # never a count() of seen
        self.seen_total = int(counters.get("seen_total", 0))
        self.invalidated = int(counters.get("invalidated", 0))
        # the filters route only if their recorded items cover every URL ever
        # scheduled (not so for one an older checkpoint kept across a round
        # run without it); else ``commit`` rebuilds each bucket from seen
        recorded = self.snap.get("lineage", {}).get("bloom") if self.bloom is not None else None
        self.filters = {int(b): (int(m), int(n)) for b, (m, n) in (recorded or {}).items()}
        n_ever = self.seen_total + self.invalidated
        if recorded is None or sum(n for _, n in self.filters.values()) < n_ever:
            self.filters = self.bloom = None
        return self

    def filter(self, champions: DataFrame, cache: list[DataFrame]) -> DataFrame:
        """A round's live queue: the ``champions`` (one row per url_hash,
        with h1, h2 and bucket) outside the effective seen set, by
        ``filter_new_urls``. Frames it persists go to ``cache``."""
        if self.bloom is None and self.tombstones is not None and self.seen is not None:
            # without a Bloom probe to cache, the anti and semi joins both
            # read the champions: cache them so the dedup runs once
            cache.append(champions.persist())
        return filter_new_urls(
            self.spark, champions, self.seen, self.bloom, tombstones=self.tombstones,
            cuckoo_table=self.cuckoo, cache=cache,
        )

    def live(self, champions: DataFrame) -> DataFrame:
        """``champions`` outside the effective seen set, by the exact joins
        alone (no filter, no Spark job)."""
        return filter_new_urls(
            self.spark, champions, self.seen, None, tombstones=self.tombstones, cache=[]
        )

    def commit(
        self, scheduled: DataFrame, per_bucket: dict[int, int], round_id: int,
        cache: list[DataFrame],
    ) -> tuple[dict[str, list[str]], dict[str, int], dict]:
        """Fold a round's ``scheduled`` URLs (``url_hash``, ``bucket``;
        ``per_bucket`` counts them) into the state: append them to seen,
        clear the tombstones of those rescheduled, and fold their keys into
        the Bloom. Returns the tables, the counters and the lineage entry
        (the filters' per-bucket ``(m, n_items)``) of the round's commit."""
        cat, cfg = self.catalog, self.cfg
        tables = dict(self.snap.get("tables", {}))
        counters = {"seen_total": self.seen_total + sum(per_bucket.values())}
        if self.invalidated:  # ``load``'s trust rule counts it as ever scheduled
            counters["invalidated"] = self.invalidated
        lineage = {}
        keys = scheduled.select("url_hash", "bucket")
        # one file per bucket dir, of the key and its hashes (URL strings
        # live in the fetch batches); h1/h2 are derived after the exchange
        newly_seen = with_probe_hashes(
            keys.withColumn("seen_round", F.lit(round_id)).repartition("bucket")
        ).select("url_hash", "h1", "h2", "bucket", "seen_round")
        seen_path = cat.write_table(newly_seen, "seen", round_id, partition_by=["bucket"])
        tables["seen"] = tables.get("seen", []) + [seen_path]  # append (Iceberg add-files)

        # scheduling a resurrected URL clears its tombstone (it is seen
        # again); tombstone tables are small — O(tombstones) rewrite
        if self.tombstones is not None:
            remaining = self.tombstones.join(scheduled.select("url_hash"), "url_hash", "left_anti")
            cache.append(remaining.persist())
            if remaining.count() > 0:
                self._write_tombstones(remaining, round_id, tables)
            else:
                tables.pop("tombstones", None)
                tables.pop("cuckoo", None)

        if cfg.use_bloom:
            # planned from counts alone (a bucket without a trusted filter
            # is rebuilt from seen, counted per bucket here); one grouped
            # kernel folds the keys into the filters inside the write
            seen_rows = None
            if self.filters is None and self.seen is not None:
                seen_rows = {
                    int(r["bucket"]): int(r["count"])
                    for r in self.seen.groupBy("bucket").count().collect()
                }
            stats, rebuild = bloom_plan(
                self.filters, per_bucket, cfg.bits_per_key, cfg.expected_per_bucket, seen_rows
            )
            update = bloom_update(self.bloom, keys, self.seen, stats, rebuild, cfg.bits_per_key)
            tables["bloom"] = [cat.write_table(update, "bloom", round_id)]
            if rebuild:
                counters["bloom_rebuilt_buckets"] = len(rebuild)
            lineage["bloom"] = {b: list(v) for b, v in sorted(stats.items())}
        else:
            tables.pop("bloom", None)  # it would miss this round's URLs
        return tables, counters, lineage

    def invalidate(self, urls: DataFrame) -> tuple[dict[str, list[str]], dict[str, int], int]:
        """Tombstone the ``url_hash`` keys of ``urls`` (repeats allowed):
        the merged tombstones and their cuckoo filters are written under
        the next snapshot's ``<id>-inv`` tag. Returns the tables, the
        counters and how many of the keys were in the effective seen set
        (seen and not yet tombstoned)."""
        tag = f"{self.snap['snapshot_id'] + 1}-inv"
        ts_new = with_hashes(
            urls.select("url_hash").dropDuplicates(["url_hash"]), "url_hash", self.cfg.n_buckets
        ).persist()
        cache, fresh, merged = [ts_new], ts_new, ts_new
        if self.tombstones is not None:
            fresh = ts_new.join(self.tombstones.select("url_hash"), "url_hash", "left_anti")
            merged = self.tombstones.unionByName(fresh).persist()
            cache.append(merged)
        try:
            # read only the buckets of the fresh keys (partition pruning)
            n_removed = 0
            if self.seen is not None:
                buckets = [int(r["bucket"]) for r in fresh.select("bucket").distinct().collect()]
                if buckets:
                    seen_slice = self.seen.where(F.col("bucket").isin(buckets)).select("url_hash")
                    n_removed = fresh.join(seen_slice, "url_hash", "left_semi").count()
            tables = dict(self.snap["tables"])
            self._write_tombstones(merged, tag, tables)
        finally:
            for df in cache:
                df.unpersist()
        counters = {
            "seen_total": max(0, self.seen_total - n_removed),
            "invalidated": self.invalidated + n_removed,
        }
        return tables, counters, n_removed

    def _write_tombstones(self, tombstones: DataFrame, tag: int | str, tables: dict) -> None:
        """Write ``tombstones`` and their per-bucket cuckoo filters under
        ``tag`` and list both in ``tables``. Both writes read the frame:
        the caller persists it."""
        tables["tombstones"] = [self.catalog.write_table(tombstones, "tombstones", tag)]
        tables["cuckoo"] = [self.catalog.write_table(build_cuckoo_table(tombstones), "cuckoo", tag)]
