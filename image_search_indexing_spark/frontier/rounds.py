"""The frontier round driver: iterative batch loop with resumable checkpoints.

One round (the reference's two chained MR jobs become one DataFrame plan,
SURVEY.md §7.0):

  docs slice → extract refs (P1-P5, F1-F14) → robots filter → merge with
  the carried-over ``pending`` queue → champion dedup (A5-A7 order) on an
  exchange by ``bucket`` → seen filter (one Bloom probe on that partitioning
  routes the maybe-seen slice to one exact join) → per-host politeness top-k
  (skew-salted two-phase window) → one per-bucket count (scheduled total +
  lineage) → fetch batch → append scheduled URLs to ``seen`` + OR-merge
  their bits into the per-bucket Blooms → atomic checkpoint.

Determinism: every emission point uses a total order (priority, page_ts,
url-length, url, doc_id, offset) — the reference's champion tie-break
pattern (``FullImageMetadata.java:171-186``, ``ImageData.java:255-282``) —
so fetch batches are bit-identical at local[8] and local[32], and a killed
run resumed from the last snapshot replays the remaining rounds
bit-identically (no wall-clock, no RNG anywhere in the loop).

The round slice assignment (``pmod(xxhash64(doc_id), n_rounds)``) stands in
for "fetch results arriving between rounds": a closed-world simulation over
the input corpus, as the sandbox has no network.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from . import extract, politeness as pol, seen as seenmod

# Columns carried through the url_hash dedup shuffle and the pending queue.
# Deliberately WITHOUT `surt` and `host`: both are pure derivations of
# ref_url (functions/urls.py), so they are recomputed after the shuffle
# instead of tripling the string bytes through every exchange — at 10^10
# URLs the dedup shuffle is the round's dominant byte mover.
CAND_COLS = [
    "url_hash",
    "ref_url",
    "kind",
    "priority",
    "page_ts",
    "doc_id",
    "offset",
    "h1",
    "h2",
    "bucket",
]


@dataclass
class FrontierConfig:
    n_rounds: int = 4
    n_buckets: int = 32
    n_salts: int = 8
    default_budget: int = 5
    default_priority: int = 9
    bits_per_key: int = 12
    expected_per_bucket: int = 4096  # Bloom sizing: per-bucket m recorded in the table
    spans_cap: int = extract.MAX_IMAGE_IN_HTML
    use_bloom: bool = True
    # rebuild a bucket's Bloom at 4x m once n_items exceeds this load factor
    # of its sized capacity (m / bits_per_key) — keeps fpp bounded when the
    # seen set outgrows the initial sizing by orders of magnitude
    bloom_rebuild_load: float = 0.5
    # pending queue is delta-appended; compact (fold deltas + drop seen) when
    # the manifest lists this many delta files for it
    pending_compact_every: int = 8
    extra: dict[str, Any] = field(default_factory=dict)


def _obs_get(obs) -> dict:
    """Observation.get, tolerating plans the optimizer collapsed to an
    empty LocalRelation (the observe node never ran → Spark asserts)."""
    try:
        return obs.get
    except Exception:
        return {}


def _dedup_candidates(cand: DataFrame) -> DataFrame:
    """One deterministic champion per url_hash (A5-A7 tie-break style).

    Grouped by (bucket, url_hash) — the same groups, as bucket derives from
    url_hash — so an input hash-partitioned by ``bucket`` needs no exchange.
    ``__is_new``, when present, marks rows observed THIS round (vs rows
    read back from pending deltas); the group keeps max(__is_new) so the
    round driver knows which champions carry a fresh observation."""
    keys = ("bucket", "url_hash")
    ordk = F.struct(
        F.col("priority"), F.col("page_ts"), F.length("ref_url"), F.col("ref_url"),
        F.col("doc_id"), F.col("offset"),
    )
    aggs = [F.min_by(F.struct(*[c for c in CAND_COLS if c not in keys]), ordk).alias("c")]
    flagged = "__is_new" in cand.columns
    if flagged:
        aggs.append(F.max("__is_new").alias("__is_new"))
    out = cand.groupBy(*keys).agg(*aggs)
    cols = [c if c in keys else f"c.{c}" for c in CAND_COLS] + (["__is_new"] if flagged else [])
    return out.select(*cols)


class FrontierDriver:
    def __init__(self, spark: SparkSession, workdir: str, cfg: FrontierConfig | None = None):
        self.spark = spark
        self.cfg = cfg or FrontierConfig()
        self.catalog = Catalog(workdir)

    # ---------------------------------------------------------------- helpers

    def _candidates(self, docs: DataFrame, meta: DataFrame, seeds: DataFrame | None,
                    robots: DataFrame | None):
        """Build the round's candidate frame. Counters ride as observation
        metrics on the single extraction pass (reference A1's "count while
        you map" — no extra actions, no wide persist); call the returned
        ``finish_counters()`` after the first action over the frame."""
        from pyspark.sql import Observation

        refs, obs_docs, obs_spans, obs_media = extract.extract_refs_frontier(
            docs, meta, spans_cap=self.cfg.spans_cap
        )
        valid = refs.where(F.col("drop_reason").isNull())
        valid = pol.robots_filter(valid, robots)
        obs_robots = Observation()
        valid = valid.observe(
            obs_robots,
            F.count(F.when(F.col("robots_blocked"), 1)).alias("robots_blocked"),
        )
        # seed priority per host (broadcast dim); unknown hosts get default
        if seeds is not None:
            host_prio = seeds.groupBy("host").agg(F.min("priority").alias("__prio"))
            valid = valid.join(F.broadcast(host_prio), "host", "left")
            prio = F.coalesce(F.col("__prio"), F.lit(self.cfg.default_priority))
        else:
            prio = F.lit(self.cfg.default_priority)
        cand = (
            valid.where(~F.col("robots_blocked"))
            .withColumn("priority", prio.cast("int"))
        )
        cand = seenmod.with_hashes(cand, "url_hash", self.cfg.n_buckets).select(*CAND_COLS)

        def finish_counters() -> dict[str, int]:
            spans, med, rob = _obs_get(obs_spans), _obs_get(obs_media), _obs_get(obs_robots)
            docs_o = _obs_get(obs_docs)
            g = lambda d, k: int(d.get(k) or 0)  # empty rounds observe None
            counters = {
                k: g(med, k)
                for k in ("valid_ref", "valid_img", "valid_a", "valid_css",
                          "data_url_refs", "empty_ref", "url_too_long",
                          "a_not_image", "css_already_parsed")
                if g(med, k)
            }
            counters["not_media"] = g(spans, "spans_total") - g(med, "media_total")
            counters["robots_blocked"] = g(rob, "robots_blocked")
            counters["round_candidates"] = g(med, "valid_ref") - counters["robots_blocked"]
            # page-level parity counters (ImageIndexerWithDupsJob.java:120-139)
            counters["pages"] = g(docs_o, "pages")
            counters["pages_with_media"] = g(docs_o, "pages_with_media")
            counters["pages_span_capped"] = g(docs_o, "pages_span_capped")
            counters["spans_not_parsed"] = g(docs_o, "spans_not_parsed")
            return counters

        return cand, finish_counters

    def _bloom_delta(self, newly_seen: DataFrame, m_by_bucket: dict[int, int] | None) -> DataFrame:
        return seenmod.build_bloom_table(
            newly_seen, self.cfg.n_buckets, self.cfg.bits_per_key,
            self.cfg.expected_per_bucket, m_by_bucket=m_by_bucket,
        )

    @staticmethod
    def _merge_blooms(old: DataFrame | None, delta: DataFrame) -> DataFrame:
        if old is None:
            return delta
        import numpy as np
        import pandas as pd

        def orfold(pdf: pd.DataFrame) -> pd.DataFrame:
            if pdf["m"].nunique() > 1 or pdf["k"].nunique() > 1:
                raise ValueError(
                    "bloom sizing config changed across rounds for bucket "
                    f"{int(pdf['bucket'].iloc[0])}: m={sorted(pdf['m'].unique())} "
                    f"k={sorted(pdf['k'].unique())}; OR-merge needs one (m, k) — "
                    "resume with the original expected_per_bucket/bits_per_key "
                    "or rebuild the filters from the seen table"
                )
            bits = None
            for buf in pdf["bits"]:
                arr = np.frombuffer(buf, dtype=np.uint64)
                bits = arr if bits is None else (bits | arr)
            return pd.DataFrame(
                {
                    "bucket": [int(pdf["bucket"].iloc[0])],
                    "m": [int(pdf["m"].iloc[0])],
                    "k": [int(pdf["k"].iloc[0])],
                    "n_items": [int(pdf["n_items"].sum())],
                    "bits": [bits.tobytes()],
                }
            )

        return (
            old.unionByName(delta)
            .groupBy("bucket")
            .applyInPandas(orfold, seenmod.BLOOM_SCHEMA)
        )

    # ------------------------------------------------------------------ rounds

    def run_round(
        self,
        round_id: int,
        docs: DataFrame,
        meta: DataFrame,
        seeds: DataFrame | None = None,
        politeness_df: DataFrame | None = None,
        robots: DataFrame | None = None,
    ) -> dict[str, int]:
        """Execute one frontier round and commit its checkpoint; a round that
        raises commits nothing and releases the frames it cached."""
        spark, cfg, cat = self.spark, self.cfg, self.catalog
        snap = cat.snapshot()
        parent = snap["snapshot_id"] if snap else None
        if snap is not None and snap["round"] >= round_id:
            raise ValueError(f"round {round_id} already committed (snapshot {parent})")

        seen = cat.read_table(spark, "seen", snap)
        pending = cat.read_table(spark, "pending", snap)
        bloom = cat.read_table(spark, "bloom", snap) if cfg.use_bloom else None
        tomb = cat.read_table(spark, "tombstones", snap)
        cuckoo_tbl = cat.read_table(spark, "cuckoo", snap)
        # carried from the parent snapshot's counters — never rescan state
        # tables for bookkeeping (a count() over a 10^10-row seen table per
        # round is exactly the scan the metadata exists to avoid)
        prev_counters = (snap or {}).get("counters", {})
        n_pend_prev = int(prev_counters.get("pending_after", 0))
        prev_seen_total = int(prev_counters.get("seen_total", 0))
        # per-bucket (m, n_items) of the filters on disk — n_buckets rows,
        # column-pruned (the bits stay on disk)
        old_stats: dict[int, tuple[int, int]] = {}
        if bloom is not None:
            old_stats = {
                int(r["bucket"]): (int(r["m"]), int(r["n_items"]))
                for r in bloom.select("bucket", "m", "n_items").collect()
            }
        n_ever = prev_seen_total + int(prev_counters.get("invalidated", 0))
        if cfg.use_bloom and seen is not None and sum(n for _, n in old_stats.values()) < n_ever:
            # no filter holds every URL ever scheduled (none, or one an older
            # checkpoint kept across a round run without it): it must not
            # route, and step 5 rebuilds each bucket from the seen table
            bloom = None
            old_stats = {
                int(r["bucket"]): (0, int(r["count"]))
                for r in seen.groupBy("bucket").count().collect()
            }

        # 1. this round's arriving documents (closed-world fetch simulation)
        rdocs = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(cfg.n_rounds)) == round_id)
        cand, finish_counters = self._candidates(rdocs, meta, seeds, robots)
        cand = cand.withColumn("__is_new", F.lit(1))

        # 2. merge with the carried-over queue, dedup deterministically.
        # The pending queue is a list of append-only DELTA files (plus an
        # occasional compaction) — rows already scheduled in later rounds
        # remain in old deltas and are dropped here by the seen filter, so
        # per-round pending WRITE IO is O(new discoveries), not O(queue).
        from pyspark.sql import Observation

        if pending is not None:
            cand = cand.unionByName(
                pending.select(*CAND_COLS).withColumn("__is_new", F.lit(0))
            )
        # the dedup exchange partitions by bucket, so no exchange runs between
        # it and the Bloom cogroup (caching these champions would hide that
        # partitioning from the planner; the seen filter caches its probe)
        cand = _dedup_candidates(cand.repartition(cfg.n_buckets, "bucket"))
        obs_queue = Observation()
        cand = cand.observe(
            obs_queue, F.count(F.lit(1)).alias("n"), F.sum("__is_new").alias("n_new")
        )
        cached: list[DataFrame] = []
        try:
            # 3. seen-set filter (bloom prefilter routes; exact join decides;
            # tombstoned URLs — re-crawl invalidation — count as unseen)
            new_urls = seenmod.filter_new_urls(
                spark, cand, seen, bloom, tombstones=tomb, cuckoo_table=cuckoo_tbl,
                key="url_hash", n_buckets=cfg.n_buckets, cache=cached,
            )
            obs_live = Observation()
            new_urls = new_urls.observe(
                obs_live, F.count(F.lit(1)).alias("n"), F.sum("__is_new").alias("n_new")
            )
            # host is a pure derivation of ref_url, recomputed AFTER the dedup
            # shuffle + seen filter (politeness is the first consumer) — the
            # dedup exchange and the pending files carry no host/surt strings
            from ..functions import urls as U

            new_urls = new_urls.withColumn("host", U.url_host(F.col("ref_url")))
            cached.append(new_urls.persist())

            # 4. politeness scheduling (skew-salted two-phase top-k)
            scheduled = pol.schedule_round(
                new_urls, politeness_df, cfg.default_budget, cfg.n_salts
            )
            cached.append(scheduled.persist())
            # single action materializes extract→dedup→seen-filter→schedule,
            # resolves every observation riding on the pass, and yields the
            # per-bucket lineage (which also feeds the bloom capacity arithmetic)
            lineage_rows = scheduled.groupBy("bucket").count().collect()
            delta_n = {int(r["bucket"]): int(r["count"]) for r in sorted(lineage_rows)}
            n_sched = sum(delta_n.values())
            counters = finish_counters()
            qd, live = _obs_get(obs_queue), _obs_get(obs_live)
            n_merged_new = int(qd.get("n_new") or 0)  # champions w/ a fresh observation
            n_live = int(live.get("n") or 0)  # live queue size (post seen filter)
            n_live_new = int(live.get("n_new") or 0)
            # live queue + fresh champions the seen filter dropped == the oracle's
            # "merged queue" (stale delta rows are invisible to it)
            n_queue = n_live + (n_merged_new - n_live_new)
            n_cand = counters["round_candidates"]

            # 5. state updates: pending += delta (new − scheduled); seen += scheduled
            newly_seen = scheduled.select("url_hash", "h1", "h2", "bucket").withColumn(
                "seen_round", F.lit(round_id)
            )

            tables: dict[str, list[str]] = dict((snap or {}).get("tables", {}))
            batch = scheduled.withColumn("surt", U.surt(F.col("ref_url"))).select(
                "url_hash", "ref_url", "surt", "host", "kind", "priority", "page_ts",
                "doc_id", "offset", "queue_pos", "fetch_delay_ms",
            )
            batch_path = cat.write_table(
                batch.sortWithinPartitions("host", "queue_pos"), f"fetch_batch_{round_id}", round_id
            )
            tables[f"fetch_batch_{round_id}"] = [batch_path]
            # one file per bucket dir (vs n_tasks × n_buckets small files).
            # seen stores only the membership key + hash/bucket columns — URL
            # strings live in the fetch_batch tables (the crawl log); at 10^10
            # rows the string columns would triple the table for no reader.
            seen_path = cat.write_table(
                newly_seen.repartition(cfg.n_buckets, "bucket"),
                "seen", round_id, partition_by=["bucket"],
            )
            tables["seen"] = tables.get("seen", []) + [seen_path]  # append (Iceberg add-files)

            # scheduling a resurrected URL clears its tombstone (it is seen
            # again); tombstone tables are small — O(tombstones) rewrite
            if tomb is not None:
                remaining = tomb.join(scheduled.select("url_hash"), "url_hash", "left_anti")
                cached.append(remaining.persist())
                if remaining.count() > 0:
                    tomb_path = cat.write_table(remaining, "tombstones", round_id)
                    ck_path = cat.write_table(
                        seenmod.build_cuckoo_table(remaining), "cuckoo", round_id
                    )
                    tables["tombstones"] = [tomb_path]
                    tables["cuckoo"] = [ck_path]
                else:
                    tables.pop("tombstones", None)
                    tables.pop("cuckoo", None)

            pend_paths = list(tables.get("pending", []))
            not_scheduled = lambda df: df.join(
                scheduled.select("url_hash"), "url_hash", "left_anti"
            )
            if len(pend_paths) >= cfg.pending_compact_every - 1:
                # compaction round: fold every delta + drop scheduled/seen rows
                # into one table (amortized — most rounds write only the delta)
                pend_df = not_scheduled(new_urls).select(*CAND_COLS)
                tables["pending"] = [cat.write_table(pend_df, "pending", round_id)]
                counters["pending_compacted"] = 1
            else:
                delta_pend = not_scheduled(new_urls.where(F.col("__is_new") == 1)).select(
                    *CAND_COLS
                )
                tables["pending"] = pend_paths + [
                    cat.write_table(delta_pend, "pending", round_id)
                ]

            if cfg.use_bloom:
                m_by_bucket = {b: m for b, (m, _) in old_stats.items() if m}
                delta = self._bloom_delta(newly_seen, m_by_bucket)  # (bucket, h1, h2)
                merged = self._merge_blooms(bloom, delta)
                # capacity policy: once a bucket's item count exceeds
                # bloom_rebuild_load of its sized capacity (m / bits_per_key),
                # rebuild that bucket from the exact seen table at 4x the size.
                # Pure metadata arithmetic — no filter is materialized to decide.
                default_m = seenmod._bloom_params(cfg.expected_per_bucket, cfg.bits_per_key)[0]
                over: dict[int, int] = {}
                for b in set(old_stats) | set(delta_n):
                    m = old_stats.get(b, (default_m, 0))[0]
                    n_tot = old_stats.get(b, (0, 0))[1] + delta_n.get(b, 0)
                    if n_tot * cfg.bits_per_key > cfg.bloom_rebuild_load * m:
                        over[b] = n_tot
                if over:
                    seen_all = cat.read_table(spark, "seen", {"tables": tables})
                    m_new = {
                        b: seenmod._bloom_params(4 * n, cfg.bits_per_key)[0]
                        for b, n in over.items()
                    }
                    rebuilt = seenmod.build_bloom_table(
                        seen_all.where(F.col("bucket").isin(*over)),
                        cfg.n_buckets, cfg.bits_per_key, m_by_bucket=m_new,
                    )
                    merged = merged.where(~F.col("bucket").isin(*over)).unionByName(rebuilt)
                    counters["bloom_rebuilt_buckets"] = len(over)
                bloom_path = cat.write_table(merged, "bloom", round_id)
                tables["bloom"] = [bloom_path]
            else:
                tables.pop("bloom", None)  # it would miss this round's URLs

            # 6. counters (oracle-equal semantics; see frontier/oracle.py)
            seen_total = prev_seen_total + n_sched
            counters.update(
                {
                    "queue_after_dedup": int(n_queue),
                    "dup_dropped": int(n_cand + n_pend_prev - n_queue),
                    "scheduled": int(n_sched),
                    "pending_after": int(n_live - n_sched),
                    "seen_total": int(seen_total),
                }
            )
            lineage = {
                "seen_rows_per_bucket": delta_n,
                "round": round_id,
            }
            cat.commit(round_id, tables, counters, lineage, parent)
            return counters
        finally:
            for df in cached:
                df.unpersist()

    def run(
        self,
        docs: DataFrame,
        meta: DataFrame,
        seeds: DataFrame | None = None,
        politeness_df: DataFrame | None = None,
        robots: DataFrame | None = None,
        n_rounds: int | None = None,
    ) -> list[dict[str, int]]:
        """Run all rounds, resuming after the last committed snapshot."""
        total = n_rounds or self.cfg.n_rounds
        snap = self.catalog.snapshot()
        start = (snap["round"] + 1) if snap else 0
        out = []
        for r in range(start, total):
            out.append(self.run_round(r, docs, meta, seeds, politeness_df, robots))
        return out

    def fetch_batch(self, round_id: int) -> DataFrame | None:
        return self.catalog.read_table(self.spark, f"fetch_batch_{round_id}")

    def seen_table(self) -> DataFrame | None:
        return self.catalog.read_table(self.spark, "seen")

    def invalidate(self, urls: DataFrame) -> dict[str, int]:
        """Re-crawl invalidation: mark URLs as no-longer-seen.

        ``urls`` carries ``url_hash`` (md5 of the canonical SURT — the
        seen-set key). Commits a new snapshot whose tombstone table +
        per-bucket cuckoo overlay make those URLs schedulable again on
        their next discovery; scheduling one clears its tombstone (see
        run_round). Exactness: the cuckoo filter only routes — membership
        decisions always come from the exact tombstone table
        (seen.filter_new_urls), so false positives never resurrect or drop
        the wrong URL.
        """
        spark, cfg, cat = self.spark, self.cfg, self.catalog
        snap = cat.snapshot()
        if snap is None:
            raise ValueError("nothing crawled yet — no seen set to invalidate")
        tables = dict(snap["tables"])
        counters = dict(snap.get("counters", {}))
        sid_next = snap["snapshot_id"] + 1

        ts_new = seenmod.with_hashes(
            urls.select("url_hash").dropDuplicates(["url_hash"]), "url_hash", cfg.n_buckets
        ).persist()
        old_tomb = cat.read_table(spark, "tombstones", snap)
        if old_tomb is not None:
            fresh = ts_new.join(old_tomb.select("url_hash"), "url_hash", "left_anti")
        else:
            fresh = ts_new

        # which of these are actually in the (effective) seen set — read
        # only the affected buckets (partition pruning on the seen table)
        seen = cat.read_table(spark, "seen", snap)
        n_removed = 0
        stale = None  # tombstoned AND once-scheduled url_hashes
        if seen is not None:
            buckets = [int(r["bucket"]) for r in fresh.select("bucket").distinct().collect()]
            if buckets:
                seen_slice = seen.where(F.col("bucket").isin(buckets)).select("url_hash")
                stale = fresh.join(seen_slice, "url_hash", "left_semi").select(
                    "url_hash"
                ).persist()
                n_removed = stale.count()

        # Purge the pending DELTAS of rows for tombstoned-and-once-scheduled
        # URLs: a URL scheduled from the queue in round r+1 leaves its stale
        # row behind in round r's delta file; tombstoning it would otherwise
        # resurrect that stale row next round and reschedule the URL WITHOUT
        # a rediscovery — the oracle (which deletes pending entries at
        # schedule time) only reschedules on rediscovery. A tombstoned URL
        # that was never scheduled keeps its live queue rows (invalidating an
        # uncrawled URL is a no-op for the queue, matching the oracle), and
        # rows discovered AFTER this call are written fresh and stay live.
        # Cost: one O(queue) compaction per invalidate() — invalidation is a
        # rare administrative event, and ``stale`` is broadcast-small.
        if stale is not None and n_removed > 0:
            pending = cat.read_table(spark, "pending", snap)
            if pending is not None:
                purged = pending.join(F.broadcast(stale), "url_hash", "left_anti")
                tables["pending"] = [cat.write_table(purged, "pending", f"{sid_next}-inv")]
        if stale is not None:
            stale.unpersist()

        merged = ts_new if old_tomb is None else old_tomb.unionByName(
            ts_new.join(old_tomb.select("url_hash"), "url_hash", "left_anti")
        )
        tomb_path = cat.write_table(merged, "tombstones", f"{sid_next}-inv")
        ck_path = cat.write_table(
            seenmod.build_cuckoo_table(
                spark.read.option("basePath", tomb_path).parquet(tomb_path).drop("round")
            ),
            "cuckoo", f"{sid_next}-inv",
        )
        ts_new.unpersist()
        tables["tombstones"] = [tomb_path]
        tables["cuckoo"] = [ck_path]
        counters["seen_total"] = max(0, int(counters.get("seen_total", 0)) - n_removed)
        counters["invalidated"] = int(counters.get("invalidated", 0)) + n_removed
        lineage = dict(snap.get("lineage", {}))
        cat.commit(snap["round"], tables, counters, lineage, snap["snapshot_id"])
        return {"invalidated_in_seen": n_removed}

    def pending_live(self) -> DataFrame | None:
        """The LIVE pending queue: delta files folded to champions, rows
        scheduled in the meantime (now in ``seen``) dropped — the same view
        a round's step 2+3 reconstructs, and what compaction materializes.

        Seen-ness is the EFFECTIVE set (seen minus tombstones), mirroring
        ``seen.filter_new_urls``: with an active invalidation, a tombstoned
        URL rediscovered into the queue is live here exactly as run_round
        would treat it."""
        snap = self.catalog.snapshot()
        if snap is None:
            return None
        pending = self.catalog.read_table(self.spark, "pending", snap)
        if pending is None:
            return None
        live = _dedup_candidates(pending.select(*CAND_COLS))
        seen = self.catalog.read_table(self.spark, "seen", snap)
        if seen is not None:
            tomb = self.catalog.read_table(self.spark, "tombstones", snap)
            if tomb is not None:
                # (live ∉ seen) ∪ (live ∈ seen ∧ tombstoned) — exclusive
                not_in_seen = live.join(seen.select("url_hash"), "url_hash", "left_anti")
                resurrected = live.join(
                    seen.select("url_hash"), "url_hash", "left_semi"
                ).join(tomb.select("url_hash"), "url_hash", "left_semi")
                live = not_in_seen.unionByName(resurrected)
            else:
                live = live.join(seen.select("url_hash"), "url_hash", "left_anti")
        return live
