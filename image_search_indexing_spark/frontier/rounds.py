"""The frontier round driver: iterative batch loop with resumable checkpoints.

One round (the reference's two chained MR jobs become one DataFrame plan,
SURVEY.md §7.0):

  side tables prepared once per driver (robots rule arrays, seed
  priority, politeness budgets: aggregated per host and persisted in the
  first round that reads them, broadcast from the cache in every later
  one) → docs slice → extract refs (P1-P5, F1-F14; the J4 window rides one
  exchange by ``bucket``) → robots filter → union with the carried-over
  ``pending`` queue (its own exchange by ``bucket``) → champion dedup
  (A5-A7 order) on that partitioning, no exchange → h1/h2 →
  ``SeenSet.filter`` (one Bloom probe on that partitioning routes the
  maybe-seen slice to one exact join) → per-host politeness top-k (one
  host window; a partial per-partition top-k before its exchange) → one
  per-bucket count (scheduled total + lineage) → fetch batch → ``pending``
  rewritten as the live queue minus the batch → ``SeenSet.commit`` (seen
  += batch, their tombstones cleared, one Bloom update sized from counts)
  → atomic checkpoint (its manifest records each table's schema and each
  Bloom's ``(m, n_items)``, so the next round reads its state with no
  inference job and no stats scan). ``seen.SeenSet`` owns the seen set's
  tables (seen, bloom, tombstones, cuckoo); this module keeps the flow.

So each new candidate crosses one exchange from the documents scan to the
Bloom cogroup. The round's exchanges on the queue's path (the extraction's
and the pending rows' bucket exchanges, the politeness host exchange)
ship ref_url, bucket and the candidate's fields, and derive the rest
after the exchange: url_hash = md5(surt(ref_url)) (``extract.with_url_hash``),
h1/h2 from url_hash, host from ref_url. The hash was the costliest column
of those exchanges (on crawl_deep it shuffled more bytes than ref_url).
Deriving it again costs one ``md5(surt)``, about 9 µs of core time per
row, for each new media row and each pending row every round; scheduled
rows pay only the md5, as their fetch batch reuses that surt. The seen
write ships the key it writes, and the Bloom update reads (bucket, h1, h2)
and nothing else, so there the two hashes replace the key.

Every exchange and cached frame on the queue's path is sized by the
round's data, never by ``n_buckets``. The bucket exchanges are
``repartition("bucket")``: width ``spark.sql.shuffle.partitions``, and
AQE may coalesce them. It coalesces the two union sides and the Bloom
side with one spec, so the union and the cogroup stay exchange-free, and
a bucket never spans two partitions (one seen file per bucket directory
per round). The persisted frames (the probe, the live queue, the
scheduled batch) take AQE's final-stage coalescing (``session.get_spark``).
``n_buckets`` sizes only the Blooms and the seen directories.

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

import logging
import os
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from . import extract, politeness as pol, seen as seenmod

log = logging.getLogger(__name__)

# The candidate columns: the rows of the champion dedup and the seen
# filter, and the pending files (which keep url_hash, the checkpoint's
# key). Deliberately WITHOUT `surt`, `host`, `h1` and `h2`: surt and host
# derive from ref_url (functions/urls.py), h1/h2 from url_hash
# (seen.with_probe_hashes). The round's queue exchanges ship url_hash
# neither: it is md5(surt(ref_url)) (extract.with_url_hash), derived after
# each of them. At 10^10 URLs the bucket exchange is the round's dominant
# byte mover, and the 32-char hash was its costliest column. Pending files
# written with h1/h2 still read: every reader selects these columns.
CAND_COLS = [
    "url_hash",
    "ref_url",
    "kind",
    "priority",
    "page_ts",
    "doc_id",
    "offset",
    "bucket",
]


@dataclass
class FrontierConfig:
    n_rounds: int = 4
    n_buckets: int = 32  # Bloom/seen granularity; sizes no exchange
    n_salts: int = 8  # unused (politeness has no salts); perfbench/crawl.py still sets it
    default_budget: int = 5
    default_priority: int = 9
    bits_per_key: int = 12
    expected_per_bucket: int = 4096  # Bloom sizing: per-bucket m recorded in the table
    spans_cap: int = extract.MAX_IMAGE_IN_HTML
    use_bloom: bool = True
    # unused (every round rewrites pending whole); perfbench/crawl.py still sets it
    pending_compact_every: int = 8


def _obs_get(obs, errors: list[str]) -> dict:
    """Observation.get, tolerating plans the optimizer collapsed to an
    empty LocalRelation (the observe node never ran → Spark asserts).

    Each swallowed exception is logged and appended to ``errors``: the
    round records their number in its lineage (``obs_errors``), as the
    counters built from this observation then read 0."""
    try:
        return obs.get
    except Exception as e:
        log.warning("an observation is unreadable, its counters read 0: %r", e, exc_info=True)
        errors.append(repr(e))
        return {}


def _release(prepared: dict[str, tuple[DataFrame, DataFrame]]) -> None:
    """Unpersist and forget every prepared side table. A stopped context
    dropped its cache already (and cannot be asked to)."""
    for _, frame in prepared.values():
        if frame.sparkSession.sparkContext._jsc is not None:
            frame.unpersist()
    prepared.clear()


def _host_priority(seeds: DataFrame) -> DataFrame:
    """One ``(host, __prio)`` row per seeded host: its best seed priority."""
    return seeds.groupBy("host").agg(F.min("priority").alias("__prio"))


def _dedup_candidates(cand: DataFrame) -> DataFrame:
    """One deterministic champion per url_hash (A5-A7 tie-break style).

    Grouped by (bucket, url_hash) — the same groups, as bucket derives from
    url_hash — so an input hash-partitioned by ``bucket`` needs no exchange."""
    keys = ("bucket", "url_hash")
    ordk = F.struct(
        F.col("priority"), F.col("page_ts"), F.length("ref_url"), F.col("ref_url"),
        F.col("doc_id"), F.col("offset"),
    )
    out = cand.groupBy(*keys).agg(
        F.min_by(F.struct(*[c for c in CAND_COLS if c not in keys]), ordk).alias("c")
    )
    return out.select(*[c if c in keys else f"c.{c}" for c in CAND_COLS])


class FrontierDriver:
    def __init__(self, spark: SparkSession, workdir: str, cfg: FrontierConfig | None = None):
        self.spark = spark
        self.cfg = cfg or FrontierConfig()
        self.catalog = Catalog(workdir)
        # the round-invariant per-host side tables (robots rule arrays,
        # seed priority, politeness budgets), each aggregated and persisted
        # once per input frame: name → (input frame, prepared frame). The
        # input frame is kept so the identity check cannot match a new
        # frame at a reused id.
        self._prepared: dict[str, tuple[DataFrame, DataFrame]] = {}
        self._top: int | None = None  # schedule_round's top, read from the budgets
        # a driver dropped without close() releases them when collected;
        # not at interpreter exit, where the JVM may already be gone
        self._finalizer = weakref.finalize(self, _release, self._prepared)
        self._finalizer.atexit = False

    def close(self) -> None:
        """Release the prepared side tables (``run`` calls this on exit).
        The driver stays usable: its next round prepares them again."""
        _release(self._prepared)
        self._top = None

    # ---------------------------------------------------------------- helpers

    def _prepare(self, name: str, src: DataFrame | None, build) -> DataFrame | None:
        """``build(src)``, persisted, once per ``src`` frame: a new frame
        releases the frame prepared from the old one and prepares again.
        The persisted frame is computed by the first round that reads it;
        later rounds broadcast it from the cache."""
        held = self._prepared.pop(name, None)
        if held is not None and held[0] is src:
            self._prepared[name] = held
            return held[1]
        if held is not None:
            held[1].unpersist()
        if src is None:
            return None
        frame = build(src).persist()
        self._prepared[name] = (src, frame)
        return frame

    def _budgets(self, politeness_df: DataFrame | None) -> tuple[DataFrame | None, int | None]:
        """The prepared per-host budgets and ``schedule_round``'s ``top``,
        read from them with one small job each time they are prepared.
        (None, None) without a table: ``schedule_round`` then needs no job."""
        held = self._prepared.get("politeness")
        budgets = self._prepare("politeness", politeness_df, pol.host_budgets)
        if budgets is None:
            self._top = None
        elif held is None or held[1] is not budgets:
            self._top = pol.budget_top(budgets, self.cfg.default_budget)
        return budgets, self._top

    def _candidates(self, docs: DataFrame, meta: DataFrame, host_prio: DataFrame | None,
                    rules: DataFrame | None):
        """Build the round's candidate frame from the prepared seed
        priorities and robots rules. Counters ride as observation metrics
        on the single extraction pass (reference A1's "count while you map"
        — no extra actions, no wide persist); call the returned
        ``finish_counters(errors)`` after the first action over the frame;
        it appends each unreadable observation to ``errors``."""
        from pyspark.sql import Observation

        refs, obs_docs, obs_spans, obs_media = extract.extract_refs_frontier(
            docs, meta, spans_cap=self.cfg.spans_cap, n_buckets=self.cfg.n_buckets
        )
        valid = refs.where(F.col("drop_reason").isNull())
        valid = pol.robots_filter(valid, rules)
        obs_robots = Observation()
        valid = valid.observe(
            obs_robots,
            F.count(F.when(F.col("robots_blocked"), 1)).alias("robots_blocked"),
        )
        # seed priority per host (broadcast dim); unknown hosts get default
        if host_prio is not None:
            valid = valid.join(F.broadcast(host_prio), "host", "left")
            prio = F.coalesce(F.col("__prio"), F.lit(self.cfg.default_priority))
        else:
            prio = F.lit(self.cfg.default_priority)
        # refs keep the bucket attribute of the extraction's bucket exchange
        # (no recomputed column), so the dedup downstream needs no exchange
        cand = (
            valid.where(~F.col("robots_blocked"))
            .withColumn("priority", prio.cast("int"))
            .select(*CAND_COLS)
        )

        def finish_counters(errors: list[str]) -> dict[str, int]:
            spans, med, rob = (_obs_get(o, errors) for o in (obs_spans, obs_media, obs_robots))
            docs_o = _obs_get(obs_docs, errors)
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
        raises commits nothing and releases the frames it cached, the
        prepared side tables too (the next round prepares them again).

        The first round over a checkpoint of the older delta layout (several
        pending files) reads their stale rows too: the seen filter drops
        them, but that round's ``queue_after_dedup`` and ``dup_dropped``
        count them, so only these two counters differ from an uninterrupted
        run's. The round leaves one pending file."""
        spark, cfg, cat = self.spark, self.cfg, self.catalog
        snap = cat.snapshot()
        parent = snap["snapshot_id"] if snap else None
        if snap is not None and snap["round"] >= round_id:
            raise ValueError(f"round {round_id} already committed (snapshot {parent})")

        pending = cat.read_table(spark, "pending", snap)
        state = seenmod.SeenSet.load(spark, cat, snap, cfg)
        # carried from the parent snapshot's counters: no state table is
        # rescanned for bookkeeping
        n_pend_prev = int((snap or {}).get("counters", {}).get("pending_after", 0))

        cached: list[DataFrame] = []
        obs_errors: list[str] = []
        try:
            # 0. the per-host side tables, prepared once per driver (per input
            # frame) and read from the cache in every later round
            rules = self._prepare("robots", robots, pol.robots_rules)
            host_prio = self._prepare("seeds", seeds, _host_priority)
            budgets, top = self._budgets(politeness_df)

            # 1. this round's arriving documents (closed-world fetch simulation)
            rdocs = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(cfg.n_rounds)) == round_id)
            cand, finish_counters = self._candidates(rdocs, meta, host_prio, rules)

            # 2. merge with the carried-over queue, dedup deterministically.
            # ``pending`` is the live queue the last round left (step 5): no
            # URL of the effective seen set (seen minus tombstones), no
            # url_hash twice. So the seen filter never drops a champion that
            # came from it, and the merged queue is the oracle's. A checkpoint
            # of the older delta layout lists several pending files whose
            # stale rows (URLs scheduled since) the seen filter drops; its
            # first round here rewrites the table whole.
            from pyspark.sql import Observation

            if pending is not None:
                # the pending files keep url_hash, the exchange does not: it
                # is derived again after it. Files written before h1/h2 left
                # CAND_COLS still read: the select drops the two columns
                shipped = [c for c in CAND_COLS if c != "url_hash"]
                queued = pending.select(*shipped).repartition("bucket")
                cand = cand.unionByName(extract.with_url_hash(queued).select(*CAND_COLS))
            # both sides are hash-partitioned by bucket (the new rows by the
            # extraction's bucket exchange) at one width, and AQE coalesces the
            # two exchanges with one spec, so the partition-aware union
            # (spark.sql.unionOutputPartitioning) feeds the dedup with no
            # exchange, and none runs between it and the Bloom cogroup (caching
            # these champions would hide that partitioning from the planner; the
            # seen filter caches its probe). h1/h2 are derived here, after the
            # last exchange, for the Bloom/cuckoo probes.
            cand = seenmod.with_probe_hashes(_dedup_candidates(cand))
            obs_queue = Observation()
            cand = cand.observe(obs_queue, F.count(F.lit(1)).alias("n"))

            # 3. seen-set filter (bloom prefilter routes; exact join decides;
            # tombstoned URLs — re-crawl invalidation — count as unseen)
            new_urls = state.filter(cand, cached)
            obs_live = Observation()
            new_urls = new_urls.observe(obs_live, F.count(F.lit(1)).alias("n"))
            # host is a pure derivation of ref_url, recomputed AFTER the dedup
            # + seen filter (politeness is the first consumer) — the bucket
            # exchange and the pending files carry no host/surt strings
            from ..functions import urls as U

            # the live queue is the union of the seen filter's two routes: 2k
            # partitions for the probe's AQE-chosen k (k = 1 on crawl_deep).
            # Spark does not plan this union partition-aware (2k also when
            # the cached frames keep their shuffle-partitions width), and a
            # coalesce to a fixed width would undo the data sizing.
            new_urls = new_urls.drop("h1", "h2").withColumn("host", U.url_host(F.col("ref_url")))
            cached.append(new_urls.persist())

            # 4. politeness scheduling (per-host top-k, one host exchange).
            # The host exchange ships no url_hash: surt and url_hash are
            # derived on its output, and the fetch batch takes that surt.
            scheduled = pol.schedule_round(
                new_urls.drop("url_hash"), budgets, cfg.default_budget, top=top
            )
            scheduled = extract.with_url_hash(scheduled)
            cached.append(scheduled.persist())
            # single action materializes extract→dedup→seen-filter→schedule,
            # resolves every observation riding on the pass, and yields the
            # per-bucket lineage (which also feeds the Bloom plan of step 5)
            lineage_rows = scheduled.groupBy("bucket").count().collect()
            delta_n = {int(r["bucket"]): int(r["count"]) for r in sorted(lineage_rows)}
            n_sched = sum(delta_n.values())
            counters = finish_counters(obs_errors)
            # the merged queue: the oracle's, as no champion from pending is seen
            n_queue = int(_obs_get(obs_queue, obs_errors).get("n") or 0)
            n_live = int(_obs_get(obs_live, obs_errors).get("n") or 0)  # post seen filter
            n_cand = counters["round_candidates"]

            # 5. the fetch batch; pending = the live queue minus the batch, as
            # the table's only path (the invariant step 2 counts on); the seen
            # set takes the batch (seen, tombstones, Bloom)
            batch = scheduled.select(
                "url_hash", "ref_url", "surt", "host", "kind", "priority", "page_ts",
                "doc_id", "offset", "queue_pos", "fetch_delay_ms",
            )
            batch_path = cat.write_table(
                batch.sortWithinPartitions("host", "queue_pos"), f"fetch_batch_{round_id}", round_id
            )
            pend_df = new_urls.join(scheduled.select("url_hash"), "url_hash", "left_anti")
            pend_path = cat.write_table(pend_df.select(*CAND_COLS), "pending", round_id)
            tables, state_counters, state_lineage = state.commit(
                scheduled, delta_n, round_id, cached
            )
            tables[f"fetch_batch_{round_id}"] = [batch_path]
            tables["pending"] = [pend_path]

            # 6. counters (oracle-equal semantics; see frontier/oracle.py)
            counters.update(
                {
                    "queue_after_dedup": int(n_queue),
                    "dup_dropped": int(n_cand + n_pend_prev - n_queue),
                    "scheduled": int(n_sched),
                    "pending_after": int(n_live - n_sched),
                    **state_counters,
                }
            )
            lineage = {"seen_rows_per_bucket": delta_n, "round": round_id, **state_lineage}
            if obs_errors:
                lineage["obs_errors"] = len(obs_errors)
            cat.commit(round_id, tables, counters, lineage, parent)
            return counters
        except BaseException:
            self.close()
            raise
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
        """Run all rounds, resuming after the last committed snapshot, and
        release the prepared side tables on exit."""
        total = n_rounds or self.cfg.n_rounds
        snap = self.catalog.snapshot()
        start = (snap["round"] + 1) if snap else 0
        try:
            return [
                self.run_round(r, docs, meta, seeds, politeness_df, robots)
                for r in range(start, total)
            ]
        finally:
            self.close()

    def fetch_batch(self, round_id: int) -> DataFrame | None:
        return self.catalog.read_table(self.spark, f"fetch_batch_{round_id}")

    def seen_table(self) -> DataFrame | None:
        snap = self.catalog.snapshot()
        return seenmod.SeenSet.load(self.spark, self.catalog, snap, self.cfg).seen

    def invalidate(self, urls: DataFrame) -> dict[str, int]:
        """Re-crawl invalidation: mark URLs as no-longer-seen.

        ``urls`` carries ``url_hash`` (md5 of the canonical SURT — the
        seen-set key). Commits a new snapshot whose tombstone table +
        per-bucket cuckoo overlay make those URLs schedulable again on
        their next discovery; scheduling one clears its tombstone. The
        cuckoo filter only routes: the exact tombstone table decides.

        ``pending`` must be one round's live queue: a checkpoint of the
        older delta layout holds stale rows of URLs scheduled since, which a
        tombstone would bring back to the queue without a rediscovery. Such
        a checkpoint raises ``ValueError`` and commits nothing; one round
        rewrites its pending table.
        """
        cat = self.catalog
        snap = cat.snapshot()
        if snap is None:
            raise ValueError("nothing crawled yet — no seen set to invalidate")
        pending = snap["tables"].get("pending", [])
        if [os.path.basename(p) for p in pending] != [f"round={snap['round']}"]:
            raise ValueError(
                "the pending queue holds delta files of an older checkpoint layout: "
                "run one round first"
            )
        state = seenmod.SeenSet.load(self.spark, cat, snap, self.cfg)
        tables, counters, n_removed = state.invalidate(urls)
        counters = {**snap.get("counters", {}), **counters}
        cat.commit(snap["round"], tables, counters, snap.get("lineage", {}), snap["snapshot_id"])
        return {"invalidated_in_seen": n_removed}

    def pending_live(self) -> DataFrame | None:
        """The LIVE pending queue: pending rows folded to champions, rows
        scheduled in the meantime (now in ``seen``) dropped — the same view
        a round's step 2+3 reconstructs. For a checkpoint a round wrote this
        is ``pending`` itself; for one of the older delta layout it drops
        the stale rows.

        Seen-ness is the EFFECTIVE set (seen minus tombstones), decided by
        the exact joins alone (``SeenSet.live``), as in ``run_round``."""
        snap = self.catalog.snapshot()
        if snap is None:
            return None
        pending = self.catalog.read_table(self.spark, "pending", snap)
        if pending is None:
            return None
        state = seenmod.SeenSet.load(self.spark, self.catalog, snap, self.cfg)
        return state.live(_dedup_candidates(pending.select(*CAND_COLS)))
