"""Pure-Python single-process frontier oracle.

The reference maintains ``LocalFullImageIndexer`` — a single-process mirror
of the distributed job used as the correctness reference
(``LocalFullImageIndexer.java:199-258``, SURVEY.md §3.2). This module is
our analog: a plain-Python implementation of the *entire* frontier round
semantics (extraction gates, URL canonicalization, robots, deterministic
dedup champions, pending queue, seen set, per-host budgets, crawl order),
against which the Spark engine is compared bit-exactly in pytest.

Deliberately unoptimized, loop-based, and Spark-free: its value is being
obviously-correct and independently derived from the semantics spec, not
shared code. Only ``functions.hashing.xxhash64`` is shared (bucket/slice
assignments must match Spark's xxhash64 bit-for-bit).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from datetime import datetime

from ..functions.hashing import xxhash64

MAX_URL_LENGTH = 10_000
IMAGE_FILE_EXTENSIONS = {"jpg", "jpeg", "png", "tif", "tiff", "gif", "svg", "webp", "bmp", "ico"}


def md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def strip_scheme_www(url: str) -> str:
    u = re.sub(r"^(https?:)?//", "", url)
    return re.sub(r"^ww[w23]\.", "", u)


def surt(url: str) -> str:
    if url.startswith("data:") or url.startswith("hash:"):
        return url
    stripped = strip_scheme_www(url)
    if stripped.strip(" ") == "":
        return stripped
    m = re.match(r"^([^/]*)", stripped)
    hostport = m.group(1)
    host = re.match(r"^([^:]*)", hostport).group(1).lower()
    pm = re.search(r"(:[0-9]+)$", hostport)
    port = pm.group(1) if pm else ""
    path = stripped[len(hostport):]
    rev = ",".join(reversed(host.split(".")))
    mid = ("," + port) if port else ","
    return f"({rev}{mid}){path}"


def url_host(url: str) -> str:
    stripped = strip_scheme_www(url)
    return re.match(r"^([^/:]*)", stripped).group(1).lower()


def resolve_url(base: str, ref: str) -> str:
    if re.match(r"^(https?:|data:|hash:)", ref):
        return ref
    m = re.match(r"^(https?:)", base)
    scheme = m.group(1) if m else "http:"
    hm = re.match(r"^(?:https?:)?//([^/]*)", base)
    host = hm.group(1) if hm else ""
    pm = re.match(r"^(?:https?:)?//[^/]*(/[^?#]*)?", base)
    path = pm.group(1) if pm and pm.group(1) else ""
    dirp = re.sub(r"[^/]*$", "", path if path else "/")
    origin = f"{scheme}//{host}"
    if ref.startswith("//"):
        return scheme + ref
    if ref.startswith("/"):
        return origin + ref
    return origin + dirp + ref


def parse_archive_ts(ts: str) -> datetime:
    fixed = (ts[:14] + "0" * 14)[:14]
    return datetime.strptime(fixed, "%Y%m%d%H%M%S")


@dataclass
class OracleConfig:
    n_rounds: int = 4
    default_budget: int = 5
    default_priority: int = 9
    spans_cap: int = 10_000
    max_url_length: int = MAX_URL_LENGTH


@dataclass
class OracleState:
    seen: set[str] = field(default_factory=set)  # url_hash
    pending: dict[str, tuple] = field(default_factory=dict)  # url_hash -> cand row
    fetch_batches: dict[int, list[dict]] = field(default_factory=dict)
    counters: list[dict[str, int]] = field(default_factory=list)


# candidate tuple layout (mirrors rounds.CAND_COLS semantics)
def _cand_key(c: dict) -> tuple:
    return (
        c["priority"],
        c["page_ts"],
        len(c["ref_url"]),
        c["ref_url"],
        c["doc_id"],
        c["offset"],
    )


def _crawl_key(c: dict) -> tuple:
    return (c["priority"], c["page_ts"], len(c["ref_url"]), c["ref_url"])


class FrontierOracle:
    def __init__(self, cfg: OracleConfig, seeds=None, politeness=None, robots=None):
        """seeds: list of dicts (url, host, priority); politeness: list of
        (host, max_fetch_per_round, crawl_delay_ms); robots: list of
        (host, rule, path_pre)."""
        self.cfg = cfg
        self.host_prio: dict[str, int] = {}
        for s in seeds or []:
            h = s["host"]
            p = int(s["priority"])
            self.host_prio[h] = min(p, self.host_prio.get(h, p))
        # a host listed twice keeps its strictest rule: the smallest budget
        # and the longest delay (mirrors politeness.host_budgets)
        self.budget: dict[str, tuple[int, int]] = {}
        for p in politeness or []:
            b, d = int(p["max_fetch_per_round"]), int(p["crawl_delay_ms"])
            old = self.budget.get(p["host"])
            self.budget[p["host"]] = (b, d) if old is None else (min(old[0], b), max(old[1], d))
        # RFC 9309 rule list per host: (rule, pattern), empty patterns
        # dropped ("Disallow:" = allow-all). A rule dict may carry a full
        # wildcard "pattern"; prefix-only dicts (path_pre) are pure-prefix
        # patterns — mirrors politeness.robots_rule_cols.
        self.robots_rules: dict[str, list[tuple[str, str]]] = {}
        for r in robots or []:
            pat = r.get("pattern") or r.get("path_pre")
            if pat:
                self.robots_rules.setdefault(r["host"], []).append(
                    (r["rule"], pat)
                )

    # -- extraction (mirror of frontier.extract.extract_refs) ---------------

    def extract_doc(self, doc_id: str, spans: list[dict], base_url: str, fetch_ts: str):
        """Returns (rows, counter_increments). Rows = media-ref dicts."""
        cfg = self.cfg
        counters: dict[str, int] = {}
        counters["pages"] = 1
        n_raw = len(spans)
        spans = sorted(spans, key=lambda s: s["offset"])[: cfg.spans_cap]
        if n_raw > cfg.spans_cap:
            counters["pages_span_capped"] = 1
            counters["spans_not_parsed"] = n_raw - cfg.spans_cap
        if any(s["kind"] in ("img", "a", "css") for s in spans):
            counters["pages_with_media"] = 1

        # precompute ref_url for every span for the css-vs-parsed check
        enriched = []
        for s in spans:
            mr = s.get("media_ref")
            if mr is not None and mr.startswith("data:"):
                ref_url = "hash:" + md5(mr)
            elif mr is not None:
                ref_url = resolve_url(base_url, mr)
            else:
                ref_url = None
            enriched.append((s, ref_url))
        parsed_urls = {
            ru for s, ru in enriched if s["kind"] in ("img", "a") and ru is not None
        }

        rows = []
        page_ts = parse_archive_ts(fetch_ts)
        for s, ref_url in enriched:
            kind, mr = s["kind"], s.get("media_ref")
            if kind not in ("img", "a", "css"):
                counters["not_media"] = counters.get("not_media", 0) + 1
                continue
            if mr is None or mr.strip(" ") == "":
                counters["empty_ref"] = counters.get("empty_ref", 0) + 1
                continue
            if len(ref_url) > cfg.max_url_length:
                counters["url_too_long"] = counters.get("url_too_long", 0) + 1
                continue
            em = re.search(r"\.([A-Za-z0-9]+)(?:[?#].*)?$", ref_url)
            ext = em.group(1).lower() if em else ""
            if kind == "a" and ext not in IMAGE_FILE_EXTENSIONS:
                counters["a_not_image"] = counters.get("a_not_image", 0) + 1
                continue
            if kind == "css" and ref_url in parsed_urls:
                counters["css_already_parsed"] = counters.get("css_already_parsed", 0) + 1
                continue
            counters["valid_ref"] = counters.get("valid_ref", 0) + 1
            counters[f"valid_{kind}"] = counters.get(f"valid_{kind}", 0) + 1
            if ref_url.startswith("hash:"):
                counters["data_url_refs"] = counters.get("data_url_refs", 0) + 1
            su = surt(ref_url)
            rows.append(
                {
                    "url_hash": md5(su),
                    "ref_url": ref_url,
                    "surt": su,
                    "host": url_host(ref_url),
                    "kind": kind,
                    "page_ts": page_ts,
                    "doc_id": doc_id,
                    "offset": int(s["offset"]),
                }
            )
        return rows, counters

    def _robots_blocked(self, row: dict) -> bool:
        """RFC 9309 precedence: most specific (longest PATTERN) match
        wins, allow wins length ties, no match = allowed; wildcard/$
        patterns matched exactly (mirror of robots_filter)."""
        from image_search_indexing_spark.frontier.politeness import (
            robots_pattern_to_regex,
        )

        rules = self.robots_rules.get(row["host"])
        if not rules:
            return False
        path = re.sub(r"^(?:https?:)?//[^/]*", "", row["ref_url"])

        def hit(pat: str) -> bool:
            rx = robots_pattern_to_regex(pat)
            if rx is None:
                return path.startswith(pat)
            return re.match(rx, path) is not None

        matched = [(rule, pat) for rule, pat in rules if hit(pat)]
        if not matched:
            return False
        mlen = max(len(pat) for _, pat in matched)
        return not any(rule == "allow" for rule, pat in matched if len(pat) == mlen)

    # -- one round -----------------------------------------------------------

    def run_round(self, round_id: int, docs: list[dict], state: OracleState) -> dict[str, int]:
        """docs: list of {doc_id, spans, base_url, fetch_ts} for THIS round."""
        cfg = self.cfg
        counters: dict[str, int] = {}
        cand_rows: list[dict] = []
        for d in docs:
            rows, cts = self.extract_doc(d["doc_id"], d["spans"], d["base_url"], d["fetch_ts"])
            for k, v in cts.items():
                counters[k] = counters.get(k, 0) + v
            cand_rows.extend(rows)

        # robots rules filter a URL when it is discovered, never the queue:
        # a URL already pending is scheduled even if these rules disallow it
        blocked = [r for r in cand_rows if self._robots_blocked(r)]
        counters["robots_blocked"] = len(blocked)
        cand_rows = [r for r in cand_rows if not self._robots_blocked(r)]
        for r in cand_rows:
            r["priority"] = self.host_prio.get(r["host"], cfg.default_priority)
        counters["round_candidates"] = len(cand_rows)

        # merge with pending, deterministic champion per url_hash
        n_pend_prev = len(state.pending)
        merged: dict[str, dict] = dict(state.pending)
        for r in cand_rows:
            h = r["url_hash"]
            if h not in merged or _cand_key(r) < _cand_key(merged[h]):
                merged[h] = r
        counters["queue_after_dedup"] = len(merged)
        counters["dup_dropped"] = len(cand_rows) + n_pend_prev - len(merged)

        # seen filter (exact)
        new_urls = {h: r for h, r in merged.items() if h not in state.seen}

        # per-host budgets
        by_host: dict[str, list[dict]] = {}
        for r in new_urls.values():
            by_host.setdefault(r["host"], []).append(r)
        batch: list[dict] = []
        scheduled_hashes: set[str] = set()
        for host in by_host:
            b, delay = self.budget.get(host, (cfg.default_budget, 1000))
            ranked = sorted(by_host[host], key=_crawl_key)
            for pos, r in enumerate(ranked[:b], start=1):
                out = dict(r)
                out["queue_pos"] = pos
                out["fetch_delay_ms"] = (pos - 1) * delay
                batch.append(out)
                scheduled_hashes.add(r["url_hash"])
        batch.sort(key=lambda r: (r["host"], r["queue_pos"]))
        state.fetch_batches[round_id] = batch
        counters["scheduled"] = len(batch)

        # state updates
        state.pending = {
            h: r for h, r in new_urls.items() if h not in scheduled_hashes
        }
        state.seen |= scheduled_hashes
        counters["pending_after"] = len(state.pending)
        counters["seen_total"] = len(state.seen)
        state.counters.append(counters)
        return counters

    def invalidate(self, state: OracleState, url_hashes) -> int:
        """Re-crawl invalidation (engine: FrontierDriver.invalidate):
        remove the URLs from the seen set so rediscovery reschedules them.
        Returns how many were actually seen."""
        hs = set(url_hashes)
        removed = len(state.seen & hs)
        state.seen -= hs
        return removed

    def run(self, all_docs: list[dict], n_rounds: int | None = None) -> OracleState:
        """all_docs: {doc_id, spans, base_url, fetch_ts}; round slicing by
        pmod(xxhash64(doc_id), n_rounds) — bit-identical to the engine."""
        n = n_rounds or self.cfg.n_rounds
        state = OracleState()
        for r in range(n):
            docs = [d for d in all_docs if xxhash64(d["doc_id"]) % n == r]
            self.run_round(r, docs, state)
        return state
