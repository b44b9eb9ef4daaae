"""Per-host politeness scheduler: robots rules, budgets, priority queue.

The reference paces crawling operationally (1-5 WARCs per map task,
``README.md:46``) and has no robots/priority machinery — those are
north-rule additions. Semantics here:

- **robots**: per-host disallow path-prefix rules. ``robots_rules``
  aggregates them to one array per host (one small aggregate job per
  prepared frame: the round driver prepares it once and reuses it every
  round); ``robots_filter`` **broadcast-joins** that (small dimension) and
  evaluates it with ``F.exists`` — no row explosion, no UDF, no extra
  shuffle. The round driver applies robots rules when a URL is
  discovered, never to the queue: a URL already in ``pending`` is
  scheduled in a later round even when that round's rules disallow it
  (``frontier/oracle.py`` has the same semantics).
- **budgets**: per-host ``max_fetch_per_round`` (broadcast dimension);
  ``host_budgets`` folds a host listed twice to its strictest rule, and
  hosts without a configured budget get ``default_budget``.
- **priority queue**: deterministic total order per host —
  ``(priority, page_ts, length(url), url)`` — the reference's champion
  tie-break style (``FullImageMetadata.java:171-186``,
  ``ImageData.java:255-282``: time first, then URL-length, then URL) so
  crawl order is bit-stable at any partition count.
- **skew**: a hot host (10M candidates on one window partition) is the
  classic straggler. Selection is one exact per-host ``row_number`` cut at
  ``min(top, budget)``, where ``top`` is the largest budget any host can
  have (a Python int, read with one small aggregate job per prepared
  budgets frame, so once per driver). Because ``top`` is a literal, Spark's
  ``InsertWindowGroupLimit`` plans a Partial ``WindowGroupLimit`` (a
  top-``top`` per map partition) before the host exchange, so the exchange
  carries at most ``input partitions × top`` rows per host. The partial
  limit is planned only while ``top`` ≤
  ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default);
  above it the plan is a plain window and the result is the same.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def robots_pattern_to_regex(pattern: str) -> str | None:
    """RFC 9309 §2.2.3 path pattern → anchored Java/Python regex, or None
    when the pattern is a pure literal prefix (``startswith`` suffices —
    the common case, kept off the regex path entirely).

    ``*`` matches any run of characters; a TRAILING ``$`` anchors the end
    of the path; every other character is literal (``$`` elsewhere too).
    """
    import re as _re

    ends = pattern.endswith("$")
    body = pattern[:-1] if ends else pattern
    if "*" not in body and not ends:
        return None
    rx = "^" + ".*".join(_re.escape(p) for p in body.split("*"))
    return rx + "$" if ends else rx


def robots_rule_cols(robots: DataFrame) -> DataFrame:
    """Ensure a robots rule table carries the full evaluation columns.

    Canonical schema: ``(host, rule, path_pre, path_re, spec_len)`` —
    ``path_pre`` the literal prefix before the first ``*`` (cheap JVM
    pre-filter), ``path_re`` an anchored regex for wildcard/``$`` rules
    (NULL for pure prefixes), ``spec_len`` the ORIGINAL pattern length
    (RFC 9309 precedence is by most-specific = longest PATTERN, wildcards
    counted, exactly as major production matchers implement it). Legacy
    prefix-only tables (``path_pre`` alone) are widened in place so every
    caller keeps working.
    """
    cols = set(robots.columns)
    if "path_re" not in cols:
        robots = robots.withColumn("path_re", F.lit(None).cast("string"))
    if "spec_len" not in cols:
        robots = robots.withColumn(
            "spec_len", F.length(F.coalesce("path_pre", F.lit(""))).cast("int")
        )
    return robots


def robots_rules(robots: DataFrame) -> DataFrame:
    """The per-host rule arrays ``robots_filter`` evaluates: one
    ``(host, __rules)`` row per host, ``__rules`` an array of
    ``(rule, path_pre, path_re, spec_len)`` structs.

    ``robots(host, rule, path_pre[, path_re, spec_len])`` with ``rule ∈
    {allow, disallow}`` (``robots_rule_cols`` widens prefix-only tables).
    Empty-pattern rules are dropped here ("Disallow:" means allow-all in
    REP). This is one aggregate job over the rule table: a caller that
    filters many frames against one table (the round driver) prepares it
    once and passes the result to every ``robots_filter`` call.
    """
    robots = robots_rule_cols(robots)
    return (
        robots.where(
            (F.coalesce(F.col("path_pre"), F.lit("")) != "")
            | F.col("path_re").isNotNull()
        )
        .groupBy("host")
        .agg(
            F.collect_list(
                F.struct("rule", "path_pre", "path_re", "spec_len")
            ).alias("__rules")
        )
    )


def robots_filter(refs: DataFrame, rules: DataFrame | None) -> DataFrame:
    """Mark rows disallowed by robots rules (adds boolean ``robots_blocked``).

    ``rules`` is ``robots_rules(robots)`` (None: nothing is blocked),
    evaluated with RFC 9309 (Robots Exclusion Protocol) precedence: among
    all rules whose PATTERN matches the URL path, the most specific
    (longest original pattern, ``spec_len``) wins; at equal length
    ``allow`` wins; no matching rule = allowed. Pure-prefix rules (the
    overwhelming majority) are evaluated with prefix arithmetic;
    wildcard/``$`` rules carry an anchored regex (``path_re``) and are
    matched EXACTLY with ``regexp_like`` — ``Disallow: *`` blocks
    everything, ``Disallow: *.php`` blocks only matching paths, and a
    truncation can no longer flip an allow/disallow tie. Everything stays
    builtin higher-order functions over a broadcast-joined per-host rule
    array: no row explosion, no UDF, no shuffle of the refs fact table
    (the regex path only runs for rules that actually contain a wildcard).
    """
    if rules is None:
        return refs.withColumn("robots_blocked", F.lit(False))
    path = F.regexp_replace(F.col("ref_url"), r"^(?:https?:)?//[^/]*", "")
    matches = F.filter(
        F.col("__rules"),
        lambda r: path.startswith(r["path_pre"])
        & (r["path_re"].isNull() | F.regexp_like(path, r["path_re"])),
    )
    mlen = F.array_max(F.transform(matches, lambda r: r["spec_len"]))
    allow_wins = F.exists(
        matches,
        lambda r: (r["spec_len"] == mlen) & (r["rule"] == "allow"),
    )
    blocked = (F.size(matches) > 0) & ~allow_wins
    return (
        refs.join(F.broadcast(rules), "host", "left")
        .withColumn("robots_blocked", F.coalesce(blocked, F.lit(False)))
        .drop("__rules")
    )


def parse_robots_txt(text: str, agent: str = "archivebot") -> tuple[list[tuple[str, str]], int | None]:
    """Parse a robots.txt FILE into ``robots_rules`` rows — RFC 9309
    group selection + directive extraction (pure Python; runs where the
    fetcher runs, one call per host, so rows — not files — are what the
    cluster broadcasts).

    Returns ``([(rule, pattern), ...], crawl_delay_ms | None)`` with the
    FULL original patterns preserved (``*`` and trailing ``$`` intact);
    ``robots_table_from_txt`` derives the evaluator's prefix/regex/length
    columns from them.

    - **Group selection**: the group(s) whose ``User-agent`` most
      specifically matches ``agent`` win: exact product-token match beats
      a prefix-of-product-token match (longer prefixes more specific)
      beats ``*`` (RFC 9309 §2.2.1); only the winning groups' rules
      apply. Adjacent user-agent lines share one group. A ``User-agent:``
      line with an EMPTY value is malformed and skipped (it must not
      hijack group selection).
    - **Directives**: ``Allow`` / ``Disallow`` (case-insensitive keys),
      values taken to end-of-line, ``#`` comments stripped, empty
      ``Disallow:`` = allow-all (dropped — the evaluator's contract).
      Wildcard patterns are kept verbatim — ``Disallow: *`` is a
      disallow-all, not a dropped rule.
    - **Crawl-delay**: parsed from the winning group (seconds → ms) for
      the politeness table; invalid numbers ignored.
    """
    agent_l = agent.lower()
    groups: list[tuple[list[str], list[tuple[str, str]], int | None]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, str]] = []
    cur_delay: int | None = None
    in_group_body = False

    def flush():
        nonlocal cur_agents, cur_rules, cur_delay
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if in_group_body:
                flush()
                in_group_body = False
            if val:  # empty UA value is malformed — must not match everything
                cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_group_body = True
            if val:  # empty Disallow/Allow = no-op rule (REP allow-all)
                cur_rules.append((key, val))
        elif key == "crawl-delay":
            in_group_body = True
            try:
                cur_delay = int(float(val) * 1000)
            except ValueError:
                pass
    flush()

    def specificity(agents: list[str]) -> int:
        # exact match outranks any prefix; among prefix-of-product-token
        # matches, longer = more specific; "*" matches everything at 1.
        best = -1
        for a in agents:
            if a == agent_l:
                best = max(best, 1_000_000)
            elif a != "*" and agent_l.startswith(a):
                best = max(best, 1 + len(a))
            elif a == "*":
                best = max(best, 1)
        return best

    best = max((specificity(a) for a, _, _ in groups), default=-1)
    if best < 0:
        return [], None
    rules: list[tuple[str, str]] = []
    delay: int | None = None
    for agents, rs, d in groups:
        if specificity(agents) == best:
            rules.extend(rs)
            if d is not None:
                delay = d if delay is None else min(delay, d)
    return rules, delay


ROBOTS_ROWS_SCHEMA = (
    "host string, rule string, path_pre string, path_re string, "
    "spec_len int, crawl_delay_ms long"
)


def robots_table_from_txt(
    df: DataFrame, host_col: str = "host", txt_col: str = "robots_txt",
    agent: str = "archivebot",
) -> DataFrame:
    """(host, robots_txt) → (host, rule, path_pre, path_re, spec_len,
    crawl_delay_ms) rows — the distributed parse step between fetching
    per-host robots.txt files and ``robots_rules``/politeness. One Arrow
    batch pass (robots files are tiny and per-host, so this is
    embarrassingly parallel); a host whose file yields only a crawl-delay
    emits one NULL-rule row so the delay survives to the politeness
    table. ``path_pre`` is the literal prefix before the first ``*`` (may
    be empty for leading-wildcard patterns), ``path_re`` the anchored
    regex for wildcard/``$`` patterns (NULL for pure prefixes), and
    ``spec_len`` the original pattern length used for RFC 9309
    most-specific-wins precedence."""
    import pandas as pd

    def _parse(it):
        for pdf in it:
            rows = []
            for h, t in zip(pdf[host_col], pdf[txt_col]):
                rules, delay = parse_robots_txt(t or "", agent)
                if not rules and delay is None:
                    continue
                if not rules:
                    rows.append((h, None, None, None, None, delay))
                for r, pat in rules:
                    body = pat[:-1] if pat.endswith("$") else pat
                    rows.append(
                        (h, r, body.split("*", 1)[0],
                         robots_pattern_to_regex(pat), len(pat), delay)
                    )
            yield pd.DataFrame(
                rows,
                columns=["host", "rule", "path_pre", "path_re",
                         "spec_len", "crawl_delay_ms"],
            )

    return df.mapInPandas(_parse, ROBOTS_ROWS_SCHEMA)


def crawl_order() -> list[Column]:
    """The deterministic total order of the frontier queue (per host)."""
    return [
        F.col("priority").asc_nulls_last(),
        F.col("page_ts").asc_nulls_last(),
        F.length("ref_url").asc(),
        F.col("ref_url").asc(),
    ]


def host_budgets(politeness: DataFrame) -> DataFrame:
    """One ``(host, max_fetch_per_round, crawl_delay_ms)`` row per host,
    the form ``schedule_round`` needs: a host listed more than once keeps
    its strictest rule, the smallest budget and the longest delay. One
    small aggregate job per call; the round driver prepares it once."""
    return politeness.groupBy("host").agg(
        F.min("max_fetch_per_round").alias("max_fetch_per_round"),
        F.max("crawl_delay_ms").alias("crawl_delay_ms"),
    )


def budget_top(politeness: DataFrame, default_budget: int = 5) -> int:
    """``max(default_budget, max(max_fetch_per_round))``: a bound on every
    host's budget, read with one small aggregate job."""
    top = politeness.agg(F.max("max_fetch_per_round")).first()[0]
    return max(default_budget, top or default_budget)


def schedule_round(
    candidates: DataFrame,
    politeness: DataFrame | None,
    default_budget: int = 5,
    *,
    top: int | None = None,
) -> DataFrame:
    """Select each host's top-``budget`` candidates, skew-safely.

    Input: one row per *new, allowed* URL. The function reads ``ref_url``,
    ``host``, ``priority`` and ``page_ts``; every other column passes
    through unread (the round driver hands it no ``url_hash``, so the host
    exchange does not ship it). Output adds ``queue_pos`` (1-based
    per-host fetch order) and ``fetch_delay_ms`` (queue_pos ×
    crawl_delay_ms), restricted to scheduled rows.
    ``politeness`` must hold at most one row per host (``host_budgets``
    makes it so): the budgets are joined to the candidates, so a host
    listed twice would schedule each of its URLs twice.

    One window ranks each host's rows in ``crawl_order`` and keeps
    ``queue_pos <= top`` and ``queue_pos <= budget``. ``top`` =
    ``budget_top(politeness, default_budget)`` bounds every budget, so the
    first cut never drops a scheduled row. A caller that schedules many
    rounds against one table passes it in; otherwise it is read here with
    one small job (none without a table). While
    ``top`` ≤ ``spark.sql.optimizer.windowGroupLimitThreshold``, Spark
    keeps only each map partition's per-host top-``top`` before the host
    exchange: a hot host sends at most ``input partitions × top`` rows.
    """
    if top is None:
        top = default_budget if politeness is None else budget_top(politeness, default_budget)
    if politeness is not None:
        budgets = politeness.select(
            "host",
            F.col("max_fetch_per_round").alias("__budget"),
            F.col("crawl_delay_ms").alias("__delay"),
        )
        cand = candidates.join(F.broadcast(budgets), "host", "left")
    else:
        cand = candidates.withColumn("__budget", F.lit(None).cast("int")).withColumn(
            "__delay", F.lit(None).cast("long")
        )
    cand = cand.withColumn("__budget", F.coalesce("__budget", F.lit(default_budget))).withColumn(
        "__delay", F.coalesce("__delay", F.lit(1000).cast("long"))
    )

    w = Window.partitionBy("host").orderBy(*crawl_order())
    return (
        cand.withColumn("queue_pos", F.row_number().over(w))
        .where((F.col("queue_pos") <= F.lit(top)) & (F.col("queue_pos") <= F.col("__budget")))
        .withColumn("fetch_delay_ms", (F.col("queue_pos").cast("long") - 1) * F.col("__delay"))
        .drop("__budget", "__delay")
    )
