"""robots.txt gate for the crawl frontier (RFC 9309).

The frontier (`crawl_frontier`) lists where a crawler COULD go next;
this module decides where it MAY go: parse each host's robots.txt,
select the rule group for our product token (case-insensitive EXACT
token match per RFC 9309 §2.2.1, falling back to `*`), and apply
longest-match-wins / allow-wins-ties semantics per §2.2.2 to every
outbound edge.  Rules match against the URI's path PLUS query (RFC 9309
matches everything after the authority except the fragment — real
robots files are full of `Disallow: /search?q=` style rules).

Hostile-input bounds (RFC 9309 §2.5): input is truncated to
`MAX_ROBOTS_BYTES` (the RFC requires honoring at least 500 KiB and
permits ignoring the rest) at a line boundary, and the selected group's
rules are capped at `MAX_RULES_PER_HOST`, keeping the LONGEST patterns
(so longest-match-wins degrades conservatively: the specific overrides
survive, only the shortest prefixes drop).  Both bounds surface as a
`truncated` lineage flag so a crawl can audit which hosts were clipped.

Beyond the RFC core this module parses the two de-facto extensions a
scheduler needs: `Crawl-delay` (per selected group; merged groups take
the most conservative = largest value) and host-wide `Sitemap:` lines.

Scale shape: robots files are tiny but numerous (one per host).  Rules
parse once per host into (host, pattern, allow) rows via mapInPandas;
the gate is then a host-keyed join of edges against rules with the
longest-match argmax as a plain aggregation — no per-edge Python, no
broadcast of anything unbounded, shuffle keyed by host (the same key a
politeness scheduler partitions by anyway).  Wildcard patterns compile
to SQL LIKE so the matching itself stays in whole-stage codegen.  The
scheduler's per-host window is bucketed (`host_buckets`) so one
mega-host never serializes into a single task.

Derived from the published RFC 9309 only.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "parse_robots",
    "parse_robots_rules",
    "robots_rules",
    "robots_host_policy",
    "sitemap_edges",
    "frontier_allowed",
    "frontier_schedule",
    "allocate_crawl_budget",
    "HOST_RE",
    "PATH_RE",
    "MAX_ROBOTS_BYTES",
    "MAX_RULES_PER_HOST",
]

# RFC 9309 §2.5.1: a parser MAY impose a limit but MUST honor at least
# 500 KiB; real crawlers cap hard so a machine-generated robots.txt
# cannot multiply the per-host rules x edges join.
MAX_ROBOTS_BYTES = 512 * 1024
MAX_RULES_PER_HOST = 5000

# shared host/path derivation — the DuckDB oracle mirrors these regexes.
# PATH_RE captures path PLUS query (everything after the authority up to
# the fragment): robots rules match against path?query per RFC 9309.
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)"
PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^#]*)"


class RobotsPolicy(NamedTuple):
    """Parsed per-host policy for one product token."""

    rules: list  # [(pattern, allow)]
    crawl_delay: Optional[float]
    sitemaps: list  # [url]
    truncated: bool  # input or rule-count cap hit


def parse_robots(
    robots_txt: str,
    agent: str = "*",
    max_bytes: int = MAX_ROBOTS_BYTES,
    max_rules: int = MAX_RULES_PER_HOST,
) -> RobotsPolicy:
    """Parse a robots.txt for the group governing product token `agent`.

    Group selection per RFC 9309 §2.2.1: case-insensitive EXACT match of
    the product token; absent any match, the `*` group applies; multiple
    groups for the same token merge.  Unknown fields are ignored; an
    empty Disallow value means allow-everything (contributes no rule).
    `Crawl-delay` attaches to its group (largest wins across merged
    groups); `Sitemap:` lines are host-wide regardless of grouping.
    Input beyond `max_bytes` is dropped at a line boundary; if the
    selected group still has more than `max_rules` rules, the longest
    patterns are kept (longest-match degrades conservatively)."""
    agent_l = agent.lower()
    truncated = False
    # a UTF-8 BOM glues onto the first field name ("﻿user-agent")
    # and silently loses the first group — the gate would fail OPEN for
    # the whole host; the reference Google parser skips the BOM too
    robots_txt = robots_txt.lstrip("﻿")
    if max_bytes is not None and len(robots_txt) > max_bytes:
        robots_txt = robots_txt[:max_bytes]
        # drop the trailing partial line so a clipped rule never parses
        cut = robots_txt.rfind("\n")
        robots_txt = robots_txt[: cut + 1] if cut >= 0 else ""
        truncated = True

    groups: list[tuple[list[str], list[tuple[str, int]], Optional[float]]] = []
    sitemaps: list[str] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, int]] = []
    cur_delay: Optional[float] = None
    in_group_header = True
    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_group_header:
                groups.append((cur_agents, cur_rules, cur_delay))
                cur_agents, cur_rules, cur_delay = [], [], None
            cur_agents.append(value.lower())
            in_group_header = True
        elif field in ("allow", "disallow"):
            in_group_header = False
            if not cur_agents:
                continue  # rules before any user-agent line: no group
            if value == "":
                continue  # empty pattern matches nothing (allow-all)
            cur_rules.append((value, 1 if field == "allow" else 0))
        elif field == "crawl-delay":
            # de-facto extension: belongs to the current group, like a rule
            in_group_header = False
            if not cur_agents:
                continue
            try:
                d = float(value)
            except ValueError:
                continue
            if d >= 0 and (cur_delay is None or d > cur_delay):
                cur_delay = d
        elif field == "sitemap":
            # host-wide per the sitemaps.org protocol: outside any group,
            # does not split groups
            if value:
                sitemaps.append(value)
        # other unknown fields: ignored, do not split groups
    if cur_agents:
        groups.append((cur_agents, cur_rules, cur_delay))

    named_rules: list[tuple[str, int]] = []
    star_rules: list[tuple[str, int]] = []
    named_delay: Optional[float] = None
    star_delay: Optional[float] = None
    matched = False
    for agents, rules, delay in groups:
        for a in agents:
            if a == "*":
                star_rules.extend(rules)
                if delay is not None and (star_delay is None or delay > star_delay):
                    star_delay = delay
            elif a == agent_l:
                # §2.2.1: exact (case-insensitive) product-token match only
                matched = True
                named_rules.extend(rules)
                if delay is not None and (
                    named_delay is None or delay > named_delay
                ):
                    named_delay = delay
    rules = named_rules if matched else star_rules
    delay = named_delay if matched else star_delay
    if max_rules is not None and len(rules) > max_rules:
        # keep the longest patterns: specific Allow/Disallow overrides
        # survive, only the shortest (broadest) prefixes drop
        rules = sorted(rules, key=lambda r: -len(r[0]))[:max_rules]
        truncated = True
    return RobotsPolicy(rules, delay, sitemaps, truncated)


def parse_robots_rules(
    robots_txt: str,
    agent: str = "*",
    max_bytes: int = MAX_ROBOTS_BYTES,
    max_rules: int = MAX_RULES_PER_HOST,
) -> list[tuple[str, int]]:
    """[(pattern, allow)] for the group governing `agent` — the rule
    subset of :func:`parse_robots`."""
    return parse_robots(robots_txt, agent, max_bytes, max_rules).rules


def _pattern_to_like(pattern: str) -> str:
    """robots wildcard pattern → SQL LIKE pattern.  `*` is any run,
    `$` (final only) anchors the end; otherwise the match is a prefix."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    like = "".join(out)
    if not anchored:
        like += "%"
    return like


RULES_SCHEMA = "host string, pattern string, pattern_like string, plen int, allow int"

POLICY_SCHEMA = (
    "host string, crawl_delay double, sitemaps array<string>, "
    "rules_truncated boolean, n_rules int"
)


def robots_rules(
    robots_df: DataFrame, agent: str = "*", host_col: str = "host",
    txt_col: str = "robots_txt",
    max_bytes: int = MAX_ROBOTS_BYTES,
    max_rules: int = MAX_RULES_PER_HOST,
) -> DataFrame:
    """(host, robots_txt) → one row per governing rule:
    (host, pattern, pattern_like, plen, allow).  Hosts whose file yields
    no rules emit nothing (everything allowed by default).  Emitted rows
    per host are bounded by `max_rules` / `max_bytes` (RFC 9309 §2.5) so
    a hostile robots.txt cannot multiply the downstream rules x edges
    join; clipped hosts surface in :func:`robots_host_policy`."""
    from typing import Iterator

    import pandas as pd

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = {"host": [], "pattern": [], "pattern_like": [],
                    "plen": [], "allow": []}
            for host, txt in zip(batch[host_col], batch[txt_col]):
                if txt is None:
                    continue
                for pattern, allow in parse_robots_rules(
                    txt, agent, max_bytes, max_rules
                ):
                    rows["host"].append(host)
                    rows["pattern"].append(pattern)
                    rows["pattern_like"].append(_pattern_to_like(pattern))
                    rows["plen"].append(len(pattern))
                    rows["allow"].append(allow)
            yield pd.DataFrame(rows)

    return robots_df.select(host_col, txt_col).mapInPandas(parse, RULES_SCHEMA)


def robots_host_policy(
    robots_df: DataFrame, agent: str = "*", host_col: str = "host",
    txt_col: str = "robots_txt",
    max_bytes: int = MAX_ROBOTS_BYTES,
    max_rules: int = MAX_RULES_PER_HOST,
) -> DataFrame:
    """(host, robots_txt) → one policy row per host:
    (host, crawl_delay, sitemaps, rules_truncated, n_rules) — the
    scheduler-facing side of robots.txt (the matcher-facing rule rows
    come from :func:`robots_rules`).  Every input host emits exactly one
    row (no-rules hosts included), so sitemap discovery and delay lookup
    never need an outer join fixup."""
    from typing import Iterator

    import pandas as pd

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = {"host": [], "crawl_delay": [], "sitemaps": [],
                    "rules_truncated": [], "n_rules": []}
            for host, txt in zip(batch[host_col], batch[txt_col]):
                pol = parse_robots(
                    txt or "", agent, max_bytes, max_rules
                )
                rows["host"].append(host)
                rows["crawl_delay"].append(pol.crawl_delay)
                rows["sitemaps"].append(pol.sitemaps)
                rows["rules_truncated"].append(pol.truncated)
                rows["n_rules"].append(len(pol.rules))
            yield pd.DataFrame(rows)

    return robots_df.select(host_col, txt_col).mapInPandas(parse, POLICY_SCHEMA)


def sitemap_edges(host_policy: DataFrame) -> DataFrame:
    """Host policy rows → frontier edges for the declared sitemaps:
    (url='https://<host>/robots.txt', target=<sitemap url>,
    kind='sitemap').  Hosts with no Sitemap lines emit nothing."""
    return host_policy.select(
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/robots.txt")
        ).alias("url"),
        F.explode("sitemaps").alias("target"),
        F.lit("sitemap").alias("kind"),
    )


def _path_query(col):
    """Canonical robots match target for a URL column: path plus query,
    fragment stripped, '/' when the URL has no path."""
    p = F.regexp_extract(col, PATH_RE, 1)
    return (
        F.when(p == "", F.lit("/"))
        .when(~p.startswith("/"), F.concat(F.lit("/"), p))
        .otherwise(p)
    )


def frontier_allowed(
    edges: DataFrame,
    rules: DataFrame,
    target_col: str = "target",
) -> DataFrame:
    """Gate frontier edges through per-host robots rules: adds
    (allowed boolean, matched_rule string).  Longest-match wins, allow
    wins ties, no matching rule (or no rules for the host) = allowed —
    RFC 9309 §2.2.2.  Matching is against path+query (fragment
    stripped).

    Plan (r07): the rules aggregate to ONE array row per host (bounded
    by MAX_RULES_PER_HOST), edges LEFT-join that on host, and the
    longest-match argmax runs inside the row as
    array_max(transform(filter(...)))  — one shuffle of the rules + the
    host-keyed edge join, versus the previous exploded edges×rules join
    whose output re-shuffled on a per-edge id for the argmax group-by.
    This also removes the `monotonically_increasing_id` edge key (rows
    could regroup under fresh ids if a stage retried — the classic
    mono-id hazard): duplicate edges now simply pass through, no
    grouping at all, deterministic by construction."""
    host = F.regexp_extract(F.col(target_col), HOST_RE, 1)
    path = _path_query(F.col(target_col))
    edge_cols = edges.columns
    host_rules = rules.groupBy("host").agg(
        F.collect_list(
            F.struct("plen", "allow", "pattern", "pattern_like")
        ).alias("_rules")
    ).withColumnRenamed("host", "_host")
    j = (
        edges.withColumn("_host", host)
        .withColumn("_path", path)
        .join(host_rules, "_host", "left")
    )
    # same ordering as max(struct(plen, allow, pattern)): longest pattern
    # first, allow beats disallow on ties
    best = F.expr(
        "array_max(transform("
        "  filter(_rules, r -> _path LIKE r.pattern_like),"
        "  r -> struct(r.plen AS plen, r.allow AS allow, r.pattern AS pattern)"
        "))"
    )
    return j.withColumn("_best", best).select(
        *edge_cols,
        F.coalesce(F.col("_best.allow") == 1, F.lit(True)).alias("allowed"),
        F.col("_best.pattern").alias("matched_rule"),
    )


def frontier_schedule(
    edges: DataFrame,
    per_host_per_wave: int = 1,
    target_col: str = "target",
    host_buckets: int = 1,
    host_policy: Optional[DataFrame] = None,
    default_delay_secs: float = 1.0,
) -> DataFrame:
    """Politeness scheduling for gated frontier edges: assign each edge a
    `fetch_wave` so that no host is hit more than `per_host_per_wave`
    times per wave, and a `fetch_at_secs` offset spacing waves by the
    host's `Crawl-delay` (from `host_policy`, default
    `default_delay_secs`) — the crawler fetches wave 0, waits the host
    delay, fetches wave 1, and so on.  Deterministic: edges order by
    target within their host, duplicates collapse first (fetching a URL
    twice in one crawl is wasted politeness budget).

    Scale shape: one hash-partitioned window keyed by host — the same
    key the robots gate and any per-host rate limiter shuffle on.  The
    web's host degree distribution is heavy-tailed, so with
    `host_buckets` W > 1 targets spread over W hash buckets per host and
    rank within (host, bucket): `fetch_wave = rank * W + bucket` keeps
    the ≤k-per-host-per-wave invariant (each wave draws from exactly one
    bucket), inflates the wave count by at most W, and makes the
    per-host sort W-way parallel — a 10^8-target mega-host never
    serializes into a single task.  W = 1 is the exact dense-wave path."""
    from pyspark.sql import Window

    if per_host_per_wave < 1:
        raise ValueError("per_host_per_wave must be >= 1")
    if host_buckets < 1:
        raise ValueError("host_buckets must be >= 1")
    host = F.regexp_extract(F.col(target_col), HOST_RE, 1)
    deduped = edges.select(
        F.col(target_col).alias("target"),
        "url",
        "kind",
    ).groupBy("target").agg(
        F.min("url").alias("via_url"), F.min("kind").alias("kind")
    )
    w_buckets = F.lit(host_buckets)
    if host_buckets > 1:
        bucket = F.pmod(F.xxhash64("target"), w_buckets)
    else:
        bucket = F.lit(0)
    keyed = deduped.withColumn("_host", host).withColumn(
        "_bucket", bucket.cast("long")
    )
    w = Window.partitionBy("_host", "_bucket").orderBy("target")
    rank = F.floor(
        (F.row_number().over(w) - F.lit(1)) / F.lit(per_host_per_wave)
    )
    waved = keyed.select(
        F.col("_host").alias("host"),
        "target",
        "via_url",
        "kind",
        (rank * w_buckets + F.col("_bucket")).alias("fetch_wave"),
    )
    if host_policy is not None:
        # NOT broadcast: the policy table is one row per host — at web
        # scale that is 10^8 rows.  Plain join keyed by host, the same
        # shuffle key the window above already partitions by.
        waved = waved.join(
            host_policy.select("host", "crawl_delay"), "host", "left"
        )
    else:
        waved = waved.withColumn(
            "crawl_delay", F.lit(None).cast("double")
        )
    return waved.select(
        "host",
        "target",
        "via_url",
        "kind",
        "fetch_wave",
        (
            F.col("fetch_wave")
            * F.coalesce(F.col("crawl_delay"), F.lit(float(default_delay_secs)))
        ).alias("fetch_at_secs"),
    )


def allocate_crawl_budget(
    schedule: DataFrame,
    host_quality: DataFrame,
    total_budget: int,
    quality_col: str = "quality",
) -> DataFrame:
    """Distribute a global per-round fetch budget across hosts by
    quality weight (largest-remainder apportionment: budgets sum to
    EXACTLY `total_budget` when enough targets exist), then mark each
    scheduled edge `within_budget` — a host's earliest waves fill its
    budget first, so cutting budget trims each host's tail, never its
    front.  Hosts with no quality row (or quality ≤ 0) get budget 0:
    unknown domains earn budget by first being crawled through the
    discovery slice a caller reserves, which keeps this operator a pure
    function of its inputs.

    Scale shape: apportionment runs on the HOST table (one row per
    host — tiny relative to edges).  The remainder ranking is a
    DISTRIBUTED rank (r07; it used to be a Window.orderBy with no
    partitionBy, which collapses the whole host table into one task —
    the one scale-killer the r6 review flagged): range-partition by
    (_rem desc, host asc), rank within each range partition in
    parallel, then add per-partition offsets — the only single-task
    step is a prefix-sum window over the per-partition COUNTS, whose
    row count is the shuffle-partition count, not the host count.  The
    edge-side work is one host-keyed join plus the same (host)-window
    the scheduler already uses.  The two scalar totals (Σquality,
    Σfloor) broadcast as 1-row frames — the same pattern as
    token_rarity's corpus total."""
    from pyspark.sql import Window

    if total_budget < 0:
        raise ValueError("total_budget must be >= 0")
    q = host_quality.select(
        "host",
        F.greatest(F.col(quality_col).cast("double"), F.lit(0.0)).alias("_q"),
    ).filter(F.col("_q") > 0)
    tot = q.agg(F.sum("_q").alias("_tq"))
    share = q.crossJoin(F.broadcast(tot)).select(
        "host",
        (F.lit(float(total_budget)) * F.col("_q") / F.col("_tq")).alias("_share"),
    )
    base_sum = share.agg(F.sum(F.floor("_share")).alias("_bs"))
    # distributed global rank by (_rem desc, host asc): range partition,
    # rank locally, offset by the cumulative counts of earlier partitions.
    # Only (host, _share) cross the exchange and every derived column is
    # computed after it, so the rank and the counts read the same
    # exchange output: the planner reuses one range partitioning instead
    # of sampling boundaries twice (two samples can disagree, and then
    # _lrank + _off is no global rank).
    ranked_src = (
        share.repartitionByRange(
            (F.col("_share") - F.floor("_share")).desc(), F.col("host").asc()
        )
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_base", F.floor("_share"))
        .withColumn("_rem", F.col("_share") - F.col("_base"))
    )
    w_local = Window.partitionBy("_pid").orderBy(
        F.col("_rem").desc(), F.col("host").asc()
    )
    local = ranked_src.withColumn("_lrank", F.row_number().over(w_local))
    counts = ranked_src.groupBy("_pid").agg(F.count("*").alias("_c"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_c").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    budgets = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("_rank", F.col("_lrank") + F.col("_off"))
        .crossJoin(F.broadcast(base_sum))
        .withColumn("_extra_n", F.greatest(
            F.lit(total_budget) - F.col("_bs"), F.lit(0)
        ))
        .select(
            "host",
            (
                F.col("_base")
                + F.when(F.col("_rank") <= F.col("_extra_n"), 1).otherwise(0)
            ).cast("long").alias("host_budget"),
        )
    )
    joined = schedule.join(budgets, "host", "left").withColumn(
        "host_budget", F.coalesce(F.col("host_budget"), F.lit(0))
    )
    w_fill = Window.partitionBy("host").orderBy("fetch_wave", "target")
    return joined.withColumn(
        "within_budget",
        F.row_number().over(w_fill) <= F.col("host_budget"),
    )
