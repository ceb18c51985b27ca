"""robots.txt frontier gate (functions/robots.py): RFC 9309 group
selection (exact product-token match), longest-match/allow-ties
semantics over path+query, §2.5 hostile-input bounds, wildcard-to-LIKE
translation, Crawl-delay/Sitemap extensions, the politeness scheduler's
bucketed per-host waves, and the Spark gate's parity with the scalar
parser."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.functions.robots import (  # noqa: E402
    _pattern_to_like,
    parse_robots,
    parse_robots_rules,
)


@pytest.fixture(scope="module")
def spark():
    from rust_html2text_spark.plans.session import get_spark

    s = get_spark(master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


ROBOTS = """\
# comment line
User-agent: googlebot
Disallow: /google-only/

User-agent: spark
User-agent: bingbot
Disallow: /named/

User-agent: *
Disallow: /private/
Allow: /private/ok
Crawl-delay: 10
Sitemap: https://x.example/sitemap.xml

User-agent: *
Disallow: /second-star/
Crawl-delay: 3
"""

STAR_RULES = [
    ("/private/", 0),
    ("/private/ok", 1),
    ("/second-star/", 0),
]


def test_group_selection_exact_token_match():
    # RFC 9309 §2.2.1: EXACT case-insensitive token match — the 'spark'
    # group governs token 'spark' (any case) but NOT 'spark-graft-bot'
    assert parse_robots_rules(ROBOTS, "spark") == [("/named/", 0)]
    assert parse_robots_rules(ROBOTS, "SPARK") == [("/named/", 0)]
    assert parse_robots_rules(ROBOTS, "bingbot") == [("/named/", 0)]
    # a token the named groups only prefix-match falls through to star
    assert parse_robots_rules(ROBOTS, "spark-graft-bot") == STAR_RULES
    # unknown token -> star groups MERGE (two star groups in the file)
    assert parse_robots_rules(ROBOTS, "otherbot") == STAR_RULES
    # googlebot gets its own group, not star
    assert parse_robots_rules(ROBOTS, "googlebot") == [("/google-only/", 0)]


def test_crawl_delay_and_sitemaps():
    pol = parse_robots(ROBOTS, "nobody")
    # merged star groups: most conservative (largest) delay wins
    assert pol.crawl_delay == 10.0
    # sitemaps are host-wide regardless of group
    assert pol.sitemaps == ["https://x.example/sitemap.xml"]
    assert pol.truncated is False
    # named group has no delay of its own
    assert parse_robots(ROBOTS, "googlebot").crawl_delay is None
    # invalid / negative delays are ignored
    assert (
        parse_robots(
            "User-agent: *\nCrawl-delay: soon\nCrawl-delay: -4\n", "x"
        ).crawl_delay
        is None
    )


def test_fields_case_insensitive_and_empty_disallow():
    txt = "USER-AGENT: *\nDISALLOW:\nAllow: /x\ndisallow: /y\n"
    assert parse_robots_rules(txt, "anybot") == [("/x", 1), ("/y", 0)]


def test_rules_before_any_group_are_ignored():
    txt = "Disallow: /orphan/\nUser-agent: *\nDisallow: /real/\n"
    assert parse_robots_rules(txt, "bot") == [("/real/", 0)]


def test_hostile_robots_rule_cap_keeps_longest():
    # RFC 9309 §2.5: a machine-generated robots.txt must not multiply
    # the per-host rules x edges join — rules cap, longest kept
    lines = ["User-agent: *"]
    lines += [f"Disallow: /p{i}/" for i in range(100_000)]
    lines += ["Allow: /p1/deep/specific/override"]
    txt = "\n".join(lines) + "\n"
    # the file itself is > 512 KiB, so byte-truncation also engages
    assert len(txt) > 512 * 1024
    pol = parse_robots(txt, "bot")
    assert pol.truncated is True
    assert len(pol.rules) <= 5000
    # with an explicit small cap: longest patterns survive
    pol2 = parse_robots(txt, "bot", max_bytes=None, max_rules=10)
    assert pol2.truncated is True
    assert len(pol2.rules) == 10
    assert ("/p1/deep/specific/override", 1) in pol2.rules
    assert all(len(p) >= len("/p99999/") for p, _ in pol2.rules)


def test_byte_truncation_drops_partial_line():
    # the clipped tail must never parse as a (wrong) shorter rule
    txt = "User-agent: *\nDisallow: /aaaa/\nDisallow: /secret-long-path/\n"
    cut = txt.index("/secret-long-path/") + 9  # mid-pattern
    pol = parse_robots(txt, "bot", max_bytes=cut)
    assert pol.truncated is True
    assert pol.rules == [("/aaaa/", 0)]


def test_pattern_to_like():
    assert _pattern_to_like("/a/") == "/a/%"  # prefix match
    assert _pattern_to_like("/a/*.pdf$") == "/a/%.pdf"  # anchored
    assert _pattern_to_like("/a/*.pdf") == "/a/%.pdf%"
    assert _pattern_to_like("/50%_off") == r"/50\%\_off%"  # LIKE specials


def test_spark_gate_longest_match_and_defaults(spark):
    from rust_html2text_spark.functions.robots import (
        frontier_allowed,
        robots_rules,
    )

    robots = spark.createDataFrame(
        [
            (
                "a.example",
                "User-agent: *\nDisallow: /d/\nAllow: /d/deep\n"
                "Disallow: /d/deep/no$\n",
            ),
            ("b.example", "User-agent: other\nDisallow: /\n"),  # not for us
        ],
        "host string, robots_txt string",
    )
    rules = robots_rules(robots, agent="spark-graft-bot")
    edges = spark.createDataFrame(
        [
            ("u", "https://a.example/d/x", "html"),          # blocked /d/
            ("u", "https://a.example/d/deep/page", "html"),  # allow override
            ("u", "https://a.example/d/deep/no", "html"),    # $-anchor blocks
            ("u", "https://a.example/d/deep/nope", "html"),  # $ does NOT match
            ("u", "https://a.example/other", "html"),        # no rule -> allow
            ("u", "https://b.example/anything", "html"),     # other-agent group
            ("u", "https://c.example/x", "html"),            # no robots at all
            ("u", "https://a.example/d/x", "html"),          # duplicate edge kept
        ],
        "url string, target string, kind string",
    )
    got = frontier_allowed(edges, rules).collect()
    assert len(got) == 8  # duplicate edges survive the gate
    verdict = {}
    dup = 0
    for r in got:
        key = r["target"]
        if key in verdict:
            dup += 1
            assert verdict[key] == (r["allowed"], r["matched_rule"])
        verdict[key] = (r["allowed"], r["matched_rule"])
    assert dup == 1
    assert verdict["https://a.example/d/x"] == (False, "/d/")
    assert verdict["https://a.example/d/deep/page"] == (True, "/d/deep")
    assert verdict["https://a.example/d/deep/no"] == (False, "/d/deep/no$")
    assert verdict["https://a.example/d/deep/nope"] == (True, "/d/deep")
    assert verdict["https://a.example/other"] == (True, None)
    assert verdict["https://b.example/anything"] == (True, None)
    assert verdict["https://c.example/x"] == (True, None)


def test_spark_gate_matches_path_plus_query(spark):
    """RFC 9309 matches against path?query: 'Disallow: /search?q=' style
    rules must fire, and fragments must not defeat a match."""
    from rust_html2text_spark.functions.robots import (
        frontier_allowed,
        robots_rules,
    )

    robots = spark.createDataFrame(
        [
            (
                "q.example",
                "User-agent: *\n"
                "Disallow: /search?\n"
                "Disallow: /*?sid=\n"
                "Disallow: /frag\n",
            ),
        ],
        "host string, robots_txt string",
    )
    rules = robots_rules(robots, agent="bot")
    edges = spark.createDataFrame(
        [
            ("u", "https://q.example/search?q=x", "html"),     # query rule
            ("u", "https://q.example/search", "html"),         # no '?': allowed
            ("u", "https://q.example/doc/1?sid=abc", "html"),  # wildcard query
            ("u", "https://q.example/doc/1?id=abc", "html"),   # allowed
            ("u", "https://q.example/frag#sid=abc", "html"),   # fragment strip
            ("u", "https://q.example/x#/frag", "html"),        # frag not path
            ("u", "https://q.example?sid=1", "html"),          # no path: /?sid=
        ],
        "url string, target string, kind string",
    )
    got = {r["target"]: (r["allowed"], r["matched_rule"])
           for r in frontier_allowed(edges, rules).collect()}
    assert got["https://q.example/search?q=x"] == (False, "/search?")
    assert got["https://q.example/search"] == (True, None)
    assert got["https://q.example/doc/1?sid=abc"] == (False, "/*?sid=")
    assert got["https://q.example/doc/1?id=abc"] == (True, None)
    assert got["https://q.example/frag#sid=abc"] == (False, "/frag")
    assert got["https://q.example/x#/frag"] == (True, None)
    assert got["https://q.example?sid=1"] == (False, "/*?sid=")


def test_gate_matches_scalar_parser_on_corpus(spark):
    """Spark gate verdicts == per-edge scalar evaluation with the same
    parsed rules (the oracle-independent parity check)."""
    import re

    from rust_html2text_spark.functions.robots import (
        HOST_RE,
        PATH_RE,
        frontier_allowed,
        robots_rules,
    )
    from rust_html2text_spark.sources.corpus import (
        robots_for_frontier,
        robots_txt_for_host,
    )

    import __spark_entry__ as entry

    edges = entry.q_crawl_frontier(spark, "/root/testdata/sf0.001").limit(400)
    robots = robots_for_frontier(edges)
    got = frontier_allowed(edges, robots_rules(robots, agent="x-bot")).collect()
    assert len(got) > 100
    # the corpus query lanes must actually fire in the sample
    assert any(not r["allowed"] and "?" in r["target"] for r in got)

    def scalar(target):
        host = re.match(HOST_RE, target).group(1)
        path = re.match(PATH_RE, target).group(1)
        if not path:
            path = "/"
        elif not path.startswith("/"):
            path = "/" + path
        best = None
        for pattern, allow in parse_robots_rules(
            robots_txt_for_host(host), "x-bot"
        ):
            anchored = pattern.endswith("$")
            pat = pattern[:-1] if anchored else pattern
            rx = "^" + ".*".join(re.escape(p) for p in pat.split("*"))
            rx += "$" if anchored else ""
            if re.match(rx, path):
                key = (len(pattern), allow)
                if best is None or key > best[0]:
                    best = (key, pattern, allow)
        if best is None:
            return True, None
        return bool(best[2]), best[1]

    for r in got:
        want_allowed, want_rule = scalar(r["target"])
        assert (r["allowed"], r["matched_rule"]) == (
            want_allowed,
            want_rule,
        ), r["target"]


def test_frontier_schedule_politeness_invariants(spark):
    """No host appears more than per_host_per_wave times in any wave,
    waves are dense per host (0..max with full occupancy below max),
    duplicate targets collapse, default 1 s delay spaces fetch_at_secs,
    and ordering is deterministic."""
    from rust_html2text_spark.functions.robots import frontier_schedule

    edges = spark.createDataFrame(
        [
            ("u1", f"https://h{i % 3}.example/p{i}", "html")
            for i in range(17)
        ]
        + [("u2", "https://h0.example/p0", "pdf")],  # duplicate target
        "url string, target string, kind string",
    )
    got = frontier_schedule(edges, per_host_per_wave=2).collect()
    # duplicate target collapsed (kind = min -> 'html')
    assert len(got) == 17
    by_target = {r["target"]: r for r in got}
    assert by_target["https://h0.example/p0"]["kind"] == "html"
    from collections import Counter

    per_wave = Counter((r["host"], r["fetch_wave"]) for r in got)
    assert max(per_wave.values()) <= 2
    for host in {r["host"] for r in got}:
        waves = sorted(
            r["fetch_wave"] for r in got if r["host"] == host
        )
        # dense: floor((rank-1)/2) over consecutive ranks
        assert waves == [i // 2 for i in range(len(waves))]
    # no policy given -> default delay of 1 s per wave
    assert all(r["fetch_at_secs"] == float(r["fetch_wave"]) for r in got)
    # deterministic
    again = frontier_schedule(edges, per_host_per_wave=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    with pytest.raises(ValueError):
        frontier_schedule(edges, per_host_per_wave=0)
    with pytest.raises(ValueError):
        frontier_schedule(edges, host_buckets=0)


def test_frontier_schedule_bucketed_mega_host(spark):
    """host_buckets=W bounds the per-host sort: the ≤k-per-host-per-wave
    invariant must hold, waves inflate by at most W (occupancy stays
    ≥ 1/W of dense), and the assignment is deterministic."""
    from collections import Counter

    from rust_html2text_spark.functions.robots import frontier_schedule

    n, k, w = 3000, 2, 8
    edges = spark.createDataFrame(
        [("u", f"https://mega.example/p{i:05d}", "html") for i in range(n)]
        + [("u", f"https://tiny.example/p{i}", "html") for i in range(3)],
        "url string, target string, kind string",
    )
    got = frontier_schedule(
        edges, per_host_per_wave=k, host_buckets=w
    ).collect()
    assert len(got) == n + 3
    per_wave = Counter((r["host"], r["fetch_wave"]) for r in got)
    # politeness invariant survives bucketing
    assert max(per_wave.values()) <= k
    mega_waves = [r["fetch_wave"] for r in got if r["host"] == "mega.example"]
    # wave count inflates by at most W vs the dense ceil(n/k) schedule
    assert max(mega_waves) + 1 <= (n + k - 1) // k * w
    # every bucket residue appears (the sort really is W-way parallel)
    assert {wv % w for wv in mega_waves} == set(range(w))
    # deterministic across runs
    again = frontier_schedule(
        edges, per_host_per_wave=k, host_buckets=w
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_frontier_schedule_crawl_delay_and_sitemaps(spark):
    """host_policy wires Crawl-delay into fetch_at_secs and sitemap_edges
    turns Sitemap lines into kind='sitemap' frontier rows."""
    from rust_html2text_spark.functions.robots import (
        frontier_schedule,
        robots_host_policy,
        sitemap_edges,
    )

    robots = spark.createDataFrame(
        [
            ("slow.example",
             "User-agent: *\nCrawl-delay: 5\n"
             "Sitemap: https://slow.example/sm1.xml\n"
             "Sitemap: https://slow.example/sm2.xml\n"),
            ("fast.example", "User-agent: *\nDisallow: /x/\n"),
        ],
        "host string, robots_txt string",
    )
    policy = robots_host_policy(robots, agent="bot")
    pol = {r["host"]: r for r in policy.collect()}
    assert pol["slow.example"]["crawl_delay"] == 5.0
    assert list(pol["slow.example"]["sitemaps"]) == [
        "https://slow.example/sm1.xml",
        "https://slow.example/sm2.xml",
    ]
    assert pol["fast.example"]["crawl_delay"] is None
    assert pol["fast.example"]["rules_truncated"] is False
    assert pol["fast.example"]["n_rules"] == 1

    sm = sitemap_edges(policy).collect()
    assert {(r["url"], r["target"], r["kind"]) for r in sm} == {
        ("https://slow.example/robots.txt",
         "https://slow.example/sm1.xml", "sitemap"),
        ("https://slow.example/robots.txt",
         "https://slow.example/sm2.xml", "sitemap"),
    }

    edges = spark.createDataFrame(
        [("u", f"https://slow.example/p{i}", "html") for i in range(4)]
        + [("u", f"https://fast.example/p{i}", "html") for i in range(4)]
        + [("u", f"https://nobody.example/p{i}", "html") for i in range(2)],
        "url string, target string, kind string",
    )
    got = frontier_schedule(
        edges, per_host_per_wave=2, host_policy=policy,
        default_delay_secs=1.0,
    ).collect()
    for r in got:
        delay = {"slow.example": 5.0}.get(r["host"], 1.0)
        assert r["fetch_at_secs"] == r["fetch_wave"] * delay, r


def test_robots_gate_and_schedule_plan_shape(spark, tmp_path):
    """Plan-shape pins for the crawl-frontier path, over parquet-backed
    edges (so the synthetic corpus's own Python synthesis stays out of
    the measured plan): per-edge work stays in whole-stage codegen.
    The only Python nodes the gate adds are the per-host robots corpus
    build + rules parse (mapInPandas over one tiny row per host); the
    edge-side match is codegen LIKE inside the join.  The scheduler
    adds one window and one host-policy parse — still zero Python on
    edges."""
    from rust_html2text_spark.functions.robots import (
        frontier_allowed,
        frontier_schedule,
        robots_host_policy,
        robots_rules,
    )
    from rust_html2text_spark.sources.corpus import robots_for_frontier

    import __spark_entry__ as entry

    epath = str(tmp_path / "edges.parquet")
    entry.q_crawl_frontier(spark, "/root/testdata/sf0.001").write.parquet(
        epath
    )
    edges = spark.read.parquet(epath)
    robots = robots_for_frontier(edges)
    gated = frontier_allowed(edges, robots_rules(robots, agent="x-bot"))
    plan = gated._jdf.queryExecution().executedPlan().toString()
    # regression = a per-edge Python matcher showing up on the edge side
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") <= 2  # robots corpus + rules parse

    policy = robots_host_policy(robots, agent="x-bot")
    sched = frontier_schedule(
        gated.filter("allowed").select("url", "target", "kind"),
        per_host_per_wave=2,
        host_buckets=8,
        host_policy=policy,
    )
    splan = sched._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in splan and "BatchEvalPython" not in splan
    assert "Window" in splan
    # + host-policy parse over its own corpus-build branch (the policy
    # join itself is left to Spark: AQE size-based broadcast is correct
    # here and degrades to a shuffle join when the host table is big)
    assert splan.count("MapInPandas") <= 4


def test_robots_from_warc_feeds_the_gate(spark, tmp_path):
    """Production wiring: robots.txt fetched as ordinary WARC response
    records → (host, robots_txt) corpus → the frontier gate.  Latest
    capture per host wins; non-robots URLs are ignored; the gate blocks
    per the fetched (not synthetic) rules."""
    from datetime import datetime

    from rust_html2text_spark.functions.robots import (
        frontier_allowed,
        robots_host_policy,
        robots_rules,
    )
    from rust_html2text_spark.sources.warc import (
        read_warc_pages,
        robots_from_warc,
        write_warc_file,
    )

    p = str(tmp_path / "crawl.warc.gz")
    old = b"User-agent: *\nDisallow: /\n"
    new = (
        b"User-agent: *\nDisallow: /private/\n"
        b"Crawl-delay: 4\nSitemap: https://a.example/sm.xml\n"
    )
    write_warc_file(
        p,
        [
            ("https://a.example/robots.txt", datetime(2026, 1, 1), old),
            ("https://a.example/robots.txt", datetime(2026, 2, 1), new),
            ("https://b.example/robots.txt", datetime(2026, 1, 5),
             b"User-agent: *\nDisallow: /x\n"),
            ("https://a.example/page", datetime(2026, 1, 2),
             b"<html><body>not robots</body></html>"),
        ],
    )
    robots = robots_from_warc(read_warc_pages(spark, [p]))
    got = {r["host"]: r["robots_txt"] for r in robots.collect()}
    assert set(got) == {"a.example", "b.example"}
    assert "Disallow: /private/" in got["a.example"]  # latest capture won
    assert "Disallow: /\n" not in got["a.example"]

    edges = spark.createDataFrame(
        [
            ("u", "https://a.example/private/p", "html"),
            ("u", "https://a.example/ok", "html"),
            ("u", "https://b.example/x1", "html"),
        ],
        "url string, target string, kind string",
    )
    verdicts = {
        r["target"]: r["allowed"]
        for r in frontier_allowed(
            edges, robots_rules(robots, agent="spark-graft-bot")
        ).collect()
    }
    assert verdicts == {
        "https://a.example/private/p": False,
        "https://a.example/ok": True,
        "https://b.example/x1": False,
    }
    pol = {r["host"]: r for r in robots_host_policy(robots).collect()}
    assert pol["a.example"]["crawl_delay"] == 4.0
    assert list(pol["a.example"]["sitemaps"]) == ["https://a.example/sm.xml"]


def test_allocate_crawl_budget_invariants(spark):
    """Largest-remainder apportionment: per-host budgets sum to EXACTLY
    the total, proportionality holds within ±1, each host's earliest
    waves fill its budget first, unknown/zero-quality hosts get 0, and
    the assignment is deterministic."""
    from rust_html2text_spark.functions.robots import allocate_crawl_budget

    sched = spark.createDataFrame(
        [
            (f"h{h}.example", f"https://h{h}.example/p{i:03d}",
             f"https://h{h}.example/", "html", i, float(i))
            for h in range(4)
            for i in range(20)
        ],
        "host string, target string, via_url string, kind string, "
        "fetch_wave long, fetch_at_secs double",
    )
    quality = spark.createDataFrame(
        # h3 has no quality row; h2 quality 0 -> both get budget 0
        [("h0.example", 3.0), ("h1.example", 1.0), ("h2.example", 0.0)],
        "host string, quality double",
    )
    allocated = allocate_crawl_budget(sched, quality, total_budget=10)
    out = allocated.collect()
    # the local rank and the per-partition counts read ONE range
    # partitioning: a second one would sample its boundaries again, and
    # two samples can disagree, breaking the global rank
    plan = allocated._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    range_exchanges = [
        line for line in final.splitlines()
        if "Exchange rangepartitioning" in line and "ReusedExchange" not in line
    ]
    assert len(range_exchanges) == 1, final
    budgets = {}
    for r in out:
        budgets.setdefault(r["host"], r["host_budget"])
    assert budgets["h2.example"] == 0 and budgets["h3.example"] == 0
    # 10 split 3:1 -> 7.5/2.5 -> floors 7/2, one remainder goes to the
    # larger-remainder host (both .5: host-name tiebreak -> h0)
    assert budgets["h0.example"] + budgets["h1.example"] == 10
    assert budgets["h0.example"] == 8 and budgets["h1.example"] == 2
    for host, b in budgets.items():
        rows = sorted(
            (r["fetch_wave"], r["within_budget"]) for r in out
            if r["host"] == host
        )
        kept = [w for w, ok in rows if ok]
        assert len(kept) == min(b, 20)
        # the earliest waves are the ones kept
        assert kept == [w for w, _ in rows[: len(kept)]]
    again = allocate_crawl_budget(sched, quality, total_budget=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        allocate_crawl_budget(sched, quality, total_budget=-1)
    # zero budget: everything out of budget, schema intact
    none_kept = allocate_crawl_budget(sched, quality, 0).collect()
    assert not any(r["within_budget"] for r in none_kept)


def test_robots_from_warc_survives_invalid_utf8(spark, tmp_path):
    """A robots.txt with invalid UTF-8 bytes must degrade to
    replacement chars, not kill the job (Spark's decode() raises
    MALFORMED_CHARACTER_CODING — the lenient cast path must be used)."""
    from datetime import datetime

    from rust_html2text_spark.functions.robots import (
        frontier_allowed,
        robots_rules,
    )
    from rust_html2text_spark.sources.warc import (
        read_warc_pages,
        robots_from_warc,
        write_warc_file,
    )

    p = str(tmp_path / "bad.warc.gz")
    write_warc_file(
        p,
        [
            ("https://bad.example/robots.txt", datetime(2026, 1, 1),
             b"User-agent: *\nDisallow: /\xff\xfe-junk\nDisallow: /keep\n"),
        ],
    )
    robots = robots_from_warc(read_warc_pages(spark, [p]))
    got = robots.collect()
    assert len(got) == 1 and "Disallow: /keep" in got[0]["robots_txt"]
    edges = spark.createDataFrame(
        [("u", "https://bad.example/keep/x", "html"),
         ("u", "https://bad.example/other", "html")],
        "url string, target string, kind string",
    )
    v = {r["target"]: r["allowed"]
         for r in frontier_allowed(edges, robots_rules(robots)).collect()}
    assert v == {"https://bad.example/keep/x": False,
                 "https://bad.example/other": True}


def test_bom_robots_txt_still_parses():
    """A UTF-8 BOM must not glue onto the first 'User-agent' field and
    silently lose the group (the gate would fail OPEN for the host)."""
    txt = "﻿User-agent: *\nDisallow: /x\n"
    assert parse_robots_rules(txt, "bot") == [("/x", 0)]
    pol = parse_robots("﻿User-agent: *\nCrawl-delay: 2\n", "bot")
    assert pol.crawl_delay == 2.0


def test_allocate_crawl_budget_distributed_rank(spark):
    """r07: the largest-remainder ranking must not collapse the host table
    into one task (no Window ordered on _rem without a partition spec in
    the physical plan), and must stay EXACT — budgets sum to the budget —
    on a large skewed host table."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.robots import allocate_crawl_budget

    n_hosts = 100_000
    hosts = spark.range(n_hosts).select(
        F.concat(F.lit("h"), F.col("id")).alias("host"),
        # heavy skew: a handful of giants + a long uniform tail
        F.when(F.col("id") < 5, 1e6).otherwise(
            1.0 + (F.col("id") % 97) / 97.0
        ).alias("quality"),
    )
    sched = hosts.select(
        "host",
        F.concat(F.lit("https://"), F.col("host"), F.lit("/")).alias("target"),
        F.col("host").alias("via_url"),
        F.lit("html").alias("kind"),
        F.lit(0).alias("fetch_wave"),
    )
    budget = 12_345
    out = allocate_crawl_budget(sched, hosts, total_budget=budget)
    # plan pin: every row_number/rank window over the remainder sort is
    # partitioned (by _pid); the only unpartitioned window is the
    # prefix-sum over per-partition counts (rows == partition count)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        if "_rem" in spec:
            assert spec.strip().startswith("_pid"), spec
    # exactness: one fetch per host scheduled, so Σ min(host_budget, fetched)
    # over distinct hosts with ≤1 target each == Σ host_budget when budgets
    # are ≤ 1... instead check the apportionment directly: budgets sum to
    # exactly the budget (enough hosts exist to absorb it)
    budgets = (
        out.select("host", "host_budget").distinct().agg(
            F.sum("host_budget")
        ).collect()[0][0]
    )
    assert budgets == budget, budgets


def test_frontier_allowed_duplicate_edges_deterministic(spark):
    """r07: duplicate edges (same url→target via several ordinals) must
    survive the gate with one output row each, and two materializations
    must be row-identical (the old monotonically_increasing_id argmax key
    could regroup rows under stage retries)."""
    from rust_html2text_spark.functions.robots import (
        frontier_allowed,
        robots_rules,
    )

    robots = spark.createDataFrame(
        [("dup.example", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n")],
        "host string, robots_txt string",
    )
    rules = robots_rules(robots)
    edges = spark.createDataFrame(
        [
            ("u1", "https://dup.example/private/ok/page", "html"),
            ("u1", "https://dup.example/private/ok/page", "html"),
            ("u2", "https://dup.example/private/x", "html"),
            ("u3", "https://other.example/anything", "pdf"),
        ],
        "url string, target string, kind string",
    )
    gated = frontier_allowed(edges, rules)
    rows1 = sorted(map(tuple, gated.collect()))
    rows2 = sorted(map(tuple, frontier_allowed(edges, rules).collect()))
    assert rows1 == rows2
    assert len(rows1) == 4  # duplicates preserved
    by_target = {}
    for url, target, kind, allowed, matched in rows1:
        by_target.setdefault(target, []).append((allowed, matched))
    assert by_target["https://dup.example/private/ok/page"] == [
        (True, "/private/ok"),
        (True, "/private/ok"),
    ]
    assert by_target["https://dup.example/private/x"] == [(False, "/private")]
    assert by_target["https://other.example/anything"] == [(True, None)]
