"""robots.txt parser tests: REP group selection, prefix collection,
crawl-delay, and the Spark mapInPandas path feeding the scheduler."""

from __future__ import annotations

from cc_dbp_spark.operators import robots as rb

CLASSIC = """
# comments everywhere
User-agent: *
Disallow: /private/
Disallow: /tmp/
Crawl-delay: 2

User-agent: ccdbp
Disallow: /no-ccdbp/
Allow: /no-ccdbp/except/
Crawl-delay: 0.5
"""


def test_specific_group_beats_wildcard():
    r = rb.parse_robots_body(CLASSIC, agent="ccdbp")
    assert r["deny_prefixes"] == ["/no-ccdbp/"]
    assert r["allow_prefixes"] == ["/no-ccdbp/except/"]
    assert r["crawl_delay_s"] == 0.5


def test_wildcard_group_for_other_agents():
    r = rb.parse_robots_body(CLASSIC, agent="otherbot")
    assert r["deny_prefixes"] == ["/private/", "/tmp/"]
    assert r["allow_prefixes"] == []
    assert r["crawl_delay_s"] == 2.0


def test_stacked_user_agents_share_group():
    body = "User-agent: a\nUser-agent: ccdbp\nDisallow: /x/\n"
    assert rb.parse_robots_body(body, agent="ccdbp")["deny_prefixes"] == ["/x/"]


def test_empty_disallow_means_allow_all():
    body = "User-agent: *\nDisallow:\n"
    r = rb.parse_robots_body(body)
    assert r["deny_prefixes"] == [] and r["crawl_delay_s"] is None


def test_garbage_tolerated():
    r = rb.parse_robots_body("Disallow: /orphan/\nnonsense line\nCrawl-delay: soon\n")
    assert r == {"deny_prefixes": [], "allow_prefixes": [], "crawl_delay_s": None}
    assert rb.parse_robots_body("")["deny_prefixes"] == []


def test_spark_parse_feeds_scheduler_join(spark):
    bodies = spark.createDataFrame(
        [
            ("a.example.com", CLASSIC),
            ("b.example.com", "User-agent: *\nDisallow: /all/\n"),
            ("c.example.com", None),
        ],
        "host string, body string",
    )
    rules = rb.parse_robots(bodies, agent="ccdbp")
    assert rules.schema.simpleString() == (
        "struct<host:string,deny_prefixes:array<string>,"
        "allow_prefixes:array<string>,crawl_delay_s:double>"
    )
    got = {r["host"]: r.asDict() for r in rules.collect()}
    assert got["a.example.com"]["deny_prefixes"] == ["/no-ccdbp/"]
    assert got["a.example.com"]["crawl_delay_s"] == 0.5
    assert got["b.example.com"]["deny_prefixes"] == ["/all/"]
    assert got["c.example.com"]["deny_prefixes"] == []
    # per-body kernel == Spark path (differential)
    for host, body in [("a.example.com", CLASSIC), ("b.example.com", "User-agent: *\nDisallow: /all/\n")]:
        want = rb.parse_robots_body(body, agent="ccdbp")
        assert got[host]["deny_prefixes"] == want["deny_prefixes"]
        assert got[host]["allow_prefixes"] == want["allow_prefixes"]


def test_rule_matches_wildcards():
    """RFC-9309 `*` / trailing `$` wildcard matching (pure kernel)."""
    m = rb._rule_matches
    assert m("/private/ok/x", "/private/")
    assert m("/a/b.pdf", "/a/*.pdf")
    assert m("/a/deep/x.pdf", "/a/*.pdf")      # * spans path segments
    assert not m("/a/b.pdfx", "/a/*.pdf$")     # anchored
    assert m("/a/b.pdf", "/a/*.pdf$")
    assert m("/x", "/*")
    assert not m("/other", "/a*")
    assert m("/exact", "/exact$")
    assert not m("/exact/more", "/exact$")


def test_is_allowed_wildcard_specificity():
    # longer (more specific, by octet length) allow overrides the deny
    assert rb.is_allowed("/files/ok.pdf", ["/files/*.pdf"], ["/files/ok*.pdf"])
    # the shorter allow loses to the longer wildcard deny
    assert not rb.is_allowed("/files/ok.pdf", ["/files/*.pdf"], ["/files/ok*"])
    # and the wildcard deny wins where the allow doesn't match at all
    assert not rb.is_allowed("/files/no.pdf", ["/files/*.pdf"], ["/files/ok*.pdf"])


def test_spark_denied_matches_python_twin_with_wildcards(spark):
    """Differential: the round's politeness join
    (frontier._with_politeness over the rules of frontier.translate_robots,
    here with no carried credit) flags with its native LIKE translation
    exactly what robots.is_allowed denies, on a grid of wildcard
    patterns x paths."""
    from pyspark.sql import functions as F

    from cc_dbp_spark.operators import frontier as fr
    from cc_dbp_spark.session import empty_df

    rules = [
        (["/private/"], ["/private/ok/"]),
        (["/a/*.pdf"], ["/a/ok*"]),
        (["/*?download=1$"], []),
        (["/x$"], []),
        (["/"], ["/pub*"]),
        ([], []),
    ]
    paths = [
        "/", "/private/ok/x", "/private/no", "/a/b.pdf", "/a/ok.pdf",
        "/a/deep/c.pdf", "/file?download=1", "/file?download=12",
        "/x", "/x/y", "/pub/z", "/other_thing", "/100%guide",
    ]
    rows, want = [], {}
    for i, (deny, allow) in enumerate(rules):
        host = f"h{i}"
        rows.append((host, allow, deny, 1.0))
        for j, p in enumerate(paths):
            want[(host, f"http://{host}.ex{p}")] = not rb.is_allowed(p, deny, allow)
    robots_df = spark.createDataFrame(
        rows,
        "host string, allow_prefixes array<string>, deny_prefixes array<string>,"
        " crawl_delay_s double",
    )
    urls = spark.createDataFrame(
        [(u, h) for (h, u) in want], "url string, host string"
    )
    got = {
        (r.host, r.url): r.denied
        for r in fr._with_politeness(
            urls, fr.translate_robots(robots_df), empty_df(spark, fr.CREDIT_SCHEMA),
            fr.CrawlConfig(),
        ).collect()
    }
    assert got == want


def test_oracle_twin_matches_engine_on_query_urls():
    """The crawl-oracle twin must match robots rules against path
    INCLUDING query exactly like the engine's pathq_col path (a rule can
    constrain the query: /*?download=1$, or a plain prefix /a?x)."""
    from cc_dbp_spark.oracle import scheduler as osch

    rules = {
        "h.ex": {
            "deny_prefixes": ["/*?download=1$", "/a?x"],
            "allow_prefixes": [],
            "crawl_delay_s": 1.0,
        }
    }
    assert not osch._allowed("http://h.ex/file?download=1", rules)
    assert osch._allowed("http://h.ex/file?download=12", rules)  # $ anchor
    assert not osch._allowed("http://h.ex/a?xyz", rules)  # prefix on query
    assert osch._allowed("http://h.ex/a", rules)
    assert osch._allowed("http://h.ex/file", rules)


def test_duplicate_agent_groups_merge():
    """RFC 9309: rules from duplicate matching groups COMBINE — first
    group-wins silently dropped later sections' rules (a politeness
    violation: the crawler fetched paths the host disallowed)."""
    body = (
        "User-agent: *\nDisallow: /a\nCrawl-delay: 3\n\n"
        "User-agent: *\nDisallow: /b\nAllow: /b/ok\n"
    )
    r = rb.parse_robots_body(body, agent="ccdbp")
    assert r["deny_prefixes"] == ["/a", "/b"]
    assert r["allow_prefixes"] == ["/b/ok"]
    assert r["crawl_delay_s"] == 3.0
    # a specific group still beats the merged * groups outright
    body2 = body + "\nUser-agent: ccdbp\nDisallow: /c\n"
    r2 = rb.parse_robots_body(body2, agent="ccdbp")
    assert r2["deny_prefixes"] == ["/c"]


def test_nonfinite_crawl_delay_rejected():
    """'Crawl-delay: nan'/'inf' (web-controlled input) parse as floats
    but evade every <=0/null validation downstream (NaN <= 0 is false),
    silently starving the host — they must count as invalid -> null."""
    for bad in ("nan", "inf", "-inf", "NaN"):
        r = rb.parse_robots_body(f"User-agent: *\nCrawl-delay: {bad}\n")
        assert r["crawl_delay_s"] is None, bad
    ok = rb.parse_robots_body("User-agent: *\nCrawl-delay: 2.5\n")
    assert ok["crawl_delay_s"] == 2.5


def test_oracle_scheduler_defaults_none_delay():
    """The pure-Python oracle substitutes the default for a None
    crawl_delay_s exactly as Spark's null-coalesce does (it used to
    raise TypeError on rules dicts straight from parse_robots_body)."""
    from cc_dbp_spark.oracle import scheduler as osched

    body = rb.parse_robots_body("User-agent: *\nDisallow: /x\n")
    assert body["crawl_delay_s"] is None
    robots = [dict(body, host="h.ex.com")]
    cfg = osched.CrawlConfig(round_budget_s=3.0, max_rounds=1)
    res = osched.run_oracle(
        ["http://h.ex.com/a", "http://h.ex.com/x/deny"], {}, robots, cfg
    )
    assert any("h.ex.com/a" in u for u in res.seen)
    assert not any("/x/deny" in u for u in res.seen)
