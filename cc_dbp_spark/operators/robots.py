"""robots.txt parsing: raw fetched robots bodies -> the per-host rules
table the scheduler's politeness join consumes.

The reference has no robots handling at all (it downloads pre-crawled
WARC dumps, ``corpus/.../CommonCrawlConfig.java:24``); this is new
surface required by the north rule ("robots.txt rules + crawl-delay
budget"). Semantics follow the de-facto standard (REP, RFC 9309
subset):

* user-agent groups: a group applies if its ``User-agent`` matches the
  configured agent token (case-insensitive substring) or is ``*``; the
  MOST SPECIFIC matching groups win (longest agent token), ``*`` only
  when nothing else matches, and every group at the winning
  specificity MERGES (RFC 9309: duplicate 'User-agent: *' sections
  combine their rules).
* ``Disallow:`` / ``Allow:`` path prefixes collected per group; empty
  ``Disallow:`` means allow-all (contributes no prefix). Rule
  EVALUATION (in the scheduler's politeness join and the pure-Python
  oracle) is RFC-9309 longest-match: the most specific (longest)
  matching prefix among allow+deny decides; ties go to allow; a path
  matching neither list is allowed.
* ``Crawl-delay: N`` seconds (finite float; 'nan'/'inf' count as
  invalid); invalid/missing -> null (the scheduler substitutes its
  default). With merged duplicate groups the first group's delay wins.
* unknown directives and comments (``# ...``) ignored.

Parsing is a ``mapInPandas`` batch over (host, body) rows — pure
string work, no per-row Python UDF calls — producing exactly the
``robots_rules`` schema the frontier joins by host:
``host, deny_prefixes array<string>, allow_prefixes array<string>,
crawl_delay_s double``.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

RULES_SCHEMA = (
    "host string, deny_prefixes array<string>, allow_prefixes array<string>, "
    "crawl_delay_s double"
)


def parse_robots_body(body: str, agent: str = "ccdbp") -> dict:
    """Parse ONE robots.txt body for the given agent token.

    Returns {"deny_prefixes": [...], "allow_prefixes": [...],
    "crawl_delay_s": float|None}. Pure function — it is both the
    executor kernel and the test oracle surface.
    """
    agent_l = agent.lower()
    # group -> (specificity, deny, allow, delay); build groups as we scan
    groups: list[dict] = []
    cur: dict | None = None
    last_was_agent = False
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if cur is None or not last_was_agent:
                cur = {"agents": [], "deny": [], "allow": [], "delay": None}
                groups.append(cur)
            cur["agents"].append(val.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if cur is None:
            continue  # directives before any User-agent line: ignored
        if key == "disallow":
            if val:
                cur["deny"].append(val)
        elif key == "allow":
            if val:
                cur["allow"].append(val)
        elif key == "crawl-delay":
            try:
                delay = float(val)
            except ValueError:
                continue
            # float('nan')/'inf' parse but evade every downstream
            # <=0/null validation (NaN <= 0 is false), silently starving
            # the host; treat web-controlled non-finite values as invalid
            if math.isfinite(delay):
                cur["delay"] = delay

    # specificity per group, then MERGE every group at the winning
    # specificity: RFC 9309 requires rules from duplicate matching
    # groups (two 'User-agent: *' sections) to combine — first-wins
    # silently discarded the later sections' rules, a politeness
    # violation on exactly the surface the north rule targets
    best_spec = -1
    for g in groups:
        g["spec"] = -1
        for a in g["agents"]:
            if a == "*":
                spec = 0
            elif a and a in agent_l:
                # the group token must be contained in OUR agent token;
                # the reverse ("ccdbp-mobile" matching agent "ccdbp")
                # would select rules meant for a different crawler.
                spec = len(a)
            else:
                continue
            g["spec"] = max(g["spec"], spec)
        best_spec = max(best_spec, g["spec"])
    if best_spec < 0:
        return {"deny_prefixes": [], "allow_prefixes": [], "crawl_delay_s": None}
    deny: list[str] = []
    allow: list[str] = []
    delay_out: float | None = None
    for g in groups:
        if g["spec"] == best_spec:
            deny.extend(g["deny"])
            allow.extend(g["allow"])
            if delay_out is None:
                delay_out = g["delay"]
    return {
        "deny_prefixes": deny,
        "allow_prefixes": allow,
        "crawl_delay_s": delay_out,
    }


def _rule_matches(path: str, pattern: str) -> bool:
    """RFC-9309 rule matching incl. the `*` (any run) and trailing `$`
    (end anchor) wildcards; a plain pattern is a prefix match."""
    import re as _re

    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = ".*".join(_re.escape(seg) for seg in body.split("*"))
    # DOTALL + \Z so `*` spans newlines and the anchor is exact, matching
    # the Spark-side LIKE translation (`%` spans every char; LIKE anchors
    # at the true end of string, not before a trailing '\n')
    rx = rx + r"\Z" if anchored else rx
    return _re.match(rx, path, _re.DOTALL) is not None


def is_allowed(path: str, deny_prefixes: list[str], allow_prefixes: list[str]) -> bool:
    """RFC-9309 longest-match rule evaluation (pure-Python twin of the
    scheduler's native expressions in ``frontier.translate_robots`` and
    ``frontier._with_politeness``): the
    most specific (longest, by pattern octet length) matching rule
    wins; equal lengths -> allow; no match on either list -> allowed.
    Patterns may carry `*` and trailing `$` wildcards."""
    best_deny = max((len(d) for d in deny_prefixes or [] if _rule_matches(path, d)), default=-1)
    best_allow = max((len(a) for a in allow_prefixes or [] if _rule_matches(path, a)), default=-1)
    return best_allow >= best_deny


def parse_robots(bodies: DataFrame, agent: str = "ccdbp",
                 host_col: str = "host", body_col: str = "body") -> DataFrame:
    """(host, body) rows -> robots_rules table (RULES_SCHEMA).

    One Arrow batch per partition chunk; the per-body kernel is
    :func:`parse_robots_body` (shared with the tests' oracle checks).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            parsed = [parse_robots_body(b, agent) for b in pdf[body_col].fillna("")]
            yield pd.DataFrame(
                {
                    "host": pdf[host_col].to_numpy(),
                    "deny_prefixes": [p["deny_prefixes"] for p in parsed],
                    "allow_prefixes": [p["allow_prefixes"] for p in parsed],
                    "crawl_delay_s": [p["crawl_delay_s"] for p in parsed],
                }
            )

    return bodies.select(host_col, body_col).mapInPandas(run, RULES_SCHEMA)
