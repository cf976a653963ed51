"""Single-threaded pure-Python reference crawl scheduler — the oracle.

This is the executable SPEC of one scheduling round. The Spark job in
``cc_dbp_spark.operators.frontier`` must reproduce, for every round:

* the exact set and ORDER of scheduled URLs (crawl ordering),
* the final URL-seen set (first occurrence wins),
* span-sequence equality on every emitted document.

:func:`step` runs one round over a carried :class:`OracleState`
(frontier, seen, credit) and returns that round's rows in the Spark
round's shapes; :func:`run_oracle` is the loop over :func:`step`.

Semantics mirror the reference's deterministic-batch design (test
pattern: differential fast-vs-naive oracle,
``nlp/src/test/.../parse/TestGazetteerMatcher.java:65-136``):

Round r:
  1. candidates = seeds (r=0) or outlinks of docs fetched in r-1
     (kind='link' spans -> media_ref, depth = src_depth + 1).
  2. canonicalize; aggregate per canonical URL: depth=min,
     link_count=#occurrences; merge into carried frontier
     (depth=min, link_count+=new).
  3. drop URLs already in the seen set (exact membership, the
     reference's Set.contains semantics, CreateTsvDataset.java:64).
  4. robots filter (RFC-9309 longest-match): the longest matching
     prefix among deny+allow decides, ties -> allow, no match ->
     allowed; dropped = permanent.
  5. politeness: credit[host] += round_budget_s;
     k = floor(credit/delay); schedule top-k per host ordered by
     (priority DESC, pseudoRandomFromString(url) ASC, url ASC);
     credit -= scheduled*delay.
  6. scheduled URLs enter the seen set (round_seen=r) whether or not
     the fetch finds a document; fetched docs' outlinks feed r+1.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from cc_dbp_spark.functions.parity import pseudo_random_from_string
from cc_dbp_spark.functions.priority import priority_score
from cc_dbp_spark.functions.urlnorm import canonicalize_py, host_py, pathq_py
from cc_dbp_spark.operators.robots import is_allowed as robots_allowed


@dataclass
class CrawlConfig:
    round_budget_s: float = 10.0
    default_crawl_delay_s: float = 1.0
    max_rounds: int = 10


@dataclass
class OracleState:
    frontier: dict = field(default_factory=dict)  # url -> {depth, link_count, round_added}
    seen: dict = field(default_factory=dict)  # url -> round_seen
    credit: dict = field(default_factory=dict)  # host -> float
    schedule_log: list = field(default_factory=list)  # (round, position, url)
    audit: list = field(default_factory=list)  # per (round, host) dicts
    emitted: list = field(default_factory=list)  # (round, url, spans)


def _allowed(url: str, rules: dict) -> bool:
    # match on path INCLUDING query, mirroring the engine's pathq_col
    host, path = host_py(url), pathq_py(url)
    rule = rules.get(host)
    if rule is None:
        return True
    return robots_allowed(path, rule["deny_prefixes"], rule["allow_prefixes"])


@dataclass
class Round:
    """One round's outputs, in the Spark round's row shapes.

    flagged: the merged frontier rows before the robots filter, as
    (url, host, depth, link_count, round_added, denied);
    scheduled: (url, host, rank) in crawl order, rank 1-based per host;
    frontier: the carried rows left for later rounds, as
    (url, host, depth, link_count, round_added);
    outlinks: the next round's (raw_url, depth) candidates.
    """

    flagged: list
    scheduled: list
    frontier: list
    outlinks: list


def step(
    st: OracleState,
    candidates: list[tuple[str, int]],
    rnd: int,
    rules: dict[str, dict],
    cfg: CrawlConfig = CrawlConfig(),
    docs_by_url: dict[str, list[dict]] | None = None,
) -> Round:
    """Run round ``rnd`` over the carried state ``st`` (updated in place).

    candidates are (raw_url, depth) pairs; rules maps host -> robots
    row; docs_by_url maps canonical URL -> spans list (None: nothing is
    fetched, so nothing is emitted and there are no outlinks)."""
    docs_by_url = docs_by_url or {}
    # 1-2. canonicalize + aggregate
    agg: dict[str, dict] = {}
    for raw, depth in candidates:
        u = canonicalize_py(raw)
        a = agg.setdefault(u, {"depth": depth, "link_count": 0})
        a["depth"] = min(a["depth"], depth)
        a["link_count"] += 1
    if rnd == 0:
        for a in agg.values():
            a["link_count"] = 0  # seeds carry no in-links

    # 3. drop seen urls, merge the rest into the carried frontier
    for u, a in agg.items():
        if u in st.seen:
            continue
        f = st.frontier.get(u)
        if f is None:
            st.frontier[u] = {
                "depth": a["depth"],
                "link_count": a["link_count"],
                "round_added": rnd,
            }
        else:
            f["depth"] = min(f["depth"], a["depth"])
            f["link_count"] += a["link_count"]

    # 4. robots
    flagged = []
    by_host: dict[str, list[str]] = {}
    denied_by_host: dict[str, int] = {}
    for u, f in st.frontier.items():
        host = host_py(u)
        denied = not _allowed(u, rules)
        flagged.append((u, host, f["depth"], f["link_count"], f["round_added"], denied))
        if denied:
            denied_by_host[host] = denied_by_host.get(host, 0) + 1
        else:
            by_host.setdefault(host, []).append(u)
    for row in flagged:
        if row[-1]:
            del st.frontier[row[0]]

    # 5. politeness + priority top-k per host
    scheduled: list[tuple[str, str, int]] = []
    for host in sorted(set(by_host) | set(denied_by_host)):
        urls = by_host.get(host, [])
        delay = rules.get(host, {}).get("crawl_delay_s", cfg.default_crawl_delay_s)
        # a rules dict straight from parse_robots_body carries None
        # for missing/invalid Crawl-delay — substitute the default
        # exactly as the Spark round's politeness join
        # (frontier._with_politeness) does
        if delay is None or delay <= 0:
            delay = cfg.default_crawl_delay_s
        st.credit[host] = st.credit.get(host, 0.0) + cfg.round_budget_s
        k = int(math.floor(st.credit[host] / delay))
        if urls and k > 0:
            pr = priority_score(
                [st.frontier[u]["depth"] for u in urls],
                [st.frontier[u]["link_count"] for u in urls],
            )
            tie = pseudo_random_from_string(urls)
            order = sorted(
                range(len(urls)), key=lambda i: (-pr[i], tie[i], urls[i])
            )
            take = [urls[i] for i in order[:k]]
        else:
            take = []
        st.credit[host] -= len(take) * delay
        scheduled.extend((u, host, rank) for rank, u in enumerate(take, 1))
        st.audit.append(
            {
                "round": rnd,
                "host": host,
                "candidates": len(urls),
                "denied": denied_by_host.get(host, 0),
                "scheduled": len(take),
                "deferred": max(0, len(urls) - len(take)),
            }
        )

    # global deterministic order of the fetch batch:
    # host ASC already (sorted hosts), within host by the top-k order.
    for pos, (u, _, _) in enumerate(scheduled):
        st.schedule_log.append((rnd, pos, u))

    # 6. fetch + seen + outlinks
    outlinks: list[tuple[str, int]] = []
    for u, _, _ in scheduled:
        st.seen[u] = rnd
        spans = docs_by_url.get(u)
        depth = st.frontier.pop(u)["depth"]
        if spans is not None:
            st.emitted.append((rnd, u, spans))
            for s in spans:
                if s["kind"] == "link" and s["media_ref"]:
                    outlinks.append((s["media_ref"], depth + 1))

    frontier = [
        (u, host_py(u), f["depth"], f["link_count"], f["round_added"])
        for u, f in st.frontier.items()
    ]
    return Round(flagged, scheduled, frontier, outlinks)


def run_oracle(
    seeds: list[str],
    docs_by_url: dict[str, list[dict]],
    robots: list[dict],
    cfg: CrawlConfig = CrawlConfig(),
) -> OracleState:
    """Run the full crawl; docs_by_url maps canonical URL -> spans list."""
    rules = {r["host"]: r for r in robots}
    st = OracleState()
    candidates: list[tuple[str, int]] = [(u, 0) for u in seeds]  # (raw_url, depth)
    for rnd in range(cfg.max_rounds):
        r = step(st, candidates, rnd, rules, cfg, docs_by_url)
        candidates = r.outlinks
        if not r.scheduled and not candidates:
            break
    return st
