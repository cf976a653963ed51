"""Seeded input generator for the three benchmark workloads.

One entry point, :func:`generate`, writes a workload's input files into a
directory; the same (workload, seed, scale) always yields byte-identical
files. The program under test only ever sees these files.

Files (every workload gets the same layout, sized per workload):

* ``candidates.parquet`` ``(url string, depth int)`` -- raw, non-canonical
  candidate/seed URLs; every canonicalizer rule appears.
* ``robots.parquet`` -- per-host allow/deny rules and crawl delay: one host
  denied outright, hot hosts partly denied with a short crawl delay, one
  longest-match allow override and one wildcard rule.
* ``docs.parquet`` ``(doc_id, spans array<struct<kind,text,media_ref,offset>>)``
  -- interleaved span documents keyed by canonical URL; ``link`` spans form
  the crawl graph.
* ``warc/part-NNNNN.warc.gz`` -- the documents (the first ``warc_pages`` of
  them) rendered as HTML pages inside gzip WARC files, a request and a
  response record per page.

Candidate URLs are seeds, so all have depth 0 (the oracle's contract).
"""

from __future__ import annotations

import bisect
import dataclasses
import gzip
import html as _html
import itertools
import json
import pathlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclasses.dataclass(frozen=True)
class Spec:
    """Input properties of one workload (recorded in ``props.json``)."""

    n_candidates: int  # raw candidate URLs (the crawl's seeds)
    n_hosts: int
    hot_hosts: int
    hot_share: float  # share of candidate URLs (and docs) on the hot hosts
    n_docs: int  # span documents
    link_fanout: int  # mean link spans per document
    doc_link_share: float  # share of doc links that hit another document
    media_share: float  # share of non-link blocks that are media spans
    round_budget_s: float
    hot_delay_s: float  # crawl delay of the hot hosts (k = budget / delay)
    max_rounds: int
    warc_pages: int  # documents rendered to WARC (0: all of them)
    pages_per_warc: int


SPECS = {
    "frontier_bulk": Spec(
        n_candidates=120_000, n_hosts=1000, hot_hosts=3, hot_share=0.30,
        n_docs=15_000, link_fanout=2, doc_link_share=0.5, media_share=0.1,
        round_budget_s=10.0, hot_delay_s=0.5, max_rounds=1,
        warc_pages=500, pages_per_warc=500,
    ),
    "crawl_graph": Spec(
        n_candidates=300, n_hosts=300, hot_hosts=3, hot_share=0.30,
        n_docs=3_000, link_fanout=5, doc_link_share=0.8, media_share=0.1,
        round_budget_s=10.0, hot_delay_s=0.1, max_rounds=3,
        warc_pages=500, pages_per_warc=500,
    ),
    "harvest_docs": Spec(
        n_candidates=2_000, n_hosts=300, hot_hosts=3, hot_share=0.30,
        n_docs=8_000, link_fanout=4, doc_link_share=0.8, media_share=0.0,
        round_budget_s=10.0, hot_delay_s=0.5, max_rounds=1,
        warc_pages=0, pages_per_warc=500,
    ),
}


def scaled(spec: Spec, scale: float) -> Spec:
    """Spec with every size multiplied by ``scale`` (smoke tests and the
    reduced oracle instance)."""
    if scale == 1.0:
        return spec
    return dataclasses.replace(
        spec,
        n_candidates=max(60, int(spec.n_candidates * scale)),
        n_hosts=max(12, int(spec.n_hosts * min(1.0, scale * 4))),
        n_docs=max(60, int(spec.n_docs * scale)),
        warc_pages=spec.warc_pages and max(20, int(spec.warc_pages * scale)),
        pages_per_warc=max(20, int(spec.pages_per_warc * scale)),
    )


WORDS = (
    "the data spark crawl frontier host link page fetch queue index text media "
    "image title robot delay budget span offset batch round seed graph url "
    "café naïve straße 東京 データ"
).split()
SEGMENTS = ("a", "b", "item", "doc", "news", "p")

SPAN_STRUCT = pa.struct([
    pa.field("kind", pa.string()),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32()),
])
DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.string()), pa.field("spans", pa.list_(SPAN_STRUCT))])
CAND_SCHEMA = pa.schema([pa.field("url", pa.string()), pa.field("depth", pa.int32())])
ROBOTS_SCHEMA = pa.schema([
    pa.field("host", pa.string()),
    pa.field("allow_prefixes", pa.list_(pa.string())),
    pa.field("deny_prefixes", pa.list_(pa.string())),
    pa.field("crawl_delay_s", pa.float64()),
])


# --------------------------------------------------------------------- hosts

def _hosts(rng: np.random.Generator, spec: Spec) -> tuple[list[str], np.ndarray, np.ndarray]:
    """(host names, sampling weights, https flag). Names carry a seeded
    token; the count and the hot share are fixed by the spec."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    tok = ["".join(letters[rng.integers(0, 26, 3)]) for _ in range(spec.n_hosts)]
    names = [
        (f"hot{i}-{tok[i]}.example.com" if i < spec.hot_hosts else f"{tok[i]}{i}.example.org")
        for i in range(spec.n_hosts)
    ]
    w = np.empty(spec.n_hosts)
    w[: spec.hot_hosts] = spec.hot_share / spec.hot_hosts
    cold = rng.uniform(0.5, 1.5, spec.n_hosts - spec.hot_hosts)
    w[spec.hot_hosts:] = (1.0 - spec.hot_share) * cold / cold.sum()
    https = rng.random(spec.n_hosts) < 0.25
    return names, w, https


def _robots(hosts: list[str], spec: Spec) -> list[dict]:
    """Rule roles sit at fixed host indices so every seed has them."""
    rows = []
    for i, h in enumerate(hosts):
        allow, deny, delay = [], [], 1.0
        if i < spec.hot_hosts:
            deny, delay = ["/b"], spec.hot_delay_s
        elif i == spec.hot_hosts:  # the robots-denied host
            deny = ["/"]
        elif i == spec.hot_hosts + 1:  # longest-match allow beats the deny
            deny, allow = ["/doc"], ["/doc/1"]
        elif i == spec.hot_hosts + 2:  # REP wildcard + end anchor
            deny = ["/*?q=3$"]
        elif i == spec.hot_hosts + 3:  # slow host: k = 1
            delay = 10.0
        rows.append({"host": h, "allow_prefixes": allow, "deny_prefixes": deny, "crawl_delay_s": delay})
    return rows


def _canonical(host: str, https: bool, pid: int) -> str:
    """Canonical URL of path id ``pid`` on ``host`` (pid 0 is the root)."""
    scheme = "https" if https else "http"
    if pid == 0:
        return f"{scheme}://{host}/"
    seg = SEGMENTS[pid % len(SEGMENTS)]
    q = f"?q={pid % 7}" if pid % 5 == 0 else ""
    return f"{scheme}://{host}/{seg}/{pid}{q}"


def _render(canon: str, host: str, https: bool, rule: int) -> str:
    """A raw spelling of ``canon`` exercising one canonicalizer rule."""
    scheme = "https" if https else "http"
    rest = canon[len(scheme) + 3 + len(host):]  # path + query
    root = rest == "/"
    if rule == 1:
        return scheme.upper() + canon[len(scheme):]
    if rule == 2:
        return f"{scheme}://{host.upper()}{rest}"
    if rule == 3:
        return f"{scheme}://{host}:{443 if https else 80}{rest}"
    if rule == 4:
        return canon + "#frag" + str(len(rest) % 10)
    if rule == 5:
        return f"{scheme}://{host}" if root else (canon if "?" in rest else canon + "/")
    if rule == 6:
        return f"{scheme}://{host}/{rest}"  # doubled leading slash
    if rule == 7 and not https:
        return canon[len("http://"):]  # no scheme
    if rule == 8:
        return "\t " + canon + " \n"
    return canon


# --------------------------------------------------------------- candidates

def _candidates(rng, spec, hosts, weights, https) -> tuple[list[dict], list[str]]:
    """Raw candidate rows plus the list of distinct canonical URLs."""
    n = spec.n_candidates
    h = rng.choice(len(hosts), size=n, p=weights)
    # per-host path-id range ~0.6x the host's expected count: about half of
    # the raw rows are canonical duplicates of another row
    cap = np.maximum(1, np.round(0.6 * n * weights)).astype(np.int64)
    pid = (rng.random(n) * cap[h]).astype(np.int64)
    rule = rng.integers(0, 9, n)
    rows, canon_of = [], {}
    for hi, p, r in zip(h.tolist(), pid.tolist(), rule.tolist()):
        key = (hi, p)
        c = canon_of.get(key)
        if c is None:
            c = canon_of[key] = _canonical(hosts[hi], bool(https[hi]), p)
        rows.append({"url": _render(c, hosts[hi], bool(https[hi]), r), "depth": 0})
    return rows, sorted(set(canon_of.values()))


# --------------------------------------------------------------------- docs
# A document is a list of blocks ``(kind, text, href, inline)``; ``inline``
# is None or ``(kind, start, text, href)`` -- a link or bold run inside a
# paragraph. Spans (:func:`spans_of`) and HTML (:func:`page_html`) both
# derive from the blocks, so the extractor's expected output is exact.

def _words(r: random.Random, k: int) -> str:
    return " ".join(r.choices(WORDS, k=k))


def _link_target(r: random.Random, spec, urls, hosts, cum, https) -> str:
    """Raw spelling of a link target: a document URL with probability
    ``doc_link_share``, else a URL off the document set."""
    if r.random() < spec.doc_link_share:
        tgt = urls[r.randrange(len(urls))]
    else:
        hi = bisect.bisect_right(cum, r.random() * cum[-1])
        tgt = _canonical(hosts[hi], bool(https[hi]), r.randrange(1, 1 << 19))
    host = tgt.split("/")[2]
    return _render(tgt, host, tgt.startswith("https"), r.randrange(9)).strip()


def _docs(rng, spec, hosts, weights, https, pool: list[str]) -> list[dict]:
    """``n_docs`` documents keyed by canonical URL. Half the doc URLs are
    drawn from ``pool`` (so candidates hit documents), the rest are fresh.
    Per-block draws use a ``random.Random`` seeded from ``rng``: scalar
    numpy draws cost ~20x more per call."""
    n = spec.n_docs
    take = min(n // 2, len(pool))
    urls = [pool[i] for i in sorted(rng.choice(len(pool), size=take, replace=False).tolist())] if take else []
    have = set(urls)
    cum = list(itertools.accumulate(weights.tolist()))
    r = random.Random(int(rng.integers(1 << 62)))
    next_pid = 1 << 20  # fresh path ids never collide with candidate ids
    while len(urls) < n:
        hi = min(bisect.bisect_right(cum, r.random() * cum[-1]), len(hosts) - 1)
        u = _canonical(hosts[hi], bool(https[hi]), next_pid)
        next_pid += 1
        if u not in have:
            have.add(u)
            urls.append(u)
    docs = []
    for u in urls:
        blocks = [("title", _words(r, 3), None, None)]
        n_links = r.randrange(2 * spec.link_fanout + 1)
        n_blocks = n_links + r.randrange(2, 6)
        link_slots = set(r.sample(range(n_blocks), n_links))
        for b in range(n_blocks):
            x = r.random()
            if b in link_slots:
                href = _link_target(r, spec, urls, hosts, cum, https)
                if x < 0.5:  # standalone anchor block
                    blocks.append(("link", _words(r, 2), href, None))
                else:  # anchor inside a paragraph
                    pre, anc, post = _words(r, 3), _words(r, 2), _words(r, 3)
                    blocks.append(("paragraph", f"{pre} {anc} {post}", None,
                                   ("link", len(pre) + 1, anc, href)))
            elif x < spec.media_share:
                ref = f"http://{hosts[r.randrange(len(hosts))]}/media/img{r.randrange(1000)}.jpg"
                blocks.append(("media", "", ref, None))
            elif x < 0.3:
                blocks.append(("section_header", _words(r, r.randrange(1, 4)), None, None))
            elif x < 0.5:  # bold run inside a paragraph
                pre, bold, post = _words(r, 2), _words(r, 2), _words(r, 4)
                blocks.append(("paragraph", f"{pre} {bold} {post}", None,
                               ("text_formatting", len(pre) + 1, bold, None)))
            else:
                blocks.append(("paragraph", _words(r, r.randrange(5, 16)), None, None))
        docs.append({"doc_id": u, "blocks": blocks})
    return docs


def spans_of(blocks) -> list[dict]:
    """Offset-sorted spans of a document, by the HTML extractor's offset
    rule: title at 0, body from len(title)+2, each block advancing by
    len(text)+1, an inline run at its block offset plus its start."""
    spans, off = [], 0
    for kind, text, href, inline in blocks:
        if kind == "title":
            spans.append({"kind": kind, "text": text, "media_ref": None, "offset": 0})
            off = len(text) + 2
            continue
        spans.append({"kind": kind, "text": text, "media_ref": href, "offset": off})
        if inline is not None:
            ik, start, frag, ih = inline
            spans.append({"kind": ik, "text": frag, "media_ref": ih, "offset": off + start})
        off += len(text) + 1
    return spans


# ---------------------------------------------------------------- rendering

def page_html(blocks) -> str:
    esc = _html.escape
    body = []
    for kind, text, href, inline in blocks[1:]:
        if kind == "link":
            body.append(f'<a href="{esc(href)}">{esc(text)}</a>')
        elif kind == "section_header":
            body.append(f"<h2>{esc(text)}</h2>")
        elif kind == "media":
            body.append(f'<img src="{esc(href)}">')
        elif inline is None:
            body.append(f"<p>{esc(text)}</p>")
        else:
            ik, start, frag, ih = inline
            run = f'<a href="{esc(ih)}">{esc(frag)}</a>' if ik == "link" else f"<b>{esc(frag)}</b>"
            body.append(f"<p>{esc(text[:start])}{run}{esc(text[start + len(frag):])}</p>")
    return (f'<html><head><meta charset="utf-8"><title>{esc(blocks[0][1])}</title></head>'
            "<body>\n" + "\n".join(body) + "\n</body></html>")


def _warc_record(warc_type: str, url: str | None, payload: bytes) -> bytes:
    head = [b"WARC/1.0", b"WARC-Type: " + warc_type.encode()]
    if url is not None:
        head.append(b"WARC-Target-URI: " + url.encode())
    head.append(b"Content-Length: " + str(len(payload)).encode())
    return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def write_warcs(docs: list[dict], out_dir: pathlib.Path, pages_per_file: int) -> int:
    """Render ``docs`` as HTML pages into gzip WARC files; returns the
    file count. Deterministic (gzip mtime pinned)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    n_files = 0
    for i in range(0, len(docs), pages_per_file):
        recs = [_warc_record("warcinfo", None, b"software: perfbench")]
        for d in docs[i: i + pages_per_file]:
            url = d["doc_id"]
            body = page_html(d["blocks"]).encode("utf-8")
            http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
                    b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body)
            recs.append(_warc_record("request", url, b"GET " + url.encode()))
            recs.append(_warc_record("response", url, http))
        data = gzip.compress(b"".join(recs), compresslevel=6, mtime=0)
        (out_dir / f"part-{n_files:05d}.warc.gz").write_bytes(data)
        n_files += 1
    return n_files


# --------------------------------------------------------------------- entry

def public_docs(docs: list[dict]) -> list[dict]:
    """``(doc_id, spans)`` rows of the documents table."""
    return [{"doc_id": d["doc_id"], "spans": spans_of(d["blocks"])} for d in docs]


def build(workload: str, seed: int, scale: float = 1.0):
    """In-memory inputs: (spec, candidates, robots, docs-with-render-keys)."""
    spec = scaled(SPECS[workload], scale)
    rng = np.random.default_rng([seed, sorted(SPECS).index(workload)])
    hosts, weights, https = _hosts(rng, spec)
    robots = _robots(hosts, spec)
    cands, canon = _candidates(rng, spec, hosts, weights, https)
    docs = _docs(rng, spec, hosts, weights, https, canon)
    return spec, cands, robots, docs


def generate(workload: str, seed: int, out_dir: str | pathlib.Path, scale: float = 1.0) -> dict:
    """Write the workload's input files under ``out_dir``; returns the
    input properties (also written to ``props.json``)."""
    out = pathlib.Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    spec, cands, robots, docs = build(workload, seed, scale)
    pq.write_table(pa.Table.from_pylist(cands, schema=CAND_SCHEMA), out / "candidates.parquet")
    pq.write_table(pa.Table.from_pylist(robots, schema=ROBOTS_SCHEMA), out / "robots.parquet")
    pq.write_table(pa.Table.from_pylist(public_docs(docs), schema=DOCS_SCHEMA), out / "docs.parquet")
    n_warc = write_warcs(docs[: spec.warc_pages or None], out / "warc", spec.pages_per_warc)
    props = dataclasses.asdict(spec) | {
        "workload": workload, "seed": seed, "scale": scale, "warc_files": n_warc,
    }
    (out / "props.json").write_text(json.dumps(props, sort_keys=True))
    return props
