"""The benchmark's workloads: each runs the program's public API on the
generated input files, times it, and checks the result against the
reference (the pure-Python oracle or the generated documents).

``crawl`` serves ``frontier_bulk`` and ``crawl_graph``; ``harvest``
serves ``harvest_docs``. A rep returns its timings, its output sizes and
its (attempted, failed) operation counts; a failed operation is one that
raised or whose output disagreed with the reference.
"""

from __future__ import annotations

import dataclasses
import functools
import math
import pathlib
import shutil
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc_dbp_spark.functions.urlnorm import canonicalize_py, host_py, pathq_py
from cc_dbp_spark.operators import frontier, html, robots as robots_mod, spans
from cc_dbp_spark.oracle import scheduler as oracle
from cc_dbp_spark.sources import catalog, warc


@dataclasses.dataclass
class Inputs:
    """A workload's input files, registered as DataFrames."""

    dir: pathlib.Path
    candidates: DataFrame
    robots: DataFrame
    docs: DataFrame
    props: dict


def register(spark: SparkSession, in_dir: pathlib.Path, props: dict) -> Inputs:
    return Inputs(
        in_dir,
        spark.read.parquet(str(in_dir / "candidates.parquet")),
        spark.read.parquet(str(in_dir / "robots.parquet")),
        spark.read.parquet(str(in_dir / "docs.parquet")),
        props,
    )


@dataclasses.dataclass
class Rep:
    wall_s: float
    round_s: list[float]
    urls: int  # URLs handed to the frontier: scheduled, or harvested outlinks
    pages: int  # pages fetched (crawl) or stored (harvest)
    attempted: int
    failed: int
    detail: dict = dataclasses.field(default_factory=dict)


def _span_tuples(spans_list) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans_list or []]


# ---------------------------------------------------------------- reference

class Reference:
    """What the outputs of one workload's inputs must be, computed once
    per run from the input files with plain Python."""

    def __init__(self, in_dir: pathlib.Path, props: dict):
        self.props = props
        self.robots = pq.read_table(in_dir / "robots.parquet").to_pylist()
        self.rules = {r["host"]: r for r in self.robots}
        self.seeds = pq.read_table(in_dir / "candidates.parquet", columns=["url"]).column(0).to_pylist()
        self.docs_table = pq.read_table(in_dir / "docs.parquet").sort_by("doc_id")

    @functools.cached_property
    def docs(self) -> dict[str, list[dict]]:
        return dict(zip(self.docs_table["doc_id"].to_pylist(), self.docs_table["spans"].to_pylist()))

    @functools.cached_property
    def oracle_state(self) -> oracle.OracleState:
        return oracle.run_oracle(self.seeds, self.docs, self.robots, self.oracle_cfg())

    def oracle_cfg(self) -> oracle.CrawlConfig:
        return oracle.CrawlConfig(round_budget_s=self.props["round_budget_s"],
                                  max_rounds=self.props["max_rounds"])

    def k_of(self, host: str) -> int:
        """First-round politeness budget of ``host``."""
        cfg = oracle.CrawlConfig(round_budget_s=self.props["round_budget_s"])
        delay = (self.rules.get(host) or {}).get("crawl_delay_s") or cfg.default_crawl_delay_s
        return int(math.floor(cfg.round_budget_s / delay))

    def allowed(self, url: str) -> bool:
        rule = self.rules.get(host_py(url))
        return rule is None or robots_mod.is_allowed(pathq_py(url), rule["deny_prefixes"], rule["allow_prefixes"])


def round_problems(ref: Reference, schedule: list[tuple]) -> list[str]:
    """Invariants of one first round, checked on every scheduled row:
    canonical and unique URLs, positions 0..n-1, at most k per host, no
    robots-denied URL."""
    urls = [u for _, _, u in schedule]
    bad = []
    if any(canonicalize_py(u) != u for u in urls):
        bad.append("non-canonical url")
    if len(set(urls)) != len(urls):
        bad.append("duplicate url")
    if sorted(p for _, p, _ in schedule) != list(range(len(schedule))):
        bad.append("positions are not 0..n-1")
    per_host = Counter(host_py(u) for u in urls)
    if any(n > ref.k_of(h) for h, n in per_host.items()):
        bad.append("host over its budget k")
    if not all(ref.allowed(u) for u in urls):
        bad.append("robots-denied url scheduled")
    return bad


def oracle_mismatches(st: oracle.OracleState, schedule, emitted, seen) -> set[int]:
    """Rounds whose crawl order, emitted span sequences or seen entries
    differ from the oracle's."""
    bad = set()
    rounds = {r for r, _, _ in st.schedule_log} | {r for r, _, _ in schedule}
    for r in rounds:
        if [x for x in st.schedule_log if x[0] == r] != [x for x in schedule if x[0] == r]:
            bad.add(r)
        want = [(u, _span_tuples(s)) for rr, u, s in st.emitted if rr == r]
        if want != [(u, s) for rr, u, s in emitted if rr == r]:
            bad.add(r)
    for u in set(st.seen) ^ set(seen):
        bad.add(st.seen.get(u, seen.get(u)))
    bad.update(r for u, r in seen.items() if st.seen.get(u, r) != r)
    return bad


# -------------------------------------------------------------------- crawl

def crawl(spark: SparkSession, inp: Inputs, max_rounds: int,
          state_dir: pathlib.Path | None) -> tuple[Rep, list, list, dict]:
    """One ``CrawlDriver.run`` from the seeds, drained to the driver.
    Rounds end where the driver's per-round checkpoint call returns."""
    cfg = frontier.CrawlConfig(max_rounds=max_rounds)
    drv = frontier.CrawlDriver(spark, inp.robots, inp.docs, cfg, state_dir=state_dir)
    marks: list[float] = []
    ckpt = drv._ckpt

    def clocked(*args, **kwargs):
        ckpt(*args, **kwargs)
        marks.append(time.perf_counter())

    drv._ckpt = clocked
    t0 = time.perf_counter()
    out = drv.run(inp.candidates)
    schedule = [tuple(r) for r in out["schedule"].select("round", "position", "url").collect()]
    emitted = [(r["round"], r["url"], _span_tuples(r["spans"]))
               for r in out["emitted"].orderBy("round", "position").collect()]
    seen = {r["url"]: r["round_seen"] for r in out["state"]["seen"].collect()}
    wall = time.perf_counter() - t0
    schedule.sort()
    rounds = [b - a for a, b in zip([t0] + marks, marks)]
    rep = Rep(wall, rounds, len(schedule), len(emitted), attempted=len(rounds), failed=0)
    if state_dir is not None:
        rep.detail["ckpt_bytes"] = sum(f.stat().st_size for f in state_dir.rglob("*") if f.is_file())
    return rep, schedule, emitted, seen


def frontier_bulk_rep(spark, inp: Inputs, ref: Reference, work: pathlib.Path, st) -> Rep:
    """One round from an empty state, no state dir. Every scheduled row
    is checked for the round invariants, and the crawl order, seen set
    and emitted span sequences against the oracle's."""
    rep, schedule, emitted, seen = crawl(spark, inp, 1, None)
    problems = round_problems(ref, schedule)
    if oracle_mismatches(st, schedule, emitted, seen):
        problems.append("crawl order, seen set or emitted spans differ from the oracle's")
    rep.failed = 1 if problems else 0
    rep.detail["problems"] = problems
    return rep


def oracle_rep(spark, inp: Inputs, ref: Reference) -> Rep:
    """Oracle equality (crawl order, seen set, emitted span sequences) of
    a whole crawl without a state dir: the warm-up of ``crawl_graph``."""
    rep, schedule, emitted, seen = crawl(spark, inp, ref.props["max_rounds"], None)
    bad = oracle_mismatches(ref.oracle_state, schedule, emitted, seen)
    rep.failed = len(bad)
    rep.detail["mismatched_rounds"] = sorted(bad)
    return rep


def crawl_graph_rep(spark, inp: Inputs, ref: Reference, work: pathlib.Path, st) -> Rep:
    state_dir = work / "crawl_state"
    shutil.rmtree(state_dir, ignore_errors=True)
    rep, schedule, emitted, seen = crawl(spark, inp, ref.props["max_rounds"], state_dir)
    bad = oracle_mismatches(st, schedule, emitted, seen)
    rep.attempted = max(rep.attempted, len({r for r, _, _ in st.schedule_log}))
    rep.failed = len(bad)
    rep.detail["mismatched_rounds"] = sorted(bad)
    shutil.rmtree(state_dir, ignore_errors=True)
    return rep


# ------------------------------------------------------------------ harvest

def harvest(spark: SparkSession, warc_dir: pathlib.Path, root: pathlib.Path) -> tuple[int, int]:
    """WARC files -> records -> span documents -> committed ``pages`` and
    ``outlinks`` tables. Returns (pages stored, outlinks stored)."""
    files = spark.read.format("binaryFile").load(str(warc_dir)).select(
        F.col("path").alias("src"), F.col("content").alias("payload"))
    recs = warc.warc_records(files).filter(F.col("record_ndx") >= 0).select(
        "url", F.col("body").alias("payload"))
    docs = spans.sort_spans(html.html_to_documents(recs)).select("doc_id", "spans")
    tables = catalog.ParquetManifestTables(root)
    tables.append("pages", docs)
    tables.append("outlinks", spans.outlink_edges(tables.load(spark, "pages")))
    return tables.load(spark, "pages").count(), tables.load(spark, "outlinks").count()


def page_mismatches(got: pa.Table, want: pa.Table) -> int:
    """Generated documents whose stored page is missing or whose span
    sequence (kind, text, media_ref, offset, in order) differs."""
    got = got.select(["doc_id", "spans"]).sort_by("doc_id")
    if got["doc_id"].equals(want["doc_id"]) and got["spans"].cast(want["spans"].type).equals(want["spans"]):
        return 0
    stored = dict(zip(got["doc_id"].to_pylist(), got["spans"].to_pylist()))
    return sum(_span_tuples(stored.get(d)) != _span_tuples(s) or d not in stored
               for d, s in zip(want["doc_id"].to_pylist(), want["spans"].to_pylist()))


def harvest_docs_rep(spark, inp: Inputs, ref: Reference, work: pathlib.Path) -> Rep:
    root = work / "catalog"
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    n_pages, n_links = harvest(spark, inp.dir / "warc", root)
    wall = time.perf_counter() - t0
    got = catalog.ParquetManifestTables(root).load(spark, "pages").toArrow()
    failed = page_mismatches(got, ref.docs_table)
    kinds = pc.list_flatten(ref.docs_table["spans"]).combine_chunks().field("kind")
    want_links = pc.sum(pc.equal(kinds, "link")).as_py()
    if n_links != want_links or n_pages != ref.docs_table.num_rows:
        failed += 1
    shutil.rmtree(root, ignore_errors=True)
    return Rep(wall, [wall], n_links, n_pages, attempted=ref.docs_table.num_rows, failed=failed,
               detail={"outlinks": n_links, "want_outlinks": want_links})
