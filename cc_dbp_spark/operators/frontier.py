"""URL-frontier + fetch scheduler — one scheduling round as declarative
DataFrame ops (the north-rule pipeline):

    canonicalize -> membership-test -> dedupe -> politeness-bucket
    -> top-k per host -> fetch batch -> outlinks -> state update

A round is not one Spark job. Under AQE, ``localCheckpoint(eager=False)``
runs the shuffle and broadcast stages upstream of it when it is called,
so every checkpoint is a driver barrier and every exchange its own small
job. A first round on 4 cores runs 13 jobs: :func:`run_round`
checkpoints the flagged rows, the per-host rank, ONE per-host table
(audit, credit and fetch-order offsets all derive from it; the offsets
are one running sum over it) and the fetched rows;
:func:`advance_round_state` checkpoints the credit and filter tables
and runs one count job. Every other output is a narrow
projection of those checkpoints. With a state dir,
:meth:`CrawlDriver.step` then writes the carried frontier, credit and
filter snapshot and the round's fetch batch, audit and next
candidates: O(frontier + filter + round outputs) per round. The seen
set is not written, since it is the union of the fetch batches.

Politeness is one per-host table (:func:`_with_politeness`: robots
rules, crawl delay, credit and the budget k), broadcast-joined once per
round after the merge-dedupe, so the robots flag is evaluated once per
unique url and does not ride the shuffle. Its robots half is translated
once per crawl (:func:`translate_robots`, in :class:`CrawlDriver`).

Semantics are defined by the pure-Python oracle
(:mod:`cc_dbp_spark.oracle.scheduler`); differential tests assert the
schedule order, seen set, and emitted span sequences match exactly.

Scale design (10^10-URL frontier, SURVEY.md §7):
* everything is DataFrame ops — scans prune columns, filters push down,
  joins are broadcast where one side is per-host metadata;
* the seen set is ``(url, round_seen)``, and the seen test is one call
  (:meth:`.filters.SeenFilter.unseen`): the filter module hashes the
  urls, pre-checks them against the carried filter snapshot and
  confirms the filter-positive ones with an exact left-anti join, so
  the decision stays exact; the round carries only the snapshot;
* per-host top-k uses two-phase salted windows for hot hosts — the
  reference's gsplits skew pattern (detect ``RelexTsvDataset.java:100-118``,
  salt D5 ``RelexMention.java:127-132``) applied to hosts, because AQE
  does not fix skewed window/collect groups;
* per-round state (frontier/credit/filter/audit, and the fetch batches
  the seen set is rebuilt from) checkpoints to parquet
  snapshots -> resumable from any round (the reference's output-exists
  resume, ``spark/.../RelexBuildDataset.java:72-93``).

Python in the round runs only in the cuckoo filter's kernels (its
cogrouped update and probe in :mod:`.filters`); the
bloom filter, priority, tie draw and salt are native columns, and every
other expression is JVM/codegen.

Scale deployment notes (10^10 frontier, 1000 executors):
* per-round costs are O(candidates) + O(filter-positive confirm): the
  membership filters update incrementally from newly-scheduled urls
  (never rebuilt from the seen set) and the whole schedule derives from
  ONE (host, salt)-keyed shuffle of the round's rows;
* the one remaining O(seen) touchpoint is the exact confirm anti-join
  for filter-positive candidates. In deployment the seen table should
  be a bucketed+sorted-by-url table (Iceberg or Hive-bucketed parquet,
  append-only: one new file per bucket per round): the anti-join then
  shuffles only the filter-positive rows and streams each seen bucket once,
  with no exchange of the seen side. This layout is IMPLEMENTED and
  plan-asserted in-session (``plans/layout.write_bucketed_snapshot`` +
  ``bucketed_anti_join``; tests/test_serde_layout_streaming asserts
  exactly one Exchange — the candidate side); pass the bucketed table
  scan as ``state["seen"]`` to use it in the round loop. The sandbox's
  in-memory catalog cannot persist bucket metadata across sessions, so
  cross-session checkpoints remain plain parquet and the confirm relies
  on the filters keeping the positives few (fpr * candidates + re-links).
"""

from __future__ import annotations

import dataclasses
import json
import pathlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cc_dbp_spark.functions import parity
from cc_dbp_spark.functions import urlnorm
from cc_dbp_spark.functions.urlnorm import pathq_col, with_canonical
from cc_dbp_spark.operators import filters as flt
from cc_dbp_spark.session import empty_df


@dataclasses.dataclass
class CrawlConfig:
    round_budget_s: float = 10.0
    default_crawl_delay_s: float = 1.0
    max_rounds: int = 10
    # seen-set pre-check, one of filters.FILTER_KINDS: "bloom" | "cuckoo"
    # (advisory, prune-only) | "none"; filters.SeenFilter runs the seen test
    filter_kind: str = "bloom"
    bloom_capacity: int = 1 << 20
    bloom_fpr: float = 0.01
    bloom_partitions: int = 16

    def __post_init__(self):
        if self.filter_kind not in flt.FILTER_KINDS:
            raise ValueError(f"unknown filter_kind {self.filter_kind!r}")


FRONTIER_SCHEMA = "url string, host string, depth int, link_count bigint, round_added int"
FRONTIER_COLS = ("url", "host", "depth", "link_count", "round_added")
SEEN_SCHEMA = "url string, round_seen int"
CREDIT_SCHEMA = "host string, credit double"

# rows per salt split of a hot host: a host with more (sampled) raw rows
# gets ceil(rows / HOT_HOST_ROWS) splits in its top-k
HOT_HOST_ROWS = 5_000

# round-invariant placeholder for "added this round" inside the heavy
# scheduling stage (see _fused_schedule); always sorts above real rounds
_ROUND_SENTINEL = 2147483647


def priority_col(depth, link_count):
    """OPIC-style priority as a NATIVE column expression — IEEE-double
    identical to :func:`cc_dbp_spark.functions.priority.priority_score`
    (same op sequence: 1/(1+d) + 0.1*log1p(lc); differential-tested), so
    the hot path pays no Python runner for the priority."""
    return (
        F.lit(1.0) / (F.lit(1.0) + F.col(depth).cast("double"))
        + F.lit(0.1) * F.log1p(F.col(link_count).cast("double"))
    )


def empty_state(spark: SparkSession) -> dict:
    """Round-0 state as empty relations the optimizer can see, so a first
    round plans no scans of them and folds their joins and unions away.

    Every round state carries the same keys: the ``frontier``, ``seen``
    and ``credit`` tables, the seen-filter snapshot ``filter`` (``None``
    until a round builds one) and the row counts ``n_seen`` and
    ``n_frontier``, from which a round knows which of its tables are
    empty without running a job."""
    return {
        "frontier": empty_df(spark, FRONTIER_SCHEMA),
        "seen": empty_df(spark, SEEN_SCHEMA),
        "credit": empty_df(spark, CREDIT_SCHEMA),
        "filter": None,
        "n_seen": 0,
        "n_frontier": 0,
    }


def translate_robots(robots: DataFrame) -> DataFrame:
    """The robots table as politeness reads it: ``(host, __allow,
    __deny, crawl_delay_s)``, each rule a struct of its LIKE pattern,
    its length, the raw rule and a wildcard flag. A lazy projection (no
    job): :class:`CrawlDriver` builds it once per crawl and every round
    joins it through :func:`_with_politeness`."""
    # RFC-9309 longest-match: the most specific (longest, by pattern
    # octet length) matching rule among deny+allow decides; ties go to
    # allow; matching neither list (or no robots row at all) -> allowed.
    # Rules may carry the REP wildcards `*` (any run) and trailing `$`
    # (end anchor). Wildcard-free rules (the overwhelmingly common case)
    # evaluate as a plain StartsWith — a direct UTF8String prefix
    # compare, no pattern machinery at all. Only wildcard-bearing rules
    # go through SQL LIKE (metachars escaped, `*` -> `%`, `$` drops the
    # implicit trailing `%`); NOTE the LIKE pattern reaches the row as a
    # non-foldable column, so Spark compiles its regex per evaluation —
    # acceptable because only the rare wildcard rules pay it. The
    # translation itself runs once per rule on the broadcast (robots)
    # side. Matching runs against path INCLUDING query, as RFC-9309
    # requires. Pure-Python twin: robots.is_allowed / robots._rule_matches.
    def _like_rules(col_name: str):
        def to_struct(p):
            esc = F.replace(p, F.lit("\\"), F.lit("\\\\"))
            esc = F.replace(esc, F.lit("%"), F.lit("\\%"))
            esc = F.replace(esc, F.lit("_"), F.lit("\\_"))
            esc = F.replace(esc, F.lit("*"), F.lit("%"))
            pat = F.when(
                esc.endswith("$"), F.substring(esc, F.lit(1), F.length(esc) - 1)
            ).otherwise(F.concat(esc, F.lit("%")))
            wild = p.contains("*") | p.endswith("$")
            return F.struct(
                pat.alias("pat"), F.length(p).alias("len"),
                p.alias("raw"), wild.alias("wild"),
            )

        return F.transform(F.col(col_name), to_struct)

    return robots.select(
        "host",
        _like_rules("allow_prefixes").alias("__allow"),
        _like_rules("deny_prefixes").alias("__deny"),
        "crawl_delay_s",
    )


def _with_politeness(
    df: DataFrame, rules: DataFrame, credit: DataFrame, cfg: CrawlConfig
) -> DataFrame:
    """df (must carry url + host) + the host's politeness: a ``denied``
    flag, the crawl ``delay``, ``credit0`` (the carried credit after this
    round's accrual) and the round budget ``k = floor(credit0 / delay)``.

    ONE per-host table holds everything politeness reads: the robots
    ``rules`` of :func:`translate_robots` and the carried credit, over
    the hosts with a robots row or carried credit (a union + groupBy, so
    no join of the two and no distinct). It is broadcast-joined once.
    Hosts with no row get NULL rules, delay and credit, and the
    expressions below turn those into the defaults, so every host's
    budget comes from the one ``k`` expression (a bigint: unspent credit
    keeps growing on a long crawl)."""
    table = (
        rules.unionByName(credit.select("host", "credit"), allowMissingColumns=True)
        .groupBy("host")
        .agg(*(
            F.first(c, ignorenulls=True).alias(c)
            for c in ("__allow", "__deny", "crawl_delay_s", "credit")
        ))
    )
    j = df.withColumn("__path", pathq_col(F.col("url"))).join(
        F.broadcast(table), "host", "left"
    )

    def longest(col_name: str):
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.col(col_name),
                    lambda s: F.when(
                        F.when(s["wild"], F.like(F.col("__path"), s["pat"], F.lit("\\")))
                        .otherwise(F.col("__path").startswith(s["raw"])),
                        s["len"],
                    ).otherwise(F.lit(-1)),
                )
            ),
            F.lit(-1),
        )

    delay = F.when(
        F.col("crawl_delay_s").isNull()
        | F.isnan("crawl_delay_s")  # NaN evades <=0; robots.py
        | (F.col("crawl_delay_s") <= 0),  # rejects it, external
        F.lit(float(cfg.default_crawl_delay_s)),  # tables might not
    ).otherwise(F.col("crawl_delay_s"))
    credit0 = F.coalesce(F.col("credit"), F.lit(0.0)) + F.lit(float(cfg.round_budget_s))
    return j.select(
        *df.columns,
        (longest("__deny") > longest("__allow")).alias("denied"),
        delay.alias("delay"),
        credit0.alias("credit0"),
    ).withColumn("k", F.floor(F.col("credit0") / F.col("delay")))


def _raw_host_col(url: Column) -> Column:
    """Cheap native host approximation straight off the RAW url (no
    canonicalization): lowercased authority, port stripped. Used ONLY
    for hot-host detection, where miscounting a malformed url merely
    shifts a schedule-invariant split factor — so the detection scan
    never pays the canonicalizer."""
    u = F.substring_index(F.btrim(url, F.lit(urlnorm.TRIM_CHARS)), "#", 1)
    after = F.substring_index(u, "://", -1)  # full string when no scheme
    hp = F.substring_index(F.substring_index(after, "/", 1), "?", 1)
    return F.lower(F.substring_index(hp, ":", 1))


def _fused_schedule(
    candidates: DataFrame,
    frontier: DataFrame,
    seen: DataFrame,
    rules: DataFrame,
    credit: DataFrame,
    rnd: int,
    cfg: CrawlConfig,
    seen_nonempty: bool,
    frontier_nonempty: bool,
    filter_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Single-shuffle scheduling round:
    canonicalize -> seen-prune -> union frontier -> tie/salt ->
    repartition(host, salt) -> in-partition merge-dedupe -> politeness
    join (robots flag, delay, credit, k) -> in-partition exact rank ->
    checkpoint.

    Because host and salt are pure functions of the url, ONE hash
    repartition on (host, salt) co-locates every duplicate of a url AND
    completes each politeness group, so the url merge-dedupe runs as an
    exchange-free hash aggregation and the salted rank window follows in
    the same stage (HashPartitioning(host, salt) satisfies both
    operators' clustering requirement): the frontier is shuffled once
    per round, not once per url merge and rank window.

    Two per-host tables are broadcast-joined: the hot-host splits before
    the shuffle (the salt needs them) and the politeness table of
    :func:`_with_politeness` (over ``rules``, the robots table as
    :func:`translate_robots` returns it) after the dedupe, where the
    robots flag is evaluated once per unique url. The flag is a function
    of the url, so flagging after the dedupe is exact, and neither it
    nor the matched path rides the shuffle.
    Differential-tested against the pure-Python oracle's one-round
    :func:`cc_dbp_spark.oracle.scheduler.step` (flagged rows, schedule
    and carried frontier).

    The carried frontier merges through the same aggregation: frontier
    rows contribute their accumulated link_count / earliest round_added,
    candidate rows contribute 1 link each (0 in the seed round). The
    seen-set test applies to candidates only (frontier rows are unseen
    by invariant) and is :meth:`.filters.SeenFilter.unseen` against the
    carried ``filter_df`` snapshot, or against none: the filter is only
    a pre-check, so the answer is the same.

    Hot-host detection uses RAW (pre-dedupe) counts: the active-host set
    is dedupe-invariant, and salting never changes the schedule (it only
    balances partitions — test_salted_topk_equals_plain).

    Returns (flagged, scheduled, deferred): flagged is checkpointed
    with the legacy columns + (tie, salt, priority, k, delay, credit0,
    r1), where credit0 is the host's credit after this round's accrual;
    deferred holds the allowed rows that were not scheduled, in the
    frontier's columns.
    """
    canon = with_canonical(candidates, "url", out="url", host="host")

    contrib = F.lit(0 if rnd == 0 else 1).cast("bigint")  # seeds carry no in-links
    # round_added enters the HEAVY stage as a round-INVARIANT sentinel
    # (resolved to the real round number after the checkpoint): a
    # per-round literal here would change the whole-stage-codegen source
    # of the canonicalize/rank pipeline every round, forcing a Janino
    # recompile of the largest generated class per round (measured
    # seconds of fixed driver cost in the multi-round loop). min() in
    # the merge still picks the frontier's earlier round because the
    # sentinel sorts above every real round.
    cand_rows = canon.select(
        "url", "host", "depth",
        contrib.alias("lc_contrib"),
        F.lit(_ROUND_SENTINEL).alias("round_added"),
    )
    if seen_nonempty:
        cand_rows = flt.SeenFilter.of(cfg).unseen(cand_rows, seen, filter_df)

    if frontier_nonempty:
        all_rows = frontier.select(
            "url", "host", "depth",
            F.col("link_count").alias("lc_contrib"),
            "round_added",
        ).unionByName(cand_rows)
    else:
        all_rows = cand_rows

    # The frontier is scanned exactly ONCE per round (the main schedule
    # job): budgets derive from the politeness state tables alone
    # (:func:`_with_politeness`), and hot-host detection is a cheap
    # count over raw-url hosts below.
    # The previous design cached the canonicalized candidate set
    # (localCheckpoint) to share it between a budget/hot-stats pass and
    # the schedule job — at 10^10 urls that cache write is petabytes of
    # memory traffic per round, and it was the measured non-scaling
    # component of the whole round (cache build + GC does not speed up
    # with cores the way the CPU-bound canonicalize/rank pipeline does).

    # hot-host detection: raw-host counts over a deterministic 1-in-8
    # url-hash sample of candidates + carried frontier. Counts feed ONLY
    # num_splits (schedule-invariant partition balancing — the top-k is
    # bit-identical whatever the split factor), so both approximations
    # (skip the canonicalizer, estimate from a sample) are free; the
    # hash sample is partition-layout-independent, so the estimate is
    # stable across runs and cluster sizes. The hot table stays a
    # DataFrame consumed via a broadcast join, not a driver collect; its
    # aggregate and broadcast are two of the small jobs that run when
    # `flagged` is checkpointed (see run_round).
    _S = 8
    hot_src = (
        candidates.select("url")
        .unionByName(frontier.select("url"))
        if frontier_nonempty
        else candidates.select("url")
    )
    hot_df = (
        hot_src.filter(F.pmod(F.xxhash64("url"), F.lit(_S)) == 0)
        .select(_raw_host_col(F.col("url")).alias("host"))
        .groupBy("host")
        .agg((F.count("*") * _S).alias("n_raw"))
        .filter(F.col("n_raw") > HOT_HOST_ROWS)
        .select(
            "host",
            F.ceil(F.col("n_raw") / F.lit(HOT_HOST_ROWS)).cast("int").alias("num_splits"),
        )
    )
    src = all_rows.join(F.broadcast(hot_df), "host", "left")
    # tie: native bit-exact D1 draw (no Arrow round-trip on the hot
    # path). salt: schedule-invariant partition balancing — any
    # deterministic url->[0,num_splits) map yields the identical
    # schedule (test_salted_topk_equals_plain), so the native xxhash64
    # bucket replaces the JDK group-salt draw here; the parity draw
    # remains available as parity.group_salt for D5 consumers.
    src = src.select(
        "url", "host", "depth", "lc_contrib", "round_added",
        parity.pseudo_random_from_string_col(F.col("url")).alias("tie"),
        F.when(
            F.col("num_splits").isNull(), F.lit(0)
        ).otherwise(
            F.pmod(F.xxhash64("url"), F.col("num_splits")).cast("int")
        ).alias("salt"),
    )

    part = src.repartition("host", "salt")
    # merge-dedupe = hash aggregation with NO further exchange
    # (HashPartitioning(host, salt) satisfies the groupBy's clustering —
    # same url, same salt). tie is a function of the url, so first() is
    # exact. Frontier and candidate occurrences of a url merge here: min
    # depth, summed link contributions, earliest round_added.
    dedup = part.groupBy("host", "salt", "url").agg(
        F.min("depth").alias("depth"),
        F.sum("lc_contrib").alias("link_count"),
        F.min("round_added").alias("round_added"),
        F.first("tie").alias("tie"),
    )
    # the salted rank runs BEFORE the checkpoint (localCheckpoint does not
    # preserve partitioning, so a post-checkpoint window would re-shuffle).
    # Ordering denied-last keeps allowed rows' ranks identical to ranking
    # the allowed subset alone (false sorts before true).
    w1 = Window.partitionBy("host", "salt").orderBy(
        F.col("denied").asc(), F.col("priority").desc(),
        F.col("tie").asc(), F.col("url").asc(),
    )
    # the broadcast join keeps the aggregate's (host, salt) partitioning,
    # so the window adds no exchange
    flagged = (
        _with_politeness(dedup, rules, credit, cfg)
        .withColumn("priority", priority_col("depth", "link_count"))
        .withColumn("r1", F.row_number().over(w1))
    )
    flagged = flagged.localCheckpoint(eager=False)
    # resolve the round sentinel AFTER the checkpoint: this narrow
    # projection is the only per-round generated code on the heavy path
    flagged = flagged.withColumn(
        "round_added",
        F.when(F.col("round_added") == _ROUND_SENTINEL, F.lit(rnd)).otherwise(
            F.col("round_added")
        ),
    )

    # phase 2 exact per-host rank runs unconditionally: its input is the
    # per-(host, salt) top-k survivors (bounded by num_splits * k per
    # host), and for unsalted hosts it reproduces r1 exactly — one plan
    # for both regimes, no driver-side branch on hot detection.
    allowed = ~F.col("denied")
    in_split_topk = (F.col("k") > 0) & (F.col("r1") <= F.col("k"))
    order = [F.col("priority").desc(), F.col("tie").asc(), F.col("url").asc()]
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = (
        flagged.filter(allowed & in_split_topk)
        .withColumn("rank", F.row_number().over(w2))
        .drop("r1", "salt")
    )
    # O(schedule) rows, read by both outputs below: materialized once,
    # they make the next frontier a narrow union of checkpoints
    ranked = ranked.localCheckpoint(eager=False)
    scheduled = ranked.filter(F.col("rank") <= F.col("k"))
    # the allowed rows left for later rounds, without an anti-join of the
    # frontier against the schedule: rows outside their split's top-k,
    # plus split top-k rows that lost the per-host rank (hot hosts only)
    deferred = (
        flagged.filter(allowed & ~in_split_topk)
        .select(*FRONTIER_COLS)
        .unionByName(ranked.filter(F.col("rank") > F.col("k")).select(*FRONTIER_COLS))
    )
    return flagged, scheduled, deferred


def run_round(
    candidates: DataFrame,
    state: dict,
    rules: DataFrame,
    docs: DataFrame,
    rnd: int,
    cfg: CrawlConfig,
) -> dict:
    """Run one scheduling round over a complete round state (see
    :func:`empty_state`, whose counts say which tables are empty);
    returns the next state's tables + outputs.

    rules: the robots table as :func:`translate_robots` returns it.

    docs: the interleaved documents table
    (doc_id string, spans array<struct<kind,text,media_ref,offset>>).
    """
    frontier, seen, credit = state["frontier"], state["seen"], state["credit"]

    # Round jobs. Under AQE, localCheckpoint(eager=False) runs the shuffle
    # and broadcast stages upstream of it when it is CALLED; only the
    # final stage waits for the first action. Every checkpoint is
    # therefore a driver barrier. The round keeps four: `flagged` (inside
    # _fused_schedule: the hot-host and politeness aggregates and their
    # broadcasts, the seen-filter probe's join when a snapshot is
    # carried, the (host, salt) shuffle), `ranked` (the per-host
    # rank), the per-host table and `fetched` (the offsets window over
    # the per-host table, the docs broadcast).
    # Every other output is a narrow projection of them.
    flagged, scheduled, deferred = _fused_schedule(
        candidates, frontier, seen, rules, credit, rnd, cfg,
        state["n_seen"] > 0, state["n_frontier"] > 0,
        filter_df=state["filter"],
    )

    # ONE per-host aggregate feeds every O(hosts) output: the audit, the
    # credit update and the fetch-order offsets. Its host set is the
    # round's active set (hosts with allowed or denied rows), which is
    # where the oracle accrues credit. scheduled = min(allowed, k) is
    # exact because the round takes each host's top-k allowed rows.
    hosts = (
        flagged.groupBy("host")
        .agg(
            F.count(F.when(~F.col("denied"), 1)).alias("candidates"),
            F.count(F.when(F.col("denied"), 1)).alias("denied"),
            F.first("k").alias("k"),
            F.first("delay").alias("delay"),
            F.first("credit0").alias("credit0"),
        )
        .withColumn(
            "scheduled",
            F.least(F.col("candidates"), F.greatest(F.col("k"), F.lit(0))),
        )
    ).localCheckpoint(eager=False)

    # global deterministic crawl order: host ASC, per-host rank ASC.
    # position = host_offset + rank - 1, where host_offset is the running
    # sum of the scheduled counts of the hosts before it. The window runs
    # over `hosts`, one row per active host, never over the scheduled
    # rows: its single partition holds O(active hosts) rows.
    w_hosts = Window.orderBy("host").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = hosts.select(
        "host", F.coalesce(F.sum("scheduled").over(w_hosts), F.lit(0)).alias("host_offset")
    )

    # fetch = join against the documents table (sandbox stand-in for the
    # WARC fetch stage S3; real deployment swaps this seam for an HTTP
    # mapInPandas with retry columns, SaveCommonCrawlBase.java:90-202)
    fetched = (
        scheduled.join(F.broadcast(offsets), "host")
        .select(
            F.lit(rnd).alias("round"),
            (F.col("host_offset") + F.col("rank") - 1).cast("int").alias("position"),
            "url", "host", "depth", "link_count", "priority", "rank",
        )
        .alias("b")
        .join(docs.alias("d"), F.col("b.url") == F.col("d.doc_id"), "left")
        .select("b.*", F.col("d.spans").alias("spans"))
        .withColumn(
            "fetch_status",
            F.when(F.col("spans").isNotNull(), "fetched").otherwise("miss"),
        )
    ).localCheckpoint(eager=False)
    fetch_batch = fetched.drop("spans", "fetch_status")

    outlinks = (
        fetched.filter(F.col("fetch_status") == "fetched")
        .select("depth", F.explode("spans").alias("s"))
        .filter((F.col("s.kind") == "link") & F.col("s.media_ref").isNotNull())
        .select(F.col("s.media_ref").alias("url"), (F.col("depth") + 1).alias("depth"))
    )

    new_seen = seen.unionByName(fetch_batch.select("url", F.lit(rnd).alias("round_seen")))
    # filter-snapshot step: O(newly scheduled urls) per round. With no
    # carried snapshot (fresh start, or a resume from a checkpoint without
    # one) it is built from the updated seen set once; every later round
    # is incremental.
    new_filter = flt.SeenFilter.of(cfg).advance(state["filter"], new_seen, fetch_batch)

    new_credit_active = hosts.select(
        "host", (F.col("credit0") - F.col("scheduled") * F.col("delay")).alias("credit")
    )
    # broadcast like the round's other per-host joins: the carried credit
    # is a checkpoint without size statistics, so unhinted this plans as
    # a sort-merge join that AQE demotes only after shuffling both sides
    new_credit = credit.join(
        F.broadcast(new_credit_active.select("host")), "host", "left_anti"
    ).unionByName(new_credit_active)

    audit = hosts.select(
        F.lit(rnd).alias("round"),
        "host",
        "candidates",
        "denied",
        "scheduled",
        (F.col("candidates") - F.col("scheduled")).alias("deferred"),
    )

    return {
        "frontier": deferred,
        "seen": new_seen,
        "credit": new_credit,
        "filter": new_filter,
        "fetch_batch": fetch_batch,
        "emitted": fetched.filter(F.col("fetch_status") == "fetched").select(
            "round", "position", "url", "spans"
        ),
        "outlinks": outlinks,
        "audit": audit,
    }


def advance_round_state(out: dict, n_seen_prev: int) -> tuple[dict, dict]:
    """Turn a round's outputs (:func:`run_round`'s ``out``) into the next
    complete round state (the keys of :func:`empty_state`). Returns
    ``(new_state, counts)``; ``counts`` maps 'sched'/'out'/'frontier' to
    row counts, and is missing a key whose count is 0.

    Only the two wide state outputs are checkpointed: credit (an
    anti-join against the carried table) and the filter snapshot (a
    grouped aggregate). Under AQE each ``localCheckpoint(eager=False)`` runs
    its upstream shuffle stages when it is called, so each one is a
    barrier; their last stage runs in the next job that reads them.
    Every other output is a narrow projection of the round's own
    checkpoints (and of the carried seen set): batch, outlinks and seen
    of `fetched`, frontier of `flagged` and `ranked`. ONE fused
    tagged-union count job materializes them, and yields the batch,
    outlink and frontier counts together.
    """
    new_state = {
        "frontier": out["frontier"],
        "seen": out["seen"],
        "credit": out["credit"].localCheckpoint(eager=False),
        "filter": None if out["filter"] is None else out["filter"].localCheckpoint(eager=False),
    }
    union = (
        out["fetch_batch"].select(F.lit("sched").alias("k"))
        .unionByName(out["outlinks"].select(F.lit("out").alias("k")))
        .unionByName(new_state["frontier"].select(F.lit("frontier").alias("k")))
    )
    counts = dict(
        (r["k"], r["n"])
        for r in union.groupBy("k").agg(F.count("*").alias("n")).collect()
    )
    new_state["n_seen"] = n_seen_prev + counts.get("sched", 0)
    new_state["n_frontier"] = counts.get("frontier", 0)
    return new_state, counts


class CrawlDriver:
    """Round loop with parquet checkpointing + resume (the reference's
    output-exists resume pattern, RelexBuildDataset.java:72-93).

    ``state`` is the carried round state; :meth:`step` advances it by one
    round, for the batch loop (:meth:`run`) and the streaming seam
    (:class:`cc_dbp_spark.streaming.ingest.StreamingCrawl`) alike."""

    def __init__(
        self,
        spark: SparkSession,
        robots: DataFrame,
        docs: DataFrame,
        cfg: CrawlConfig,
        state_dir: str | pathlib.Path | None = None,
    ):
        self.spark = spark
        # the robots rules never change during a crawl: translated once
        self.rules = translate_robots(robots)
        self.docs = docs
        self.cfg = cfg
        self.state_dir = pathlib.Path(state_dir) if state_dir else None
        self.state = empty_state(spark)

    def step(self, candidates: DataFrame, rnd: int) -> tuple[dict, dict]:
        """Run round ``rnd`` over the carried state and the candidates;
        returns ``(out, counts)`` (see :func:`run_round` and
        :func:`advance_round_state`). ``out["outlinks"]`` are the next
        round's candidates."""
        # module globals, looked up per call so wrappers can time them
        out = run_round(candidates, self.state, self.rules, self.docs, rnd, self.cfg)
        # the checkpoints of the wide state tables truncate their lineage
        # (without them the logical plan grows per round and analysis
        # dominates runtime)
        self.state, counts = advance_round_state(out, self.state["n_seen"])
        self._ckpt(rnd, out)
        return out, counts

    def _ckpt(self, rnd: int, out: dict) -> None:
        """Write the round's state (the checkpointed tables of
        ``self.state``, never the pre-checkpoint plans, which would run a
        second time) and outputs, then the ``COMMIT`` marker. The seen
        set is not written: it is the union of the rounds' ``fetch_batch``
        tables, from which :meth:`resume_state` rebuilds it."""
        if self.state_dir is None:
            return
        d = self.state_dir / f"round_{rnd:04d}"
        d.mkdir(parents=True, exist_ok=True)
        st = self.state
        tables = {k: st[k] for k in ("frontier", "credit", "filter")}
        tables |= {k: out[k] for k in ("audit", "fetch_batch")}
        tables["next_candidates"] = out["outlinks"]
        for name, df in tables.items():
            # filter: None without a filter; resume reloads the snapshot
            # instead of rebuilding it from the seen set
            if df is not None:
                df.write.mode("overwrite").parquet(str(d / name))
        # the counters ride the commit marker so a resume restores them
        (d / "COMMIT").write_text(json.dumps(
            {"round": rnd, "n_seen": st["n_seen"], "n_frontier": st["n_frontier"]}
        ))

    def latest_checkpoint(self) -> int | None:
        if self.state_dir is None or not self.state_dir.exists():
            return None
        done = sorted(
            int(p.name.split("_")[1])
            for p in self.state_dir.glob("round_*")
            if (p / "COMMIT").exists()
        )
        return done[-1] if done else None

    def resume_state(self, rnd: int) -> tuple[dict, DataFrame]:
        d = self.state_dir / f"round_{rnd:04d}"
        state = {
            name: self.spark.read.parquet(str(d / name))
            for name in ("frontier", "credit")
        }
        # a url is seen in the round that fetched it
        state["seen"] = self.spark.read.parquet(*(
            str(self.state_dir / f"round_{i:04d}" / "fetch_batch") for i in range(rnd + 1)
        )).select("url", F.col("round").alias("round_seen"))
        state["filter"] = flt.SeenFilter.of(self.cfg).load(self.spark, d / "filter")
        commit = json.loads((d / "COMMIT").read_text())
        for key, table in (("n_seen", "seen"), ("n_frontier", "frontier")):
            # checkpoints written before a counter existed count its
            # table once (a counter restarting at 0 would undercount)
            state[key] = commit[key] if key in commit else state[table].count()
        return state, self.spark.read.parquet(str(d / "next_candidates"))

    def run(self, seeds: DataFrame, resume: bool = False):
        """Run rounds to completion; returns aggregate outputs dict."""
        start = 0
        if resume and (last := self.latest_checkpoint()) is not None:
            self.state, candidates = self.resume_state(last)
            start = last + 1
        else:
            self.state = empty_state(self.spark)
            candidates = seeds.select("url", F.col("depth").cast("int"))

        batches, audits, emitted = [], [], []
        for rnd in range(start, self.cfg.max_rounds):
            out, counts = self.step(candidates, rnd)
            candidates = out["outlinks"]
            # batch, audit and emitted project the round's checkpointed
            # per-host table and fetched rows: no checkpoint of their own
            batches.append(out["fetch_batch"])
            audits.append(out["audit"])
            emitted.append(out["emitted"])
            if counts.get("sched", 0) == 0 and counts.get("out", 0) == 0:
                break
        import functools

        if not batches:
            # resume target already complete: nothing left to schedule
            return {
                "schedule": empty_df(
                    self.spark,
                    "round int, position int, url string, host string, depth int, "
                    "link_count bigint, priority double, rank int",
                ),
                "audit": empty_df(
                    self.spark,
                    "round int, host string, candidates bigint, denied bigint, "
                    "scheduled bigint, deferred bigint",
                ),
                "emitted": empty_df(
                    self.spark,
                    "round int, position int, url string, spans array<struct<"
                    "kind:string,text:string,media_ref:string,offset:int>>",
                ),
                "state": self.state,
            }

        return {
            "schedule": functools.reduce(DataFrame.unionByName, batches),
            "audit": functools.reduce(DataFrame.unionByName, audits),
            "emitted": functools.reduce(DataFrame.unionByName, emitted),
            "state": self.state,
        }
