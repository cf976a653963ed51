"""Differential crawl tests: the Spark scheduling job must reproduce the
pure-Python oracle's crawl ordering, URL-seen set, and emitted span
sequences exactly (the TestGazetteerMatcher fast-vs-naive pattern,
nlp/src/test/.../TestGazetteerMatcher.java:65-136)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cc_dbp_spark.operators import frontier as fr
from cc_dbp_spark.oracle import scheduler as orc
from cc_dbp_spark.functions.urlnorm import canonicalize_py


@pytest.fixture(scope="module")
def oracle_result(fixture_tables):
    docs, seeds, robots = fixture_tables
    docs_by_url = {canonicalize_py(d["doc_id"]): d["spans"] for d in docs}
    cfg = orc.CrawlConfig(round_budget_s=3.0, max_rounds=4)
    return orc.run_oracle([s["url"] for s in seeds], docs_by_url, robots, cfg)


@pytest.fixture(scope="module")
def spark_result(spark, fixture_dir):
    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, max_rounds=4, filter_kind="bloom",
                         bloom_capacity=1 << 14, bloom_partitions=4)
    driver = fr.CrawlDriver(spark, robots, docs, cfg)
    return driver.run(seeds)


def test_crawl_order_matches_oracle(oracle_result, spark_result):
    got = [
        (r["round"], r["position"], r["url"])
        for r in spark_result["schedule"]
        .orderBy("round", "position")
        .select("round", "position", "url")
        .collect()
    ]
    want = oracle_result.schedule_log
    assert len(got) == len(want), (len(got), len(want))
    mism = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mism, mism[:10]


def test_seen_set_matches_oracle(oracle_result, spark_result):
    got = {
        r["url"]: r["round_seen"]
        for r in spark_result["state"]["seen"].select("url", "round_seen").collect()
    }
    assert got == oracle_result.seen


def test_emitted_spans_match_fixture(oracle_result, spark_result, fixture_tables):
    """Span-sequence equality (kind, text, media_ref, order) on every
    emitted document — the per-row invariant from input_hint."""
    docs, _, _ = fixture_tables
    fixture_spans = {canonicalize_py(d["doc_id"]): d["spans"] for d in docs}
    emitted = spark_result["emitted"].select("url", "spans").collect()
    want_urls = {u for _, u, _ in oracle_result.emitted}
    assert {r["url"] for r in emitted} == want_urls
    for r in emitted:
        want = [(s["kind"], s["text"], s["media_ref"]) for s in fixture_spans[r["url"]]]
        got = [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        assert got == want, r["url"]
        offsets = [s["offset"] for s in r["spans"]]
        assert offsets == sorted(offsets), r["url"]


def test_audit_consistency(oracle_result, spark_result):
    got = {
        (r["round"], r["host"]): (r["candidates"], r["denied"], r["scheduled"], r["deferred"])
        for r in spark_result["audit"].collect()
    }
    want = {
        (a["round"], a["host"]): (a["candidates"], a["denied"], a["scheduled"], a["deferred"])
        for a in oracle_result.audit
    }
    # Spark audit may omit rounds after termination; oracle logs identical rounds
    assert got == want


def test_credit_matches_oracle(oracle_result, spark_result):
    """The carried politeness credit, host by host: the round derives it
    from its per-host table as credit0 - scheduled * delay."""
    got = {r["host"]: r["credit"] for r in spark_result["state"]["credit"].collect()}
    assert got == oracle_result.credit


def _assert_crawl_equals_oracle(res, want):
    """A finished crawl's schedule order, seen set and carried credit
    equal the oracle's."""
    got = [
        (r["round"], r["position"], r["url"])
        for r in res["schedule"].orderBy("round", "position").collect()
    ]
    assert got == want.schedule_log
    st = res["state"]
    assert {r["url"]: r["round_seen"] for r in st["seen"].collect()} == want.seen
    assert {r["host"]: r["credit"] for r in st["credit"].collect()} == want.credit


def test_long_crawl_with_large_budget_matches_oracle(spark, fixture_dir):
    """Unspent credit grows round over round; with a large budget the
    per-host budget k = floor(credit0 / delay) passes the int range
    within a few rounds, and the crawl must carry it (the oracle has no
    bound) rather than fail on the cast."""
    import pyarrow.parquet as pq

    from cc_dbp_spark import fixtures

    fd = fixtures.write_fixtures(fixture_dir.parent / "n60", n_docs=60)
    names = ("documents_spans.parquet", "seeds.parquet", "robots_rules.parquet")
    docs, seeds, robots = (spark.read.parquet(str(fd / f)) for f in names)
    res = fr.CrawlDriver(
        spark, robots, docs, fr.CrawlConfig(round_budget_s=1e9, max_rounds=30)
    ).run(seeds)

    doc_rows, seed_rows, robot_rows = (pq.read_table(fd / f).to_pylist() for f in names)
    want = orc.run_oracle(
        [s["url"] for s in seed_rows],
        {canonicalize_py(d["doc_id"]): d["spans"] for d in doc_rows},
        robot_rows,
        orc.CrawlConfig(round_budget_s=1e9, max_rounds=30),
    )
    assert max(want.credit.values()) > 2**31  # the int range is passed
    _assert_crawl_equals_oracle(res, want)


@pytest.mark.parametrize("conf", [
    {"spark.sql.adaptive.enabled": "false"},
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.autoBroadcastJoinThreshold": "-1"},
], ids=["aqe-off", "shuffle-partitions-1", "no-broadcast-joins"])
def test_crawl_independent_of_session_settings(spark, fixture_dir, oracle_result, conf):
    """The schedule must not depend on how the round executes: with AQE
    off (no runtime join or partition rewrites), one shuffle partition
    (every host in one partition) or no automatic broadcast joins (the
    bloom probe's join shuffles both sides), the 4-round bloom fixture
    crawl still equals the oracle's."""
    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, max_rounds=4,
                         bloom_capacity=1 << 14, bloom_partitions=4)
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        res = fr.CrawlDriver(spark, robots, docs, cfg).run(seeds)
        _assert_crawl_equals_oracle(res, oracle_result)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


# jobs of one first fixture round (run_round + advance_round_state), as
# Spark's status tracker counts them: every exchange is its own job under
# AQE, and a localCheckpoint runs its upstream exchanges when called. The
# count is deterministic for a fixed plan and input, so the bound has no
# margin: one re-added branch aggregate or checkpoint adds a job.
ROUND0_JOBS = 13
# py4j calls (ClientServerConnection.send_command) that the same round's
# CrawlDriver.step makes to build and run its plans. The commands that
# release JVM object references are not counted: they follow when Python
# collects its proxies (1.2k-1.4k per step, varying run to run), while the
# counted calls are the same on every run, so the bound has no margin.
ROUND0_PY4J_CALLS = 4626
# jobs of the second fixture step, with the first step's bloom snapshot
# carried, so the seen-filter probe, the exact confirm and the credit
# update join carried state. Exact, like ROUND0_JOBS.
ROUND1_JOBS = 19


def test_round_job_count_and_visible_empty_state(spark, fixture_dir):
    """A re-added branch checkpoint or extra aggregate shows up as extra
    jobs; the empty round-0 state must stay visible to the optimizer
    (an opaque empty scan would be planned and run every round 0)."""
    from pyspark.sql import DataFrame

    from cc_dbp_spark.operators import filters as flt

    empties = {k: v for k, v in fr.empty_state(spark).items() if isinstance(v, DataFrame)}
    empties |= {"bloom": flt.empty_bloom_df(spark), "cuckoo": flt.empty_cuckoo_df(spark)}
    for name, df in empties.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation <empty>"), (name, plan)

    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, max_rounds=1,
                         bloom_capacity=1 << 14, bloom_partitions=4)
    sc = spark.sparkContext
    group = "test-round0-job-count"
    sc.setJobGroup(group, "one fixture crawl round")
    try:
        res = fr.CrawlDriver(spark, robots, docs, cfg).run(seeds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res["schedule"].count() > 0
    assert n_jobs <= ROUND0_JOBS, n_jobs


def test_round1_job_count(spark, fixture_dir):
    """A round >= 1 reads carried state: a join against it that plans as
    a shuffle (no size statistics on a checkpoint) shows up as extra jobs."""
    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, max_rounds=2, filter_kind="bloom",
                         bloom_capacity=1 << 14, bloom_partitions=4)
    drv = fr.CrawlDriver(spark, robots, docs, cfg)
    out, _ = drv.step(seeds.select("url", F.col("depth").cast("int")), 0)
    assert drv.state["filter"] is not None
    sc = spark.sparkContext
    group = "test-round1-job-count"
    sc.setJobGroup(group, "second fixture crawl round")
    try:
        _, counts = drv.step(out["outlinks"], 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert counts.get("sched", 0) > 0
    assert n_jobs <= ROUND1_JOBS, n_jobs


def test_round_py4j_call_ceiling(spark, fixture_dir, monkeypatch):
    """Every DataFrame call crosses into the JVM; a round that builds more
    plan pieces per step shows up as more py4j calls."""
    from py4j.clientserver import ClientServerConnection

    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, max_rounds=1,
                         bloom_capacity=1 << 14, bloom_partitions=4)
    drv = fr.CrawlDriver(spark, robots, docs, cfg)
    candidates = seeds.select("url", F.col("depth").cast("int"))
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        # "m\nd\n" releases a JVM reference: not counted (see above)
        calls.append(not command.startswith("m\nd\n"))
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    _, counts = drv.step(candidates, 0)
    monkeypatch.undo()
    assert counts.get("sched", 0) > 0
    assert 0 < sum(calls) <= ROUND0_PY4J_CALLS, sum(calls)


def test_denied_host_never_scheduled(spark_result):
    # host44 is deny-all in the fixtures
    n = (
        spark_result["schedule"]
        .filter(F.col("host") == "host44.example.com")
        .count()
    )
    assert n == 0


def test_slow_host_deferred(spark_result, oracle_result):
    # host45 has crawl_delay 1000s; with 3s/round budget over these rounds it
    # can never accumulate enough credit -> nothing scheduled
    n = (
        spark_result["schedule"].filter(F.col("host") == "host45.example.com").count()
    )
    assert n == 0
    assert not any("host45" in u for u in oracle_result.seen)


def test_salted_topk_equals_plain(spark, fixture_dir, monkeypatch):
    """Hot-host salting must not change results (two-phase == single-phase)."""
    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, max_rounds=2, filter_kind="none")
    monkeypatch.setattr(fr, "HOT_HOST_ROWS", 10**9)
    plain = fr.CrawlDriver(spark, robots, docs, cfg).run(seeds)
    monkeypatch.setattr(fr, "HOT_HOST_ROWS", 5)
    # the flagged rows of each salted round, to see that some host split
    flagged = []
    schedule = fr._fused_schedule

    def recorded(*args, **kwargs):
        out = schedule(*args, **kwargs)
        flagged.append(out[0])
        return out

    monkeypatch.setattr(fr, "_fused_schedule", recorded)
    salted = fr.CrawlDriver(spark, robots, docs, cfg).run(seeds)
    monkeypatch.undo()
    assert any(f.filter(F.col("salt") > 0).count() > 0 for f in flagged)
    p = [(r["round"], r["position"], r["url"]) for r in plain["schedule"].orderBy("round", "position").collect()]
    s = [(r["round"], r["position"], r["url"]) for r in salted["schedule"].orderBy("round", "position").collect()]
    assert p == s


def test_cuckoo_filter_path_matches_oracle(spark, fixture_dir, oracle_result):
    """Same crawl with the cuckoo membership filter instead of bloom —
    identical ordering + seen set (filters are advisory; the exact
    anti-join confirms every 'maybe')."""
    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(
        round_budget_s=3.0, max_rounds=4,
        filter_kind="cuckoo", bloom_capacity=1 << 14, bloom_partitions=4,
    )
    res = fr.CrawlDriver(spark, robots, docs, cfg).run(seeds)
    got = [
        (r["round"], r["position"], r["url"])
        for r in res["schedule"].orderBy("round", "position").collect()
    ]
    assert got == oracle_result.schedule_log
    got_seen = {
        r["url"]: r["round_seen"]
        for r in res["state"]["seen"].select("url", "round_seen").collect()
    }
    assert got_seen == oracle_result.seen


def test_resume_equals_straight_run(spark, fixture_dir, tmp_path_factory):
    """Kill-after-round-k resume: checkpointed run == uninterrupted run."""
    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    straight = fr.CrawlDriver(
        spark, robots, docs, fr.CrawlConfig(round_budget_s=3.0, max_rounds=4, filter_kind="none")
    ).run(seeds)
    want_seen = {
        (r["url"], r["round_seen"]) for r in straight["state"]["seen"].collect()
    }

    ckpt = tmp_path_factory.mktemp("ckpt")
    # run only 2 rounds, checkpointing
    d1 = fr.CrawlDriver(
        spark, robots, docs,
        fr.CrawlConfig(round_budget_s=3.0, max_rounds=2, filter_kind="none"),
        state_dir=ckpt,
    )
    d1.run(seeds)
    # resume to 4 rounds from checkpoint
    d2 = fr.CrawlDriver(
        spark, robots, docs,
        fr.CrawlConfig(round_budget_s=3.0, max_rounds=4, filter_kind="none"),
        state_dir=ckpt,
    )
    resumed = d2.run(seeds, resume=True)
    got_seen = {(r["url"], r["round_seen"]) for r in resumed["state"]["seen"].collect()}
    assert got_seen == want_seen
    # the n_seen counter survives the resume (it used to restart at 0,
    # undercounting every pre-resume round in the returned state), and
    # so does n_frontier, which tells the next round the frontier's size
    assert resumed["state"]["n_seen"] == straight["state"]["n_seen"] == len(want_seen)
    n_frontier = straight["state"]["frontier"].count()
    assert resumed["state"]["n_frontier"] == straight["state"]["n_frontier"] == n_frontier


def _assert_fused_round_equals_oracle_step(
    spark, raw, frontier_rows, seen_urls, robots, credit_rows, rnd, cfg
):
    """Run the fused Spark round and the oracle's one-round ``step`` on the
    same carried (frontier, seen, credit) state and candidates; the
    flagged rows, the schedule with its per-host rank, and the carried
    frontier left behind must all match. A config with a filter carries
    a snapshot of the seen rows, built through the filter seam, so the
    round probes it."""
    from cc_dbp_spark.operators import filters as flt

    cand = spark.createDataFrame(raw, "url string, depth int")
    seen = spark.createDataFrame([(u, 0) for u in seen_urls], fr.SEEN_SCHEMA)
    filter_df = flt.SeenFilter.of(cfg).advance(None, seen, seen)
    flagged, scheduled, deferred = fr._fused_schedule(
        cand,
        spark.createDataFrame(frontier_rows, fr.FRONTIER_SCHEMA),
        seen,
        fr.translate_robots(robots),
        spark.createDataFrame(credit_rows, fr.CREDIT_SCHEMA),
        rnd, cfg,
        seen_nonempty=True, frontier_nonempty=True,
        filter_df=filter_df,
    )

    st = orc.OracleState(
        frontier={
            u: {"depth": d, "link_count": lc, "round_added": ra}
            for u, _, d, lc, ra in frontier_rows
        },
        seen={u: 0 for u in seen_urls},
        credit=dict(credit_rows),
    )
    want = orc.step(
        st, raw, rnd, {r["host"]: r.asDict() for r in robots.collect()},
        orc.CrawlConfig(round_budget_s=cfg.round_budget_s,
                        default_crawl_delay_s=cfg.default_crawl_delay_s),
    )

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(
        flagged, "url", "host", "depth", "link_count", "round_added", "denied"
    ) == sorted(want.flagged)
    assert rows(scheduled, "url", "host", "rank") == sorted(want.scheduled)
    assert rows(deferred, *fr.FRONTIER_COLS) == sorted(want.frontier)


@pytest.mark.parametrize("kind, conf", [
    ("none", {}),
    ("bloom", {}),
    ("bloom", {"spark.sql.autoBroadcastJoinThreshold": "-1"}),
    ("cuckoo", {}),
], ids=["none", "bloom-broadcast", "bloom-cogroup", "cuckoo"])
def test_fused_round_equals_oracle_step(spark, fixture_dir, kind, conf):
    """The single-shuffle fused round on a carried frontier + seen state
    must give the oracle's flagged set, schedule and carried frontier
    (the fast-vs-naive differential pattern), with no filter, the bloom
    or the cuckoo filter. The bloom probe is one equi-join on the word:
    Spark broadcasts the small snapshot by default, and with automatic
    broadcast joins off it shuffles both sides to the same partitions."""
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        _fused_round_on_fixture_state(spark, fixture_dir, kind)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _fused_round_on_fixture_state(spark, fixture_dir, kind):
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, filter_kind=kind,
                         bloom_capacity=1 << 14, bloom_partitions=4)
    # synthetic mid-crawl state: some urls already seen, some carried over
    raw = [(r["url"], 2) for r in seeds.select("url").limit(200).collect()]
    frontier_rows = [
        ("http://host3.example.com/carried/1", "host3.example.com", 1, 4, 1),
        ("http://host7.example.com/carried/2", "host7.example.com", 2, 2, 0),
    ]
    # seen urls must be canonical (the round tests canonical candidates)
    seen_urls = [canonicalize_py(u) for u, _ in raw[:30]]
    _assert_fused_round_equals_oracle_step(
        spark, raw, frontier_rows, seen_urls, robots,
        [("host3.example.com", 1.5)], 2, cfg,
    )


def test_fused_round_default_budget_matches_oracle(spark, fixture_dir):
    """A host with no robots row and no carried credit gets the default
    budget from the same k = floor(credit0 / delay) as every other host:
    floor(1.0 / 0.1) is 10, where Python's 1.0 // 0.1 is 9.0."""
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    host = "norobots.example.org"
    assert robots.filter(F.col("host") == host).count() == 0
    raw = [(f"http://{host}/page/{i}", 1) for i in range(14)]
    frontier_rows = [("http://host3.example.com/carried/1", "host3.example.com", 1, 4, 1)]
    cfg = fr.CrawlConfig(round_budget_s=1.0, default_crawl_delay_s=0.1,
                         filter_kind="none")
    _assert_fused_round_equals_oracle_step(
        spark, raw, frontier_rows, [canonicalize_py(raw[0][0])], robots,
        [("host3.example.com", 0.5)], 1, cfg,
    )


def test_bloom_round_runs_no_python(spark, fixture_dir, monkeypatch):
    """A bloom round is JVM-only: in round 1 of a fixture crawl (round 0
    builds the snapshot, round 1 probes and updates it) no plan the round
    checkpoints, among them the flagged rows and the new snapshot, holds
    a Python evaluation node."""
    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, max_rounds=2, filter_kind="bloom",
                         bloom_capacity=1 << 14, bloom_partitions=4)
    drv = fr.CrawlDriver(spark, robots, docs, cfg)
    out, _ = drv.step(seeds.select("url", F.col("depth").cast("int")), 0)
    assert drv.state["filter"] is not None

    plans = []
    frame = type(seeds)
    checkpoint = frame.localCheckpoint

    def recorded(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", recorded)
    _, counts = drv.step(out["outlinks"], 1)
    monkeypatch.undo()
    assert counts.get("sched", 0) > 0
    python = ("ArrowEvalPython", "BatchEvalPython",
              "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
    assert not [n for p in plans for n in python if n in p]
    # the plans include the probe (flagged) and the update (the snapshot)
    assert any("__word" in p for p in plans) and any("bit_or" in p for p in plans)


def test_resume_restores_filter_snapshot(spark, fixture_dir, tmp_path_factory):
    """Resume with the bloom path: the filter snapshot parquet must exist
    in the checkpoint, reload on resume, and yield the same schedule and
    seen set as an uninterrupted bloom run."""
    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    base = dict(round_budget_s=3.0, filter_kind="bloom", bloom_capacity=1 << 14,
                bloom_partitions=4)
    straight = fr.CrawlDriver(
        spark, robots, docs, fr.CrawlConfig(**base, max_rounds=4)
    ).run(seeds)
    want = [
        (r["round"], r["position"], r["url"])
        for r in straight["schedule"].orderBy("round", "position").collect()
    ]
    want_seen = {(r["url"], r["round_seen"]) for r in straight["state"]["seen"].collect()}

    ckpt = tmp_path_factory.mktemp("ckpt_bloom")
    fr.CrawlDriver(
        spark, robots, docs, fr.CrawlConfig(**base, max_rounds=2), state_dir=ckpt
    ).run(seeds)
    assert (ckpt / "round_0001" / "filter").exists()  # snapshot written
    resumed = fr.CrawlDriver(
        spark, robots, docs, fr.CrawlConfig(**base, max_rounds=4), state_dir=ckpt
    ).run(seeds, resume=True)
    # a resumed run's schedule covers only the resumed rounds (2-3); the
    # earlier rounds already live in the fetch_batch checkpoints
    got = [
        (r["round"], r["position"], r["url"])
        for r in resumed["schedule"].orderBy("round", "position").collect()
    ]
    got_seen = {(r["url"], r["round_seen"]) for r in resumed["state"]["seen"].collect()}
    assert got == [w for w in want if w[0] >= 2]
    assert got_seen == want_seen


def test_resume_from_bitmap_layout_snapshot(spark, fixture_dir, tmp_path_factory):
    """A state dir whose bloom snapshot has the earlier per-partition
    bitmap layout ``(pid, bitmap)`` still resumes: the snapshot loads as
    none, so the resumed round runs the exact anti-join alone and
    rebuilds the filter from the seen set, and the crawl equals the
    uninterrupted one."""
    import shutil

    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    base = dict(round_budget_s=3.0, filter_kind="bloom", bloom_capacity=1 << 14,
                bloom_partitions=4)
    straight = fr.CrawlDriver(
        spark, robots, docs, fr.CrawlConfig(**base, max_rounds=4)
    ).run(seeds)

    ckpt = tmp_path_factory.mktemp("ckpt_bitmap")
    fr.CrawlDriver(
        spark, robots, docs, fr.CrawlConfig(**base, max_rounds=2), state_dir=ckpt
    ).run(seeds)
    snap = ckpt / "round_0001" / "filter"
    shutil.rmtree(snap)
    spark.createDataFrame(
        [(p, bytearray(8192)) for p in range(4)], "pid int, bitmap binary"
    ).write.parquet(str(snap))
    resumed = fr.CrawlDriver(
        spark, robots, docs, fr.CrawlConfig(**base, max_rounds=4), state_dir=ckpt
    ).run(seeds, resume=True)

    def rows(res):
        return [
            (r["round"], r["position"], r["url"])
            for r in res["schedule"].orderBy("round", "position").collect()
        ]

    assert rows(resumed) == [w for w in rows(straight) if w[0] >= 2]
    assert {tuple(r) for r in resumed["state"]["seen"].collect()} == {
        tuple(r) for r in straight["state"]["seen"].collect()
    }
    assert (ckpt / "round_0002" / "filter").exists()  # rebuilt in the new layout
    assert "word" in spark.read.parquet(str(ckpt / "round_0003" / "filter")).columns


def test_unknown_filter_kind_raises():
    """A misspelt filter kind must not quietly run another filter."""
    for kind in ("Cuckoo", "bloom ", ""):
        with pytest.raises(ValueError, match="filter_kind"):
            fr.CrawlConfig(filter_kind=kind)


@pytest.mark.parametrize("seed", [3, 17])
def test_fused_randomized_differential(spark, seed, monkeypatch):
    """Randomized fast-vs-naive: fused single-shuffle round == the
    oracle's one-round step over random frontiers, seen sets, robots,
    credits, filter settings and hot-host settings."""
    import random

    rng = random.Random(seed)
    hosts = [f"h{i}.ex{rng.randint(0, 2)}.org" for i in range(rng.randint(3, 8))]
    raw = []
    for _ in range(rng.randint(150, 400)):
        h = rng.choice(hosts)
        path = f"/p{rng.randint(0, 40)}" + ("/" if rng.random() < 0.3 else "")
        frag = "#x" if rng.random() < 0.2 else ""
        port = ":80" if rng.random() < 0.2 else ""
        raw.append((f"http://{h.upper()}{port}{path}{frag}", rng.randint(0, 4)))
    canon_urls = sorted({canonicalize_py(u) for u, _ in raw})
    seen_urls = rng.sample(canon_urls, k=len(canon_urls) // 5)
    frontier_rows = [
        (f"http://{h}/carried/{i}", h, rng.randint(0, 3), rng.randint(0, 9), 0)
        for i, h in enumerate(rng.sample(hosts, k=min(3, len(hosts))))
    ]
    robots = spark.createDataFrame(
        [
            (h, [f"/p{rng.randint(0, 40)}"], [], float(rng.choice([0.5, 1.0, 4.0])))
            for h in rng.sample(hosts, k=len(hosts) // 2)
        ],
        "host string, deny_prefixes array<string>, allow_prefixes array<string>, crawl_delay_s double",
    )
    credit_rows = [(h, rng.uniform(0, 3)) for h in rng.sample(hosts, k=len(hosts) // 3)]
    cfg = fr.CrawlConfig(
        round_budget_s=rng.choice([2.0, 5.0]),
        filter_kind="bloom" if rng.random() < 0.5 else "none",
        bloom_capacity=1 << 12, bloom_partitions=4,
    )
    monkeypatch.setattr(fr, "HOT_HOST_ROWS", rng.choice([5, 10**9]))
    rnd = rng.randint(1, 3)
    _assert_fused_round_equals_oracle_step(
        spark, raw, frontier_rows, seen_urls, robots, credit_rows, rnd, cfg
    )


def test_bucketed_seen_state_equals_plain(spark, fixture_dir, tmp_path_factory):
    """The deployment layout for the O(seen) confirm anti-join, wired
    through a REAL round: run_round with state['seen'] = a bucketed+
    sorted table scan produces the identical schedule (the one-Exchange
    plan property is asserted at the layout level in
    test_serde_layout_streaming)."""
    from cc_dbp_spark.plans import layout

    docs = spark.read.parquet(str(fixture_dir / "documents_spans.parquet"))
    seeds = spark.read.parquet(str(fixture_dir / "seeds.parquet"))
    robots = spark.read.parquet(str(fixture_dir / "robots_rules.parquet"))
    cfg = fr.CrawlConfig(round_budget_s=3.0, filter_kind="none")

    rules = fr.translate_robots(robots)
    out0 = fr.run_round(
        seeds.select("url", F.col("depth").cast("int")),
        fr.empty_state(spark), rules, docs, 0, cfg,
    )
    seen = out0["seen"].localCheckpoint(eager=True)
    frontier1 = out0["frontier"].localCheckpoint(eager=True)
    cand1 = out0["outlinks"].localCheckpoint(eager=True)
    carried = {
        "frontier": frontier1,
        "credit": out0["credit"].localCheckpoint(eager=True),
        "filter": None,
        "n_seen": seen.count(),
        "n_frontier": frontier1.count(),
    }
    assert carried["n_seen"] > 0  # the anti-join path must be live

    def round1(seen_df):
        out = fr.run_round(
            cand1, {**carried, "seen": seen_df}, rules, docs, 1, cfg
        )
        batch = out["fetch_batch"]
        return [(r["position"], r["url"]) for r in batch.orderBy("position").collect()]

    want = round1(seen)

    tmp = tmp_path_factory.mktemp("seenbkt")
    layout.write_bucketed_snapshot(seen, "seen_round_bkt", 4, key="url",
                                   path=str(tmp / "seen"))
    # production seen sets exceed any broadcast threshold; force the
    # sort-merge path the bucketing is for (the fetch_batch plan itself
    # cannot be inspected here — the anti-join runs upstream of the
    # round's internal checkpoint — so the one-Exchange property is
    # plan-asserted at the layout level instead)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = round1(spark.table("seen_round_bkt"))
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS seen_round_bkt")
