"""JSON round-trip (TestJSON pattern), T8 partition+sort layout, and the
streaming windowed aggregation vs its batch equivalent."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from cc_dbp_spark.plans import layout
from cc_dbp_spark.sources import serde
from cc_dbp_spark.streaming import events as ev

SPANS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _random_docs(rng: random.Random, n: int):
    kinds = ["text", "title", "link", "media", "paragraph"]
    rows = []
    for i in range(n):
        spans, off = [], 0
        for _ in range(rng.randint(0, 8)):
            k = rng.choice(kinds)
            txt = " ".join(rng.choices(["aa", "bb", "cc", 'q"uote', "unié"], k=rng.randint(1, 3)))
            ref = f"http://h{rng.randint(0,5)}/x" if k in ("link", "media") else None
            spans.append((k, txt, ref, off))
            off += len(txt) + 1
        rows.append((f"http://site/{i}", spans))
    return rows


def test_json_roundtrip_preserves_span_sequence(spark):
    rows = _random_docs(random.Random(3), 40)
    docs = spark.createDataFrame(rows, SPANS_SCHEMA)
    back = serde.docs_from_json_lines(serde.docs_to_json_lines(docs))
    want = {r[0]: [tuple(s) for s in r[1]] for r in rows}
    got = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in back.collect()}
    assert got == want


def test_json_malformed_lines_become_null(spark):
    lines = spark.createDataFrame([("{not json",), ('{"doc_id":"d","spans":[]}',)], "value string")
    out = serde.docs_from_json_lines(lines).collect()
    assert sorted([r.doc_id for r in out], key=str) == ["d", None][::-1] or True
    ids = [r.doc_id for r in out]
    assert None in ids and "d" in ids


def test_partition_and_sort_groups_keys(spark):
    df = spark.range(1000).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )
    out = layout.partition_and_sort(df, "k", 8, "v")

    def check(it):
        rows = list(it)
        seen_done = set()
        prev = None
        for r in rows:
            if prev is not None and r.k != prev:
                assert r.k not in seen_done  # key appears in one contiguous run
                seen_done.add(prev)
            prev = r.k
        # sorted by (k, v) within partition
        assert rows == sorted(rows, key=lambda r: (r.k, r.v))
        return iter([len(rows)])

    # every key lands in exactly one partition
    parts = out.rdd.mapPartitions(lambda it: [sorted({r.k for r in it})]).collect()
    all_keys = [k for p in parts for k in p]
    assert len(all_keys) == len(set(all_keys))
    out.rdd.mapPartitions(check).collect()


def test_sized_partitions():
    assert layout.sized_partitions(0) == 1
    assert layout.sized_partitions(1 << 30) == 8
    assert layout.sized_partitions(100 << 40, target_partition_bytes=128 << 20) == 200_000


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    src = tmp_path / "events_src"
    ev_batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev_batch.write.parquet(str(src))

    agg = ev.windowed_counts(ev.read_event_stream(spark, str(src)))
    out = tmp_path / "agg_out"
    ev.run_available_now(agg, str(out), str(tmp_path / "ckpt"))
    got = spark.read.parquet(str(out))

    batch = (
        ev_batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )
    # append mode emits only windows closed by the watermark: compare on
    # the emitted subset, and require it to be non-trivial
    emitted = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value) for r in got.collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value) for r in batch.collect()
    }
    assert len(emitted) > 0
    for k, v in emitted.items():
        assert want[k] == v


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: the streamed CLOSED
    sessions equal the batch twin's sessions minus each user's final
    (still-open) session."""
    src = tmp_path / "sess_src"
    ev_batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev_batch.coalesce(1).write.parquet(str(src))  # one file -> one microbatch

    stream = ev.sessionize_stream(ev.read_event_stream(spark, str(src)), gap_minutes=30)
    out = tmp_path / "sess_out"
    ev.run_available_now(stream, str(out), str(tmp_path / "sess_ckpt"))
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.sum_value)
        for r in spark.read.parquet(str(out)).collect()
    }

    batch = ev.sessionize_batch(ev_batch, gap_minutes=30)
    w = Window.partitionBy("user_id")
    closed = batch.withColumn("last_sid", F.max("session_id").over(w)).filter(
        F.col("session_id") < F.col("last_sid")
    )
    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.sum_value)
        for r in closed.collect()
    }
    assert len(got) > 0
    assert got == want


def test_bucketed_seen_anti_join_shuffles_only_candidates(spark, tmp_path):
    """The frontier's deployment story for the O(seen) confirm anti-join
    (frontier.py module docs), exercised: seen written as a bucketed+
    sorted table -> the anti-join plans exactly ONE Exchange (the
    candidate side shuffling into the seen bucketing) and scans the
    seen side bucketed, with results identical to the plain anti-join."""
    import re

    from pyspark.sql import functions as F

    seen = spark.range(5000).select(
        F.concat(
            F.lit("http://h"), (F.col("id") % 97).cast("string"),
            F.lit(".ex.com/p/"), F.col("id").cast("string"),
        ).alias("url")
    )
    layout.write_bucketed_snapshot(seen, "seen_bkt_test", 8, path=str(tmp_path / "seen"))
    try:
        cand = spark.range(400).select(
            F.concat(
                F.lit("http://h"), (F.col("id") % 97).cast("string"),
                F.lit(".ex.com/p/"), (F.col("id") * 7).cast("string"),
            ).alias("url")
        )
        out = layout.bucketed_anti_join(cand, spark.table("seen_bkt_test"))
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1  # candidates only
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan
        got = sorted(r.url for r in out.collect())
        want = sorted(r.url for r in cand.join(seen, "url", "left_anti").collect())
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_bkt_test")


def test_streaming_crawl_rounds_match_batch(spark, tmp_path):
    """Streaming ingest seam: candidate files drained one-per-trigger,
    each micro-batch = one scheduling round via foreachBatch, outlinks
    feeding the next round — the concatenated schedule and the carried
    state equal driving frontier.run_round by hand over the same
    candidate batches. Nothing read after the stream ends may replay a
    micro-batch: the candidate files and the stream checkpoint are
    deleted before the results are collected."""
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from cc_dbp_spark import fixtures
    from cc_dbp_spark.operators import frontier as fr
    from cc_dbp_spark.streaming import ingest

    fd = fixtures.ensure_default(500)
    docs = spark.read.parquet(str(fd / "documents_spans.parquet"))
    robots = spark.read.parquet(str(fd / "robots_rules.parquet"))
    seeds = spark.read.parquet(str(fd / "seeds.parquet")).select(
        "url", F.col("depth").cast("int")
    )
    # three arriving candidate files (deterministic split), mtime-ordered
    src = tmp_path / "cand_stream"
    src.mkdir()
    # pmod, not %: Spark's % preserves sign, which would silently drop
    # ~1/3 of seeds (negative hashes) from every batch
    parts = [
        seeds.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i).toPandas()
        for i in range(3)
    ]
    for i, pdf in enumerate(parts):
        p = src / f"batch_{i}.parquet"
        pdf.to_parquet(p)
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        _time.sleep(0.01)

    cfg = fr.CrawlConfig(round_budget_s=3.0, filter_kind="bloom")
    sc = ingest.StreamingCrawl(spark, robots, docs, cfg)
    sched = sc.run_available_now(str(src), str(tmp_path / "ckpt"))
    shutil.rmtree(src)
    shutil.rmtree(tmp_path / "ckpt")
    got = [
        (r["round"], r["position"], r["url"])
        for r in sched.orderBy("round", "position").collect()
    ]
    assert len(sc.rounds) == 3

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    tables = ("seen", "credit", "frontier")
    got_state = {k: rows(sc.driver.state[k]) for k in tables}

    # batch twin: same candidate batches + outlink feedback by hand
    state = fr.empty_state(spark)
    want, carried = [], None
    for rnd in range(3):
        cand = spark.createDataFrame(parts[rnd], ingest.CANDIDATE_SCHEMA)
        if carried is not None:
            cand = cand.unionByName(carried)
        out = fr.run_round(spark, cand, state, fr.translate_robots(robots), docs, rnd, cfg)
        state, _ = fr.advance_round_state(out, state["n_seen"])
        carried = out["outlinks"]
        want.extend(
            (r["round"], r["position"], r["url"])
            for r in out["fetch_batch"].orderBy("position").collect()
        )
    assert got == want and len(got) > 0
    assert got_state == {k: rows(state[k]) for k in tables}
    assert all(got_state.values())


def test_sessionize_stream_multibatch_out_of_order(spark, tmp_path):
    """Cross-microbatch correctness: a later microbatch delivering LATE
    events (ts below the stored session last) merges them into the open
    session — extending start backward, never regressing last — and an
    in-batch gap measured from a late event uses the stored last as
    previous activity. The old state carry corrupted both."""
    import datetime as dt
    import os

    def t(minute):
        return dt.datetime(2024, 1, 1, minute // 60, minute % 60)

    # batch 0: events at 0min and 10min (one open session)
    # batch 1 (later): late event at 5min + event at 38min.
    #   38-5 = 33min > gap BUT 38-10 = 28min <= gap: ONE session 0..38.
    # batch 2: event at 120min -> closes the 0..38 session.
    src = tmp_path / "ooo_src"
    src.mkdir()
    batches = [
        [(1, t(0), 7, "c", 1.0, ""), (2, t(10), 7, "c", 2.0, "")],
        [(3, t(5), 7, "c", 4.0, ""), (4, t(38), 7, "c", 8.0, "")],
        [(5, t(120), 7, "c", 16.0, "")],
    ]
    for i, rows in enumerate(batches):
        # the file stream source does not recurse into per-batch
        # subdirectories: stage with Spark, then move the single part
        # file to the top level with increasing mtimes (batch order)
        stage = tmp_path / f"ooo_stage_{i}"
        df = spark.createDataFrame(rows, ev.EVENT_SCHEMA)
        df.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        target = src / f"b{i}.parquet"
        part.rename(target)
        base = 1_700_000_000 + i * 60
        os.utime(target, (base, base))

    stream = ev.sessionize_stream(
        ev.read_event_stream(spark, str(src), max_files_per_trigger=1),
        gap_minutes=30,
    )
    out = tmp_path / "ooo_out"
    ev.run_available_now(stream, str(out), str(tmp_path / "ooo_ckpt"))
    got = [
        (r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.read.parquet(str(out)).collect()
    ]
    assert got == [(t(0), t(38), 4, 15.0)]


def _stage_event_batches(spark, tmp_path, name, batches):
    """Stage per-microbatch parquet files with increasing mtimes so the
    file stream source delivers them in list order (one per trigger)."""
    import os

    src = tmp_path / f"{name}_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        stage = tmp_path / f"{name}_stage_{i}"
        df = spark.createDataFrame(rows, ev.EVENT_SCHEMA)
        df.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        target = src / f"b{i}.parquet"
        part.rename(target)
        base = 1_700_000_000 + i * 60
        os.utime(target, (base, base))
    return src


def test_sessionize_stream_far_late_event_stays_separate(spark, tmp_path):
    """A late event EARLIER than session_start - gap must NOT be
    absorbed into the carried session (the old signed ts[0] - s_last
    <= gap test swallowed it); it forms its own session, exactly as
    the batch twin segments it. An in-reach late event (within
    [start-gap, last+gap]) still merges, extending start backward."""
    import datetime as dt

    def t(minute):
        return dt.datetime(2024, 1, 1, minute // 60, minute % 60)

    # carried session [100', 110']; batch 1 delivers a far-early late
    # event at 5' (out of reach: 5 < 100-30) plus an in-reach late
    # event at 95' (>= 70). gap=30: batch twin over all six events
    # (5, 95, 100, 110, 120, 240) -> sessions [5,5], [95,120], [240..)
    batches = [
        [(1, t(100), 7, "c", 1.0, ""), (2, t(110), 7, "c", 2.0, "")],
        [(3, t(5), 7, "c", 4.0, ""), (4, t(95), 7, "c", 8.0, "")],
        [(5, t(120), 7, "c", 16.0, "")],
        [(6, t(240), 7, "c", 32.0, "")],
    ]
    src = _stage_event_batches(spark, tmp_path, "farlate", batches)
    stream = ev.sessionize_stream(
        ev.read_event_stream(spark, str(src), max_files_per_trigger=1),
        gap_minutes=30,
    )
    out = tmp_path / "farlate_out"
    ev.run_available_now(stream, str(out), str(tmp_path / "farlate_ckpt"))
    got = sorted(
        (r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == [(t(5), t(5), 1, 4.0), (t(95), t(120), 4, 27.0)]


def test_sessionize_stream_reach_interval_bridges_segments(spark, tmp_path):
    """Two in-batch segments farther than gap from EACH OTHER but each
    within reach of one edge of the carried session ([start-gap,
    last+gap]) all merge into ONE session — the batch twin chains
    15' -> 40' -> 50' -> 75' (every consecutive gap <= 30')."""
    import datetime as dt

    def t(minute):
        return dt.datetime(2024, 1, 1, minute // 60, minute % 60)

    # carried [40', 50']; batch 1 = [15', 75'] (in-batch gap 60 > 30
    # splits them), 15 >= 40-30 and 75 <= 50+30: one session [15, 75]
    batches = [
        [(1, t(40), 7, "c", 1.0, ""), (2, t(50), 7, "c", 2.0, "")],
        [(3, t(15), 7, "c", 4.0, ""), (4, t(75), 7, "c", 8.0, "")],
        [(5, t(200), 7, "c", 16.0, "")],
    ]
    src = _stage_event_batches(spark, tmp_path, "bridge", batches)
    stream = ev.sessionize_stream(
        ev.read_event_stream(spark, str(src), max_files_per_trigger=1),
        gap_minutes=30,
    )
    out = tmp_path / "bridge_out"
    ev.run_available_now(stream, str(out), str(tmp_path / "bridge_ckpt"))
    got = [
        (r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.read.parquet(str(out)).collect()
    ]
    assert got == [(t(15), t(75), 4, 15.0)]
