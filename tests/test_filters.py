"""Unit tests for the partitioned bloom + cuckoo membership filters."""

from __future__ import annotations

import numpy as np

from cc_dbp_spark.operators.filters import BloomSpec, CuckooFilter


def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def test_bloom_no_false_negatives():
    spec = BloomSpec(capacity=50_000, fpr=0.01, num_partitions=4)
    members = _hashes(20_000, 1)
    bm = spec.build_bitmap(members)
    assert spec.probe(members, bm).all()


def test_bloom_fpr_within_budget():
    spec = BloomSpec(capacity=50_000, fpr=0.01, num_partitions=4)
    members = _hashes(12_500, 2)  # one partition's share
    bm = spec.build_bitmap(members)
    probes = _hashes(50_000, 3)
    fpr = spec.probe(probes, bm).mean()
    assert fpr < 0.03, fpr  # 3x headroom over configured 1%


def test_bloom_empty():
    spec = BloomSpec(capacity=1000)
    bm = spec.build_bitmap(np.array([], dtype=np.int64))
    assert not spec.probe(_hashes(100, 4), bm).any()


def test_cuckoo_roundtrip_and_delete():
    cf = CuckooFilter(capacity=10_000)
    members = _hashes(5_000, 5)
    failed = cf.insert(members)
    assert failed == 0
    assert cf.contains(members).all()
    non = _hashes(10_000, 6)
    fpr = cf.contains(non).mean()
    assert fpr < 0.02, fpr
    # delete half, they must disappear (and the rest stay)
    half = members[:2500]
    removed = cf.delete(half)
    assert removed.all()
    assert cf.contains(members[2500:]).all()
    assert cf.contains(half).mean() < 0.02


def test_cuckoo_serialization():
    cf = CuckooFilter(capacity=1000)
    members = _hashes(400, 7)
    cf.insert(members)
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert cf2.contains(members).all()


def test_bloom_spark_build_and_prune(spark):
    from cc_dbp_spark.operators import filters as flt
    from pyspark.sql import functions as F

    spec = BloomSpec(capacity=4096, fpr=0.01, num_partitions=4)
    seen = spark.createDataFrame(
        [(f"http://seen{i}.com",) for i in range(500)], "url string"
    ).withColumn("url_hash", F.xxhash64("url"))
    cands = spark.createDataFrame(
        [(f"http://seen{i}.com",) for i in range(0, 500, 5)]
        + [(f"http://new{i}.com",) for i in range(300)],
        "url string",
    ).withColumn("url_hash", F.xxhash64("url"))

    bloom = flt.build_bloom_df(seen, spec)
    new, maybe = flt.prune_with_bloom(cands, bloom, spec)
    new_urls = {r.url for r in new.collect()}
    maybe_urls = {r.url for r in maybe.collect()}
    # every truly-seen candidate must land in maybe (no false negatives)
    truly_seen = {f"http://seen{i}.com" for i in range(0, 500, 5)}
    assert truly_seen <= maybe_urls
    assert not (truly_seen & new_urls)
    # partition coverage: both sets nonempty, union = all candidates
    assert new_urls | maybe_urls == {r.url for r in cands.select("url").collect()}
    assert len(new_urls) > 200  # most new urls pruned past the anti-join


def test_incremental_bloom_equals_rebuild(spark):
    """OR-merged incremental snapshot is bit-identical to a full rebuild."""
    from cc_dbp_spark.operators import filters as flt

    spec = BloomSpec(capacity=10_000, fpr=0.01, num_partitions=4)
    a = _hashes(3_000, 11)
    b = _hashes(2_000, 12)
    df_a = spark.createDataFrame([(int(h),) for h in a], "url_hash bigint")
    df_b = spark.createDataFrame([(int(h),) for h in b], "url_hash bigint")
    df_ab = df_a.unionByName(df_b)

    incr = flt.update_bloom_df(
        flt.update_bloom_df(flt.empty_bloom_df(spark), df_a, spec), df_b, spec
    )
    full = flt.build_bloom_df(df_ab, spec)
    got = {r["pid"]: bytes(r["bitmap"]) for r in incr.collect()}
    want = {r["pid"]: bytes(r["bitmap"]) for r in full.collect()}
    assert got == want


def test_incremental_cuckoo_no_false_negatives(spark):
    """Incrementally updated cuckoo snapshot still answers 'maybe' for
    every inserted member (possibly via the saturation degrade)."""
    from cc_dbp_spark.operators import filters as flt

    a = _hashes(800, 13)
    b = _hashes(700, 14)
    df_a = spark.createDataFrame([(int(h),) for h in a], "url_hash bigint")
    df_b = spark.createDataFrame([(int(h),) for h in b], "url_hash bigint")
    snap = flt.update_cuckoo_df(flt.empty_cuckoo_df(spark), df_a, 2048, 4)
    snap = flt.update_cuckoo_df(snap, df_b, 2048, 4)
    members = spark.createDataFrame(
        [(int(h),) for h in np.concatenate([a, b])], "url_hash bigint"
    )
    new, maybe = flt.prune_with_cuckoo(members, snap, 4)
    assert new.count() == 0  # every member must be 'maybe', never 'new'


def test_cuckoo_saturation_degrades_to_maybe(spark):
    """An overflowed partition must flag saturated and route every probe
    to the exact confirm (false negatives would re-crawl seen urls)."""
    from cc_dbp_spark.operators import filters as flt

    many = _hashes(9_000, 15)  # >> capacity 1024 over 1 partition
    df = spark.createDataFrame([(int(h),) for h in many], "url_hash bigint")
    snap = flt.build_cuckoo_df(df, 1024, 1)
    rows = snap.collect()
    assert len(rows) == 1 and rows[0]["saturated"]
    probes = spark.createDataFrame(
        [(int(h),) for h in _hashes(500, 16)], "url_hash bigint"
    )
    new, maybe = flt.prune_with_cuckoo(probes, snap, 1)
    assert new.count() == 0 and maybe.count() == 500


def test_update_bloom_df_forwards_hash_col(spark):
    """update_bloom_df must build the fresh bitmaps from the CALLER'S
    hash column (it used to silently assume 'url_hash', producing false
    negatives when the new-seen frame named it differently)."""
    from cc_dbp_spark.operators import filters as flt

    spec = flt.BloomSpec(1 << 12, num_partitions=4)
    df = spark.createDataFrame([(i * 7919,) for i in range(50)], "h bigint")
    bloom = flt.update_bloom_df(flt.empty_bloom_df(spark), df, spec, hash_col="h")
    probe = spark.createDataFrame([(i * 7919,) for i in range(50)], "h bigint")
    _, maybe = flt.prune_with_bloom(probe, bloom, spec, hash_col="h")
    assert maybe.count() == 50  # every inserted hash reports maybe-seen


def test_bloom_probe_rejects_mismatched_spec(spark):
    """A filter snapshot built under a different BloomSpec must crash
    the probe loudly (silently probing wrong bit positions would report
    seen urls as definitely-new — seen-set divergence on resume)."""
    import pytest as _pt

    from cc_dbp_spark.operators import filters as flt

    big = flt.BloomSpec(1 << 22, num_partitions=4)
    small = flt.BloomSpec(1 << 14, num_partitions=4)
    assert big.bits_per_partition != small.bits_per_partition
    bitmap = big.build_bitmap(np.arange(10, dtype=np.int64))
    with _pt.raises(ValueError, match="different bloom_capacity"):
        small.probe(np.arange(10, dtype=np.int64), bitmap)


def test_broadcast_bloom_slot_survives_and_rotates(spark):
    """The module-level probe-broadcast slot must hold a STRONG reference
    (r5 review: a weakref dies the moment flag_with_broadcast_bloom
    returns — the pandas UDF closure does not retain the Python Broadcast
    wrapper — so the per-round unpersist was dead code and every round's
    executor copies stayed pinned) and must rotate: the second round's
    call unpersists round one's broadcast and installs its own."""
    from cc_dbp_spark.operators import filters as flt

    spec = flt.BloomSpec(1 << 12, num_partitions=4)
    seen = spark.createDataFrame([(i * 104729,) for i in range(40)], "h bigint")
    bloom = flt.update_bloom_df(flt.empty_bloom_df(spark), seen, spec, hash_col="h")
    cand = spark.createDataFrame([(i * 104729,) for i in range(80)], "h bigint")

    flt._last_probe_broadcast = None
    flagged1 = flt.flag_with_broadcast_bloom(cand, bloom, spec, hash_col="h")
    slot1 = flt._last_probe_broadcast
    assert slot1 is not None, "slot empty right after the call"
    app_id, b1 = slot1
    assert app_id == spark.sparkContext.applicationId
    assert b1.value is not None  # strong ref: value alive after return

    # round 2: slot rotates to the new broadcast; the old one got
    # unpersisted but stays re-broadcastable, so round 1's LAZY plan
    # still executes correctly afterwards
    flagged2 = flt.flag_with_broadcast_bloom(cand, bloom, spec, hash_col="h")
    slot2 = flt._last_probe_broadcast
    assert slot2 is not None and slot2[1] is not b1
    assert flagged2.filter("maybe_seen").count() == 40
    assert flagged1.filter("maybe_seen").count() == 40


def test_release_probe_broadcast_drops_slot_and_is_idempotent(spark):
    """Crawl-end teardown: the slot empties, the flagged plan still
    executes afterwards (unpersist keeps the broadcast re-shippable
    from the driver JVM), and a second release is a no-op."""
    from cc_dbp_spark.operators import filters as flt

    spec = flt.BloomSpec(1 << 12, num_partitions=4)
    seen = spark.createDataFrame([(i * 104729,) for i in range(40)], "h bigint")
    bloom = flt.update_bloom_df(flt.empty_bloom_df(spark), seen, spec, hash_col="h")
    cand = spark.createDataFrame([(i * 104729,) for i in range(80)], "h bigint")

    flagged = flt.flag_with_broadcast_bloom(cand, bloom, spec, hash_col="h")
    assert flt._last_probe_broadcast is not None
    flt.release_probe_broadcast()
    assert flt._last_probe_broadcast is None
    flt.release_probe_broadcast()  # idempotent
    assert flagged.filter("maybe_seen").count() == 40  # lazy plan survives


def test_grouped_filter_kernels_raise_no_warnings(spark):
    """The applyInPandas kernels carry no partial type hints, so building,
    updating and probing either filter warns about nothing (a partial
    hint makes PySpark warn that it cannot infer the eval type)."""
    import warnings

    from cc_dbp_spark.operators import filters as flt

    spec = BloomSpec(capacity=4_000, fpr=0.01, num_partitions=4)
    df = spark.createDataFrame([(int(h),) for h in _hashes(500, 21)], "url_hash bigint")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        bloom = flt.update_bloom_df(flt.empty_bloom_df(spark), df, spec)
        cuckoo = flt.build_cuckoo_df(df, 1024, 4)
        cuckoo = flt.update_cuckoo_df(cuckoo, df, 1024, 4)
        _, maybe_b = flt.prune_with_bloom(df, bloom, spec)
        _, maybe_c = flt.prune_with_cuckoo(df, cuckoo, 4)
        assert maybe_b.count() == maybe_c.count() == 500
