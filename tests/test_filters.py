"""Unit tests for the blocked bloom and partitioned cuckoo membership filters."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cc_dbp_spark.functions.urlnorm import canonicalize_py
from cc_dbp_spark.operators import filters as flt
from cc_dbp_spark.operators.filters import BloomSpec, CuckooFilter


def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def _hash_df(spark, hashes):
    return spark.createDataFrame(pd.DataFrame({"url_hash": hashes}), "url_hash bigint")


def _maybe(spark, spec, members, probes):
    """maybe_seen per probe hash against a bloom built from members."""
    from cc_dbp_spark.operators import filters as flt

    bloom = flt.update_bloom_df(None, _hash_df(spark, members), spec)
    flagged = flt.flag_with_bloom(_hash_df(spark, probes), bloom, spec)
    return np.array([r["maybe_seen"] for r in flagged.collect()], dtype=bool)


def test_bloom_no_false_negatives(spark):
    spec = BloomSpec(capacity=50_000, fpr=0.01, num_partitions=4)
    members = _hashes(20_000, 1)
    assert _maybe(spark, spec, members, members).all()


def test_bloom_fpr_within_budget(spark):
    spec = BloomSpec(capacity=50_000, fpr=0.01, num_partitions=4)
    members = _hashes(50_000, 2)  # at capacity
    probes = _hashes(50_000, 3)
    fpr = _maybe(spark, spec, members, probes).mean()
    assert fpr <= 1.25 * 0.01, fpr  # the sizing meets the configured 1%


def test_bloom_empty(spark):
    from cc_dbp_spark.operators import filters as flt

    spec = BloomSpec(capacity=1000)
    empty = _hash_df(spark, np.array([], dtype=np.int64))
    bloom = flt.update_bloom_df(flt.empty_bloom_df(spark), empty, spec)
    assert bloom.count() == 0
    assert not _maybe(spark, spec, np.array([], dtype=np.int64), _hashes(100, 4)).any()


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
    bloom_filter = flt.SeenFilter("bloom", capacity=4096, fpr=0.01, partitions=4)
    seen = spark.createDataFrame(
        [(f"http://seen{i}.com",) for i in range(500)], "url string"
    )
    cands = spark.createDataFrame(
        [(f"http://seen{i}.com",) for i in range(0, 500, 5)]
        + [(f"http://new{i}.com",) for i in range(300)],
        "url string",
    ).withColumn("url_hash", F.xxhash64("url"))

    bloom = bloom_filter.advance(None, seen, seen)
    flagged = flt.flag_with_bloom(cands, bloom, BloomSpec(4096, 0.01, 4))
    new = flagged.filter(~F.col("maybe_seen"))
    maybe = flagged.filter(F.col("maybe_seen"))
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
    """The OR-merged incremental snapshot is row-identical to a full
    rebuild."""
    from cc_dbp_spark.operators import filters as flt

    spec = BloomSpec(capacity=10_000, fpr=0.01, num_partitions=4)
    a = _hashes(3_000, 11)
    b = _hashes(2_000, 12)
    df_a, df_b = _hash_df(spark, a), _hash_df(spark, b)

    incr = flt.update_bloom_df(
        flt.update_bloom_df(flt.empty_bloom_df(spark), df_a, spec), df_b, spec
    )
    full = flt.update_bloom_df(None, df_a.unionByName(df_b), spec)
    got = sorted(tuple(r) for r in incr.collect())
    want = sorted(tuple(r) for r in full.collect())
    assert got == want and len(want) > 0


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
    flagged = flt.flag_with_cuckoo(members, snap, 4)
    # every member must be 'maybe', never 'new'
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_saturation_degrades_to_maybe(spark):
    """An overflowed partition must flag saturated and route every probe
    to the exact confirm (false negatives would re-crawl seen urls)."""
    from cc_dbp_spark.operators import filters as flt

    many = _hashes(9_000, 15)  # >> capacity 1024 over 1 partition
    df = spark.createDataFrame([(int(h),) for h in many], "url_hash bigint")
    snap = flt.update_cuckoo_df(None, df, 1024, 1)
    rows = snap.collect()
    assert len(rows) == 1 and rows[0]["saturated"]
    probes = spark.createDataFrame(
        [(int(h),) for h in _hashes(500, 16)], "url_hash bigint"
    )
    flagged = flt.flag_with_cuckoo(probes, snap, 1)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0
    assert flagged.filter(F.col("maybe_seen")).count() == 500


def test_update_bloom_df_forwards_hash_col(spark):
    """update_bloom_df must build the fresh words from the CALLER'S
    hash column (it used to silently assume 'url_hash', producing false
    negatives when the new-seen frame named it differently)."""
    from cc_dbp_spark.operators import filters as flt

    spec = flt.BloomSpec(1 << 12, num_partitions=4)
    df = spark.createDataFrame([(i * 7919,) for i in range(50)], "h bigint")
    bloom = flt.update_bloom_df(flt.empty_bloom_df(spark), df, spec, hash_col="h")
    probe = spark.createDataFrame([(i * 7919,) for i in range(50)], "h bigint")
    flagged = flt.flag_with_bloom(probe, bloom, spec, hash_col="h")
    assert flagged.filter("maybe_seen").count() == 50  # every inserted hash


def test_bloom_probe_rejects_mismatched_spec(spark):
    """A filter snapshot built under a different BloomSpec must crash
    the probe and the update loudly (silently probing wrong words and
    bits would report seen urls as definitely-new — seen-set divergence
    on resume)."""
    import pytest as _pt

    from cc_dbp_spark.operators import filters as flt

    big = flt.BloomSpec(1 << 22, num_partitions=4)
    small = flt.BloomSpec(1 << 14, num_partitions=4)
    assert (big.words, big.num_hashes) != (small.words, small.num_hashes)
    keys = spark.createDataFrame([(i,) for i in range(10)], "url_hash bigint")
    snapshot = flt.update_bloom_df(None, keys, big)
    with _pt.raises(Exception, match="different bloom_capacity"):
        flt.flag_with_bloom(keys, snapshot, small).collect()
    with _pt.raises(Exception, match="different bloom_capacity"):
        flt.update_bloom_df(snapshot, keys, small).collect()


def test_grouped_filter_kernels_raise_no_warnings(spark):
    """The cuckoo's applyInPandas kernels carry no partial type hints,
    so building, updating and probing it warns about nothing (a partial
    hint makes PySpark warn that it cannot infer the eval type)."""
    import warnings

    from cc_dbp_spark.operators import filters as flt

    df = spark.createDataFrame([(int(h),) for h in _hashes(500, 21)], "url_hash bigint")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cuckoo = flt.update_cuckoo_df(None, df, 1024, 4)
        cuckoo = flt.update_cuckoo_df(cuckoo, df, 1024, 4)
        flagged = flt.flag_with_cuckoo(df, cuckoo, 4)
        assert flagged.filter(F.col("maybe_seen")).count() == 500


@pytest.mark.parametrize("kind", ["none", "bloom", "cuckoo"])
def test_seen_filter_unseen_is_exact(spark, kind):
    """SeenFilter.unseen equals a plain anti-join of the candidates
    against the seen set for every filter kind: the filter only
    pre-checks, and its positives are confirmed exactly. Of the
    cuckoo's two partitions one overflows (saturated: every probe is
    positive) and one does not."""
    rng = random.Random(29)
    pool = spark.createDataFrame(
        [(canonicalize_py(f"http://h{rng.randint(0, 60)}.example.com/p{i}"),) for i in range(5000)],
        "url string",
    ).withColumn("pid", F.pmod(F.xxhash64("url"), F.lit(2)))
    rows = pool.collect()
    # all of partition 0 (~2500 urls: more than its 2048 cuckoo slots)
    # and a few hundred of partition 1
    seen_urls = [r.url for r in rows if r.pid == 0] + [r.url for r in rows if r.pid == 1][:300]
    unseen_urls = sorted({r.url for r in rows} - set(seen_urls))
    seen = spark.createDataFrame([(u, 0) for u in seen_urls], "url string, round_seen int")
    cand_rows = [(u, rng.randint(0, 3)) for u in rng.sample(seen_urls, 700)]
    cand_rows += [(u, rng.randint(0, 3)) for u in rng.sample(unseen_urls, 900)]
    cand_rows += rng.sample(cand_rows, 100)  # duplicates stay duplicates
    cands = spark.createDataFrame(cand_rows, "url string, depth int")

    sf = flt.SeenFilter(kind, capacity=2048, fpr=0.01, partitions=2)
    snapshot = sf.advance(None, seen, seen)
    if kind == "cuckoo":
        assert sorted(r.saturated for r in snapshot.collect()) == [False, True]

    got = sorted(tuple(r) for r in sf.unseen(cands, seen, snapshot).collect())
    want = sorted(tuple(r) for r in cands.join(seen.select("url"), "url", "left_anti").collect())
    assert got == want and len(want) >= 900
