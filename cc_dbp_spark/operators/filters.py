"""Partitioned approximate-membership filters (bloom + cuckoo) for the
URL-seen set, built and probed inside Arrow-vectorized UDFs.

The reference's membership test is an exact in-memory ``Set.contains``
(``kbp/.../CreateTsvDataset.java:64,172-175``); at 10^10 URLs that
becomes a partitioned filter + exact confirm:

* filters PRUNE: "definitely new" URLs skip the expensive anti-join
  against the seen table; "maybe seen" URLs go through the exact
  anti-join, so false positives can never corrupt the seen set
  (SURVEY.md §7 risk note — filters advisory, decision exact).
* state: one row per hash partition ``(pid, bitmap binary)``,
  snapshotted to parquet each round -> resumable.

All probe/build math is numpy over int64 ``xxhash64(url)`` columns —
no per-row Python. At cluster scale the probe runs as a cogrouped
``applyInPandas`` so each partition's bitmap is shipped once per
candidate partition, never broadcast whole.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

_MIX = np.uint64(0xFF51AFD7ED558CCD)


def _h2(h: np.ndarray) -> np.ndarray:
    """Second hash derived from the primary via a 64-bit finalizer mix."""
    x = h.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(33)
    x *= _MIX
    x ^= x >> np.uint64(33)
    return x


class BloomSpec:
    """Sizing for a partitioned bloom filter."""

    def __init__(self, capacity: int, fpr: float = 0.01, num_partitions: int = 16):
        self.num_partitions = num_partitions
        per_part = max(1024, capacity // num_partitions)
        bits = int(-per_part * math.log(fpr) / (math.log(2) ** 2))
        self.bits_per_partition = 1 << max(13, (bits - 1).bit_length())
        self.num_hashes = max(1, round(self.bits_per_partition / per_part * math.log(2)))

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """(n, k) bit positions within a partition's bitmap."""
        h1 = hashes.astype(np.uint64)
        h2 = _h2(h1) | np.uint64(1)
        i = np.arange(self.num_hashes, dtype=np.uint64)
        with np.errstate(over="ignore"):
            pos = (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.bits_per_partition)
        return pos

    def build_bitmap(self, hashes: np.ndarray) -> bytes:
        """Bitmap bytes for ONE partition from its member hashes."""
        bits = np.zeros(self.bits_per_partition // 8, dtype=np.uint8)
        if len(hashes):
            pos = self._positions(np.asarray(hashes, dtype=np.int64)).ravel()
            np.bitwise_or.at(bits, (pos // 8).astype(np.int64), (1 << (pos % 8)).astype(np.uint8))
        return bits.tobytes()

    def probe(self, hashes: np.ndarray, bitmap: bytes) -> np.ndarray:
        """Boolean 'maybe seen' per hash against ONE partition bitmap."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        bits = np.frombuffer(bitmap, dtype=np.uint8)
        if len(bits) * 8 != self.bits_per_partition:
            # a snapshot built under a DIFFERENT BloomSpec (config drift
            # across a resume) would probe the wrong bit positions and
            # report seen urls as definitely-new — silent seen-set
            # divergence. Crash loudly instead.
            raise ValueError(
                f"bloom bitmap is {len(bits) * 8} bits but this spec expects "
                f"{self.bits_per_partition} — the filter snapshot was built "
                "under a different bloom_capacity/fpr; resume with the "
                "original config or rebuild the filter from the seen set"
            )
        pos = self._positions(np.asarray(hashes, dtype=np.int64))
        hit = (bits[(pos // 8).astype(np.int64)] >> (pos % 8).astype(np.uint8)) & 1
        return hit.all(axis=1).astype(bool)


def build_bloom_df(seen_df, spec: BloomSpec, hash_col: str = "url_hash"):
    """Distributed bloom build: groupBy(pid) -> one bitmap row per partition.

    Returns DataFrame (pid int, bitmap binary). Partitions with no members
    are absent (probe treats absent as all-miss).
    """
    from pyspark.sql import functions as F

    # the grouped/cogrouped kernels in this module carry no type hints:
    # applyInPandas warns on every call when it finds partial ones
    def _build(key, pdf):
        bm = spec.build_bitmap(pdf[hash_col].to_numpy(dtype=np.int64))
        return pd.DataFrame({"pid": [key[0]], "bitmap": [bm]})

    with_pid = seen_df.withColumn(
        "pid", F.pmod(F.col(hash_col), F.lit(spec.num_partitions)).cast("int")
    )
    return with_pid.groupBy("pid").applyInPandas(_build, "pid int, bitmap binary")


def prune_with_bloom(candidates_df, bloom_df, spec: BloomSpec, hash_col: str = "url_hash"):
    """Split candidates into (definitely_new, maybe_seen) via cogrouped probe.

    Scale path: each partition's bitmap meets its candidate group exactly
    once (cogroup on pid) — no whole-filter broadcast, no shuffle of the
    seen table itself.
    """
    from pyspark.sql import functions as F

    cols = candidates_df.columns
    cand = candidates_df.withColumn(
        "pid", F.pmod(F.col(hash_col), F.lit(spec.num_partitions)).cast("int")
    )

    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields)
    out_schema += ", maybe_seen boolean"

    def _probe(key, cand_pdf, bloom_pdf):
        if len(cand_pdf) == 0:
            return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(bloom_pdf) == 0:
            maybe = np.zeros(len(cand_pdf), dtype=bool)
        else:
            maybe = spec.probe(
                cand_pdf[hash_col].to_numpy(dtype=np.int64), bloom_pdf["bitmap"].iloc[0]
            )
        return cand_pdf.assign(maybe_seen=maybe)

    probed = (
        cand.groupBy("pid")
        .cogroup(bloom_df.groupBy("pid"))
        .applyInPandas(_probe, out_schema)
    )
    new = probed.filter(~F.col("maybe_seen")).select(*cols)
    maybe = probed.filter(F.col("maybe_seen")).select(*cols)
    return new, maybe


def update_bloom_df(prev_bloom_df, new_seen_df, spec: BloomSpec,
                    hash_col: str = "url_hash"):
    """Incremental snapshot update: OR-merge the previous partitioned
    bitmaps with bitmaps built from ONLY the newly-seen urls.

    OR(bitmap(A), bitmap(B)) == bitmap(A ∪ B), so the incremental filter
    is bit-identical to a full rebuild (tested) — but each round costs
    O(new urls), not O(entire seen set). This is the filter-snapshot
    lifecycle the round loop checkpoints and resumes from.
    """
    fresh = build_bloom_df(new_seen_df, spec, hash_col=hash_col)
    both = prev_bloom_df.unionByName(fresh)

    def _or(key, pdf):
        acc = np.frombuffer(pdf["bitmap"].iloc[0], dtype=np.uint8)
        for b in pdf["bitmap"].iloc[1:]:
            acc = acc | np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame({"pid": [key[0]], "bitmap": [acc.tobytes()]})

    return both.groupBy("pid").applyInPandas(_or, "pid int, bitmap binary")


def empty_bloom_df(spark):
    from cc_dbp_spark.session import empty_df

    return empty_df(spark, "pid int, bitmap binary")


# The live probe broadcast, one STRONG slot (app_id, Broadcast). Strong
# because the pandas UDF closure does not retain the Python Broadcast
# wrapper after planning — a weakref dies the moment
# flag_with_broadcast_bloom returns (measured), making the next round's
# unpersist a no-op and leaving every round's executor copies pinned.
# Tagged with applicationId (stable, never reused — id(sc) can collide
# after GC) so a successor context never unpersists a predecessor's
# broadcast; a stale entry from a dead context is simply dropped, which
# frees its driver-side value. One slot bounds driver retention to
# exactly the current round's filter, which must stay referenced anyway
# to remain re-broadcastable for lazy re-execution.
_last_probe_broadcast: tuple[str, object] | None = None


def release_probe_broadcast() -> None:
    """Teardown for the probe-broadcast slot: unpersist the FINAL
    round's executor copies and drop the driver-side reference (the
    per-round rotation in :func:`flag_with_broadcast_bloom` only ever
    releases the previous round, so without this a long-lived driver
    pins the last filter — up to ~64 MB × (1 + executors) — until the
    process exits). Safe to call at any point: ``unpersist`` keeps the
    broadcast re-broadcastable from the driver JVM, so a still-lazy
    plan that probes it simply re-ships the value on execution.
    CrawlDriver.run and StreamingCrawl.run_available_now call this when
    their rounds complete."""
    global _last_probe_broadcast
    if _last_probe_broadcast is None:
        return
    _, prev = _last_probe_broadcast
    _last_probe_broadcast = None
    try:
        prev.unpersist(False)
    except Exception:
        pass  # context already shut down


def flag_with_broadcast_bloom(candidates_df, bloom_df, spec: BloomSpec,
                              hash_col: str = "url_hash",
                              flag_col: str = "maybe_seen"):
    """NARROW bloom probe: ship the whole partitioned filter to every task
    via a Spark broadcast and flag candidates in place — no shuffle at all.

    Use when the filter fits the broadcast budget (bits for 10^7 urls at
    1% fpr ~ 12 MB); the cogrouped :func:`prune_with_bloom` remains the
    10^10-scale path where bitmaps are GBs and must meet each candidate
    partition exactly once instead of being broadcast whole.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    sc = candidates_df.sparkSession.sparkContext
    parts = {int(r["pid"]): bytes(r["bitmap"]) for r in bloom_df.collect()}
    bparts = sc.broadcast(parts)
    # a multi-round loop calls this once per round with a fresh (up to
    # ~64 MB) filter: release the PREVIOUS round's executor copies —
    # its consumers were materialized by that round's checkpoint/count
    # barrier, and unpersist (unlike destroy) stays re-broadcastable
    # from the driver if some lazy plan does re-execute
    global _last_probe_broadcast
    app_id = sc.applicationId
    if _last_probe_broadcast is not None:
        prev_app, prev = _last_probe_broadcast
        _last_probe_broadcast = None
        if prev_app == app_id:
            try:
                prev.unpersist(False)
            except Exception:
                pass  # context shut down between rounds
        # different app: the old context is gone — its executor copies
        # died with it; dropping the strong ref frees the driver value
    _last_probe_broadcast = (app_id, bparts)

    @F.pandas_udf(BooleanType())
    def _probe(h: pd.Series) -> pd.Series:
        hs = h.to_numpy(dtype=np.int64)
        pid = (hs % spec.num_partitions + spec.num_partitions) % spec.num_partitions
        out = np.zeros(len(hs), dtype=bool)
        for p in np.unique(pid):
            bm = bparts.value.get(int(p))
            if bm is not None:
                m = pid == p
                out[m] = spec.probe(hs[m], bm)
        return pd.Series(out)

    return candidates_df.withColumn(flag_col, _probe(F.col(hash_col)))


def bloom_total_bytes(spec: BloomSpec) -> int:
    """Whole-filter size if every partition bitmap were materialized."""
    return spec.num_partitions * (spec.bits_per_partition // 8)


def build_cuckoo_df(seen_df, capacity_per_partition: int, num_partitions: int = 16,
                    hash_col: str = "url_hash"):
    """Distributed partitioned cuckoo build: groupBy(pid) -> one serialized
    filter row per hash partition (same lifecycle as the bloom: snapshot
    to parquet, reload, cogroup-probe). Returns (pid int, table binary)."""
    from pyspark.sql import functions as F

    def _build(key, pdf):
        cf = CuckooFilter(capacity_per_partition)
        failed = cf.insert(pdf[hash_col].to_numpy(dtype=np.int64))
        # overflow would create FALSE NEGATIVES (seen url reported
        # definitely-new -> re-crawled -> seen-set divergence); a
        # saturated partition instead degrades every probe to "maybe",
        # falling back to the exact anti-join for that hash range
        return pd.DataFrame(
            {"pid": [key[0]], "table": [cf.to_bytes()], "saturated": [failed > 0]}
        )

    with_pid = seen_df.withColumn(
        "pid", F.pmod(F.col(hash_col), F.lit(num_partitions)).cast("int")
    )
    return with_pid.groupBy("pid").applyInPandas(
        _build, "pid int, table binary, saturated boolean"
    )


def update_cuckoo_df(prev_cuckoo_df, new_seen_df, capacity_per_partition: int,
                     num_partitions: int = 16, hash_col: str = "url_hash"):
    """Incremental cuckoo snapshot update: cogroup the previous
    per-partition tables with ONLY the newly-seen urls and insert.
    A partition that ever overflows stays saturated (all probes "maybe",
    exact anti-join decides) — correctness never depends on the filter.
    """
    from pyspark.sql import functions as F

    new = new_seen_df.withColumn(
        "pid", F.pmod(F.col(hash_col), F.lit(num_partitions)).cast("int")
    ).select("pid", hash_col)

    def _upd(key, prev_pdf, new_pdf):
        if len(prev_pdf):
            cf = CuckooFilter.from_bytes(prev_pdf["table"].iloc[0])
            sat = bool(prev_pdf["saturated"].iloc[0])
        else:
            cf = CuckooFilter(capacity_per_partition)
            sat = False
        if len(new_pdf):
            failed = cf.insert(new_pdf[hash_col].to_numpy(dtype=np.int64))
            sat = sat or failed > 0
        return pd.DataFrame({"pid": [key[0]], "table": [cf.to_bytes()], "saturated": [sat]})

    return (
        prev_cuckoo_df.groupBy("pid")
        .cogroup(new.groupBy("pid"))
        .applyInPandas(_upd, "pid int, table binary, saturated boolean")
    )


def empty_cuckoo_df(spark):
    from cc_dbp_spark.session import empty_df

    return empty_df(spark, "pid int, table binary, saturated boolean")


def prune_with_cuckoo(candidates_df, cuckoo_df, num_partitions: int = 16,
                      hash_col: str = "url_hash"):
    """Split candidates into (definitely_new, maybe_seen) via cogrouped
    cuckoo probe — advisory exactly like the bloom path: false positives
    fall through to the exact anti-join, so the seen-set decision stays
    exact. Unlike bloom, the cuckoo filter also supports delete (URL
    re-crawl eviction) on the snapshot."""
    from pyspark.sql import functions as F

    cols = candidates_df.columns
    cand = candidates_df.withColumn(
        "pid", F.pmod(F.col(hash_col), F.lit(num_partitions)).cast("int")
    )
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields)
    out_schema += ", maybe_seen boolean"

    def _probe(key, cand_pdf, ck_pdf):
        if len(cand_pdf) == 0:
            return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(ck_pdf) == 0:
            maybe = np.zeros(len(cand_pdf), dtype=bool)
        elif bool(ck_pdf["saturated"].iloc[0]):
            # overflowed partition: filter may have dropped entries (false
            # negatives) -> everything goes to the exact anti-join
            maybe = np.ones(len(cand_pdf), dtype=bool)
        else:
            cf = CuckooFilter.from_bytes(ck_pdf["table"].iloc[0])
            maybe = cf.contains(cand_pdf[hash_col].to_numpy(dtype=np.int64))
        return cand_pdf.assign(maybe_seen=maybe)

    probed = (
        cand.groupBy("pid")
        .cogroup(cuckoo_df.groupBy("pid"))
        .applyInPandas(_probe, out_schema)
    )
    new = probed.filter(~F.col("maybe_seen")).select(*cols)
    maybe = probed.filter(F.col("maybe_seen")).select(*cols)
    return new, maybe


# ------------------------------------------------------------------ cuckoo

class CuckooFilter:
    """Single-partition cuckoo filter (bucketed 16-bit fingerprints,
    4 slots/bucket) — numpy state, supports delete; used as the
    alternate/deletable seen-filter backend. Advisory only, like bloom.
    """

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int, seed: int = 7):
        nbuckets = 1 << max(4, (capacity // self.SLOTS).bit_length())
        self.nbuckets = nbuckets
        self.table = np.zeros((nbuckets, self.SLOTS), dtype=np.uint16)
        self.rng = np.random.default_rng(seed)

    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = ((h.astype(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        return fp

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (h.astype(np.uint64) % np.uint64(self.nbuckets)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        with np.errstate(over="ignore"):
            alt = i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _MIX)
        return (alt % np.uint64(self.nbuckets)).astype(np.int64)

    def _bulk_place(self, buckets: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized no-kick placement: item k of each bucket group goes
        to that bucket's k-th empty slot (the sequential first-empty
        semantics, batched). Returns the boolean placed-mask."""
        n = len(buckets)
        placed = np.zeros(n, dtype=bool)
        if n == 0:
            return placed
        order = np.argsort(buckets, kind="stable")
        sb = buckets[order]
        uniq, first, counts = np.unique(sb, return_index=True, return_counts=True)
        # rank of each (sorted) item within its bucket group
        rank = np.arange(n) - np.repeat(first, counts)
        sub = self.table[uniq]  # (m, SLOTS)
        empty = sub == 0
        n_empty = empty.sum(axis=1)
        # empty slot indices per bucket, ascending, padded at the end
        slot_order = np.argsort(~empty, axis=1, kind="stable")
        gi = np.repeat(np.arange(len(uniq)), counts)  # group index per sorted item
        fits = rank < n_empty[gi]
        rows = uniq[gi[fits]]
        slots = slot_order[gi[fits], rank[fits]]
        self.table[rows, slots] = fps[order][fits]
        placed[order[fits]] = True
        return placed

    def insert(self, hashes: np.ndarray) -> int:
        """Insert; returns count of failed (table-full) insertions.

        Common path is fully vectorized (bulk first-empty placement into
        i1, then i2 for the remainder); only items whose both buckets
        are full fall into the per-element cuckoo kick loop — at normal
        load factors that is a vanishing fraction of a batch.
        """
        h = np.asarray(hashes, dtype=np.int64)
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        placed = self._bulk_place(i1s, fps)
        rest = ~placed
        if rest.any():
            placed2 = np.zeros(len(h), dtype=bool)
            placed2[rest] = self._bulk_place(i2s[rest], fps[rest])
            rest &= ~placed2
        failed = 0
        for fp, i1, i2 in zip(fps[rest], i1s[rest], i2s[rest]):
            # kick
            i = int(i1 if self.rng.integers(2) else i2)
            cur = np.uint16(fp)
            ok = False
            for _ in range(self.MAX_KICKS):
                slot = int(self.rng.integers(self.SLOTS))
                cur, self.table[i, slot] = self.table[i, slot], cur
                i = int(self._i2(np.array([i]), np.array([cur]))[0])
                if self._try_put(i, cur):
                    ok = True
                    break
            if not ok:
                failed += 1
        return failed

    def _try_put(self, bucket: int, fp: np.uint16) -> bool:
        row = self.table[bucket]
        empty = np.where(row == 0)[0]
        if len(empty):
            self.table[bucket, empty[0]] = fp
            return True
        return False

    def contains(self, hashes: np.ndarray) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.int64)
        if len(h) == 0:
            return np.zeros(0, dtype=bool)
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        in1 = (self.table[i1s] == fps[:, None]).any(axis=1)
        in2 = (self.table[i2s] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete(self, hashes: np.ndarray) -> np.ndarray:
        """Best-effort delete; returns bool per hash (found & removed)."""
        h = np.asarray(hashes, dtype=np.int64)
        out = np.zeros(len(h), dtype=bool)
        fps, i1s = self._fp(h), self._i1(h)
        i2s = self._i2(i1s, fps)
        for n, (fp, i1, i2) in enumerate(zip(fps, i1s, i2s)):
            for b in (i1, i2):
                idx = np.where(self.table[b] == fp)[0]
                if len(idx):
                    self.table[b, idx[0]] = 0
                    out[n] = True
                    break
        return out

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, seed: int = 7) -> "CuckooFilter":
        table = np.frombuffer(data, dtype=np.uint16).reshape(-1, cls.SLOTS).copy()
        obj = cls.__new__(cls)
        obj.nbuckets = table.shape[0]
        obj.table = table
        obj.rng = np.random.default_rng(seed)
        return obj
