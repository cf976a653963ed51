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

The crawl round decides nothing about the filter: it carries a snapshot
or ``None`` and calls :class:`SeenFilter`, which holds the kind and the
sizing (from the ``CrawlConfig``), picks the probe and steps the
snapshot. The bloom probe broadcasts the whole filter (narrow, no
shuffle) while it fits :data:`BROADCAST_MAX_BYTES`; beyond that, and
always for cuckoo, the probe is a cogrouped ``applyInPandas`` in which
each partition's filter row meets its candidate group once. The probe
broadcast stays in one module slot until :func:`release_probe_broadcast`,
which ``CrawlDriver.step`` calls after each round's count job.

All probe/build math is numpy over int64 ``xxhash64(url)`` columns —
no per-row Python.
"""

from __future__ import annotations

import dataclasses
import math
import pathlib

import numpy as np
import pandas as pd

_MIX = np.uint64(0xFF51AFD7ED558CCD)

# the seen-filter kinds a CrawlConfig may name ("none": exact anti-join only)
FILTER_KINDS = ("bloom", "cuckoo", "none")
# whole-filter bytes up to which the bloom probe is a broadcast (bits for
# 10^7 urls at 1% fpr ~ 12 MB); 10^10-scale filters are GBs and must meet
# each candidate partition once, cogrouped, never be broadcast whole
BROADCAST_MAX_BYTES = 64 << 20


def _per_partition(capacity: int, num_partitions: int) -> int:
    """Members each filter partition is sized for (bloom and cuckoo)."""
    return max(1024, capacity // num_partitions)


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
        per_part = _per_partition(capacity, num_partitions)
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


def _with_pid(df, hash_col: str, num_partitions: int):
    """``df`` + ``pid``, the filter partition of each row's hash."""
    from pyspark.sql import functions as F

    return df.withColumn("pid", F.pmod(F.col(hash_col), F.lit(num_partitions)).cast("int"))


def build_bloom_df(seen_df, spec: BloomSpec, hash_col: str = "url_hash"):
    """Distributed bloom build: groupBy(pid) -> one bitmap row per partition.

    Returns DataFrame (pid int, bitmap binary). Partitions with no members
    are absent (probe treats absent as all-miss).
    """
    # the grouped/cogrouped kernels in this module carry no type hints:
    # applyInPandas warns on every call when it finds partial ones
    def _build(key, pdf):
        bm = spec.build_bitmap(pdf[hash_col].to_numpy(dtype=np.int64))
        return pd.DataFrame({"pid": [key[0]], "bitmap": [bm]})

    with_pid = _with_pid(seen_df, hash_col, spec.num_partitions)
    return with_pid.groupBy("pid").applyInPandas(_build, "pid int, bitmap binary")


def _split(flagged, cols):
    """(definitely_new, maybe_seen) rows of a flagged frame, in ``cols``."""
    from pyspark.sql import functions as F

    return (
        flagged.filter(~F.col("maybe_seen")).select(*cols),
        flagged.filter(F.col("maybe_seen")).select(*cols),
    )


def _prune_cogrouped(candidates_df, filter_df, num_partitions: int, hash_col: str, kernel):
    """Split candidates into (definitely_new, maybe_seen) via a cogrouped
    probe: each partition's filter row meets its candidate group exactly
    once (cogroup on pid) — no whole-filter broadcast, no shuffle of the
    seen table itself. ``kernel(hashes, filter_pdf)`` flags one
    partition's hashes against its one filter row; a partition without
    a row has no members, so its candidates are all new."""
    cand = _with_pid(candidates_df, hash_col, num_partitions)
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields)
    out_schema += ", maybe_seen boolean"

    def _probe(key, cand_pdf, filter_pdf):
        if len(cand_pdf) == 0:
            return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
        hashes = cand_pdf[hash_col].to_numpy(dtype=np.int64)
        if len(filter_pdf) == 0:
            maybe = np.zeros(len(hashes), dtype=bool)
        else:
            maybe = kernel(hashes, filter_pdf)
        return cand_pdf.assign(maybe_seen=maybe)

    probed = (
        cand.groupBy("pid")
        .cogroup(filter_df.groupBy("pid"))
        .applyInPandas(_probe, out_schema)
    )
    return _split(probed, candidates_df.columns)


def prune_with_bloom(candidates_df, bloom_df, spec: BloomSpec, hash_col: str = "url_hash"):
    """Split candidates into (definitely_new, maybe_seen) via the
    cogrouped bloom probe: the scale path, for bitmaps too large to
    broadcast whole."""
    return _prune_cogrouped(
        candidates_df, bloom_df, spec.num_partitions, hash_col,
        lambda hashes, pdf: spec.probe(hashes, pdf["bitmap"].iloc[0]),
    )


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


# The round's probe broadcast, one STRONG slot. Strong because the
# pandas UDF closure does not retain the Python Broadcast wrapper after
# planning — a weakref dies the moment flag_with_broadcast_bloom returns
# (measured), so its unpersist would be a no-op. CrawlDriver.step empties
# it after every round; a module global only because callers outside a
# round (perfbench's filter probe) release it by name.
_last_probe_broadcast = None


def release_probe_broadcast() -> None:
    """Unpersist the probe broadcast's executor copies and drop the
    driver-side reference; a second call is a no-op. Safe at any point:
    ``unpersist`` keeps the broadcast re-broadcastable from the driver
    JVM, so a still-lazy plan that probes it re-ships the value on
    execution. ``CrawlDriver.step`` calls this after the round's count
    job, the barrier after which no plan of the round reads the probe."""
    global _last_probe_broadcast
    prev, _last_probe_broadcast = _last_probe_broadcast, None
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:
            pass  # its context already shut down


def flag_with_broadcast_bloom(candidates_df, bloom_df, spec: BloomSpec,
                              hash_col: str = "url_hash",
                              flag_col: str = "maybe_seen"):
    """NARROW bloom probe: ship the whole partitioned filter to every task
    via a Spark broadcast and flag candidates in place — no shuffle at all.

    For filters within :data:`BROADCAST_MAX_BYTES`; the cogrouped
    :func:`prune_with_bloom` remains the 10^10-scale path where bitmaps
    are GBs and must meet each candidate partition exactly once instead
    of being broadcast whole. The broadcast stays in the module slot
    until :func:`release_probe_broadcast`.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    global _last_probe_broadcast
    sc = candidates_df.sparkSession.sparkContext
    parts = {int(r["pid"]): bytes(r["bitmap"]) for r in bloom_df.collect()}
    bparts = _last_probe_broadcast = sc.broadcast(parts)

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


def build_cuckoo_df(seen_df, capacity_per_partition: int, num_partitions: int = 16,
                    hash_col: str = "url_hash"):
    """Distributed partitioned cuckoo build: groupBy(pid) -> one serialized
    filter row per hash partition (same lifecycle as the bloom: snapshot
    to parquet, reload, cogroup-probe). Returns (pid int, table binary)."""
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

    return _with_pid(seen_df, hash_col, num_partitions).groupBy("pid").applyInPandas(
        _build, "pid int, table binary, saturated boolean"
    )


def update_cuckoo_df(prev_cuckoo_df, new_seen_df, capacity_per_partition: int,
                     num_partitions: int = 16, hash_col: str = "url_hash"):
    """Incremental cuckoo snapshot update: cogroup the previous
    per-partition tables with ONLY the newly-seen urls and insert.
    A partition that ever overflows stays saturated (all probes "maybe",
    exact anti-join decides) — correctness never depends on the filter.
    """
    new = _with_pid(new_seen_df, hash_col, num_partitions).select("pid", hash_col)

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
    def _kernel(hashes, ck_pdf):
        if bool(ck_pdf["saturated"].iloc[0]):
            # overflowed partition: filter may have dropped entries (false
            # negatives) -> everything goes to the exact anti-join
            return np.ones(len(hashes), dtype=bool)
        return CuckooFilter.from_bytes(ck_pdf["table"].iloc[0]).contains(hashes)

    return _prune_cogrouped(candidates_df, cuckoo_df, num_partitions, hash_col, _kernel)


@dataclasses.dataclass(frozen=True)
class SeenFilter:
    """The seen filter as a crawl round uses it: its kind, its sizing,
    its probe and its snapshot step. Built only from a ``CrawlConfig``
    (:meth:`of`); the round carries its snapshot, or ``None``."""

    kind: str
    capacity: int
    fpr: float
    partitions: int

    @classmethod
    def of(cls, cfg) -> "SeenFilter":
        return cls(cfg.filter_kind, cfg.bloom_capacity, cfg.bloom_fpr, cfg.bloom_partitions)

    def split(self, candidates_df, snapshot, hash_col: str = "url_hash"):
        """(definitely_new, maybe_seen) candidates against ``snapshot``;
        an exact anti-join must confirm the maybe rows. Bloom probes by
        broadcast while the whole filter fits BROADCAST_MAX_BYTES."""
        if self.kind == "cuckoo":
            return prune_with_cuckoo(candidates_df, snapshot, self.partitions, hash_col)
        spec = BloomSpec(self.capacity, self.fpr, self.partitions)
        if spec.num_partitions * spec.bits_per_partition // 8 > BROADCAST_MAX_BYTES:
            return prune_with_bloom(candidates_df, snapshot, spec, hash_col)
        flagged = flag_with_broadcast_bloom(candidates_df, snapshot, spec, hash_col)
        return _split(flagged, candidates_df.columns)

    def advance(self, snapshot, seen_hashes, new_hashes):
        """The snapshot after a round (``None`` for kind "none"): built
        from ``seen_hashes``, the whole seen set, when the round carried
        none; else ``snapshot`` updated from ``new_hashes``, the round's
        newly scheduled urls — O(new), not O(seen)."""
        if self.kind == "none":
            return None
        if self.kind == "cuckoo":
            per_part = _per_partition(self.capacity, self.partitions)
            if snapshot is None:
                return build_cuckoo_df(seen_hashes, per_part, self.partitions)
            return update_cuckoo_df(snapshot, new_hashes, per_part, self.partitions)
        spec = BloomSpec(self.capacity, self.fpr, self.partitions)
        if snapshot is None:
            return build_bloom_df(seen_hashes, spec)
        return update_bloom_df(snapshot, new_hashes, spec)

    def load(self, spark, path):
        """The snapshot checkpointed at ``path``; ``None`` when there is
        none or the kind is "none"."""
        if self.kind == "none" or not pathlib.Path(path).exists():
            return None
        return spark.read.parquet(str(path))


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
