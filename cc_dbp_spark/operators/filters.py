"""Approximate-membership filters for the URL-seen set: a register-
blocked bloom made of Spark's own functions, and a partitioned cuckoo
filter built and probed in grouped pandas kernels.

The reference's membership test is an exact in-memory ``Set.contains``
(``kbp/.../CreateTsvDataset.java:64,172-175``); at 10^10 URLs that
becomes a filter + exact confirm:

* filters PRUNE: "definitely new" URLs skip the expensive anti-join
  against the seen table; "maybe seen" URLs go through the exact
  anti-join, so false positives can never corrupt the seen set
  (SURVEY.md §7 risk note — filters advisory, decision exact).
* bloom: register-blocked (Putze, Sanders and Singler, WEA 2007): all k
  bits of a key sit in ONE 64-bit word, ``word = pmod(url_hash, W)``,
  chosen by the 6-bit fields of a second hash ``xxhash64(url_hash)``.
  Its state is the table of non-zero words ``(word, bits)`` plus the
  sizing ``(words, k)`` it was built under; build and update are one
  ``groupBy(word)`` ``bit_or``, the probe one left equi-join on the word
  whose strategy (broadcast or shuffle) Spark's join selection picks.
  Every step is a JVM expression: no Python worker, no driver collect.
* cuckoo: one row per hash partition ``(pid, table, saturated)``, built,
  updated and probed by numpy kernels in grouped and cogrouped
  ``applyInPandas`` (insertion order matters, so each partition's
  filter is one sequential kernel).
* both snapshot to parquet each round -> resumable.

The crawl round decides nothing about the filter: it carries a snapshot
or ``None`` and calls :class:`SeenFilter`, which holds the kind and the
sizing (from the ``CrawlConfig``), probes and steps the snapshot.
"""

from __future__ import annotations

import dataclasses
import math
import pathlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

_MIX = np.uint64(0xFF51AFD7ED558CCD)

# the seen-filter kinds a CrawlConfig may name ("none": exact anti-join only)
FILTER_KINDS = ("bloom", "cuckoo", "none")


def _per_partition(capacity: int, num_partitions: int) -> int:
    """Members each filter partition is sized for (bloom and cuckoo)."""
    return max(1024, capacity // num_partitions)


class BloomSpec:
    """Sizing for the blocked bloom: ``words`` 64-bit words (W) and
    ``num_hashes`` bits per key (k). The bits follow the classic rule
    per filter partition (members per partition, bits per member from
    ``fpr``, rounded up to a power of two); k is the classic optimum,
    capped at the ten 6-bit fields of one 64-bit hash."""

    def __init__(self, capacity: int, fpr: float = 0.01, num_partitions: int = 16):
        per_part = _per_partition(capacity, num_partitions)
        bits = int(-per_part * math.log(fpr) / (math.log(2) ** 2))
        bits_per_partition = 1 << max(13, (bits - 1).bit_length())
        self.words = num_partitions * bits_per_partition // 64
        k = round(bits_per_partition / per_part * math.log(2))
        self.num_hashes = min(64 // 6, max(1, k))

    def word(self, hash_col: str):
        """The key's word: ``pmod(hash, W)``."""
        return F.pmod(F.col(hash_col), F.lit(self.words))

    def mask(self, hash_col: str):
        """The key's k bits within its word, as ONE SQL expression: bit
        ``i`` is the i-th 6-bit field of ``xxhash64(hash)``."""
        return F.expr(
            f"aggregate(sequence(0, {self.num_hashes - 1}), 0L, (acc, i) -> acc | "
            f"shiftleft(1L, cast(shiftright(xxhash64(`{hash_col}`), 6 * i) & 63 as int)))"
        )

    def rows(self, bloom_df):
        """``bloom_df``'s ``(word, bits)`` rows. A snapshot built under a
        DIFFERENT sizing (config drift across a resume) would probe the
        wrong words and bits and report seen urls as definitely-new —
        silent seen-set divergence — so reading any of its rows fails
        the job loudly instead."""
        same = (F.col("words") == F.lit(self.words)) & (F.col("k") == F.lit(self.num_hashes))
        err = (
            f"bloom snapshot rows were not built for {self.words} words and "
            f"k={self.num_hashes} — the filter snapshot was built under a different "
            "bloom_capacity/fpr/partitions; resume with the original config or "
            "rebuild the filter from the seen set"
        )
        return bloom_df.select(
            F.when(same, F.col("word")).otherwise(F.raise_error(F.lit(err))).alias("word"),
            "bits",
        )


def _split(flagged, cols):
    """(definitely_new, maybe_seen) rows of a flagged frame, in ``cols``."""
    return (
        flagged.filter(~F.col("maybe_seen")).select(*cols),
        flagged.filter(F.col("maybe_seen")).select(*cols),
    )


def update_bloom_df(prev_bloom_df, new_seen_df, spec: BloomSpec,
                    hash_col: str = "url_hash"):
    """The bloom snapshot of ``prev_bloom_df``'s members (``None``: no
    previous snapshot) plus ``new_seen_df``'s: ONE ``groupBy(word)``
    ``bit_or`` over the previous rows and the new keys' masks, so a
    round masks only its newly-seen urls. OR is associative, so the
    incremental snapshot is exactly the rebuild from all members
    (tested); the build is this function with no previous snapshot.
    """
    rows = new_seen_df.select(
        spec.word(hash_col).alias("word"), spec.mask(hash_col).alias("bits")
    )
    if prev_bloom_df is not None:
        rows = spec.rows(prev_bloom_df).unionByName(rows)
    return rows.groupBy("word").agg(F.bit_or("bits").alias("bits")).select(
        "word", "bits",
        F.lit(spec.words).cast("bigint").alias("words"),
        F.lit(spec.num_hashes).alias("k"),
    )


def empty_bloom_df(spark):
    from cc_dbp_spark.session import empty_df

    return empty_df(spark, "word bigint, bits bigint, words bigint, k int")


def flag_with_bloom(candidates_df, bloom_df, spec: BloomSpec, hash_col: str = "url_hash"):
    """``candidates_df`` + ``maybe_seen``, true when all k bits of the key
    are set in its word: a left equi-join of the candidates on their
    word with the snapshot rows (Spark's join selection broadcasts or
    shuffles it), then one bitwise test; a word with no row has no
    members."""
    snap = spec.rows(bloom_df).toDF("__word", "__bits")
    hit = F.bitwise_not(F.col("__bits")).bitwiseAND(spec.mask(hash_col)) == 0
    return candidates_df.join(snap, spec.word(hash_col) == F.col("__word"), "left").select(
        *candidates_df.columns, F.coalesce(hit, F.lit(False)).alias("maybe_seen")
    )


# perfbench's filter probe calls these two by name; they go with the
# benchmark change that fixes its filter_layer
flag_with_broadcast_bloom = flag_with_bloom


def release_probe_broadcast() -> None:
    """No-op: the bloom probe holds no broadcast of its own. Kept for
    perfbench's filter probe, which calls it by name; it goes with the
    benchmark change that fixes perfbench's ``filter_layer``."""


def _with_pid(df, hash_col: str, num_partitions: int):
    """``df`` + ``pid``, the filter partition of each row's hash."""
    return df.withColumn("pid", F.pmod(F.col(hash_col), F.lit(num_partitions)).cast("int"))


def build_cuckoo_df(seen_df, capacity_per_partition: int, num_partitions: int = 16,
                    hash_col: str = "url_hash"):
    """Distributed partitioned cuckoo build: groupBy(pid) -> one serialized
    filter row per hash partition (same lifecycle as the bloom: snapshot
    to parquet, reload, probe). Returns (pid int, table binary)."""
    # the grouped/cogrouped kernels in this module carry no type hints:
    # applyInPandas warns on every call when it finds partial ones
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
    cuckoo probe: each partition's filter row meets its candidate group
    exactly once (cogroup on pid), and a partition without a row has no
    members, so its candidates are all new. Advisory exactly like the
    bloom path: false positives fall through to the exact anti-join, so
    the seen-set decision stays exact. Unlike bloom, the cuckoo filter
    also supports delete (URL re-crawl eviction) on the snapshot."""
    cand = _with_pid(candidates_df, hash_col, num_partitions)
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields)
    out_schema += ", maybe_seen boolean"

    def _probe(key, cand_pdf, ck_pdf):
        if len(cand_pdf) == 0:
            return cand_pdf.assign(maybe_seen=pd.Series([], dtype=bool))
        hashes = cand_pdf[hash_col].to_numpy(dtype=np.int64)
        if len(ck_pdf) == 0:
            maybe = np.zeros(len(hashes), dtype=bool)
        elif bool(ck_pdf["saturated"].iloc[0]):
            # overflowed partition: filter may have dropped entries (false
            # negatives) -> everything goes to the exact anti-join
            maybe = np.ones(len(hashes), dtype=bool)
        else:
            maybe = CuckooFilter.from_bytes(ck_pdf["table"].iloc[0]).contains(hashes)
        return cand_pdf.assign(maybe_seen=maybe)

    probed = (
        cand.groupBy("pid")
        .cogroup(cuckoo_df.groupBy("pid"))
        .applyInPandas(_probe, out_schema)
    )
    return _split(probed, candidates_df.columns)


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
        an exact anti-join must confirm the maybe rows."""
        if self.kind == "cuckoo":
            return prune_with_cuckoo(candidates_df, snapshot, self.partitions, hash_col)
        spec = BloomSpec(self.capacity, self.fpr, self.partitions)
        flagged = flag_with_bloom(candidates_df, snapshot, spec, hash_col)
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
        return update_bloom_df(snapshot, seen_hashes if snapshot is None else new_hashes, spec)

    def load(self, spark, path):
        """The snapshot checkpointed at ``path``; ``None`` when there is
        none, the kind is "none", or it is a bloom snapshot of the earlier
        per-partition bitmap layout ``(pid, bitmap)``: that round then
        runs the exact anti-join alone and rebuilds the snapshot from the
        seen set."""
        if self.kind == "none" or not pathlib.Path(path).exists():
            return None
        snapshot = spark.read.parquet(str(path))
        if self.kind == "bloom" and "word" not in snapshot.columns:
            return None
        return snapshot


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
