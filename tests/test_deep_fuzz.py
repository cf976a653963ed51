"""Opt-in deep-fuzz differentials — set ``CCDBP_DEEP_FUZZ=1`` to run.

Skipped by default: the standard suite already pins each seam with
fast differentials (2 frontier seeds, 60 gazetteer trials, JDK golden
vectors in ``tools/golden_vectors.tsv``); this module widens those
same checks by 1-2 orders of magnitude (~7 min total) for pre-release
confidence sweeps:

* the fused single-shuffle scheduling round vs the oracle's one-round
  step over 38 MORE random frontier/robots/credit configs (seeds 0-39
  minus the suite's pinned 3/17);
* the indexed gazetteer matcher vs the naive oracle over 2000 random
  entry-set/text trials (50 RNG seeds x 40 trials);
* the deterministic-draw parity kernels vs the LIVE JVM over 5000
  random strings (non-BMP code points, surrogate pairs, control
  chars) — hashCode (both impls), SHA1-head nextDouble, the
  learning-curve draw, and nextInt(8)/nextInt(7), all bit-exact
  (requires ``javac``; skipped when absent);
* the native-column URL canonicalizer vs its pure-Python twin over
  50,000 adversarial piece-concatenated URLs (10 seeds x 5000 —
  the suite's batch test uses 500);
* BOTH connected-components implementations (min-label propagation
  AND Kiveris large-star/small-star contraction) vs a union-find
  ground truth over 12 random graphs with adversarial chain
  segments stitched in;
* ``ngram_jaccard_pairs`` (BOTH the prefix-filtered scale path and
  the plain inverted-index path) vs brute-force pairwise Jaccard
  over 8 random near-dup corpora at thresholds 0.3-0.9 — the
  prefix filter's exactness claim, checked empirically;
* ``simhash_near_dups`` (uncapped) vs brute-force popcount over 10
  random 64-bit code sets with planted near-dup clusters at
  max_hamming 1-3 — the block-rotation pigeonhole exactness claim;
* ``simhash_near_dups`` capped (``max_bucket`` 2-8) over 6 code sets
  whose planted clusters outgrow the cap — the star-link guarantee:
  capped pairs are brute-force pairs, and every cluster member within
  max_hamming of the cluster's min-id member pairs with it;
* ``ivf_topk``'s hot-cell re-split result-identity claim: max_cell
  ``"auto"`` == ``None`` == a tight int cap, value-exact top-k over
  6 skewed corpora (half the vectors in one tight cluster).

The first eight differentials above were run green at the round-5
close, and the capped SimHash case since (recorded in COVERAGE.md).
"""
import os
import random
import shutil
import subprocess
import tempfile

import pytest

DEEP = os.environ.get("CCDBP_DEEP_FUZZ") == "1"
pytestmark = pytest.mark.skipif(not DEEP, reason="set CCDBP_DEEP_FUZZ=1")


@pytest.mark.parametrize("seed", [s for s in range(40) if s not in (3, 17)])
def test_fused_round_differential_wide(spark, seed):
    from tests.test_frontier import test_fused_randomized_differential as body

    body(spark, seed)


def test_gazetteer_index_vs_naive_wide():
    from cc_dbp_spark.operators import gazetteer as gaz
    from tests.test_gazetteer import _random_entries, _random_text

    for seed in range(50):
        rng = random.Random(seed)
        for trial in range(40):
            entries = _random_entries(rng, rng.randint(1, 12))
            idx = gaz.GazetteerIndex(entries)
            text = _random_text(rng)
            toks, _, _ = gaz.tokenize_with_offsets(text)
            assert sorted(idx.match_tokens(toks)) == sorted(
                gaz.naive_match(entries, text)
            ), f"seed {seed} trial {trial}: {entries} / {text!r}"


def test_canonicalizer_native_vs_twin_wide(spark):
    from pyspark.sql import functions as F

    from cc_dbp_spark.functions.urlnorm import canonicalize_col, canonicalize_py

    pieces = [
        "http://", "HTTPS://", "", "  ", "a b", "Host.COM", ":8080", ":80",
        "/p//q/", "?x=1&y=2", "#frag", "ftp://x/", "%20", "ünïcode", "a#b#c",
        "//", "?", "http://h:443/x", "https://h:443/x", "hTtP://", "user:pw@",
        "[::1]", ".", "..", "/./", "/../", "%2F", "&", "=", ";", "~", "中文",
        "%", "%zz", "?a=%3D", "xn--", "256.1.1.1", "host.", ":0", ":65536", "\t",
    ]
    for seed in range(10):
        rng = random.Random(seed)
        urls = ["".join(rng.choices(pieces, k=rng.randint(1, 8))) for _ in range(5000)]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = [r.c for r in df.select(canonicalize_col(F.col("url")).alias("c")).collect()]
        want = [canonicalize_py(u) for u in urls]
        mism = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
        assert not mism, (seed, mism[:5])


_JAC_WORDS = [
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
    "iota", "kappa", "the", "a", "of", "and", "crawl", "spark", "url",
    "host", "page", "data",
]


def test_ngram_jaccard_vs_brute_force_wide(spark):
    import itertools

    from cc_dbp_spark.operators.dedup import ngram_jaccard_pairs

    def shingles(text, k):
        toks = text.split()
        return {
            " ".join(toks[i : i + k]) for i in range(max(0, len(toks) - k + 1))
        } or {text}

    for seed in range(8):
        rng = random.Random(seed)
        docs, i = [], 0
        for _ in range(rng.randint(4, 12)):
            b = " ".join(rng.choices(_JAC_WORDS, k=rng.randint(3, 25)))
            docs.append((f"x{i:03d}", b))
            i += 1
            for _ in range(rng.randint(0, 3)):  # near-dup mutations
                toks = b.split()
                for _ in range(rng.randint(0, 2)):
                    toks[rng.randrange(len(toks))] = rng.choice(_JAC_WORDS)
                docs.append((f"x{i:03d}", " ".join(toks)))
                i += 1
        thr = rng.choice([0.3, 0.5, 0.7, 0.9])
        k = rng.choice([2, 3])
        sh = {d: shingles(t, k) for d, t in docs}
        want = {}
        for (d1, _), (d2, _) in itertools.combinations(docs, 2):
            a, b = sh[d1], sh[d2]
            j = len(a & b) / len(a | b)
            if j >= thr:
                want[tuple(sorted((d1, d2)))] = round(j, 6)
        df = spark.createDataFrame(docs, "doc_id string, text string")
        for pf in (True, False):
            got = {}
            for r in ngram_jaccard_pairs(
                df, k=k, threshold=thr, prefix_filter=pf
            ).collect():
                d = r.asDict()
                ids = sorted(v for v in d.values() if isinstance(v, str))
                jv = next(v for v in d.values() if isinstance(v, float))
                got[tuple(ids)] = round(jv, 6)
            assert got == want, (seed, pf, thr, k)


def test_simhash_block_rotation_vs_brute_force_wide(spark):
    import itertools

    from cc_dbp_spark.operators.dedup import simhash_near_dups

    def to_i64(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    for seed in range(10):
        rng = random.Random(seed)
        codes, i = {}, 0
        for _ in range(rng.randint(10, 80)):
            base = rng.getrandbits(64)
            codes[f"s{i:03d}"] = base
            i += 1
            for _ in range(rng.randint(0, 3)):  # planted near-dups
                mut = base
                for _ in range(rng.randint(0, 5)):
                    mut ^= 1 << rng.randrange(64)
                codes[f"s{i:03d}"] = mut
                i += 1
        maxh = rng.choice([1, 2, 3])
        want = {
            tuple(sorted((d1, d2)))
            for (d1, c1), (d2, c2) in itertools.combinations(codes.items(), 2)
            if bin(c1 ^ c2).count("1") <= maxh
        }
        df = spark.createDataFrame(
            [(d, to_i64(c)) for d, c in codes.items()], "doc_id string, simhash long"
        )
        got = set()
        for r in simhash_near_dups(df, max_hamming=maxh, max_bucket=None).collect():
            d = r.asDict()
            got.add(tuple(sorted(v for v in d.values() if isinstance(v, str))))
        assert got == want, (seed, maxh)


def test_simhash_capped_star_link_vs_brute_force_wide(spark):
    """The capped path (``max_bucket``) of ``simhash_near_dups``: planted
    clusters larger than the cap overflow their block buckets, which
    star-link to the bucket's min-id member instead of self-joining.
    Every capped pair is a brute-force pair, and every member within
    max_hamming of its cluster's min-id member pairs with that member."""
    import itertools
    from collections import Counter

    from cc_dbp_spark.operators.dedup import simhash_near_dups

    def to_i64(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    def ham(a, b):
        return bin(a ^ b).count("1")

    for seed in range(6):
        rng = random.Random(100 + seed)
        maxh = rng.choice([1, 2, 3])
        cap = rng.choice([2, 4, 8])
        codes, clusters = {}, []
        for c in range(rng.randint(2, 5)):
            base = rng.getrandbits(64)
            # ids sort the cluster's unmutated base first, and every
            # cluster before the unclustered "s" codes
            ids = [f"c{c:02d}_{j:03d}" for j in range(cap + rng.randint(4, 24))]
            for j, d in enumerate(ids):
                mut = base
                for _ in range(rng.randint(0, maxh + 2) if j else 0):
                    mut ^= 1 << rng.randrange(64)
                codes[d] = mut
            clusters.append(ids)
        for i in range(rng.randint(10, 60)):
            codes[f"s{i:03d}"] = rng.getrandbits(64)

        # the block buckets simhash_near_dups joins on: some must overflow
        nb, w = maxh + 1, 64 // (maxh + 1)
        sizes = Counter(
            (i, (c >> (i * w)) & ((1 << (w if i < nb - 1 else 64 - i * w)) - 1))
            for c in codes.values() for i in range(nb)
        )
        assert max(sizes.values()) > cap, (seed, cap)

        want = {
            tuple(sorted((d1, d2)))
            for (d1, c1), (d2, c2) in itertools.combinations(codes.items(), 2)
            if ham(c1, c2) <= maxh
        }
        df = spark.createDataFrame(
            [(d, to_i64(c)) for d, c in codes.items()], "doc_id string, simhash long"
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_dups(df, max_hamming=maxh, max_bucket=cap).collect()
        }
        assert got <= want, (seed, sorted(got - want)[:5])
        linked = {
            (ids[0], d) for ids in clusters for d in ids[1:]
            if ham(codes[ids[0]], codes[d]) <= maxh
        }
        assert linked <= got, (seed, sorted(linked - got)[:5])


def test_ivf_cell_cap_result_identity_wide(spark):
    import numpy as np

    from cc_dbp_spark.operators.similarity import ivf_topk

    for seed in range(6):
        rng = np.random.default_rng(seed)
        n, d, nq = int(rng.integers(60, 300)), 8, int(rng.integers(3, 10))
        # skewed corpus: half the vectors in one tight cluster (hot cell)
        hot = rng.normal(0, 0.01, (n // 2, d)) + rng.normal(0, 1, (1, d))
        rest = rng.normal(0, 1, (n - n // 2, d))
        X = np.vstack([hot, rest])
        emb = spark.createDataFrame(
            [(f"v{i:04d}", [float(x) for x in X[i]]) for i in range(n)],
            "vec_id string, embedding array<double>",
        )
        Q = rng.normal(0, 1, (nq, d))
        qdf = spark.createDataFrame(
            [(f"q{i:02d}", [float(x) for x in Q[i]]) for i in range(nq)],
            "query_id string, embedding array<double>",
        )
        kw = dict(k=5, n_centroids=8, n_probe=3, seed=7)

        def norm(df):
            out = []
            for r in df.collect():
                row = r.asDict()
                score = next(v for v in row.values() if isinstance(v, float))
                out.append((row["query_id"], row["vec_id"], round(score, 9)))
            return sorted(out)

        a = norm(ivf_topk(emb, qdf, max_cell="auto", **kw))
        b = norm(ivf_topk(emb, qdf, max_cell=None, **kw))
        c = norm(ivf_topk(emb, qdf, max_cell=7, **kw))
        assert a == b == c, seed


def _uf_truth(edges):
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def test_connected_components_vs_union_find_wide(spark):
    from cc_dbp_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    for seed in range(12):
        rng = random.Random(seed)
        n = rng.randint(5, 120)
        nodes = [f"d{i:04d}" for i in range(n)]
        edges = set()
        for _ in range(rng.randint(1, 3 * n)):
            a, b = rng.sample(nodes, 2)
            edges.add((a, b))
        # adversarial chain: long diameter, where min-label propagation
        # needs many rounds and the star contraction must still agree
        chain = rng.sample(nodes, min(n, rng.randint(2, 60)))
        edges.update(zip(chain, chain[1:]))
        edges = sorted(edges)
        want = _uf_truth(edges)
        df = spark.createDataFrame(edges, "id_a string, id_b string")
        for fn in (connected_components, connected_components_star):
            got = {r["id"]: r["comp"] for r in fn(df, max_iter=100).collect()}
            assert got == want, (fn.__name__, seed)


_JAVA_FUZZ = r"""
import java.nio.charset.StandardCharsets;
import java.security.MessageDigest;
import java.util.Random;

public class FuzzVectors {
    static double prand(String s) throws Exception {
        MessageDigest md = MessageDigest.getInstance("SHA-1");
        byte[] d = md.digest(s.getBytes(StandardCharsets.UTF_8));
        long v = java.nio.ByteBuffer.wrap(d).getLong();
        return new Random(v).nextDouble();
    }
    public static void main(String[] a) throws Exception {
        Random r = new Random(20260820L);
        StringBuilder sb = new StringBuilder();
        for (int i = 0; i < 5000; i++) {
            int len = r.nextInt(40);
            sb.setLength(0);
            for (int j = 0; j < len; j++) {
                int mode = r.nextInt(10);
                int cp;
                if (mode < 5) cp = 0x20 + r.nextInt(0x5f);
                else if (mode < 7) cp = 0xA0 + r.nextInt(0x2000);
                else if (mode < 8) cp = 0x4E00 + r.nextInt(0x5000);
                else if (mode < 9) cp = 0x10000 + r.nextInt(0x10000);
                else cp = r.nextInt(0x20);
                if (cp == 0x09 || cp == 0x0A || cp == 0x0D) cp = 0x20;
                sb.appendCodePoint(cp);
            }
            String s = sb.toString();
            byte[] b = s.getBytes(StandardCharsets.UTF_8);
            StringBuilder hex = new StringBuilder();
            for (byte x : b) hex.append(String.format("%02x", x));
            System.out.println(hex + "\t" + s.hashCode() + "\t" + prand(s)
                + "\t" + new Random(s.hashCode() + 123321).nextDouble()
                + "\t" + new Random(s.hashCode()).nextInt(8)
                + "\t" + new Random(s.hashCode()).nextInt(7));
        }
    }
}
"""


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_parity_kernels_vs_live_jvm_wide():
    import numpy as np
    import pandas as pd

    from cc_dbp_spark.functions import parity as P

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "FuzzVectors.java")
        with open(src, "w") as f:
            f.write(_JAVA_FUZZ)
        subprocess.run(["javac", "FuzzVectors.java"], cwd=d, check=True)
        out = subprocess.run(
            ["java", "FuzzVectors"], cwd=d, check=True, capture_output=True, text=True
        ).stdout
    strings, cols = [], ([], [], [], [], [])
    for line in out.splitlines():
        h, jhc, jpr, jlc, jn8, jn7 = line.split("\t")
        strings.append(bytes.fromhex(h).decode("utf-8"))
        for c, v in zip(cols, (int(jhc), float(jpr), float(jlc), int(jn8), int(jn7))):
            c.append(v)
    hc, pr, lc, n8, n7 = (np.array(c) for c in cols)
    assert len(strings) == 5000
    np.testing.assert_array_equal(P.java_string_hashcode(strings), hc)
    np.testing.assert_array_equal(
        np.asarray(P.java_string_hashcode_fast(pd.Series(strings))), hc
    )
    # doubles compared EXACTLY: the kernel claims bit-parity, not closeness
    np.testing.assert_array_equal(P.pseudo_random_from_string(strings), pr)
    np.testing.assert_array_equal(P.learning_curve_position(strings), lc)
    np.testing.assert_array_equal(P.partition_assignment(strings, 8), n8)
    np.testing.assert_array_equal(P.partition_assignment(strings, 7), n7)
