"""Property-based tests (hypothesis) — SURVEY §5 test plan item 3.

Pure-python properties run per-example; Spark-vs-python equivalence
batches all generated examples through ONE Spark job (per-example Spark
calls would be pathologically slow)."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from cc_dbp_spark.functions import parity
from cc_dbp_spark.functions.urlnorm import canonicalize_py, host_py, path_py

url_chars = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    min_size=0,
    max_size=40,
)


@given(url_chars)
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(u):
    c = canonicalize_py(u)
    assert canonicalize_py(c) == c


@given(url_chars)
@settings(max_examples=300, deadline=None)
def test_canonical_shape(u):
    c = canonicalize_py(u)
    assert "://" in c
    scheme = c.split("://", 1)[0]
    assert scheme == scheme.lower()
    host = host_py(c)
    assert host == host.lower() or not host.isascii()
    p = path_py(c)
    assert p.startswith("/") or p == "/"
    assert "#" not in c.split("?")[0] or "#" not in u  # fragment removed


@given(st.lists(st.text(min_size=0, max_size=30), min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_draws_deterministic_and_bounded(strings):
    d1 = parity.pseudo_random_from_string(strings)
    d2 = parity.pseudo_random_from_string(list(strings))
    assert (d1 == d2).all()
    assert ((d1 >= 0) & (d1 < 1)).all()


@given(st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=10),
       st.integers(min_value=1, max_value=7))
@settings(max_examples=100, deadline=None)
def test_group_salt_in_range(strings, nsplits):
    s = parity.group_salt(strings, nsplits)
    assert ((s >= 0) & (s < nsplits)).all()


def test_spark_python_canonicalizer_equivalence_batch(spark):
    """One Spark job over a fuzz batch: with_canonical (url and host) ==
    canonicalize_py and host_py."""
    from cc_dbp_spark.functions.urlnorm import host_py, with_canonical

    rng = random.Random(99)
    pieces = ["http://", "HTTPS://", "", "  ", "a b", "Host.COM", ":8080", ":80",
              "/p//q/", "?x=1&y=2", "#frag", "ftp://x/", "%20", "ünïcode", "a#b#c",
              "//", "?", "http://h:443/x", "https://h:443/x"]
    urls = ["".join(rng.choices(pieces, k=rng.randint(1, 6))) for _ in range(500)]
    urls += ["", " ", "#", "?q", "http://", "a"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [(r.c, r.h) for r in with_canonical(df, "url", out="c", host="h").collect()]
    want = [(c, host_py(c)) for c in map(canonicalize_py, urls)]
    mism = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
    assert not mism, mism[:5]


def test_minhash_estimates_jaccard(spark):
    """Signature agreement approximates true shingle Jaccard."""
    from pyspark.sql import functions as F

    from cc_dbp_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today".split()
    rows = []
    rng = random.Random(5)
    for i in range(20):
        words = list(base)
        for _ in range(i):  # increasingly mutated copies
            words[rng.randrange(len(words))] = f"w{rng.randrange(100)}"
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = dedup.minhash_signatures(docs, num_hashes=128).localCheckpoint(eager=True)
    true = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    s1 = sigs.selectExpr("doc_id AS id_a", "sig AS sig_a")
    s2 = sigs.selectExpr("doc_id AS id_b", "sig AS sig_b")
    est_df = (
        s1.crossJoin(s2).filter("id_a < id_b")
        .withColumn(
            "est",
            F.aggregate(
                F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
                F.lit(0), lambda acc, v: acc + v,
            ) / F.size("sig_a"),
        )
    )
    for r in est_df.collect():
        t = true.get((r.id_a, r.id_b), 0.0)
        assert abs(r.est - t) < 0.2, (r.id_a, r.id_b, r.est, t)
