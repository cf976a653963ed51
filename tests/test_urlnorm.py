"""Differential tests: Spark-native canonicalizer == pure-Python twin,
and the numpy xxhash64 == Spark's xxhash64."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cc_dbp_spark.functions import urlnorm

CASES = [
    "http://example.com",
    "http://example.com/",
    "HTTP://EXAMPLE.com:80/index",
    "https://example.com:443/a//b///c/",
    "https://example.com:8443/a",
    "http://example.com/a?b=1&c=2#frag",
    "example.com/no-scheme",
    "  http://pad.example.com/x  ",
    "\thttp://tab.example.com/x\n",      # scraped hrefs pad with tab/CRLF
    " \r\n\thttp://mix.example.com \t ",
    "\x0b\x0chttp://vtff.example.com/y\x0c",
    "http://example.com/a/b/",
    "http://example.com//",
    "http://example.com#only-frag",
    "http://example.com:81",
    "ftp://files.example.com/pub/",
    "http://host.example.com/p?q=UPPER#X",
    "http://a.b.c.example.com:80/%7Euser/page",
    "http://example.com/?",
    # uppercase non-ASCII hosts: the session lowercases through the JVM,
    # which must still match Python's str.lower
    "http://\u212aELVIN.example.com/A",  # Kelvin sign -> ASCII k
    "http://ÀÉÎ.FR:80/Path",
    "https://МОСКВА.рф/",
    "http://ΣΊΣΥΦΟΣ.gr",  # sigma before '.' stays non-final
    "http://İSTANBUL.com/x",  # dotted capital I -> i + combining dot
    "HTTP://Straße.DE/",
    "http://Ǉ.x",
    "http://ᾼ.com:443/",
]


def _random_urls(n=200, seed=7):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        scheme = rng.choice(["http://", "https://", "HTTP://", ""])
        host = rng.choice(["Example.COM", "a.example.com", "HOT0.example.com"])
        port = rng.choice(["", ":80", ":443", ":8080"])
        path = rng.choice(["", "/", "/a", "/a/b/", "/a//b", "/a/b/c"])
        q = rng.choice(["", "?x=1", "?x=1&y=2"])
        frag = rng.choice(["", "#f", "#a/b"])
        pad = rng.choice(["", " ", "  ", "\t", "\r\n", " \t "])
        out.append(f"{pad}{scheme}{host}{port}{path}{q}{frag}{pad}")
    return out


def test_canonicalize_spark_matches_python(spark):
    urls = CASES + _random_urls()
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.c for r in urlnorm.with_canonical(df, "url", out="c").collect()]
    want = [urlnorm.canonicalize_py(u) for u in urls]
    assert got == want, [
        (u, g, w) for u, g, w in zip(urls, got, want) if g != w
    ][:5]


def test_with_canonical_matches_python(spark):
    """Staged-projection canonicalizer == pure-Python twin, including the
    derived host (incl. non-default port) and path columns."""
    urls = CASES + _random_urls(seed=13)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = urlnorm.with_canonical(df, "url", out="c", host="h", path="p")
    assert set(out.columns) == {"url", "c", "h", "p"}  # temps dropped
    rows = out.collect()
    for u, r in zip(urls, rows):
        c = urlnorm.canonicalize_py(u)
        assert r.c == c, (u, r.c, c)
        assert r.h == urlnorm.host_py(c), u
        assert r.p == urlnorm.path_py(c), u


def test_with_canonical_codegen_compiles(spark):
    """The composed canonicalize+host projection must stay inside
    whole-stage codegen (the single-Column tree overflows Janino's 64 KB
    method limit and silently falls back to interpreted eval)."""
    df = spark.range(100).select(F.concat(F.lit("http://h"), F.col("id"), F.lit(".ex.com:8080/a//b/?q=1")).alias("url"))
    out = urlnorm.with_canonical(df, "url", out="c", host="h", path="p")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert out.count() == 100
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_canonicalizer_lowercases_without_icu(spark, capsys):
    """The engine session lowercases through the JVM
    (``UTF8String.toLowerCase``), not ICU: ICU's first ``lower`` in a JVM
    builds a title-case table over every code point, about a second of
    the first crawl round."""
    from cc_dbp_spark.operators import frontier

    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    capsys.readouterr()
    urlnorm.with_canonical(df, "url", out="c", host="h").explain(mode="codegen")
    df.select(frontier._raw_host_col(F.col("url"))).explain(mode="codegen")
    out = capsys.readouterr().out
    assert "Lower.execBinary(" in out
    assert "execBinaryICU" not in out


def test_canonicalize_idempotent():
    for u in CASES:
        c = urlnorm.canonicalize_py(u)
        assert urlnorm.canonicalize_py(c) == c, u


def test_host_path_extraction(spark):
    urls = [urlnorm.canonicalize_py(u) for u in CASES + _random_urls(100, seed=9)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        urlnorm.host_col(F.col("url")).alias("h"), urlnorm.path_col(F.col("url")).alias("p")
    ).collect()
    for u, r in zip(urls, rows):
        assert r.h == urlnorm.host_py(u), u
        assert r.p == urlnorm.path_py(u), u


def test_pathq_twin_matches_column(spark):
    """pathq_py (the robots-matching path+query twin used by the crawl
    oracle) must agree with pathq_col on every canonical URL, including
    query-only, no-path, and port-bearing forms."""
    extra = [
        "http://h.ex/?x=1", "http://h.ex/a/b?x=1&y=2", "http://h.ex",
        "http://h.ex:8080/p?q", "http://h.ex/p/", "http://h.ex?bare=q",
    ]
    urls = [urlnorm.canonicalize_py(u) for u in CASES + extra + _random_urls(100, seed=21)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(urlnorm.pathq_col(F.col("url")).alias("pq")).collect()
    for u, r in zip(urls, rows):
        assert r.pq == urlnorm.pathq_py(u), u


def test_xxhash64_matches_spark(spark):
    strs = CASES + _random_urls(100, seed=11) + ["", "a", "0123456789abcdef0123456789abcdef-long-tail"]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got_spark = [r.h for r in df.select(F.xxhash64(F.col("s")).alias("h")).collect()]
    got_py = urlnorm.xxhash64_strings(strs)
    assert list(got_py) == got_spark
