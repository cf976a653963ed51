"""URL canonicalization — the rebuild's analogue of the reference's
URI-normalization regexp chains (``kb/.../conversion/ConvertDBpedia.java:161-176``).

Two implementations of ONE spec, kept in lock-step by differential tests
(tests/test_urlnorm.py, and the fuzz batches in tests/test_properties.py
and tests/test_deep_fuzz.py):

* :func:`with_canonical` — native Spark column projections (JVM-side,
  whole-stage codegen; no Python in the plan), the canonicalizer every
  Spark path runs.
* :func:`canonicalize_py` — pure-Python, used by the single-threaded
  oracle scheduler the crawl ordering is judged against.

Canonical form:
  1. trim surrounding ASCII whitespace (space/tab/LF/CR/VT/FF — the
     explicit char SET all three implementations share: Spark ``btrim``,
     Python ``str.strip(chars)``, DuckDB ``trim(x, chars)``; Unicode
     whitespace is data. A bare ``F.trim``/``str.strip()`` pair silently
     disagreed on tab/newline-padded hrefs.)
  2. drop the fragment (``#...``)
  3. prepend ``http://`` when no ``scheme://`` is present
  4. lowercase scheme and host
  5. drop default ports (``:80`` for http, ``:443`` for https)
  6. empty path -> ``/``; collapse repeated ``/``; strip trailing ``/``
     unless the path is ``/``
  7. query string kept byte-for-byte (param order is semantic)

Plus host/path extraction (politeness grouping key) and a numpy
xxhash64 (Spark-compatible, seed 42) for the filter path.

Lowercasing (step 4) is Unicode-version dependent. The engine session
(``session.ENGINE_CONF``) lowercases through the JVM; checked over every
code point, JDK 17's mapping differs from Python 3.11's ``str.lower`` on
40 code points, all Unicode 14 additions the JDK does not know (ICU 77,
Spark's default, differs on 27, all Unicode 15/16 additions Python does
not know). The Python twin and Spark agree on all text that both Unicode
versions know, non-ASCII hosts included (tests/test_urlnorm.py
``CASES``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://"

# the ONE trim set (step 1): ASCII whitespace, shared verbatim by the
# Column chain, the python twin, and the DuckDB oracle template
TRIM_CHARS = " \t\n\r\x0b\x0c"


_BIG = 1 << 30  # "rest of string" length for Column.substr


def with_canonical(df, src, out: str = "url", host: str | None = None,
                   path: str | None = None):
    """Staged canonicalization: adds canonical column ``out`` (plus optional
    ``host`` incl. non-default port, and ``path``) to ``df``.

    Built from UTF8String primitives (substring_index/substr/length)
    instead of a regexp chain: on the hot path every regexp costs ~µs/row
    across 10^10 URLs; only three regex ops remain (scheme sniff, port
    digits, ``//+`` collapse). Semantics identical to
    :func:`canonicalize_py` (differential-tested).

    The spec is a chain of ``withColumn`` projections, not one Column
    tree. A single tree duplicates every shared subtree (``u`` ->
    ``scheme`` -> ``rest`` -> ``hostport`` ...), so canonical + host in
    one select overflows Janino's 64 KB generated-method limit and falls
    out of whole-stage codegen into per-row interpreted eval. Aliasing
    each intermediate as a real column blocks Catalyst's CollapseProject
    from re-inlining any non-cheap expression referenced more than once,
    so each step is computed once per row and the generated code stays
    small.
    """
    c = F.col
    clash = [col for col in df.columns if col.startswith("__cn_")]
    if clash:
        # the staged projections would silently overwrite and then drop
        # these caller columns at return
        raise ValueError(
            f"with_canonical owns the __cn_* namespace; input carries {clash}"
        )
    src_col = c(src) if isinstance(src, str) else src
    d = df.withColumn(
        "__cn_u0",
        F.substring_index(F.btrim(src_col, F.lit(TRIM_CHARS)), "#", 1),
    )
    d = d.withColumn(
        "__cn_u",
        F.when(c("__cn_u0").rlike(_SCHEME_RE), c("__cn_u0")).otherwise(
            F.concat(F.lit("http://"), c("__cn_u0"))
        ),
    )
    d = d.withColumn("__cn_scheme", F.lower(F.substring_index(c("__cn_u"), "://", 1)))
    d = d.withColumn(
        "__cn_rest", c("__cn_u").substr(F.length(c("__cn_scheme")) + 4, F.lit(_BIG))
    )
    d = d.withColumn(
        "__cn_hostport",
        F.substring_index(F.substring_index(c("__cn_rest"), "/", 1), "?", 1),
    )
    d = d.withColumn(
        "__cn_pathq", c("__cn_rest").substr(F.length(c("__cn_hostport")) + 1, F.lit(_BIG))
    )
    d = d.withColumn("__cn_port", F.regexp_extract(c("__cn_hostport"), r":([0-9]+)$", 1))
    d = d.withColumn(
        "__cn_host",
        F.lower(
            F.when(
                c("__cn_port") != "",
                c("__cn_hostport").substr(
                    F.lit(1), F.length(c("__cn_hostport")) - F.length(c("__cn_port")) - 1
                ),
            ).otherwise(c("__cn_hostport"))
        ),
    )
    d = d.withColumn(
        "__cn_keep",
        (c("__cn_port") != "")
        & ~((c("__cn_scheme") == "http") & (c("__cn_port") == "80"))
        & ~((c("__cn_scheme") == "https") & (c("__cn_port") == "443")),
    )
    d = d.withColumn(
        "__cn_hp",
        F.when(
            c("__cn_keep"), F.concat(c("__cn_host"), F.lit(":"), c("__cn_port"))
        ).otherwise(c("__cn_host")),
    )
    d = d.withColumn("__cn_path0", F.substring_index(c("__cn_pathq"), "?", 1))
    d = d.withColumn(
        "__cn_query", c("__cn_pathq").substr(F.length(c("__cn_path0")) + 2, F.lit(_BIG))
    )
    d = d.withColumn(
        "__cn_path1",
        F.regexp_replace(
            F.when(c("__cn_path0") == "", F.lit("/")).otherwise(c("__cn_path0")),
            r"//+",
            "/",
        ),
    )
    d = d.withColumn(
        "__cn_path",
        F.when(
            (F.length(c("__cn_path1")) > 1) & c("__cn_path1").endswith("/"),
            c("__cn_path1").substr(F.lit(1), F.length(c("__cn_path1")) - 1),
        ).otherwise(c("__cn_path1")),
    )
    base = F.concat(c("__cn_scheme"), F.lit("://"), c("__cn_hp"), c("__cn_path"))
    d = d.withColumn(
        out,
        F.when(
            c("__cn_pathq").contains("?"), F.concat(base, F.lit("?"), c("__cn_query"))
        ).otherwise(base),
    )
    if host is not None:
        d = d.withColumn(host, c("__cn_hp"))
    if path is not None:
        d = d.withColumn(path, c("__cn_path"))
    return d.drop(
        "__cn_u0", "__cn_u", "__cn_scheme", "__cn_rest", "__cn_hostport",
        "__cn_pathq", "__cn_port", "__cn_host", "__cn_keep", "__cn_hp",
        "__cn_path0", "__cn_query", "__cn_path1", "__cn_path",
    )


def host_col(canon_url: Column) -> Column:
    """Host (incl. non-default port) of an already-canonical URL."""
    rest = canon_url.substr(
        F.length(F.substring_index(canon_url, "://", 1)) + 4, F.lit(_BIG)
    )
    return F.substring_index(F.substring_index(rest, "/", 1), "?", 1)


def pathq_col(canon_url: Column) -> Column:
    """Path INCLUDING the query of an already-canonical URL — the string
    RFC-9309 rule matching operates on (a robots pattern may constrain
    query components, e.g. ``Disallow: /*?download=1$``)."""
    rest = canon_url.substr(
        F.length(F.substring_index(canon_url, "://", 1)) + 4, F.lit(_BIG)
    )
    hostport = F.substring_index(F.substring_index(rest, "/", 1), "?", 1)
    pathq = rest.substr(F.length(hostport) + 1, F.lit(_BIG))
    return F.when(pathq == "", F.lit("/")).otherwise(pathq)


def path_col(canon_url: Column) -> Column:
    """Path (no query) of an already-canonical URL."""
    rest = canon_url.substr(
        F.length(F.substring_index(canon_url, "://", 1)) + 4, F.lit(_BIG)
    )
    hostport = F.substring_index(F.substring_index(rest, "/", 1), "?", 1)
    pathq = rest.substr(F.length(hostport) + 1, F.lit(_BIG))
    p = F.substring_index(pathq, "?", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


# ---------------------------------------------------------------- python side

def canonicalize_py(url: str) -> str:
    """Pure-Python twin of :func:`with_canonical` (same spec)."""
    import re

    u = url.strip(TRIM_CHARS)
    u = re.sub(r"#.*$", "", u, flags=re.DOTALL)
    if not re.match(_SCHEME_RE, u):
        u = "http://" + u
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://(.*)$", u, flags=re.DOTALL)
    scheme, rest = m.group(1).lower(), m.group(2)
    hm = re.match(r"^([^/?]*)", rest)
    hostport = hm.group(1)
    pathq = rest[len(hostport):]
    pm = re.search(r":([0-9]+)$", hostport)
    if pm:
        host, port = hostport[: pm.start()].lower(), pm.group(1)
    else:
        host, port = hostport.lower(), ""
    keep_port = port != "" and not (
        (scheme == "http" and port == "80") or (scheme == "https" and port == "443")
    )
    if "?" in pathq:
        path, query = pathq.split("?", 1)
        has_q = True
    else:
        path, query = pathq, ""
        has_q = False
    if path == "":
        path = "/"
    path = re.sub(r"//+", "/", path)
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    out = f"{scheme}://{host}"
    if keep_port:
        out += f":{port}"
    out += path
    if has_q:
        out += "?" + query
    return out


def host_py(canon_url: str) -> str:
    import re

    m = re.match(r"^[a-z][a-z0-9+.\-]*://([^/?]*)", canon_url)
    return m.group(1) if m else ""


def path_py(canon_url: str) -> str:
    import re

    rest = re.sub(r"^[a-z][a-z0-9+.\-]*://[^/?]*", "", canon_url)
    p = rest.split("?", 1)[0]
    return p if p else "/"


def pathq_py(canon_url: str) -> str:
    """Path INCLUDING the query — pure-Python twin of ``pathq_col``
    (the string robots rule matching operates on; a pattern like
    ``Disallow: /*?download=1$`` constrains the query)."""
    i = canon_url.find("://")
    if i < 0:
        return "/"
    rest = canon_url[i + 3:]
    hostport = rest.split("/", 1)[0].split("?", 1)[0]
    pq = rest[len(hostport):]
    return pq if pq else "/"


# ---------------------------------------------------------------- xxhash64

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.uint64, r: int) -> np.uint64:
    r_ = np.uint64(r)
    return (x << r_) | (x >> np.uint64(64 - r))


def xxhash64_py(data: bytes, seed: int = 42) -> int:
    """xxHash64 (public algorithm), matching Spark's ``xxhash64`` on a
    single string column (Spark hashes the UTF-8 bytes with seed 42).
    Returns a signed int64 like Spark does."""
    with np.errstate(over="ignore"):
        n = len(data)
        mem = np.frombuffer(data, dtype=np.uint8)
        h: np.uint64
        if n >= 32:
            v1 = np.uint64(seed) + _P1 + _P2
            v2 = np.uint64(seed) + _P2
            v3 = np.uint64(seed)
            v4 = np.uint64(seed) - _P1
            i = 0
            lanes = np.frombuffer(data[: (n // 32) * 32], dtype="<u8")
            for blk in range(0, len(lanes), 4):
                v1 = _rotl(v1 + lanes[blk] * _P2, 31) * _P1
                v2 = _rotl(v2 + lanes[blk + 1] * _P2, 31) * _P1
                v3 = _rotl(v3 + lanes[blk + 2] * _P2, 31) * _P1
                v4 = _rotl(v4 + lanes[blk + 3] * _P2, 31) * _P1
            i = (n // 32) * 32
            h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
            for v in (v1, v2, v3, v4):
                h = (h ^ (_rotl(v * _P2, 31) * _P1)) * _P1 + _P4
        else:
            h = np.uint64(seed) + _P5
            i = 0
        h = h + np.uint64(n)
        while i + 8 <= n:
            k = np.frombuffer(data[i : i + 8], dtype="<u8")[0]
            h = _rotl(h ^ (_rotl(k * _P2, 31) * _P1), 27) * _P1 + _P4
            i += 8
        if i + 4 <= n:
            k = np.uint64(np.frombuffer(data[i : i + 4], dtype="<u4")[0])
            h = _rotl(h ^ (k * _P1), 23) * _P2 + _P3
            i += 4
        while i < n:
            h = _rotl(h ^ (np.uint64(mem[i]) * _P5), 11) * _P1
            i += 1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return int(h.view(np.int64) if hasattr(h, "view") else np.int64(h))


def xxhash64_strings(strings, seed: int = 42) -> np.ndarray:
    """Batch xxhash64 over UTF-8 strings -> signed int64 array."""
    return np.array([xxhash64_py(s.encode("utf-8"), seed) for s in strings], dtype=np.int64)
