"""URL canonicalization — the Spark analog of the reference's invitation
canonicalization (/root/reference/crawler.py:147-158: regex-merge + set dedup).

Two bit-identical implementations of one contract:

* ``canonicalize_url`` — pure Python, used by the single-node oracle.
* ``canonicalize_col`` — Spark Column expressions for the structural steps
  (JVM-side, codegen'd) + one Arrow-vectorized pandas UDF for the
  percent-decode minority (no per-row Python; see _decode_unreserved_udf
  for the measured rationale).

Canonical form (RFC 3986-style safe normalizations only):
  1. strip the fragment (``#...``),
  2. lowercase scheme and host,
  3. drop the scheme default port (``http:80`` / ``https:443``),
  4. percent-decode *unreserved* characters only (ALPHA / DIGIT / ``-._~``),
     accepting upper- or lowercase hex,
  5. empty path -> ``/``.

Strings without a ``scheme://`` prefix pass through with only the fragment
stripped (step 1 applies to every input; they can't be fetched and the
scheduler drops them via the host filter).
"""

from __future__ import annotations

import re
import string

import pandas as pd  # noqa: F401  (pandas_udf signature below)
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_UNRESERVED = string.ascii_letters + string.digits + "-._~"
_URL_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?")
_SCHEME_PREFIX_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")

#: every percent-escape spelling that decodes to an unreserved character,
#: e.g. {"%7E": "~", "%7e": "~", "%41": "A", ...}
_UNRESERVED_ESCAPES: dict[str, str] = {}
for _ch in _UNRESERVED:
    _hex = f"{ord(_ch):02X}"
    _UNRESERVED_ESCAPES[f"%{_hex}"] = _ch
    if _hex != _hex.lower():
        _UNRESERVED_ESCAPES[f"%{_hex.lower()}"] = _ch


def _decode_unreserved(path: str) -> str:
    def _sub(m: re.Match[str]) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else m.group(0)

    return _PCT_RE.sub(_sub, path)


def canonicalize_url(url: str) -> str:
    """Pure-Python twin of :func:`canonicalize_col` (oracle side)."""
    frag = url.find("#")
    if frag >= 0:
        url = url[:frag]
    m = _URL_RE.match(url)
    if not m or not m.group(2):
        return url
    scheme = m.group(1).lower()
    hostport = m.group(2).lower()
    path = m.group(3)
    query = m.group(4) or ""
    if scheme == "http" and hostport.endswith(":80"):
        hostport = hostport[:-3]
    elif scheme == "https" and hostport.endswith(":443"):
        hostport = hostport[:-4]
    path = _decode_unreserved(path)
    query = _decode_unreserved(query)
    if not path:
        path = "/"
    return f"{scheme}://{hostport}{path}{query}"


def canonicalize_series(s: "pd.Series") -> "pd.Series":
    """Vectorized canonicalization of a pandas string Series — the engine's
    hot-path implementation (wrapped in an Arrow UDF by
    :func:`canonicalize_col`). All ops are C-level pandas string kernels; the
    percent-decode pass runs only on the '%'-containing minority.

    Why one UDF instead of column expressions: the expression-tree version
    (10+ regexps + a ~100-replace decode chain, all nested in CASE branches)
    re-inlines its subexpressions at every use site, producing generated Java
    far past the JVM's 64 KB method limit. The observed costs were seconds of
    Janino compilation per plan variant *and* interpreted-mode fallback with
    cross-thread contention (measured: a canonicalize->host->groupBy pipeline
    took 47 s first-run at local[32] vs 0.2 s warm; with this UDF the plan is
    ArrowEvalPython + tiny projections and first-run cost collapses). The
    north rule sanctions exactly this: URL canonicalization inside
    vectorized pandas/Arrow UDFs, no per-row Python.
    """
    # [\s\S] not '.': the strip must truncate at the FIRST '#' even when a
    # newline follows it (default '.' stops at \n, so 'a#b\nc' kept its
    # fragment and diverged from the Python twin's url.find('#') semantics)
    s2 = s.str.replace(r"#[\s\S]*", "", regex=True)
    m = s2.str.extract(r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^#]*)$")
    has = m[0].notna() & m[1].notna() & (m[1] != "")
    scheme = m[0].str.lower()
    hostport = m[1].str.lower()
    pathq = m[2].fillna("")
    http80 = (scheme == "http") & hostport.str.endswith(":80")
    https443 = (scheme == "https") & hostport.str.endswith(":443")
    hostport = hostport.mask(http80, hostport.str[:-3]).mask(https443, hostport.str[:-4])
    mask = pathq.str.contains("%", regex=False).fillna(False)
    if mask.any():
        # Single-pass decode (same _PCT_RE.sub as the Python twin): a
        # sequential per-escape replace chain double-decodes spellings its own
        # earlier replacements create ('%2%65' -> '%2e' -> '.'). Runs only on
        # the '%'-containing minority, so the Python-level map stays off the
        # common path.
        pathq = pathq.copy()
        pathq[mask] = pathq[mask].map(_decode_unreserved)
    pathq = pathq.mask(pathq == "", "/")
    pathq = pathq.mask(pathq.str.startswith("?"), "/" + pathq)
    out = scheme + "://" + hostport + pathq
    # fall back to the fragment-STRIPPED input for scheme-less strings: the
    # Python twin strips the fragment before the scheme check, so
    # 'notaurl#frag' must canonicalize to 'notaurl' in both implementations.
    return out.where(has, s2)


def canonicalize_col(url: Column) -> Column:
    """Canonicalize a URL column via one Arrow-vectorized pandas UDF
    (:func:`canonicalize_series`); downstream operators (host extraction,
    dedup shuffles, hashing) then reference the *materialized* column instead
    of re-inlining a giant expression tree.

    Built per call, never cached: a UDF object pins the SparkContext it was
    first evaluated under (its accumulator), so a module-level cache breaks
    every task after a session restart. Building one is cheap.
    """
    return pandas_udf(canonicalize_series, "string")(url)


def host_col(canon_url: Column) -> Column:
    """Extract the host (no port) from an already-canonical URL column."""
    return F.regexp_extract(canon_url, r"^[a-z][a-z0-9+.\-]*://([^/:?#]*)", 1)


def host_of(canon_url: str) -> str:
    """Python twin of :func:`host_col`."""
    m = re.match(r"^[a-z][a-z0-9+.\-]*://([^/:?#]*)", canon_url)
    return m.group(1) if m else ""


def path_col(canon_url: Column) -> Column:
    """Extract the path+query from an already-canonical URL column."""
    return F.regexp_replace(canon_url, r"^[a-z][a-z0-9+.\-]*://[^/?#]*", "")


def path_of(canon_url: str) -> str:
    """Python twin of :func:`path_col`."""
    return re.sub(r"^[a-z][a-z0-9+.\-]*://[^/?#]*", "", canon_url)


def merge_invitations_col(invitation: Column) -> Column:
    """Spark twin of the reference's invitation wildcard merge
    (/root/reference/crawler.py:147-158): collapse per-paper numbered path
    segments into wildcards; callers ``distinct()`` afterwards (D2).
    """
    sub1 = F.regexp_replace(invitation, r"/(P|p)aper[0-9]+/", r"/$1aper.*/")
    return F.regexp_replace(sub1, r"/(P|p)aper/[0-9]+/", r"/$1aper/.*/")


def merge_invitation(invitation: str) -> str:
    """Python twin of :func:`merge_invitations_col` (oracle side)."""
    sub1 = re.sub(r"/(P|p)aper[0-9]+/", r"/\1aper.*/", invitation)
    return re.sub(r"/(P|p)aper/[0-9]+/", r"/\1aper/.*/", sub1)


#: Multi-label public suffixes recognized by the simplified PSL subset —
#: real politeness wants budgets at the REGISTRABLE domain (every
#: *.blogspot.com subdomain shares one owner), and the full Mozilla
#: Public Suffix List is a data file a production deployment would
#: broadcast; this deterministic subset keeps the grammar testable and
#: the oracle independent.
MULTI_LABEL_SUFFIXES = ("co.uk", "org.uk", "com.au", "co.jp", "github.io")


def registrable_domain_col(host: Column) -> Column:
    """eTLD+1 of a hostname under the simplified PSL subset: the last two
    labels, or the last three when the last two form a multi-label public
    suffix (so 'a.b.co.uk' -> 'b.co.uk' but 'a.b.example' -> 'b.example').
    Hosts with a single label (or exactly a multi-label suffix) pass
    through unchanged. Pure codegen'd expressions; the split pattern is
    '[.]' — shared verbatim with the SQL oracle (no backslash, the r4
    escaping lesson)."""
    parts = F.split(host, "[.]")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )
    last3 = F.concat_ws(
        ".",
        F.element_at(parts, -3),
        F.element_at(parts, -2),
        F.element_at(parts, -1),
    )
    is_multi = last2.isin(*MULTI_LABEL_SUFFIXES)
    return (
        F.when(n <= 1, host)
        .when(is_multi & (n >= 3), last3)
        .otherwise(last2)
    )


def registrable_domain_sql(host_expr: str) -> str:
    """Oracle twin of :func:`registrable_domain_col` (DuckDB grammar —
    repeated string_split kept inline for oracle independence; DuckDB
    folds the common subexpression)."""
    suffixes = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    p = f"string_split({host_expr}, '.')"
    n = f"len({p})"
    last2 = f"({p}[{n} - 1] || '.' || {p}[{n}])"
    last3 = f"({p}[{n} - 2] || '.' || {last2})"
    return (
        f"(case when {n} <= 1 then {host_expr}"
        f" when {n} >= 3 and {last2} in ({suffixes}) then {last3}"
        f" else {last2} end)"
    )


def query_param_stats(
    pages: "DataFrame", url_col: str = "url", min_session_urls: int = 8
):
    """Per-(host, query-param-key) cardinality profile — (host, param_key,
    n_urls, n_values, collapse_ppm, session_like): the DUST companion
    that finds session-id / tracking parameters. A key whose value is
    distinct on (nearly) every URL (collapse_ppm ~ 1e6 over enough URLs)
    is session-like — stripping it collapses the crawl space; a
    low-cardinality key (collapse_ppm small) is content-bearing and must
    survive canonicalization. Feeds crawl_dust_rules with per-host
    evidence instead of a global pattern list.

    Engine-parity: host via the shared backslash-free regex, query
    splitting via ``split_part`` (literal delimiter, '' when the part is
    absent — identical out-of-range semantics in Spark and DuckDB; never
    ``element_at`` past the end, which ANSI mode rejects). All-integer
    shares. Scale shape: pure projection + explode (one row per
    url x param) into ONE groupBy — no join, no window, no Python.
    """
    from pyspark.sql import functions as F

    host = F.regexp_extract(F.col(url_col), "https?://([^/]+)/", 1)
    qs = F.split_part(F.col(url_col), F.lit("?"), F.lit(2))
    pairs = (
        pages.select(host.alias("host"), qs.alias("qs"))
        .filter(F.col("qs") != "")
        .select("host", F.explode(F.split(F.col("qs"), "&")).alias("kv"))
        .select(
            "host",
            F.split_part(F.col("kv"), F.lit("="), F.lit(1)).alias("param_key"),
            F.split_part(F.col("kv"), F.lit("="), F.lit(2)).alias("param_val"),
        )
    )
    per = pairs.groupBy("host", "param_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("param_val").cast("long").alias("n_values"),
    )
    return per.select(
        "host",
        "param_key",
        "n_urls",
        "n_values",
        F.expr("(n_values * 1000000) div n_urls").cast("long").alias("collapse_ppm"),
        (
            (F.col("n_values") == F.col("n_urls"))
            & (F.col("n_urls") >= F.lit(min_session_urls))
        ).alias("session_like"),
    )


def query_param_stats_sql(pages_cte: str, min_session_urls: int = 8) -> str:
    """Oracle twin of :func:`query_param_stats` over a CTE producing
    ``url`` rows."""
    return f"""
with p as ({pages_cte}),
q as (select regexp_extract(url, 'https?://([^/]+)/', 1) as host,
             split_part(url, '?', 2) as qs from p),
kv as (select host, unnest(string_split(qs, '&')) as kv
       from q where qs <> ''),
per as (select host, split_part(kv, '=', 1) as param_key,
               count(*)::BIGINT as n_urls,
               count(distinct split_part(kv, '=', 2))::BIGINT as n_values
        from kv group by 1, 2)
select host, param_key, n_urls, n_values,
       ((n_values * 1000000) // n_urls)::BIGINT as collapse_ppm,
       n_values = n_urls and n_urls >= {min_session_urls} as session_like
from per
"""
