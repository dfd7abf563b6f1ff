"""HTML -> text extraction — the parse stage of the crawl pipeline.

Reference analog: the crawler extracts typed fields verbatim out of each
fetched note's ``content`` dict (/root/reference/crawler.py:86-99,
database/database.py:119-127); our web-page analog extracts ``title`` and
paragraph text out of fetched HTML. The contract (BASELINE.json input_hint)
is **byte-identical extracted text per url** vs the single-node oracle, so
both sides share this exact pure function; the engine wraps it in an
Arrow-batched ``mapInPandas`` (never row-at-a-time Python).

Extraction spec (deterministic, locale-free, no external parser):
  * title = text inside the first ``<title>...</title>`` (any case),
  * paragraphs = text inside each ``<p>...</p>`` in document order,
  * inner tags are stripped, a fixed entity table is decoded, runs of
    whitespace collapse to one space, leading/trailing space trimmed,
  * output = title and paragraphs joined with ``\n``.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .urls import canonicalize_series

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.IGNORECASE | re.DOTALL)
_PARA_RE = re.compile(r"<p[^>]*>(.*?)</p>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")
_HREF_RE = re.compile(r"""<a\s[^>]*href\s*=\s*["']([^"']+)["']""", re.IGNORECASE)

# Fixed entity table — decoded in one pass, longest-match-first by construction.
_ENTITIES = {
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
    "&amp;": "&",  # decoded last so &amp;lt; -> &lt; (literal), like html.unescape's single pass
}
_ENTITY_RE = re.compile("|".join(re.escape(k) for k in _ENTITIES))


def _clean_fragment(fragment: str) -> str:
    # the guards are pure shortcuts (a fragment without '<'/'&' is a fixed
    # point of the corresponding sub), so output is identical — but typical
    # paragraph bodies contain neither, and skipping two regex scans per
    # fragment is a measurable share of the whole parse stage
    no_tags = _TAG_RE.sub(" ", fragment) if "<" in fragment else fragment
    if "&" in no_tags:
        no_tags = _ENTITY_RE.sub(lambda m: _ENTITIES[m.group(0)], no_tags)
    return _WS_RE.sub(" ", no_tags).strip()


def extract_text(html: bytes | str) -> str:
    """Extract title + paragraphs from HTML bytes. Shared with the oracle."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    parts: list[str] = []
    m = _TITLE_RE.search(html)
    if m:
        parts.append(_clean_fragment(m.group(1)))
    for pm in _PARA_RE.finditer(html):
        parts.append(_clean_fragment(pm.group(1)))
    return "\n".join(parts)


def extract_outlinks(html: bytes | str) -> list[str]:
    """Extract ``<a href=...>`` targets in document order (frontier expansion).

    Reference analog: discovering further invitations/notes to fetch from an
    already-fetched object (/root/reference/crawler.py:83-99).
    """
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    return _HREF_RE.findall(html)


def with_extracted_text(
    df: DataFrame, html_col: str = "html", out_col: str = "extracted_text"
) -> DataFrame:
    """Append ``out_col`` = extract_text(html) via Arrow-batched pandas UDF."""

    @F.pandas_udf("string")
    def _extract(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract_text(b) if b is not None else None)

    return df.withColumn(out_col, _extract(F.col(html_col)))


def with_outlinks(
    df: DataFrame, html_col: str = "html", out_col: str = "outlinks"
) -> DataFrame:
    """Append ``out_col`` = array<string> of hrefs via Arrow-batched pandas UDF."""

    @F.pandas_udf("array<string>")
    def _links(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract_outlinks(b) if b is not None else [])

    return df.withColumn(out_col, _links(F.col(html_col)))


def _canonical_outlinks(decoded: pd.Series) -> pd.Series:
    """Per-page lists of canonical hrefs: every link of the batch goes
    through ONE :func:`canonicalize_series` call, then is split back per page."""
    raw = decoded.map(extract_outlinks)
    flat = pd.Series([u for links in raw for u in links], dtype=object)
    canon = canonicalize_series(flat).tolist()
    out, i = [], 0
    for links in raw:
        out.append(canon[i : i + len(links)])
        i += len(links)
    return pd.Series(out, index=decoded.index, dtype=object)


def extract_batch(
    df: DataFrame,
    schema: str,
    html_col: str = "html",
    want_outlinks: bool = True,
) -> DataFrame:
    """One-pass ``mapInPandas`` variant: text + outlinks from a single decode.

    Used by the round pipeline so the fat ``html`` binary column is
    materialized in Python exactly once per fetched row. Outlinks come out
    *canonical* (``canonicalize_url`` of each ``extract_outlinks`` href, via
    the engine's :func:`canonicalize_series` once per Arrow batch), so the
    frontier expansion downstream needs no Python step of its own.
    """

    passthrough = [f for f in df.columns if f != html_col]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf[html_col].map(
                lambda b: b.decode("utf-8", errors="replace") if b is not None else ""
            )
            out = pdf[passthrough].copy()
            out["extracted_text"] = decoded.map(extract_text)
            if want_outlinks:
                out["outlinks"] = _canonical_outlinks(decoded)
            yield out

    return df.mapInPandas(_run, schema=schema)
