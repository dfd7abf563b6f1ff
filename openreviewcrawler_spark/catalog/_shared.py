"""Shared derivation snippets, helpers and cross-family query infrastructure (mechanically split from the catalog monolith; see __init__ docstring)."""

from __future__ import annotations
from collections.abc import Callable
from dataclasses import dataclass
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..functions.urls import canonicalize_col, host_col
from ..operators import dedup, multimodal, similarity
from ..operators.labeling import label_row
from ..operators.comment_tree import reply_forest
from ..operators.ordering import assign_seq_scalable
from ..operators.robots import apply_robots
from ..operators.scheduler import admit
from ..operators.seen import anti_join_seen
from ..operators.stats import (
    attach_notes_with_misses,
    count_histogram,
    note_type_col,
    orphan_metrics,
)
from ..operators.textstats import (
    fingerprint_cols,
    lang_id_col,
    quality_score_cols,
    token_count_cols,
)
from ..plans.crawl import seeds_to_frontier


@dataclass
class QueryDef:
    build: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None => non-SQL-expressible; driver does rows-only check


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# shared derivation snippets (identical text evaluated by BOTH engines)
# ---------------------------------------------------------------------------

_ID_STR = "cast(doc_id as varchar(30))"
RAW_URL_EXPR = f"""case cast(doc_id % 4 as int)
  when 0 then 'https://' || source || '.example/d/' || {_ID_STR}
  when 1 then 'HTTPS://' || upper(source) || '.EXAMPLE/d/' || {_ID_STR}
  when 2 then 'https://' || source || '.example:443/d/' || {_ID_STR}
  else 'https://' || source || '.example/d/' || {_ID_STR} || '#s'
end"""
CANON_URL_EXPR = f"'https://' || source || '.example/d/' || {_ID_STR}"
HOST_EXPR = "source || '.example'"

CORPUS_SQL = """
  select doc_id, text, lang from documents
  union all
  select doc_id + 100000 as doc_id, substr(text, instr(text, ' ') + 1) as text, lang
  from documents where doc_id % 4 = 1
  union all
  select doc_id + 200000 as doc_id, text, lang from documents where doc_id % 5 = 0
"""

# DuckDB-side md5 hash32 + token/shingle helpers (twin of textstats.hash32_col)
_H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"
_SQL_TOKENS = "string_split(text, ' ')"


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    near = docs.filter(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
        "lang",
    )
    exact = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang"
    )
    return docs.unionByName(near).unionByName(exact)


#: redirect-edge synthesis shared by both engines: 2-cycles at ids
#: 23/24 mod 50 (redirect loops), a chain feeding each loop (25 -> 24),
#: 3-hop chains elsewhere, terminals at multiples of 4
_REDIRECT_DST_CASE = """case when doc_id % 50 = 23 then doc_id + 1
     when doc_id % 50 = 24 then doc_id - 1
     when doc_id % 4 <> 0 then doc_id - 1
     else null end"""


def q_crawl_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (operators/redirects.resolve_redirects):
    url -> final target by pointer doubling (ceil(log2 L) self-joins for
    L-hop chains, no driver barrier); loops surface as resolved=false.
    The oracle unrolls the SAME doubling recurrence as SQL CTE layers, so
    hops match bit-for-bit even on cycle members."""
    from ..operators.redirects import resolve_redirects

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    dst_id = F.expr(_REDIRECT_DST_CASE)
    redirects = ids.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("u"), dst_id.cast("string")).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return resolve_redirects(redirects, rounds=5)


def _sql_redirect_resolve(rounds: int = 5) -> str:
    layers = []
    prev = "f0"
    for i in range(1, rounds + 1):
        layers.append(
            f"f{i} as (select f.src, coalesce(g.cur, f.cur) as cur,"
            f" f.hops + coalesce(g.hops, 0) as hops"
            f" from {prev} f left join {prev} g on f.cur = g.src)"
        )
        prev = f"f{i}"
    return f"""
with r as (
  select 'u' || cast(doc_id as varchar(30)) as src,
         'u' || cast(({_REDIRECT_DST_CASE}) as varchar(30)) as dst
  from documents where ({_REDIRECT_DST_CASE}) is not null
),
f0 as (select src, dst as cur, 1::BIGINT as hops from r),
{', '.join(layers)}
select f.src, f.cur as final_url, f.hops, (o.src is null) as resolved
from {prev} f left join (select distinct src from r) o on f.cur = o.src
"""


#: deterministic synthetic link graph over 100 nodes (shared verbatim by
#: both engines; the ranker under test is not shared)
_RANK_EDGES_CTE = (
    "select (doc_id % 100) as src, ((doc_id * 7 + 3) % 100) as dst"
    " from documents where (doc_id % 100) <> ((doc_id * 7 + 3) % 100)"
)
_RANK_NODES_CTE = "select distinct (doc_id % 100) as node from documents"


_BINPACK_HOST_EXPR = "'h' || cast(doc_id % ((doc_id % 37) + 1) as varchar(10))"


# ---------------------------------------------------------------------------
# training-data pipeline: text analysis
# ---------------------------------------------------------------------------



def _sw_sql(words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_SQL_TOKENS}, t -> t in ({quoted})))"


#: the quality-score case expression over the m-CTE columns
#: (n_tokens, mean_tok, stop_ratio, punct_ratio) — SQL twin of
#: textstats.quality_score_cols, shared by every oracle that scores
#: documents (text_quality, host_quality_rollup, clean_corpus) so the
#: thresholds live in exactly one place per engine
_SQL_QUALITY_SCORE = """((case when n_tokens between 10 and 100000 then 0.4 else 0.0 end)
      + (case when mean_tok between 2.0 and 12.0 then 0.3 else 0.0 end)
      + (case when stop_ratio >= 0.01 then 0.2 else 0.0 end)
      + (case when punct_ratio <= 0.2 then 0.1 else 0.0 end))"""


#: shared base/m CTE text: documents -> per-doc quality measures
#: (n_tokens, mean_tok, stop_ratio, punct_ratio) — the inputs of
#: _SQL_QUALITY_SCORE; one definition for both per-doc and per-host oracles
_SQL_QUALITY_M = f"""base as (
  select doc_id, text, len({_SQL_TOKENS})::BIGINT as n_tokens,
         length(text)::BIGINT as n_chars,
         {_sw_sql(("the", "a", "of", "and", "is", "to"))}::BIGINT as stop_en
  from documents
), m as (
  select doc_id, n_tokens,
    (n_chars - (n_tokens - 1)) / n_tokens::DOUBLE as mean_tok,
    stop_en / n_tokens::DOUBLE as stop_ratio,
    (n_chars - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / n_chars::DOUBLE as punct_ratio
  from base
)"""

# shared DuckDB shingle CTE: distinct 3-token shingles per doc (docs >= 3 tokens)
_SQL_SHINGLES = f"""
shingled as (
  select doc_id, {_SQL_TOKENS} as toks from corpus where len({_SQL_TOKENS}) >= 3
), sh as (
  select doc_id, unnest(list_distinct(
    list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
  )) as shingle
  from shingled
)
"""


def _sql_banded_cte() -> str:
    """Shared CTE text: corpus shingles -> one md5 per shingle -> affine-
    mixed minhash signature -> banded_all rows. The SQL twin of
    ``dedup.banded_signatures`` — used by both the batch self-join oracle
    and the incremental new-vs-history oracle so the constants/band format
    live in exactly one place per engine."""
    mixed = ", ".join(
        f"min((h * {a} + {b}) % {dedup.MINHASH_P}) as mh{j}"
        for j, (a, b) in enumerate(dedup.MINHASH_MIX)
    )
    band_rows = []
    rpb = dedup.N_MINHASH // dedup.N_BANDS
    for b in range(dedup.N_BANDS):
        cols = " || '/' || ".join(
            f"mh{b * rpb + r}::VARCHAR" for r in range(rpb)
        )
        band_rows.append(f"select doc_id, {b} as band, {cols} as bkey from sig")
    banded = " union all ".join(band_rows)
    return f"""with corpus as ({CORPUS_SQL}), {_SQL_SHINGLES},
hashed as (select doc_id, {_H32.format(x='shingle')} as h from sh),
sig as (select doc_id, {mixed} from hashed group by doc_id),
banded_all as ({banded})"""


def _sql_minhash() -> str:
    # one md5 per shingle; the N streams are affine-mixed (same constants as
    # dedup.MINHASH_MIX, bounded so DuckDB's overflow-checked BIGINT agrees
    # with Spark)
    return f"""
{_sql_banded_cte()},
hot as (
  select band, bkey from banded_all group by band, bkey
  having count(*) > {dedup.MAX_BUCKET}
),
banded as (
  select b.* from banded_all b
  where not exists (select 1 from hot h where h.band = b.band and h.bkey = b.bkey)
)
select l.doc_id::BIGINT as doc_a, r.doc_id::BIGINT as doc_b, count(*)::BIGINT as n_bands
from banded l join banded r on l.band = r.band and l.bkey = r.bkey and l.doc_id < r.doc_id
group by 1, 2
"""


SQL_DEDUP_MINHASH_LSH = _sql_minhash()


def _sql_simhash_wide() -> str:
    """Shared CTE prefix (corpus -> token hashes -> 64 bit-votes -> one
    row per doc with band values b0..b3) — used by the near-pair oracle
    below AND the compression-cluster plan, so the vote/band constants
    live in one place per engine."""
    votes = ", ".join(
        "sum(case when (({src}) & 1) = 1 then 1 else -1 end) as s{bit}".format(
            src=f"h_lo >> {bit}" if bit < 32 else f"h_hi >> {bit - 32}", bit=bit
        )
        for bit in range(dedup.SIMHASH_BITS)
    )
    bb = dedup.SIMHASH_BAND_BITS
    bvals = []
    for b in range(dedup.SIMHASH_BANDS):
        terms = " + ".join(
            f"(case when s{b * bb + r} > 0 then {1 << r}::BIGINT else 0 end)"
            for r in range(bb)
        )
        bvals.append(f"({terms}) as b{b}")
    return f"""
with corpus as ({CORPUS_SQL}),
toks as (
  select doc_id, {_H32.format(x='tok')} as h_lo,
         {_H32.format(x="'hi|' || tok")} as h_hi
  from (select doc_id, unnest({_SQL_TOKENS}) as tok from corpus)
), sums as (
  select doc_id, {votes} from toks group by doc_id
), wide as (
  select doc_id, {', '.join(bvals)} from sums
)"""


_SQL_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
)
_SQL_NORM = "sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"

def _sql_plane_lit(j: int) -> str:
    """DuckDB literal for hyperplane r_j — same md5-derived constants the
    Spark plan bakes in (similarity.plane_components); repr round-trips."""
    return "[" + ", ".join(repr(v) for v in similarity.plane_components(j)) + "]"


def _sql_plane_dot(j: int, e: str = "e") -> str:
    return (
        f"list_reduce(list_transform(range(1, len({e}) + 1),"
        f" i -> {e}[i] * ({_sql_plane_lit(j)})[i]), (x, y) -> x + y)"
    )


def _sql_lsh_bands_cte(source_cte: str) -> str:
    """CTE fragment `sigb`,`bands`: banded LSH signature rows (vec_id, band,
    bval) over a CTE named ``source_cte`` with columns (vec_id, e)."""
    bvals = []
    for b in range(similarity.LSH_BANDS):
        terms = []
        for r in range(similarity.LSH_BAND_BITS):
            j = b * similarity.LSH_BAND_BITS + r
            terms.append(
                f"(case when {_sql_plane_dot(j)} > 0 then {1 << r}::BIGINT else 0 end)"
            )
        bvals.append("(" + " + ".join(terms) + f") as bv{b}")
    sigb = f"select vec_id, {', '.join(bvals)} from {source_cte}"
    band_rows = " union all ".join(
        f"select vec_id, {b}::BIGINT as band, bv{b} as bval from sigb"
        for b in range(similarity.LSH_BANDS)
    )
    return f"sigb as ({sigb}), bands as ({band_rows})"


SQL_DEDUP_COMPONENTS = f"""
with recursive pairs as ({SQL_DEDUP_MINHASH_LSH}),
nodes as (select doc_id from ({CORPUS_SQL})),
edges as (
  select doc_a as n, doc_b as m from pairs
  union all
  select doc_b as n, doc_a as m from pairs
),
reach(node, comp) as (
  select doc_id, doc_id from nodes
  union
  select e.n, r.comp from edges e join reach r on e.m = r.node
)
select node::BIGINT as doc_id, min(comp)::BIGINT as component
from reach group by 1
"""


#: shared magic-prefix derivation — ASCII magics so the oracle can sniff the
#: pre-encode string while Spark sniffs the encoded BINARY column.
MAGIC_PREFIX_EXPR = """case cast(doc_id % 7 as int)
  when 0 then '%PDF-1.7 '
  when 1 then 'GIF89a'
  when 2 then 'RIFF0000WAVE'
  when 3 then 'OggS'
  when 4 then '<!DOCTYPE html>'
  when 5 then '<?xml version='
  else ''
end"""


def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte MIME sniffing (operators/multimodal.sniff_mime) on a
    BINARY payload column: only the first 16 bytes are sliced out of the
    blob (binary substring), so the payload never enters an exchange."""
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(F.expr(f"{MAGIC_PREFIX_EXPR} || text"), "utf-8").alias("payload"),
    )
    return multimodal.sniff_mime(pages).select("doc_id", "mime", "n_bytes")


SQL_MIME_SNIFF = f"""
with p as (select doc_id, {MAGIC_PREFIX_EXPR} || text as body from documents)
select doc_id,
  case when substr(body, 1, 4) = 'RIFF' and substr(body, 9, 4) = 'WAVE'
         then 'audio/x-wav'
       when substr(body, 1, 5) = '%PDF-' then 'application/pdf'
       when substr(body, 1, 6) = 'GIF89a' then 'image/gif'
       when substr(body, 1, 4) = 'OggS' then 'audio/ogg'
       when substr(body, 1, 14) = '<!DOCTYPE html' then 'text/html'
       when substr(body, 1, 5) = '<?xml' then 'application/xml'
       else 'text/plain' end as mime,
  octet_length(encode(body))::BIGINT as n_bytes
from p
"""


def _sql_minhash_error_profile() -> str:
    from ..operators import dedup

    matches = " + ".join(f"(l.mh{j} = r.mh{j})::INT" for j in range(dedup.N_MINHASH))
    return f"""
{_sql_banded_cte()},
hot as (
  select band, bkey from banded_all group by band, bkey
  having count(*) > {dedup.MAX_BUCKET}
),
banded as (
  select b.* from banded_all b
  where not exists (select 1 from hot h where h.band = b.band and h.bkey = b.bkey)
),
pairs as (
  select l.doc_id as doc_a, r.doc_id as doc_b
  from banded l
  join banded r on l.band = r.band and l.bkey = r.bkey and l.doc_id < r.doc_id
  group by 1, 2
),
est as (
  select p.doc_a, p.doc_b, ({matches}) / {dedup.N_MINHASH}.0 as est_j
  from pairs p
  join sig l on l.doc_id = p.doc_a
  join sig r on r.doc_id = p.doc_b
),
sizes as (select doc_id, count(*)::BIGINT as n_sh from sh group by doc_id),
inter as (
  select p.doc_a, p.doc_b, count(*)::BIGINT as n_inter
  from pairs p
  join sh s1 on s1.doc_id = p.doc_a
  join sh s2 on s2.doc_id = p.doc_b and s2.shingle = s1.shingle
  group by 1, 2
),
jj as (
  select e.est_j,
         coalesce(i.n_inter, 0)
           / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0))::DOUBLE as true_j
  from est e
  left join inter i on i.doc_a = e.doc_a and i.doc_b = e.doc_b
  join sizes za on za.doc_id = e.doc_a
  join sizes zb on zb.doc_id = e.doc_b
)
select floor(abs(est_j - true_j) * 20)::INT as err_bucket,
       count(*)::BIGINT as n_pairs
from jj group by 1
"""


# ---------------------------------------------------------------------------
# session-2 r4 batch: graph traversal, global priority pop, consistent-hash
# sharding, head-metadata parse
# ---------------------------------------------------------------------------

_BFS_EDGES_CTE = (
    "select (doc_id % 100) as src, ((doc_id * 7 + 3) % 83) as dst"
    " from documents where (doc_id % 100) <> ((doc_id * 7 + 3) % 83)"
)
_BFS_SEEDS_CTE = (
    "select distinct (doc_id % 100) as node from documents"
    " where (doc_id % 100) % 17 = 0"
)


#: revisit change observations: _CHANGE_SNAPS synthetic snapshots per URL;
#: a URL "changed" at snapshot s with per-doc propensity (doc_id % 4)/10 —
#: the predicate text is shared verbatim between engines (pure integer)
_CHANGE_SNAPS = 4
_CHANGE_EXPR = (
    "case when (doc_id * 37 + snap * 13) % 10 < doc_id % 4 then 1 else 0 end"
)


#: dyadic degree ladder: bucket = floor-log2 via a shared CASE (ln banned)
_DEG_BUCKET_CASE = (
    "case when {d} = 1 then 0 when {d} <= 3 then 1 when {d} <= 7 then 2"
    " when {d} <= 15 then 3 when {d} <= 31 then 4 when {d} <= 63 then 5"
    " else 6 end"
)


def q_crawl_error_rate_by_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host fetch error-rate rollup over the attempt log (the
    retry_backoff synthesis: 1..(doc_id%6+1) attempts per URL, failures
    on the shared predicate) — the reliability leaderboard that decides
    which hosts deserve the circuit breaker's attention (the breaker
    reacts per host in real time; this is the batch post-mortem). One
    explode, one groupBy; integer ppm."""
    attempts = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("doc_id") % 6 + 1)).alias("att"),
    ).selectExpr(
        "host",
        "case when (doc_id * 5 + att) % 7 >= 3 then 1 else 0 end as ok",
    )
    return attempts.groupBy("host").agg(
        F.count("*").cast("long").alias("n_attempts"),
        F.sum(1 - F.col("ok")).cast("long").alias("n_failures"),
    ).selectExpr(
        "host",
        "n_attempts",
        "n_failures",
        "cast((n_failures * cast(1000000 as bigint)) div n_attempts"
        " as bigint) as fail_ppm",
    )


SQL_CRAWL_ERROR_RATE_BY_HOST = """
with a as (
  select 'h' || cast(doc_id % 7 as varchar(10)) as host, doc_id,
         unnest(range(1, doc_id % 6 + 2)) as att
  from documents
),
f as (
  select host,
         case when (doc_id * 5 + att) % 7 >= 3 then 1 else 0 end as ok
  from a
)
select host, count(*)::BIGINT as n_attempts,
       sum(1 - ok)::BIGINT as n_failures,
       ((sum(1 - ok) * 1000000) // count(*))::BIGINT as fail_ppm
from f group by host
"""
#: estimated response bytes (same synthesis as crawl_bandwidth_admit)
_EST_BYTES_EXPR = "(200 + (doc_id * 131) % 5000)"


#: Pearson projection over exact moments — IDENTICAL text in both engines.
#: NB: no decimal-point literals — Spark SQL parses `1000000.0` as
#: DECIMAL(8,1) (the DataFrame-API F.lit(1e6) is a double), which drags
#: the whole quotient into decimal; cast(1000000 as double) keeps both
#: engines in IEEE doubles.
_CORR_PROJ = [
    "case when (cast(m as double) * cast(sxx as double)"
    " - cast(sx as double) * cast(sx as double)) > 0.0"
    " and (cast(m as double) * cast(syy as double)"
    " - cast(sy as double) * cast(sy as double)) > 0.0"
    " then floor((cast(m as double) * cast(sxy as double)"
    " - cast(sx as double) * cast(sy as double))"
    " / (sqrt(cast(m as double) * cast(sxx as double)"
    " - cast(sx as double) * cast(sx as double))"
    " * sqrt(cast(m as double) * cast(syy as double)"
    " - cast(sy as double) * cast(sy as double)))"
    " * cast(1000000 as double)) / cast(1000000 as double)"
    " end as r_corr",
]
