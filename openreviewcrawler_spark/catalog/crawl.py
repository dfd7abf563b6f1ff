"""crawl family query builders + DuckDB oracles (mechanically split from the catalog monolith)."""

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
from ._shared import (
    CANON_URL_EXPR,
    HOST_EXPR,
    RAW_URL_EXPR,
    SQL_CRAWL_ERROR_RATE_BY_HOST,
    _BFS_EDGES_CTE,
    _BFS_SEEDS_CTE,
    _BINPACK_HOST_EXPR,
    _CHANGE_EXPR,
    _CHANGE_SNAPS,
    _DEG_BUCKET_CASE,
    _EST_BYTES_EXPR,
    _H32,
    _ID_STR,
    _RANK_EDGES_CTE,
    _RANK_NODES_CTE,
    _sql_redirect_resolve,
    _t,
    q_crawl_error_rate_by_host,
    q_crawl_redirect_resolve,
)

RAW_URL_ALT_EXPR = f"""case cast((doc_id + 1) % 4 as int)
  when 0 then 'https://' || source || '.example/d/' || {_ID_STR}
  when 1 then 'HTTPS://' || upper(source) || '.EXAMPLE/d/' || {_ID_STR}
  when 2 then 'https://' || source || '.example:443/d/' || {_ID_STR}
  else 'https://' || source || '.example/d/' || {_ID_STR} || '#s'
end"""
PATH_EXPR = f"'/d/' || {_ID_STR}"

# robots rules per host, derived from the source suffix digit
_RULES = {
    "disallow": "case when source like '%1' or source like '%3' then array('/d/1') end",
    "delay": "case when source like '%2' then 5.0d end",
    "cap": "case when source like '%4' then 3 end",
}
_RULES_SQL_DISALLOW = "case when source like '%1' or source like '%3' then ['/d/1'] end"


def _urlset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc-derived url table: raw (dirty) spelling + engine-canonicalized url."""
    docs = _t(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.expr(RAW_URL_EXPR).alias("raw_url"),
        F.expr(HOST_EXPR).alias("host"),
        (F.col("doc_id") % 7).cast("int").alias("seed_index"),
        (F.col("doc_id") % 3).cast("int").alias("depth"),
        "text",
        "lang",
        "source",
    )
    return raw.withColumn("url", canonicalize_col(F.col("raw_url")))


def _robots_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .select(
            F.expr(HOST_EXPR).alias("host"),
            F.expr(_RULES["disallow"]).alias("disallow_prefix"),
            F.expr(_RULES["delay"]).alias("crawl_delay_s"),
            F.expr(_RULES["cap"]).alias("max_per_round"),
        )
    )


# ---------------------------------------------------------------------------
# crawl-engine operators (SURVEY.md §2.1-2.8; F1, D1, D2, O2, J-fetch, T1)
# ---------------------------------------------------------------------------


def q_crawl_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — engine canonicalization of dirty URL spellings; oracle constructs
    the expected canonical closed-form directly."""
    return _urlset(spark, sf_dir).select("doc_id", "url")


SQL_CRAWL_CANONICALIZE = f"select doc_id, {CANON_URL_EXPR} as url from documents"


def q_crawl_seed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/P1 — two dirty spellings per target collapse to one frontier row
    keeping the smallest seed_index (seeds_to_frontier, plans/crawl.py)."""
    docs = _t(spark, sf_dir, "documents")
    s1 = docs.select(F.col("doc_id").alias("seed_index"), F.expr(RAW_URL_EXPR).alias("url"))
    s2 = docs.select(
        (F.col("doc_id") + 1000000).alias("seed_index"),
        F.expr(RAW_URL_ALT_EXPR).alias("url"),
    )
    fr = seeds_to_frontier(s1.unionByName(s2))
    return fr.select("url", "host", F.col("seed_index").cast("long").alias("seed_index"))


SQL_CRAWL_SEED_DEDUP = f"""
with seeds as (
  select doc_id as seed_index, {CANON_URL_EXPR} as url, {HOST_EXPR} as host from documents
  union all
  select doc_id + 1000000, {CANON_URL_EXPR}, {HOST_EXPR} from documents
)
select url, host, min(seed_index)::BIGINT as seed_index from seeds group by url, host
"""


def q_crawl_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 exact tier — left-anti membership probe vs the seen set."""
    u = _urlset(spark, sf_dir)
    seen = u.filter(F.col("doc_id") % 3 == 0).select("url")
    return anti_join_seen(u.select("url", "host"), seen).select("url", "host")


SQL_CRAWL_SEEN_FILTER = f"""
with u as (select doc_id, {CANON_URL_EXPR} as url, {HOST_EXPR} as host from documents)
select url, host from u where doc_id % 3 <> 0
"""


def q_crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots disallow + per-host budget (operators/robots.py): broadcast
    host->rule map, prefix predicate, budget = min(cap, round/delay)."""
    u = _urlset(spark, sf_dir).select("url", "host", "seed_index", "depth")
    allowed, _denied = apply_robots(u, _robots_dim(spark, sf_dir), 8, 60.0)
    return allowed.select("url", "host", F.col("budget").cast("long").alias("budget"))


SQL_CRAWL_ROBOTS_FILTER = f"""
with u as (
  select doc_id, {CANON_URL_EXPR} as url, {HOST_EXPR} as host, {PATH_EXPR} as path, source
  from documents
), rules as (
  select distinct source,
    {_RULES_SQL_DISALLOW} as disallow,
    case when source like '%2' then 5.0 end as delay,
    case when source like '%4' then 3 end as cap
  from documents
)
select u.url, u.host,
  least(coalesce(r.cap, 8),
        case when r.delay is not null and r.delay > 0
             then greatest(1, floor(60.0 / r.delay)) else 8 end)::BIGINT as budget
from u join rules r using (source)
where not (r.disallow is not null and starts_with(u.path, r.disallow[1]))
"""


SQL_CRAWL_REDIRECT_RESOLVE = _sql_redirect_resolve()


def q_crawl_politeness_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/T1 — per-host priority top-k admission (politeness), budget 5."""
    u = _urlset(spark, sf_dir).select("url", "host", "seed_index", "depth")
    adm = admit(u.withColumn("budget", F.lit(5)), impl="window")
    return adm.select(
        "url", "host",
        F.col("seed_index").cast("long").alias("seed_index"),
        F.col("depth").cast("long").alias("depth"),
    )


SQL_CRAWL_POLITENESS_ADMIT = f"""
with u as (
  select {CANON_URL_EXPR} as url, {HOST_EXPR} as host,
         (doc_id % 7)::BIGINT as seed_index, (doc_id % 3)::BIGINT as depth
  from documents
), r as (
  select *, row_number() over (partition by host order by seed_index, depth, url) as rn
  from u
)
select url, host, seed_index, depth from r where rn <= 5
"""


def q_crawl_politeness_admit_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 + hot-host salting — the skew-breaking two-pass admit
    (operators/scheduler.admit_window_salted) must produce EXACTLY the same
    admitted set as the plain window (same oracle SQL): the salted pre-pass
    keeps top-budget per (host, salt), a superset of the global per-host
    top-budget."""
    u = _urlset(spark, sf_dir).select("url", "host", "seed_index", "depth")
    adm = admit(u.withColumn("budget", F.lit(5)), impl="window", n_salts=4)
    return adm.select(
        "url", "host",
        F.col("seed_index").cast("long").alias("seed_index"),
        F.col("depth").cast("long").alias("depth"),
    )


def q_crawl_recrawl_due(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness scheduling — per-host capped oldest-first refresh queue
    (operators/scheduler.recrawl_due; composes with the deletable cuckoo
    seen tier, tests/test_cuckoo.py). current_round=10, interval=4, cap=3."""
    from ..operators.scheduler import recrawl_due

    fetched = _urlset(spark, sf_dir).select(
        "url", "host", (F.col("doc_id") % 10).cast("int").alias("round")
    )
    out = recrawl_due(fetched, current_round=10, interval=4, per_host_cap=3)
    return out.select(
        "url",
        "host",
        F.col("last_round").cast("long").alias("last_round"),
        F.col("age").cast("long").alias("age"),
        F.col("refresh_rank").cast("long").alias("refresh_rank"),
    )


SQL_CRAWL_RECRAWL_DUE = f"""
with f as (
  select {CANON_URL_EXPR} as url, {HOST_EXPR} as host, doc_id % 10 as round
  from documents
), latest as (
  select url, max(round) as last_round, min(host) as host from f group by url
), due as (
  select *, row_number() over (partition by host order by last_round, url)
    as refresh_rank
  from latest where 10 - last_round >= 4
)
select url, host, last_round, 10 - last_round as age, refresh_rank
from due where refresh_rank <= 3
"""


def q_crawl_seen_filter_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 deletable fast tier — cuckoo pre-filter + exact confirm anti-join
    (operators/cuckoo.py: partial-key cuckoo hashing, treeAggregate
    fingerprint-merge). Insert-only path, so the result equals the exact
    anti-join by the same no-false-negative argument as Bloom — proven here
    against the identical SQL oracle. Deletion (the property Bloom lacks,
    needed by recrawl) is covered by tests/test_cuckoo.py."""
    from ..operators.cuckoo import CuckooFilter, build_cuckoo, cuckoo_anti_join_seen

    u = _urlset(spark, sf_dir)
    seen = u.filter(F.col("doc_id") % 3 == 0).select(
        "url", F.hash("url").alias("url_hash")
    )
    flt = CuckooFilter.sized_for(2048)
    cuckoo = build_cuckoo(seen, "url_hash", flt.n_buckets)
    cand = u.select("url", "host", F.hash("url").alias("url_hash"))
    return cuckoo_anti_join_seen(cand, seen, cuckoo).select("url", "host")


def q_crawl_seen_filter_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 fast tier — Bloom pre-filter + exact confirm anti-join. Same oracle
    as the exact tier: the Bloom can never drop an unseen URL (no false
    negatives) and false positives are re-checked exactly, so the result is
    identical by construction — and this entry proves it against SQL."""
    from ..operators.seen import BloomFilter, build_bloom

    u = _urlset(spark, sf_dir)
    seen = u.filter(F.col("doc_id") % 3 == 0).select(
        "url", F.hash("url").alias("url_hash")
    )
    flt = BloomFilter.sized_for(2048, 0.01)
    bloom = build_bloom(seen, "url_hash", flt.n_bits, flt.k)
    cand = u.select("url", "host", F.hash("url").alias("url_hash"))
    return anti_join_seen(cand, seen, bloom=bloom).select("url", "host")


def q_crawl_fetch_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — deterministic global fetch_seq via the scalable zipWithIndex-style
    stamp (operators/ordering.py); must equal a global row_number at any
    parallelism."""
    u = _urlset(spark, sf_dir).select("url", "seed_index", "depth")
    out = assign_seq_scalable(u, ["seed_index", "depth", "url"], "fetch_seq")
    return out.select("url", "fetch_seq")


SQL_CRAWL_FETCH_SEQ = f"""
with u as (
  select {CANON_URL_EXPR} as url, doc_id % 7 as seed_index, doc_id % 3 as depth
  from documents
)
select url, (row_number() over (order by seed_index, depth, url) - 1)::BIGINT as fetch_seq
from u
"""


def q_crawl_fetch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S8 — the fetch stage: admitted batch equi-joins pages on url,
    pulling the payload columns only for admitted rows."""
    pages = _urlset(spark, sf_dir)
    frontier = pages.filter(F.col("doc_id") % 2 == 0).select("url", "seed_index")
    fetched = frontier.join(pages.select("url", "host", "lang", "text"), "url")
    return fetched.select(
        "url", "host", "lang", "text",
        F.col("seed_index").cast("long").alias("seed_index"),
    )


SQL_CRAWL_FETCH_JOIN = f"""
with pages as (
  select doc_id, {CANON_URL_EXPR} as url, {HOST_EXPR} as host, lang, text,
         (doc_id % 7)::BIGINT as seed_index
  from documents
)
select url, host, lang, text, seed_index from pages where doc_id % 2 = 0
"""


def q_crawl_frontier_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier min-merge — duplicate discoveries of one url keep the best
    (seed_index, depth) priority (plans/crawl.py frontier_next)."""
    u = _urlset(spark, sf_dir)
    c1 = u.select("url", "seed_index", "depth")
    c2 = u.select(
        "url",
        ((F.col("doc_id") + 3) % 7).cast("int").alias("seed_index"),
        ((F.col("doc_id") + 1) % 3).cast("int").alias("depth"),
    )
    merged = (
        c1.unionByName(c2)
        .groupBy("url")
        .agg(F.min(F.struct("seed_index", "depth")).alias("p"))
        .select(
            "url",
            F.col("p.seed_index").cast("long").alias("seed_index"),
            F.col("p.depth").cast("long").alias("depth"),
        )
    )
    return merged


SQL_CRAWL_FRONTIER_MERGE = f"""
with cand as (
  select {CANON_URL_EXPR} as url, (doc_id % 7)::BIGINT as seed_index,
         (doc_id % 3)::BIGINT as depth from documents
  union all
  select {CANON_URL_EXPR}, ((doc_id + 3) % 7)::BIGINT, ((doc_id + 1) % 3)::BIGINT
  from documents
), r as (
  select *, row_number() over (partition by url order by seed_index, depth) as rn from cand
)
select url, seed_index, depth from r where rn = 1
"""


def q_crawl_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage metrics shape — per-host rollup."""
    u = _urlset(spark, sf_dir)
    return u.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("lang").alias("n_langs"),
        F.max("depth").cast("long").alias("max_depth"),
    )


SQL_CRAWL_HOST_ROLLUP = f"""
select {HOST_EXPR} as host, count(*)::BIGINT as n_urls,
       count(distinct lang)::BIGINT as n_langs, max(doc_id % 3)::BIGINT as max_depth
from documents group by 1
"""


def q_frontier_link_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier prioritization by link evidence — fixed-iteration PageRank
    (operators/rank.link_rank, 3 synchronous iterations, decimal-exact
    sums). The oracle is the identical recurrence unrolled as SQL CTE
    layers; ranks are bit-identical through every iteration (float parity
    recipe), rounded once at the end."""
    from ..operators.rank import link_rank

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 100).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 100).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    nodes = docs.select((F.col("doc_id") % 100).alias("node")).distinct()
    out = link_rank(edges, nodes)
    return out.select(F.col("node").cast("long").alias("node"), "rank")


def _sql_frontier_link_rank() -> str:
    from ..operators.rank import link_rank_sql

    return link_rank_sql(_RANK_EDGES_CTE, _RANK_NODES_CTE)


def q_crawl_hostload_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetcher-slot assignment — serpentine LPT packing of per-host pending
    load onto 8 fetcher slots (operators/scheduler.hostload_binpack). The
    host synthesis is deliberately SKEWED (Zipf-ish: low doc_ids collapse
    onto few hosts) so the packing problem is non-trivial; the rank comes
    from the barrier-free scalable seq stamp, never a global window."""
    from ..operators.scheduler import hostload_binpack

    frontier = _t(spark, sf_dir, "documents").select(
        F.expr(_BINPACK_HOST_EXPR).alias("host")
    )
    return hostload_binpack(frontier, n_slots=8)


SQL_CRAWL_HOSTLOAD_BINPACK = f"""
with f as (select {_BINPACK_HOST_EXPR} as host from documents),
loads as (select host, count(*) as pending from f group by host),
ranked as (
  select host, pending,
         (row_number() over (order by pending desc, host) - 1)::BIGINT
           as load_rank0
  from loads
)
select host, pending, load_rank0,
       (case when (load_rank0 // 8) % 2 = 0 then load_rank0 % 8
             else 7 - (load_rank0 % 8) end)::BIGINT as slot
from ranked
"""


def q_crawl_conditional_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revalidation planning — conditional-GET method selection per frontier
    URL. A recrawl that already holds validators should spend bytes on
    headers, not bodies: URLs with a stored ETag revalidate via
    If-None-Match, URLs with only a Last-Modified stamp via
    If-Modified-Since, everything else is a full fetch. History synthesis:
    2/3 of URLs have a prior fetch (doc_id % 3 <> 0), half of those carry an
    ETag (doc_id % 2 = 0). est_bytes prices the plan (full = body + headers,
    revalidation = headers only) — the rollup a bandwidth budgeter consumes.

    Scale shape: frontier LEFT JOIN history on the canonical url (both sides
    shuffle on the join key, no size assumption on either — crawl history is
    corpus-sized, so no broadcast hint, per the r3 ngram_jaccard lesson)."""
    u = _urlset(spark, sf_dir)
    cand = u.select("url", "doc_id").join(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id"
    )
    hist = u.filter(F.col("doc_id") % 3 != 0).select(
        "url",
        F.when(F.col("doc_id") % 2 == 0, F.md5("url")).alias("etag"),
        (F.col("doc_id") % 10).cast("long").alias("last_mod_round"),
    )
    j = cand.join(hist, "url", "left")
    method = (
        F.when(F.col("etag").isNotNull(), F.lit("if-none-match"))
        .when(F.col("last_mod_round").isNotNull(), F.lit("if-modified-since"))
        .otherwise(F.lit("full"))
    )
    est = F.when(
        method == "full", F.col("n_chars") + F.lit(256)
    ).otherwise(F.lit(64))
    return j.select(
        "url",
        method.alias("method"),
        est.cast("long").alias("est_bytes"),
        F.coalesce("last_mod_round", F.lit(-1)).cast("long").alias("last_mod_round"),
    )


SQL_CRAWL_CONDITIONAL_GET = f"""
with u as (
  select doc_id, {CANON_URL_EXPR} as url, n_chars from documents
),
hist as (
  select {CANON_URL_EXPR} as url,
         case when doc_id % 2 = 0 then md5({CANON_URL_EXPR}) end as etag,
         (doc_id % 10)::BIGINT as last_mod_round
  from documents where doc_id % 3 <> 0
),
j as (select u.url, u.n_chars, h.etag, h.last_mod_round
      from u left join hist h on u.url = h.url)
select url,
       case when etag is not null then 'if-none-match'
            when last_mod_round is not null then 'if-modified-since'
            else 'full' end as method,
       (case when etag is null and last_mod_round is null
             then n_chars + 256 else 64 end)::BIGINT as est_bytes,
       coalesce(last_mod_round, -1)::BIGINT as last_mod_round
from j
"""


def q_crawl_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: one full scheduling round — canonicalize -> seen anti-join ->
    robots filter + budgets -> per-host priority admit -> deterministic
    fetch_seq -> fetch join pages (SURVEY.md §3.1 Spark lifecycle)."""
    u = _urlset(spark, sf_dir)
    seen = u.filter(F.col("doc_id") % 3 == 0).select("url")
    cand = anti_join_seen(u.select("url", "host", "seed_index", "depth"), seen)
    allowed, _denied = apply_robots(cand, _robots_dim(spark, sf_dir), 8, 60.0)
    admitted = admit(allowed, impl="window")
    stamped = assign_seq_scalable(
        admitted.drop("budget"), ["seed_index", "depth", "url"], "fetch_seq"
    )
    fetched = stamped.join(u.select("url", "lang", "text"), "url")
    return fetched.select("fetch_seq", "url", "host", "lang")


SQL_CRAWL_ROUND = f"""
with u as (
  select doc_id, {CANON_URL_EXPR} as url, {HOST_EXPR} as host, {PATH_EXPR} as path,
         source, lang, (doc_id % 7)::BIGINT as seed_index, (doc_id % 3)::BIGINT as depth
  from documents
), rules as (
  select distinct source,
    {_RULES_SQL_DISALLOW} as disallow,
    case when source like '%2' then 5.0 end as delay,
    case when source like '%4' then 3 end as cap
  from documents
), cand as (
  select u.* from u where doc_id % 3 <> 0
), allowed as (
  select c.*,
    least(coalesce(r.cap, 8),
          case when r.delay is not null and r.delay > 0
               then greatest(1, floor(60.0 / r.delay)) else 8 end)::BIGINT as budget
  from cand c join rules r using (source)
  where not (r.disallow is not null and starts_with(c.path, r.disallow[1]))
), admitted as (
  select *, row_number() over (partition by host order by seed_index, depth, url) as rn
  from allowed
), batch as (
  select * from admitted where rn <= budget
)
select (row_number() over (order by seed_index, depth, url) - 1)::BIGINT as fetch_seq,
       url, host, lang
from batch
"""


def q_crawl_bandwidth_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget politeness tier (operators/scheduler.bandwidth_admit):
    per-host running-byte-sum window in priority order, admit while the
    cumulative estimated response size fits the 20 kB round budget."""
    from ..operators.scheduler import bandwidth_admit

    u = _urlset(spark, sf_dir).select(
        "url",
        "host",
        F.col("seed_index").cast("long").alias("seed_index"),
        F.col("depth").cast("long").alias("depth"),
        (F.lit(200) + (F.col("doc_id") * 131) % 5000).cast("long").alias("est_bytes"),
    )
    out = bandwidth_admit(u, byte_budget=20000)
    return out.select("url", "host", "est_bytes", F.col("cum_bytes").cast("long").alias("cum_bytes"))


SQL_CRAWL_BANDWIDTH_ADMIT = f"""
with u as (
  select {CANON_URL_EXPR} as url, {HOST_EXPR} as host,
         (doc_id % 7)::BIGINT as seed_index, (doc_id % 3)::BIGINT as depth,
         (200 + (doc_id * 131) % 5000)::BIGINT as est_bytes
  from documents
),
c as (
  select *, sum(est_bytes) over (
    partition by host order by seed_index, depth, url
    rows between unbounded preceding and current row
  ) as cum_bytes
  from u
)
select url, host, est_bytes, cum_bytes::BIGINT as cum_bytes
from c where cum_bytes <= 20000
"""


# --- crawl trap detection + MIME sniffing (r4) ------------------------------

#: shared derivation (evaluated verbatim by BOTH engines): plant every trap
#: shape — segment loop, calendar, query explosion, repeat-depth — plus
#: clean controls. No backslash anywhere (CLAUDE.md escaping rule).
TRAP_URL_EXPR = f"""case cast(doc_id % 6 as int)
  when 0 then 'https://' || source || '.example/a/b/' || {_ID_STR}
  when 1 then 'https://' || source || '.example/cat/p/cat/p/cat/p/' || {_ID_STR}
  when 2 then 'https://' || source || '.example/2021/04/2021/05/2021/06/' || {_ID_STR}
  when 3 then 'https://' || source || '.example/l?s=' || {_ID_STR}
            || '&a=1&b=2&c=3&d=4&e=5'
  when 4 then 'https://' || source || '.example/p/' || repeat('seg/', 15) || {_ID_STR}
  else 'https://' || source || '.example/y/' || {_ID_STR}
end"""


def q_crawl_trap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spider-trap heuristics (operators/traps.classify_traps) over planted
    loop/calendar/query-explosion URLs: five integer signals, a weighted
    trap_score, and an ok/suspect/trap verdict — all codegen projections."""
    from ..operators.traps import classify_traps

    u = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(TRAP_URL_EXPR).alias("url")
    )
    return classify_traps(u).select(
        "doc_id",
        "url",
        "n_segments",
        "n_dup_segments",
        "n_params",
        "n_date_segments",
        "url_len",
        "trap_score",
        "verdict",
    )


SQL_CRAWL_TRAP_DETECT = f"""
with u as (select doc_id, {TRAP_URL_EXPR} as url from documents),
p as (
  select doc_id, url,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) as path,
    regexp_extract(url, '[?]([^#]*)', 1) as query
  from u
),
s as (
  select doc_id, url,
    len(list_filter(string_split(path, '/'), x -> x <> ''))::INT as n_segments,
    (len(list_filter(string_split(path, '/'), x -> x <> ''))
     - len(list_distinct(list_filter(string_split(path, '/'), x -> x <> ''))))::INT
      as n_dup_segments,
    (case when query = '' then 0 else len(string_split(query, '&')) end)::INT
      as n_params,
    len(regexp_extract_all(path, '/(19|20)[0-9][0-9]/'))::INT as n_date_segments,
    length(url)::INT as url_len
  from p
)
select *,
  (2 * (n_dup_segments >= 2)::INT + 2 * (n_params >= 6)::INT
   + (n_date_segments >= 2)::INT + (n_segments >= 12)::INT
   + (url_len >= 300)::INT)::INT as trap_score,
  case when (2 * (n_dup_segments >= 2)::INT + 2 * (n_params >= 6)::INT
             + (n_date_segments >= 2)::INT + (n_segments >= 12)::INT
             + (url_len >= 300)::INT) >= 3 then 'trap'
       when (2 * (n_dup_segments >= 2)::INT + 2 * (n_params >= 6)::INT
             + (n_date_segments >= 2)::INT + (n_segments >= 12)::INT
             + (url_len >= 300)::INT) >= 1 then 'suspect'
       else 'ok' end as verdict
from s
"""


# --- DUST rule mining + adaptive delay + quota allocation + WARC revisit (r4b)

#: shared derivation: three query params per URL — `id` determines content
#: (the fingerprint), `sid` is a session id (content-irrelevant, varies
#: within every (id, ref) residual → mines as 'strip'), `ref` a tracking
#: tag that happens to be CONSTANT per host (source stripes doc_id mod 20,
#: so doc_id parity is fixed within a host) → never tested, emits no rule
#: row (no evidence ≠ strip — the mining must not strip what it never saw
#: vary). doc_id%5=0 rows carry no query at all; since the stripe fixes
#: doc_id mod 5 per host too, four whole hosts are query-free and emit
#: nothing (the empty-params path).
DUST_URL_EXPR = """case when doc_id % 5 = 0
  then 'https://' || source || '.example/p'
  else 'https://' || source || '.example/p?id=' || cast(doc_id % 50 as varchar(30))
       || '&sid=' || cast(doc_id % 7 as varchar(30))
       || case when doc_id % 2 = 0 then '&ref=home' else '&ref=mail' end
end"""
DUST_FP_EXPR = "substr(md5(source || ':' || cast(doc_id % 50 as varchar(30))), 1, 16)"


def q_crawl_dust_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST rule mining (operators/dust.mine_dust_rules): which query params
    never change the content fingerprint — `sid` mines as 'strip', `id` as
    'keep', per-host-constant `ref` stays unevidenced (no row). Two
    map-side-combined groupBys, no joins."""
    from ..operators.dust import mine_dust_rules

    pages = _t(spark, sf_dir, "documents").select(
        F.expr(DUST_URL_EXPR).alias("url"), F.expr(DUST_FP_EXPR).alias("fingerprint")
    )
    return mine_dust_rules(pages, min_groups=2)


SQL_CRAWL_DUST_RULES = f"""
with u as (select {DUST_URL_EXPR} as url, {DUST_FP_EXPR} as fingerprint from documents),
p as (
  select fingerprint,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) as host,
         regexp_extract(url, '^([^?#]*)', 1) as base,
         regexp_extract(url, '[?]([^#]*)', 1) as query
  from u
),
w as (select *, list_filter(string_split(query, '&'), x -> x <> '') as params from p),
e as (
  select fingerprint, host,
         regexp_extract(t.p, '^([^=]*)', 1) as param_key,
         regexp_extract(t.p, '=(.*)$', 1) as param_value,
         base || '?' || array_to_string(list_sort(list_filter(params, x -> x <> t.p)), '&')
           as residual
  from w, unnest(w.params) as t(p)
),
g as (
  select host, param_key, residual,
         count(distinct param_value) as n_values,
         count(distinct fingerprint) as n_fps
  from e group by 1, 2, 3
),
r as (
  select host, param_key, count(*)::BIGINT as n_groups,
         sum((n_fps = 1)::INT)::BIGINT as n_irrelevant
  from g where n_values >= 2 group by 1, 2
)
select host, param_key, n_groups, n_irrelevant,
       case when n_groups >= 2 and n_irrelevant = n_groups then 'strip' else 'keep' end
         as rule
from r
"""


def q_crawl_adaptive_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-adaptive politeness (operators/scheduler.adaptive_delay):
    per-host delay = clamp(200, 5000, 2x integer-mean latency, doubled when
    error rate > 20%). Pure integer arithmetic — exact at any parallelism."""
    from ..operators.scheduler import adaptive_delay

    log = _t(spark, sf_dir, "documents").select(
        F.expr(HOST_EXPR).alias("host"),
        (F.lit(50) + (F.col("doc_id") * 97) % 900).cast("long").alias("latency_ms"),
        (F.col("doc_id") % 11 == 0).alias("is_err"),
    )
    return adaptive_delay(log)


SQL_CRAWL_ADAPTIVE_DELAY = f"""
with l as (
  select {HOST_EXPR} as host,
         (50 + (doc_id * 97) % 900)::BIGINT as latency_ms,
         (doc_id % 11 = 0) as is_err
  from documents
),
a as (
  select host, count(*)::BIGINT as n_fetches, sum(latency_ms)::BIGINT as sum_latency,
         sum(is_err::INT)::BIGINT as n_errs
  from l group by host
)
select host, n_fetches, n_errs,
       least(5000, greatest(200,
         (case when 5 * n_errs > n_fetches then 2 else 1 end)
         * ((2 * sum_latency) // n_fetches)))::BIGINT as delay_ms
from a
"""


def q_crawl_quota_allocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder fetch-quota apportionment
    (operators/scheduler.allocate_quota): integer-exact proportional split
    of a 997-fetch round budget across hosts; sum(quota) == budget. The
    remainder rank rides the barrier-free scalable seq stamp."""
    from ..operators.scheduler import allocate_quota

    scores = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.expr(HOST_EXPR).alias("host"))
        .agg(F.sum((F.col("doc_id") % 13) + 1).cast("long").alias("score"))
    )
    return allocate_quota(scores, budget=997)


SQL_CRAWL_QUOTA_ALLOCATE = f"""
with s as (
  select {HOST_EXPR} as host, sum((doc_id % 13) + 1)::BIGINT as score
  from documents group by 1
),
t as (select sum(score)::BIGINT as total_score from s),
j as (
  select host, score, ((997 * score) // total_score)::BIGINT as base_q,
         ((997 * score) % total_score)::BIGINT as rem
  from s, t
),
lo as (select (997 - sum(base_q))::BIGINT as leftover from j),
r as (select *, row_number() over (order by rem desc, host asc) as rn from j)
select host, score, base_q,
       (base_q + case when rn <= leftover then 1 else 0 end)::BIGINT as quota
from r, lo
"""


def q_crawl_rate_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event-rate rollup (operators/stats.rate_timeseries):
    one map-side-combined groupBy on (hour bucket, type); decimal-exact
    value sums per the float-parity recipe."""
    from ..operators.stats import rate_timeseries

    return rate_timeseries(_t(spark, sf_dir, "events"), bucket_s=3600)


SQL_CRAWL_RATE_TIMESERIES = """
select epoch_ms(ts) // 3600000 as bucket, event_type,
       count(*)::BIGINT as n_events,
       round(sum(value::DECIMAL(18,4))::DOUBLE, 4) as sum_value
from events
group by 1, 2
"""


def q_crawl_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host tail-latency dashboard — exact discrete p50/p95/max over
    the fetch log (operators/scheduler.latency_quantiles); the signal
    behind politeness alarms that the mean-keyed adaptive_delay smooths
    over. Same fetch-log synthesis as crawl_adaptive_delay."""
    from ..operators.scheduler import latency_quantiles

    log = _t(spark, sf_dir, "documents").select(
        F.expr(HOST_EXPR).alias("host"),
        (F.lit(50) + (F.col("doc_id") * 97) % 900).cast("long").alias("latency_ms"),
    )
    return latency_quantiles(log)


def _sql_crawl_latency_quantiles() -> str:
    from ..operators.scheduler import latency_quantiles_sql

    return latency_quantiles_sql(
        f"select {HOST_EXPR} as host,"
        " (50 + (doc_id * 97) % 900)::BIGINT as latency_ms from documents"
    )


def q_crawl_host_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-skew dashboard row (operators/scheduler.host_skew_gini) —
    Gini coefficient of per-host pending load over the same deliberately
    Zipf-skewed host synthesis as crawl_hostload_binpack, so the metric
    reads well away from 0."""
    from ..operators.scheduler import host_skew_gini

    frontier = _t(spark, sf_dir, "documents").select(
        F.expr(_BINPACK_HOST_EXPR).alias("host")
    )
    return host_skew_gini(frontier)


def _sql_crawl_host_skew_gini() -> str:
    from ..operators.scheduler import host_skew_gini_sql

    return host_skew_gini_sql(
        f"select {_BINPACK_HOST_EXPR} as host from documents"
    )


def q_crawl_retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry scheduling (operators/scheduler.retry_backoff): per-URL
    consecutive-failure state with truncated binary exponential backoff,
    reset on success. Attempt-log synthesis: 1..(doc_id % 6 + 1) attempts
    per URL, failures on (doc_id*5 + attempt) % 7 < 3 — runs of up to 3
    consecutive failures, so all three statuses (ok / retry / give_up at
    max_retries=2) appear."""
    from ..operators.scheduler import retry_backoff

    attempts = (
        _t(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
            F.explode(F.sequence(F.lit(1), F.col("doc_id") % 6 + 1)).alias(
                "attempt_round"
            ),
            F.col("doc_id"),
        )
        .select(
            "url",
            F.col("attempt_round").cast("long").alias("attempt_round"),
            ((F.col("doc_id") * 5 + F.col("attempt_round")) % 7 >= 3).alias("ok"),
        )
    )
    return retry_backoff(attempts, max_retries=2)


def _sql_crawl_retry_backoff() -> str:
    from ..operators.scheduler import retry_backoff_sql

    return retry_backoff_sql(
        """
  select 'u' || cast(doc_id as varchar(30)) as url,
         unnest(range(1, doc_id % 6 + 2))::BIGINT as attempt_round,
         ((doc_id * 5 + unnest(range(1, doc_id % 6 + 2))) % 7 >= 3) as ok
  from documents
""",
        max_retries=2,
    )


#: subdomained-host synthesis shared verbatim by both engines: 3 subdomain
#: flavors (none on doc_id % 5 == 0), 7 base sites, 4 TLDs of which two
#: ('co.uk', 'github.io') are multi-label public suffixes
_DOMAIN_HOST_EXPR = """(case when doc_id % 5 = 0 then ''
  else (case doc_id % 3 when 0 then 'www.' when 1 then 'blog.'
        else 'shop.' end) end)
 || 'site' || cast(doc_id % 7 as varchar(10)) || '.'
 || (case doc_id % 4 when 0 then 'com' when 1 then 'co.uk'
     when 2 then 'org' else 'github.io' end)"""


def q_domain_budget_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) budget rollup
    (functions/urls.registrable_domain_col): per-host politeness is not
    enough when one owner controls thousands of subdomains — budgets and
    quotas apply at the registrable domain, and 'a.blogspot.co.uk' must
    group under 'blogspot.co.uk', not 'co.uk'. Simplified PSL subset
    documented at the helper. Scale shape: two map-side-combined groupBys
    (host, then domain), the eTLD+1 grammar pure codegen'd expressions in
    between — no join, no window."""
    from ..functions.urls import registrable_domain_col

    hosts = _t(spark, sf_dir, "documents").select(
        F.expr(_DOMAIN_HOST_EXPR).alias("host")
    )
    per_host = hosts.groupBy("host").agg(F.count("*").alias("pending"))
    d = per_host.withColumn("domain", registrable_domain_col(F.col("host")))
    return d.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.sum("pending").cast("long").alias("n_urls"),
    )


def _sql_domain_budget_rollup() -> str:
    from ..functions.urls import registrable_domain_sql

    return f"""
with f as (select {_DOMAIN_HOST_EXPR} as host from documents),
per_host as (select host, count(*)::BIGINT as pending from f group by host),
d as (select {registrable_domain_sql('host')} as domain, pending
      from per_host)
select domain, count(*)::BIGINT as n_hosts, sum(pending)::BIGINT as n_urls
from d group by domain
"""


_PRIO_FRONTIER_CTE = (
    "select doc_id, (doc_id * 13) % 97 as priority from documents"
)
_PRIO_BUDGET = 300


def q_crawl_priority_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-B frontier pop without a total sort
    (operators/scheduler.priority_admit): histogram threshold + boundary
    class tie-break — the scale shape for popping a 10^10-row priority
    queue; complements crawl_politeness_admit's PER-HOST window. Priority
    domain 0..96, budget 300, so the boundary class is partially admitted
    at every SF (~5 rows/class at sf0.001, ~52 at sf0.01)."""
    from ..operators.scheduler import priority_admit

    frontier = _t(spark, sf_dir, "documents").select(
        "doc_id", ((F.col("doc_id") * 13) % 97).alias("priority")
    )
    return priority_admit(
        frontier, budget=_PRIO_BUDGET, priority_col="priority", id_col="doc_id"
    )


def _sql_crawl_priority_admit() -> str:
    from ..operators.scheduler import priority_admit_sql

    return priority_admit_sql(
        _PRIO_FRONTIER_CTE, _PRIO_BUDGET, priority_col="priority", id_col="doc_id"
    )


def q_crawl_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash host->fetcher-shard map, before/after growing the
    fleet 8 -> 9 (operators/scheduler.consistent_hash_assign). Politeness
    pins a host to one fetcher; the ring guarantees a reshard moves only
    ~1/9 of hosts where hash-mod would move ~8/9. Hosts reuse the
    subdomained _DOMAIN_HOST_EXPR synthesis."""
    from ..operators.scheduler import consistent_hash_assign

    hosts = _t(spark, sf_dir, "documents").select(
        F.expr(_DOMAIN_HOST_EXPR).alias("host")
    )
    return consistent_hash_assign(hosts, n_shards=8, n_shards_after=9)


def _sql_crawl_shard_assign() -> str:
    from ..operators.scheduler import consistent_hash_sql

    return consistent_hash_sql(
        f"select {_DOMAIN_HOST_EXPR} as host from documents",
        n_shards=8,
        n_shards_after=9,
    )



_PACE_REQS_CTE = (
    "select 'h' || cast(doc_id % 7 as varchar(10)) as host,"
    " doc_id % 5 as rnd, count(*)::BIGINT as requested"
    " from documents group by 1, 2"
)
_PACE_CAPACITY, _PACE_REFILL = 20, 10


def q_crawl_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host token-bucket pacing (operators/scheduler.
    token_bucket_pacing) — the running-clamp recurrence evaluated in ONE
    vectorized applyInPandas over the pre-aggregated (host, round)
    request table; oracle = the identical recurrence as a recursive CTE.
    Capacity 20 / refill 10 against ~14 req/round at sf0.001 and ~143 at
    sf0.01, so admissions, denials and partial refills all appear at
    both SFs. Rounds are dense per host by construction (mod-7 x mod-5
    over a contiguous doc_id range)."""
    from ..operators.scheduler import token_bucket_pacing

    docs = _t(spark, sf_dir, "documents")
    reqs = docs.groupBy(
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        (F.col("doc_id") % 5).alias("rnd"),
    ).agg(F.count("*").alias("requested"))
    return token_bucket_pacing(
        reqs, capacity=_PACE_CAPACITY, refill=_PACE_REFILL
    )


def _sql_crawl_token_bucket() -> str:
    from ..operators.scheduler import token_bucket_pacing_sql

    return token_bucket_pacing_sql(
        _PACE_REQS_CTE, capacity=_PACE_CAPACITY, refill=_PACE_REFILL
    )


_SCHED_FRONTIER_CTE = (
    "select 'u' || cast(doc_id as varchar(30)) as url,"
    " 'h' || cast(doc_id % 7 as varchar(10)) as host,"
    " ((doc_id % 7) + 1) * 100 as delay_ms from documents"
)


def q_crawl_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-time assignment (operators/scheduler.politeness_schedule):
    the admitted batch becomes explicit per-host timestamps — rank *
    crawl_delay — that a fetcher fleet executes without coordination;
    the timestamp twin of crawl_politeness_admit's top-k."""
    from ..operators.scheduler import politeness_schedule

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        (((F.col("doc_id") % 7) + 1) * 100).alias("delay_ms"),
    )
    return politeness_schedule(frontier)


def _sql_crawl_politeness_schedule() -> str:
    from ..operators.scheduler import politeness_schedule_sql

    return politeness_schedule_sql(_SCHED_FRONTIER_CTE)


def q_crawl_subnet_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-/24-subnet politeness budget (operators/scheduler.
    subnet_budget): shared-hosting safety — hosts behind one subnet split
    a 100-fetch cap proportionally to pending load. Hosts reuse the
    skewed binpack synthesis so subnets aggregate uneven loads."""
    from ..operators.scheduler import subnet_budget

    frontier = _t(spark, sf_dir, "documents").select(
        F.expr(_BINPACK_HOST_EXPR).alias("host")
    )
    return subnet_budget(frontier, subnet_cap=100)


def _sql_crawl_subnet_budget() -> str:
    from ..operators.scheduler import subnet_budget_sql

    return subnet_budget_sql(
        f"select {_BINPACK_HOST_EXPR} as host from documents", subnet_cap=100
    )


#: mirror-corpus synthesis shared verbatim: h8 fully mirrors h0 (the +2
#: shift maps its residues onto h0's), half of h9's docs mirror h1's, the
#: other seven hosts have pairwise-disjoint content
_MIRROR_CONTENT_EXPR = """case when doc_id % 10 = 8 then (doc_id + 2) % 40
  when doc_id % 20 = 9 then (doc_id + 2) % 40
  else doc_id % 40 end"""
_MIRROR_PAGES_CTE = f"""select 'h' || cast(doc_id % 10 as varchar(10)) as host,
  md5('c' || cast({_MIRROR_CONTENT_EXPR} as varchar(10))) as digest
from documents"""


def q_crawl_mirror_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level mirror detection (operators/dedup.mirror_detect): digest
    equi self-join over the hot-digest-capped (host, digest) set table ->
    ordered host pairs with shared count + Jaccard. Expected on the
    synthesis: (h0, h8) at jaccard 1.0 (full mirror) and (h1, h9) at
    0.333 (half of h9's content is h1's)."""
    from ..operators.dedup import mirror_detect

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 10).cast("string")).alias("host"),
        F.md5(
            F.concat(F.lit("c"), F.expr(_MIRROR_CONTENT_EXPR).cast("string"))
        ).alias("digest"),
    )
    return mirror_detect(pages, min_shared=2)


def _sql_crawl_mirror_detect() -> str:
    from ..operators.dedup import mirror_detect_sql

    return mirror_detect_sql(_MIRROR_PAGES_CTE, min_shared=2)



def q_frontier_seed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the crawl seed set (operators/rank.
    link_rank_personalized) — teleport mass lands only on seeds, so rank
    is weighted link proximity to them: the focused-crawl companion of
    graph_bfs_depth (same seeds node % 17 == 0, same irregular graph);
    pages reachable through MANY short paths outrank single-path pages
    at the same hop count. Decimal-exact sums keep every iteration
    bit-identical to the unrolled-CTE oracle."""
    from ..operators.rank import link_rank_personalized

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 100).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 83).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    nodes = docs.select((F.col("doc_id") % 100).alias("node")).distinct()
    seeds = nodes.filter(F.col("node") % 17 == 0)
    return link_rank_personalized(edges, nodes, seeds, n_iter=3)


def _sql_frontier_seed_rank() -> str:
    from ..operators.rank import link_rank_personalized_sql

    return link_rank_personalized_sql(
        _BFS_EDGES_CTE, _RANK_NODES_CTE, _BFS_SEEDS_CTE, n_iter=3
    )


def q_crawl_frontier_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier staleness profile — discovered-but-unfetched URLs bucketed
    by age relative to the newest event (1-hour buckets, capped at 48):
    the recrawl/backlog dashboard slice that tells a scheduler whether
    the frontier is draining or rotting. One global max (single-row
    crossJoin, sanctioned) + one map-side-partial groupBy; integer hour
    arithmetic on epoch millis."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.groupBy().agg(
        F.max(F.unix_millis(F.col("ts").cast("timestamp"))).alias("mx")
    )
    aged = ev.crossJoin(mx).select(
        F.least(
            F.lit(48).cast("long"),
            ((F.col("mx") - F.unix_millis(F.col("ts").cast("timestamp")))
             / F.lit(3600000)).cast("long"),
        ).alias("age_h")
    )
    agg = aged.groupBy("age_h").agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
    total = Window.partitionBy()
    return agg.select(
        "age_h",
        "n_urls",
        F.expr("n_urls * 1000000").cast("long").alias("__num"),
        F.sum("n_urls").over(total).cast("long").alias("__tot"),
    ).select(
        "age_h",
        "n_urls",
        F.expr("__num div __tot").cast("long").alias("share_ppm"),
    )


SQL_CRAWL_FRONTIER_AGE = """
with mx as (select max(epoch_ms(ts)) as mx from events),
aged as (
  select least(48, (mx - epoch_ms(ts)) // 3600000)::BIGINT as age_h
  from events cross join mx
),
agg as (select age_h, count(*)::BIGINT as n_urls from aged group by 1)
select age_h, n_urls,
       ((n_urls * 1000000) // sum(n_urls) over ())::BIGINT as share_ppm
from agg
"""


_CB_OUTCOMES_CTE = """
  select 'h' || cast(doc_id % 11 as varchar(10)) as host,
         doc_id % 7 as rnd,
         count(*)::BIGINT as n_req,
         sum(case when ((doc_id % 11) + (doc_id % 7)) % 7 < 3
                  then 1 else 0 end)::BIGINT as n_err
  from documents group by 1, 2
"""


def q_crawl_circuit_breaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host fetch circuit breaker (operators/scheduler.
    circuit_breaker): closed -> open -> half_open over (host, round)
    outcome rollups — 3 consecutive majority-failure rounds trip a
    2-round cooldown, then a single probe. The failure-isolation sibling
    of crawl_token_bucket (same applyInPandas recurrence shape, same
    recursive-CTE oracle discipline). Fixture: (h + r) % 7 < 3 makes
    every host fail exactly 3 consecutive rounds of its 7, so trip,
    cooldown, probe and recovery all appear at every SF."""
    from ..operators.scheduler import circuit_breaker

    docs = _t(spark, sf_dir, "documents")
    h = F.concat(F.lit("h"), (F.col("doc_id") % 11).cast("string")).alias("host")
    r = (F.col("doc_id") % 7).alias("rnd")
    fail = ((F.col("doc_id") % 11) + (F.col("doc_id") % 7)) % 7 < 3
    outcomes = docs.groupBy(h, r).agg(
        F.count(F.lit(1)).cast("long").alias("n_req"),
        F.sum(fail.cast("long")).cast("long").alias("n_err"),
    )
    return circuit_breaker(outcomes)


def _sql_crawl_circuit_breaker() -> str:
    from ..operators.scheduler import circuit_breaker_sql

    return circuit_breaker_sql(_CB_OUTCOMES_CTE)


_FAIR_PER_CTE = f"""select {_BINPACK_HOST_EXPR} as host,
  doc_id % 5 as rnd, count(*)::BIGINT as n_fetch
from documents group by 1, 2"""


def q_crawl_fairness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round Jain fairness of the fetch allocation (operators/
    scheduler.jain_fairness) over the skewed binpack host synthesis
    (host cardinality varies with doc_id % 37, so rounds are genuinely
    unfair and the index separates them). The politeness-skew alarm
    read next to crawl_host_skew_gini each round."""
    from ..operators.scheduler import jain_fairness

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy(
        F.expr(_BINPACK_HOST_EXPR).alias("host"),
        (F.col("doc_id") % 5).alias("rnd"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_fetch"))
    return jain_fairness(per)


def _sql_crawl_fairness_index() -> str:
    from ..operators.scheduler import jain_fairness_sql

    return jain_fairness_sql(_FAIR_PER_CTE)


def q_crawl_dns_prefetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DNS prefetch planning — per round: active hosts, FIRST-SEEN hosts
    (the resolver batch to prefetch before the round starts), cache hits,
    URL volume. A 1000-executor fetch round that resolves lazily stalls
    its politeness slots on DNS latency; this plan sizes the resolver
    batch ahead of time. Two map-side groupBys + one shuffle join on
    host — no window, no collect."""
    docs = _t(spark, sf_dir, "documents")
    hr = docs.groupBy(
        F.expr(_BINPACK_HOST_EXPR).alias("host"),
        (F.col("doc_id") % 7).alias("rnd"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
    first = hr.groupBy("host").agg(F.min("rnd").alias("first_rnd"))
    per = hr.join(first, "host")
    agg = per.groupBy("rnd").agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum(F.when(F.col("rnd") == F.col("first_rnd"), 1).otherwise(0))
        .cast("long")
        .alias("n_new_hosts"),
        F.sum("n_urls").cast("long").alias("n_urls"),
    )
    return agg.select(
        F.col("rnd").cast("long").alias("rnd"),
        "n_hosts",
        "n_new_hosts",
        (F.col("n_hosts") - F.col("n_new_hosts")).alias("n_cached_hosts"),
        "n_urls",
    )


SQL_CRAWL_DNS_PREFETCH_PLAN = f"""
with hr as (
  select {_BINPACK_HOST_EXPR} as host, doc_id % 7 as rnd,
         count(*)::BIGINT as n_urls
  from documents group by 1, 2
),
first as (select host, min(rnd) as first_rnd from hr group by host),
agg as (
  select rnd, count(*)::BIGINT as n_hosts,
         sum(case when rnd = first_rnd then 1 else 0 end)::BIGINT as n_new_hosts,
         sum(n_urls)::BIGINT as n_urls
  from hr join first using (host) group by rnd
)
select rnd::BIGINT as rnd, n_hosts, n_new_hosts,
       (n_hosts - n_new_hosts)::BIGINT as n_cached_hosts, n_urls
from agg
"""


def q_crawl_keepalive_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP keep-alive planning: given the deterministic global fetch
    order (the scalable seq stamp, O2), count per host how many TCP
    connections the round needs when a connection idles out after 8
    non-host fetches — consecutive same-host seqs reuse, larger gaps
    reopen. The fetch-cost model that motivates host-clustered ordering:
    reuse_ppm is the fraction of fetches that skip a handshake. One
    window per host over the stamped batch; integer-only output."""
    u = _urlset(spark, sf_dir).select("url", "host", "seed_index", "depth")
    seq = assign_seq_scalable(u, ["seed_index", "depth", "url"], "fetch_seq")
    w = Window.partitionBy("host").orderBy("fetch_seq")
    gap = F.col("fetch_seq") - F.lag("fetch_seq").over(w)
    flags = seq.withColumn(
        "new_conn", F.when(gap.isNull() | (gap > 8), 1).otherwise(0)
    )
    agg = flags.groupBy("host").agg(
        F.count("*").alias("n_fetches"),
        F.sum("new_conn").cast("long").alias("n_connections"),
    )
    return agg.select(
        "host",
        "n_fetches",
        "n_connections",
        F.expr(
            "cast(((n_fetches - n_connections) * cast(1000000 as bigint))"
            " div n_fetches as bigint)"
        ).alias("reuse_ppm"),
    )


SQL_CRAWL_KEEPALIVE_PLAN = f"""
with u as (
  select {CANON_URL_EXPR} as url, {HOST_EXPR} as host,
         doc_id % 7 as seed_index, doc_id % 3 as depth
  from documents
),
s as (
  select host,
         row_number() over (order by seed_index, depth, url) - 1 as fetch_seq
  from u
),
g as (
  select host,
         fetch_seq - lag(fetch_seq) over (partition by host order by fetch_seq)
           as gap
  from s
),
a as (
  select host, count(*)::BIGINT as n_fetches,
         sum(case when gap is null or gap > 8 then 1 else 0 end)::BIGINT
           as n_connections
  from g group by host
)
select host, n_fetches, n_connections,
       (((n_fetches - n_connections) * 1000000) // n_fetches)::BIGINT
         as reuse_ppm
from a
"""


#: anomaly input derivation — shared verbatim; every 97th doc is planted
#: 50x oversized (a trap/truncation stand-in) so the 2-sigma gate fires
_ANOM_HOST_EXPR = "'h' || cast(doc_id % 7 as varchar(10))"
_ANOM_LEN_EXPR = (
    "case when doc_id % 97 = 0 then n_chars * 50 else n_chars end"
)


def q_crawl_content_length_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-host 2-sigma content-length outliers
    (operators/anomaly.length_anomaly): truncated fetches, soft-404s and
    trap pages sit in the size tail of their host. Exact DECIMAL moments
    + a shared-verbatim double predicate; no broadcast of the
    corpus-derived per-host stats table."""
    from ..operators.anomaly import length_anomaly

    docs = _t(spark, sf_dir, "documents").select(
        F.expr(_ANOM_HOST_EXPR).alias("host"),
        "doc_id",
        F.expr(_ANOM_LEN_EXPR).alias("length"),
    )
    return length_anomaly(docs)


def _sql_crawl_content_length_anomaly() -> str:
    from ..operators.anomaly import length_anomaly_sql

    return length_anomaly_sql(
        f"select {_ANOM_HOST_EXPR} as host, doc_id, {_ANOM_LEN_EXPR} as length"
        " from documents"
    )


#: sitemap-coverage derivation — shared verbatim: per-host sitemap set,
#: fetched set and lastmod/fetch-day staleness flags in ONE scan (no
#: join at all — the flags collapse map-side into one groupBy)
_SMCOV_CTE = """select source || '.example' as host,
  cast(doc_id % 3 <> 1 as int) as in_sm,
  cast(doc_id % 2 = 0 as int) as in_f,
  cast(doc_id % 2 = 0 and doc_id % 3 <> 1
       and (doc_id % 30) > (doc_id % 17) as int) as is_stale
from documents"""


def q_crawl_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host sitemap-vs-fetch coverage audit: how much of the host's
    declared sitemap the crawl actually captured (coverage_ppm), how
    much it fetched OFF-sitemap (orphan_ppm — discovery the host didn't
    declare), and how many captured pages are stale vs their sitemap
    lastmod. Shape: one scan, one groupBy on host — flag sums combine
    map-side; no joins, integer-only output."""
    flags = _t(spark, sf_dir, "documents").selectExpr(
        "source || '.example' as host",
        "cast(doc_id % 3 <> 1 as int) as in_sm",
        "cast(doc_id % 2 = 0 as int) as in_f",
        "cast(doc_id % 2 = 0 and doc_id % 3 <> 1"
        " and (doc_id % 30) > (doc_id % 17) as int) as is_stale",
    )
    agg = flags.groupBy("host").agg(
        F.sum("in_sm").cast("long").alias("n_sitemap"),
        F.sum("in_f").cast("long").alias("n_fetched"),
        F.sum(F.col("in_sm") * F.col("in_f")).cast("long").alias("n_both"),
        F.sum(F.col("in_f") * (1 - F.col("in_sm")))
        .cast("long")
        .alias("n_orphan"),
        F.sum("is_stale").cast("long").alias("n_stale"),
    )
    cov = F.when(
        F.col("n_sitemap") > 0,
        F.expr("(n_both * cast(1000000 as bigint)) div n_sitemap"),
    ).otherwise(F.lit(0))
    orph = F.when(
        F.col("n_fetched") > 0,
        F.expr("(n_orphan * cast(1000000 as bigint)) div n_fetched"),
    ).otherwise(F.lit(0))
    return agg.select(
        "host",
        "n_sitemap",
        "n_fetched",
        "n_both",
        "n_orphan",
        "n_stale",
        cov.cast("long").alias("coverage_ppm"),
        orph.cast("long").alias("orphan_ppm"),
    )


SQL_CRAWL_SITEMAP_COVERAGE = f"""
with flags as ({_SMCOV_CTE}),
agg as (
  select host,
         sum(in_sm)::BIGINT as n_sitemap,
         sum(in_f)::BIGINT as n_fetched,
         sum(in_sm * in_f)::BIGINT as n_both,
         sum(in_f * (1 - in_sm))::BIGINT as n_orphan,
         sum(is_stale)::BIGINT as n_stale
  from flags group by host
)
select host, n_sitemap, n_fetched, n_both, n_orphan, n_stale,
       (case when n_sitemap > 0
             then (n_both * 1000000) // n_sitemap else 0 end)::BIGINT
         as coverage_ppm,
       (case when n_fetched > 0
             then (n_orphan * 1000000) // n_fetched else 0 end)::BIGINT
         as orphan_ppm
from agg
"""


def q_crawl_drain_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host frontier drain estimate: with politeness one-at-a-time
    fetching, a host's backlog drains in n_urls * crawl_delay ms; hosts
    whose drain exceeds the round budget (60 s) are the round's
    stragglers and need either more rounds (backlog_rounds) or a
    crawl-delay renegotiation. One groupBy on host; the delay derives
    from the md5 host hash (the one cross-engine hash); integer-only."""
    from ..operators.textstats import hash32_col

    hosts = (
        _t(spark, sf_dir, "documents")
        .selectExpr("source || '.example' as host")
        .groupBy("host")
        .agg(F.count("*").cast("long").alias("n_urls"))
    )
    delay = (100 * (1 + hash32_col(F.col("host")) % 10)).cast("long")
    d = hosts.withColumn("delay_ms", delay).withColumn(
        "drain_ms", F.expr("n_urls * delay_ms")
    )
    return d.select(
        "host",
        "n_urls",
        "delay_ms",
        "drain_ms",
        F.expr("cast((drain_ms + 59999) div 60000 as bigint)").alias(
            "backlog_rounds"
        ),
        (F.col("drain_ms") > 60000).alias("is_bottleneck"),
    )


SQL_CRAWL_DRAIN_ESTIMATE = """
with hosts as (
  select source || '.example' as host, count(*)::BIGINT as n_urls
  from documents group by 1
),
d as (
  select host, n_urls,
         (100 * (1 + ('0x' || substr(md5(host), 1, 8))::BIGINT % 10))::BIGINT
           as delay_ms
  from hosts
)
select host, n_urls, delay_ms,
       (n_urls * delay_ms)::BIGINT as drain_ms,
       ((n_urls * delay_ms + 59999) // 60000)::BIGINT as backlog_rounds,
       (n_urls * delay_ms) > 60000 as is_bottleneck
from d
"""
#: Cho/Garcia-Molina-style interval ladder over the observed change rate
_RECRAWL_BUCKET = (
    "case when change_ppm >= 250000 then 6"
    " when change_ppm >= 100000 then 24"
    " when change_ppm > 0 then 168 else 720 end"
)


def q_crawl_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host content change-rate estimate -> recrawl-interval plan:
    the freshness side of the recrawl scheduler (crawl_recrawl_due decides
    WHO is due; this decides each host's REVISIT CADENCE from observed
    snapshot-over-snapshot change fractions, the Cho/Garcia-Molina
    frequency-allocation input). Shape: one scan, a bounded
    _CHANGE_SNAPS-way explode (never corpus x corpus), one groupBy on
    host with map-side partials; integer/ppm output plus a CASE interval
    ladder — no floats anywhere."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(HOST_EXPR).alias("host")
    )
    obs = docs.withColumn(
        "snap", F.explode(F.sequence(F.lit(1), F.lit(_CHANGE_SNAPS)))
    ).withColumn("changed", F.expr(_CHANGE_EXPR))
    agg = obs.groupBy("host").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum("changed").cast("long").alias("n_changed"),
    )
    return agg.selectExpr(
        "host",
        "n_obs",
        "n_changed",
        "cast((n_changed * cast(1000000 as bigint)) div n_obs as bigint)"
        " as change_ppm",
    ).selectExpr(
        "host",
        "n_obs",
        "n_changed",
        "change_ppm",
        f"cast({_RECRAWL_BUCKET} as bigint) as recrawl_hours",
    )


SQL_CRAWL_CHANGE_RATE = f"""
with obs as (
  select {HOST_EXPR} as host, doc_id,
         unnest(generate_series(1, {_CHANGE_SNAPS})) as snap
  from documents
),
c as (select host, {_CHANGE_EXPR} as changed from obs),
agg as (
  select host, count(*)::BIGINT as n_obs, sum(changed)::BIGINT as n_changed
  from c group by host
),
r as (
  select host, n_obs, n_changed,
         ((n_changed * 1000000) // n_obs)::BIGINT as change_ppm
  from agg
)
select host, n_obs, n_changed, change_ppm,
       ({_RECRAWL_BUCKET})::BIGINT as recrawl_hours
from r
"""


#: frontier aging: discovered_round = doc_id % 12, current round 12,
#: AGE_BOOST priority points per round waited — starvation-free admission
_AGE_BOOST = 8
_AGE_ROUNDS = 12


def q_crawl_aging_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Starvation-free frontier admission: effective priority = raw
    priority + AGE_BOOST per round spent waiting, so a low-priority URL
    discovered early eventually outranks fresh high-priority ones (the
    classic aging fix for priority-queue starvation — without it a busy
    frontier never pops its tail). Output per discovered-round: how many
    URLs the aged policy admits and how many of those are RESCUES (rows
    the raw-priority policy would have left starving). Shape: BOTH
    admissions run through scheduler.priority_admit's histogram-threshold
    pop (no global sort — O(score-domain) histogram + boundary-class
    tie-break); the frontier projection is persisted ONCE and feeds the
    four scans the two admissions make; the rescue check is an equi-join
    of two <=budget-row admitted sets."""
    from ..caching import track_persist
    from ..operators.scheduler import priority_admit

    frontier = track_persist(
        _t(spark, sf_dir, "documents").select(
            "doc_id",
            ((F.col("doc_id") * 13) % 97).alias("priority"),
            (F.col("doc_id") % _AGE_ROUNDS).cast("long").alias("disc_round"),
        )
    )
    aged = frontier.withColumn(
        "eff",
        F.col("priority")
        + F.lit(_AGE_BOOST) * (F.lit(_AGE_ROUNDS) - F.col("disc_round")),
    )
    admit_aged = priority_admit(
        aged, budget=_PRIO_BUDGET, priority_col="eff", id_col="doc_id"
    )
    admit_raw = priority_admit(
        frontier, budget=_PRIO_BUDGET, priority_col="priority", id_col="doc_id"
    ).select("doc_id", F.lit(1).alias("__raw"))
    return (
        admit_aged.join(admit_raw, "doc_id", "left")
        .groupBy("disc_round")
        .agg(
            F.count("*").cast("long").alias("n_admitted"),
            F.sum(F.when(F.col("__raw").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_rescued"),
        )
    )


SQL_CRAWL_AGING_ADMIT = f"""
with f as (
  select doc_id, (doc_id * 13) % 97 as priority,
         (doc_id % {_AGE_ROUNDS})::BIGINT as disc_round
  from documents
),
aged as (
  select *, priority + {_AGE_BOOST} * ({_AGE_ROUNDS} - disc_round) as eff
  from f
),
ra as (
  select *, row_number() over (order by eff desc, doc_id asc) as rn from aged
),
admit_aged as (select * from ra where rn <= {_PRIO_BUDGET}),
rr as (
  select doc_id, row_number() over (
    order by priority desc, doc_id asc
  ) as rn from f
),
admit_raw as (select doc_id from rr where rn <= {_PRIO_BUDGET})
select disc_round, count(*)::BIGINT as n_admitted,
       sum(case when r.doc_id is null then 1 else 0 end)::BIGINT as n_rescued
from admit_aged a left join admit_raw r on a.doc_id = r.doc_id
group by disc_round
"""


def q_crawl_host_makespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness makespan forecast per host: with one connection per host
    and a fixed crawl-delay, draining a host's queue takes
    n_urls * delay — the LOWER BOUND on round wall-clock is the max over
    hosts, and that bottleneck host is what the scheduler should shed
    load from (or negotiate a lower delay for). Complements
    crawl_hostload_binpack (which packs hosts onto fetchers) with the
    per-host serial floor no packing can beat. Shape: one groupBy over
    the frontier, delay derived from the bounded host id, the bottleneck
    flag via a window over the <=7-row host rollup. Integer ms."""
    docs = _t(spark, sf_dir, "documents")
    f = docs.selectExpr(
        "doc_id % 7 as host_id",
        "250 * (1 + doc_id % 7) as delay_ms",
    )
    per_host = f.groupBy("host_id", "delay_ms").agg(
        F.count("*").cast("long").alias("n_urls")
    )
    w = Window.partitionBy()
    return (
        per_host.selectExpr(
            "cast(host_id as bigint) as host_id",
            "cast(delay_ms as bigint) as delay_ms",
            "n_urls",
            "cast(n_urls * delay_ms as bigint) as makespan_ms",
        )
        .withColumn(
            "is_bottleneck",
            (F.col("makespan_ms") == F.max("makespan_ms").over(w)).cast("long"),
        )
    )


SQL_CRAWL_HOST_MAKESPAN = """
with f as (
  select doc_id % 7 as host_id, 250 * (1 + doc_id % 7) as delay_ms
  from documents
),
per_host as (
  select host_id, delay_ms, count(*)::BIGINT as n_urls
  from f group by host_id, delay_ms
)
select host_id::BIGINT as host_id, delay_ms::BIGINT as delay_ms, n_urls,
       (n_urls * delay_ms)::BIGINT as makespan_ms,
       (case when n_urls * delay_ms = max(n_urls * delay_ms) over ()
             then 1 else 0 end)::BIGINT as is_bottleneck
from per_host
"""


_FRONTIER_PARTS = 32


def q_crawl_frontier_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-hash frontier partition audit — the north-star layout made
    inspectable: the frontier partitions by hash(host) so one host's
    queue lives in one task (politeness needs per-host serialization),
    and THIS entry reports what that layout actually does to load: per
    partition, host count, URL count and load share. A partition holding
    2x the mean is the signal to salt its hot hosts
    (crawl_politeness_admit_salted) or rebalance the ring
    (crawl_shard_assign). Shape: one md5-hash projection (the
    cross-engine 32-bit kit), ONE groupBy, share via a window over the
    <=_FRONTIER_PARTS-row rollup. Integer ppm."""
    from ..operators.textstats import hash32_col

    hosts = _t(spark, sf_dir, "documents").select(
        F.expr(_DOMAIN_HOST_EXPR).alias("host")
    )
    parts = hosts.select(
        "host",
        F.pmod(hash32_col(F.col("host")), F.lit(_FRONTIER_PARTS))
        .cast("long")
        .alias("partition_id"),
    )
    agg = parts.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )
    wt = Window.partitionBy()
    return agg.withColumn("__tot", F.sum("n_urls").over(wt)).selectExpr(
        "partition_id",
        "n_hosts",
        "n_urls",
        "cast((n_urls * cast(1000000 as bigint)) div __tot as bigint)"
        " as share_ppm",
    )


def _sql_crawl_frontier_partition_plan() -> str:
    return f"""
with hosts as (select {_DOMAIN_HOST_EXPR} as host from documents),
parts as (
  select host, ({_H32.format(x='host')} % {_FRONTIER_PARTS})::BIGINT
           as partition_id
  from hosts
),
agg as (
  select partition_id, count(distinct host)::BIGINT as n_hosts,
         count(*)::BIGINT as n_urls
  from parts group by partition_id
)
select partition_id, n_hosts, n_urls,
       ((n_urls * 1000000) // (sum(n_urls) over ()))::BIGINT as share_ppm
from agg
"""


def q_crawl_politeness_violation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Politeness violation audit under a BROKEN sharding: two fetcher
    shards schedule the same host independently (url parity split — the
    exact mistake host->single-fetcher pinning exists to prevent, see
    crawl_shard_assign), the merged per-host timeline is checked for
    consecutive fetches closer than the host's crawl-delay. The output
    quantifies WHY the ring pins hosts: every host shows ~n/2 violations
    with min gap 0 (both shards fire rank-k at the same offset). The
    audit machinery itself is the reusable part — run over a real merged
    schedule it must report zeros. Shape: rank windows per (host, shard),
    one lag window per host, bounded per-host rollup."""
    docs = _t(spark, sf_dir, "documents")
    f = docs.selectExpr(
        "'u' || cast(doc_id as string) as url",
        "'h' || cast(doc_id % 7 as string) as host",
        "((doc_id % 7) + 1) * 100 as delay_ms",
        "doc_id % 2 as shard",
    )
    ws = Window.partitionBy("host", "shard").orderBy(F.asc("url"))
    sched = f.withColumn(
        "scheduled_ms",
        ((F.row_number().over(ws) - 1).cast("long") * F.col("delay_ms")),
    )
    wm = Window.partitionBy("host").orderBy(F.asc("scheduled_ms"), F.asc("url"))
    merged = sched.withColumn(
        "gap", F.col("scheduled_ms") - F.lag("scheduled_ms").over(wm)
    )
    return merged.groupBy("host", "delay_ms").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.sum(
            F.when(F.col("gap").isNotNull() & (F.col("gap") < F.col("delay_ms")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_violations"),
        F.min("gap").cast("long").alias("min_gap_ms"),
    ).selectExpr("host", "cast(delay_ms as bigint) as delay_ms", "n_fetches",
                 "n_violations", "min_gap_ms")


SQL_CRAWL_POLITENESS_VIOLATION_AUDIT = """
with f as (
  select 'u' || cast(doc_id as varchar(30)) as url,
         'h' || cast(doc_id % 7 as varchar(10)) as host,
         ((doc_id % 7) + 1) * 100 as delay_ms,
         doc_id % 2 as shard
  from documents
),
sched as (
  select url, host, delay_ms,
         (row_number() over (partition by host, shard order by url asc) - 1)
           * delay_ms as scheduled_ms
  from f
),
merged as (
  select host, delay_ms, scheduled_ms,
         scheduled_ms - lag(scheduled_ms) over (
           partition by host order by scheduled_ms asc, url asc
         ) as gap
  from sched
)
select host, delay_ms::BIGINT as delay_ms, count(*)::BIGINT as n_fetches,
       sum(case when gap is not null and gap < delay_ms then 1 else 0
           end)::BIGINT as n_violations,
       min(gap)::BIGINT as min_gap_ms
from merged group by host, delay_ms
"""


#: slow-start ramp: cap 64 fetches/round, budget doubles per round since
#: the host was first seen; horizon = rounds 0..6
_WARMUP_CAP = 64
_WARMUP_HORIZON = 6


def q_crawl_warmup_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slow-start politeness ramp per newly-discovered host: the fetch
    budget doubles each round from 1 up to the cap (TCP-slow-start
    applied to crawling — a brand-new host gets probed gently before the
    crawler trusts it with full parallel load; pairs with
    crawl_circuit_breaker, which handles the failure direction). Shape:
    the per-host first-seen round comes from one groupBy; the schedule
    is a bounded explode (horizon rounds per host); budgets are
    shiftleft powers — pure integer codegen, no pow(). Output: one row
    per (host, round) with the round budget and the cumulative crawl
    capacity granted so far (closed form 2^(k+1) - 1, capped)."""
    docs = _t(spark, sf_dir, "documents")
    first = (
        docs.selectExpr(
            "'h' || cast(doc_id % 11 as string) as host",
            "doc_id % 3 as seen_round",
        )
        .groupBy("host")
        .agg(F.min("seen_round").alias("first_seen"))
    )
    sched = first.select(
        "host",
        "first_seen",
        F.explode(
            F.sequence(F.col("first_seen"), F.lit(_WARMUP_HORIZON))
        ).alias("round"),
    )
    return sched.selectExpr(
        "host",
        "cast(first_seen as bigint) as first_seen",
        "cast(round as bigint) as round",
        f"cast(least(cast({_WARMUP_CAP} as bigint),"
        " shiftleft(cast(1 as bigint), cast(round - first_seen as int)))"
        " as bigint) as budget",
    )


SQL_CRAWL_WARMUP_SCHEDULE = f"""
with f as (
  select 'h' || cast(doc_id % 11 as varchar(10)) as host,
         doc_id % 3 as seen_round
  from documents
),
first as (select host, min(seen_round) as first_seen from f group by host),
sched as (
  select host, first_seen,
         unnest(range(first_seen, {_WARMUP_HORIZON} + 1)) as round
  from first
)
select host, first_seen::BIGINT as first_seen, round::BIGINT as round,
       least({_WARMUP_CAP}::BIGINT,
             (1::BIGINT << (round - first_seen)))::BIGINT as budget
from sched
"""


#: discovery-channel synthesis: how each page entered the frontier
_CHANNEL_EXPR = (
    "case doc_id % 4 when 0 then 'seed' when 1 then 'sitemap'"
    " when 2 then 'outlink' else 'recrawl' end"
)


def q_crawl_discovery_channel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery-channel yield audit: for each way a page can enter the
    frontier (seed list / sitemap / outlink expansion / recrawl), how
    much content it contributes and how much of that content is
    DUPLICATE — the signal that reweights discovery budgets (outlink
    loops re-find mirrored pages; sitemaps tend to yield canonical
    ones). Shape: one md5 keeper groupBy (the dedup_exact plan), one
    equi-join back, one bounded per-channel rollup; integer ppm."""
    d = _t(spark, sf_dir, "documents").selectExpr(
        f"{_CHANNEL_EXPR} as channel",
        "doc_id",
        "n_chars",
        "md5(text) as h",
    )
    keep = d.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    j = d.join(keep, "h").withColumn(
        "is_dup", (F.col("doc_id") != F.col("keeper")).cast("long")
    )
    agg = j.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("is_dup").cast("long").alias("n_dup"),
        F.sum("n_chars").cast("long").alias("bytes_total"),
    )
    wt = Window.partitionBy()
    return agg.withColumn("__tot", F.sum("bytes_total").over(wt)).selectExpr(
        "channel",
        "n_pages",
        "n_dup",
        "cast((n_dup * cast(1000000 as bigint)) div n_pages as bigint)"
        " as dup_ppm",
        "bytes_total",
        "cast(bytes_total div n_pages as bigint) as mean_bytes",
        "cast((bytes_total * cast(1000000 as bigint)) div __tot as bigint)"
        " as byte_share_ppm",
    )


SQL_CRAWL_DISCOVERY_CHANNEL_AUDIT = f"""
with d as (
  select {_CHANNEL_EXPR} as channel, doc_id, n_chars, md5(text) as h
  from documents
),
keep as (select h, min(doc_id) as keeper from d group by h),
j as (
  select channel, n_chars,
         (case when doc_id <> keeper then 1 else 0 end)::BIGINT as is_dup
  from d join keep using (h)
),
agg as (
  select channel, count(*)::BIGINT as n_pages, sum(is_dup)::BIGINT as n_dup,
         sum(n_chars)::BIGINT as bytes_total
  from j group by channel
)
select channel, n_pages, n_dup,
       ((n_dup * 1000000) // n_pages)::BIGINT as dup_ppm,
       bytes_total,
       (bytes_total // n_pages)::BIGINT as mean_bytes,
       ((bytes_total * 1000000) // (sum(bytes_total) over ()))::BIGINT
         as byte_share_ppm
from agg
"""


def q_crawl_refetch_load_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state refetch load forecast: fold the per-host recrawl
    intervals (the crawl_change_rate ladder) into fetches-per-day
    pressure per interval tier — the capacity number that says what the
    freshness policy COSTS before it ships. refetch_per_day is exact in
    millifetches (n_urls * 24000 div hours); one bounded rollup over the
    change-rate output."""
    rates = q_crawl_change_rate(spark, sf_dir)
    return (
        rates.groupBy("recrawl_hours")
        .agg(
            F.count("*").cast("long").alias("n_hosts"),
            F.sum("n_obs").cast("long").alias("n_urls"),
        )
        .selectExpr(
            "cast(recrawl_hours as bigint) as recrawl_hours",
            "n_hosts",
            "n_urls",
            "cast((n_urls * cast(24000 as bigint)) div recrawl_hours"
            " as bigint) as refetch_millis_per_day",
        )
    )


def _sql_crawl_refetch_load_forecast() -> str:
    inner = SQL_CRAWL_CHANGE_RATE
    return f"""
with rates as ({inner})
select recrawl_hours::BIGINT as recrawl_hours,
       count(*)::BIGINT as n_hosts,
       sum(n_obs)::BIGINT as n_urls,
       ((sum(n_obs) * 24000) // recrawl_hours)::BIGINT
         as refetch_millis_per_day
from rates group by recrawl_hours
"""


#: planted per-URL age since last fetch, hours (shared verbatim)
_AGE_HOURS_EXPR = "cast(doc_id % 200 as bigint)"


def q_crawl_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-SLA compliance: join every URL's age-since-last-fetch
    against its host's change-rate-derived recrawl interval
    (crawl_change_rate's Cho/Garcia-Molina ladder) and report per-host
    staleness — the ops dashboard for "is the recrawl scheduler keeping
    up". Shape: the bounded change-rate rollup joins the URL table on
    host (plain shuffle join — host cardinality is unbounded at web
    scale, so no broadcast hint; AQE may still choose one when the
    rollup is tiny), then one groupBy host."""
    rates = q_crawl_change_rate(spark, sf_dir).select(
        "host", "recrawl_hours"
    )
    ages = _t(spark, sf_dir, "documents").selectExpr(
        f"{HOST_EXPR} as host",
        f"{_AGE_HOURS_EXPR} as age_hours",
    )
    j = ages.join(rates, "host")
    return j.groupBy("host", "recrawl_hours").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum(F.expr("case when age_hours > recrawl_hours then 1 else 0 end"))
        .cast("long")
        .alias("n_stale"),
    ).selectExpr(
        "host",
        "recrawl_hours",
        "n_urls",
        "n_stale",
        "cast((n_stale * cast(1000000 as bigint)) div n_urls as bigint)"
        " as stale_ppm",
    )


def _sql_crawl_freshness_sla() -> str:
    inner = SQL_CRAWL_CHANGE_RATE
    return f"""
with rates as ({inner}),
ages as (
  select {HOST_EXPR} as host, {_AGE_HOURS_EXPR} as age_hours from documents
),
j as (
  select a.host, r.recrawl_hours, a.age_hours
  from ages a join rates r on a.host = r.host
),
agg as (
  select host, recrawl_hours, count(*)::BIGINT as n_urls,
         sum(case when age_hours > recrawl_hours then 1 else 0 end)::BIGINT
           as n_stale
  from j group by host, recrawl_hours
)
select host, recrawl_hours, n_urls, n_stale,
       ((n_stale * 1000000) // n_urls)::BIGINT as stale_ppm
from agg
"""


# --- session-33: hedged fetch plan, url hygiene, paragraph lengths,
#     type share drift --------------------------------------------------------

#: fetch-latency synthesis with host-dependent heavy tails: hosts whose
#: source index % 4 is k see ~k/13 of fetches in the 2500+ms tail — so
#: p95 crosses the 2×p50 hedging gate for SOME hosts only. Shared
#: verbatim; the rotation modulus 13 is coprime with the 20-source cycle
#: (a modulus sharing a factor with 20 made the predicate CONSTANT per
#: host — every host all-tail or all-base, nobody hedging).
_HEDGE_LAT_EXPR = (
    "case when (doc_id * 7) % 13 < (doc_id % 20) % 4"
    " then 2500 + (doc_id % 500)"
    " else 50 + (doc_id * 97) % 900 end"
)


def q_crawl_hedged_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-latency hedging plan: hosts whose p95 exceeds 2×p50 get
    duplicate ("hedged") requests for the slowest decile — the classic
    tail-at-scale mitigation, planned from the exact discrete quantiles
    of crawl_latency_quantiles (same operator, heavier-tailed synthetic
    log). n_hedged = ceil(n/10) by integer arithmetic; the saving
    estimate (p95−p50 per hedged fetch) is exact BIGINT. Shape: the
    per-host quantile rollup (one host-partitioned window) plus codegen
    projections — nothing new shuffles."""
    from ..operators.scheduler import latency_quantiles

    log = _t(spark, sf_dir, "documents").select(
        F.expr(HOST_EXPR).alias("host"),
        F.expr(_HEDGE_LAT_EXPR).cast("long").alias("latency_ms"),
    )
    qs = latency_quantiles(log)
    return qs.selectExpr(
        "host",
        "n_fetches",
        "p50_ms",
        "p95_ms",
        "cast(case when p95_ms > 2 * p50_ms then 1 else 0 end as bigint)"
        " as hedge",
        "cast(case when p95_ms > 2 * p50_ms"
        " then (n_fetches + 9) div 10 else 0 end as bigint) as n_hedged",
        "cast(case when p95_ms > 2 * p50_ms"
        " then ((n_fetches + 9) div 10) * (p95_ms - p50_ms)"
        " else 0 end as bigint) as est_saved_ms",
    )


def _sql_crawl_hedged_fetch_plan() -> str:
    from ..operators.scheduler import latency_quantiles_sql

    inner = latency_quantiles_sql(
        f"select {HOST_EXPR} as host,"
        f" ({_HEDGE_LAT_EXPR})::BIGINT as latency_ms from documents"
    )
    return f"""
with qs as ({inner})
select host, n_fetches, p50_ms, p95_ms,
       (case when p95_ms > 2 * p50_ms then 1 else 0 end)::BIGINT as hedge,
       (case when p95_ms > 2 * p50_ms then (n_fetches + 9) // 10
             else 0 end)::BIGINT as n_hedged,
       (case when p95_ms > 2 * p50_ms
             then ((n_fetches + 9) // 10) * (p95_ms - p50_ms)
             else 0 end)::BIGINT as est_saved_ms
from qs
"""


#: per-host partition cap = 2x the mean host load; hot hosts split into
#: at most 8 salted sub-keys
_SALT_MAX = 8


def q_crawl_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-host salting plan: per host, how many salted sub-partitions
    the frontier shuffle should spread it over — ceil(n_urls / cap)
    clamped to {_SALT_MAX}, cap = 2× the mean per-host load — the
    executable face of the north rule's "salt hot hosts to break skew"
    over the deliberately Zipf-skewed host synthesis (a uniform host
    space would make every salt 1). All integer arithmetic; the global
    mean rides the accepted 1-row broadcast. One scan, one bounded
    groupBy."""
    hosts = _t(spark, sf_dir, "documents").selectExpr(
        f"{_BINPACK_HOST_EXPR} as host"
    ).groupBy("host").agg(F.count("*").cast("long").alias("n_urls"))
    tot = hosts.agg(
        F.sum("n_urls").cast("long").alias("__n"),
        F.count("*").cast("long").alias("__h"),
    )
    return hosts.crossJoin(F.broadcast(tot)).selectExpr(
        "host",
        "n_urls",
        "cast(2 * ((__n + __h - 1) div __h) as bigint) as cap",
        f"cast(least((n_urls + 2 * ((__n + __h - 1) div __h) - 1)"
        f" div (2 * ((__n + __h - 1) div __h)), {_SALT_MAX}) as bigint)"
        " as salt_factor",
    )


SQL_CRAWL_SALT_PLAN = f"""
with hosts as (
  select {_BINPACK_HOST_EXPR} as host, count(*)::BIGINT as n_urls
  from documents group by 1
),
tot as (
  select sum(n_urls)::BIGINT as n, count(*)::BIGINT as h from hosts
)
select host, n_urls,
       (2 * ((n + h - 1) // h))::BIGINT as cap,
       least((n_urls + 2 * ((n + h - 1) // h) - 1)
             // (2 * ((n + h - 1) // h)), {_SALT_MAX})::BIGINT as salt_factor
from hosts cross join tot
"""


#: robots.txt cache TTL (hours) and the planted per-host robots age
_ROBOTS_TTL_H = 24
_ROBOTS_AGE_EXPR = "cast(doc_id % 40 as bigint)"


def q_crawl_robots_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt refetch schedule: per host, the MOST RECENT cached
    robots capture (max over the fetch log), whether the 24 h TTL has
    expired, and a deterministic jittered refetch slot (md5-derived
    second-of-hour — every crawler refreshing robots at :00 sharp is a
    thundering herd; the md5 spreads hosts uniformly and is the one
    cross-engine-stable hash, CLAUDE.md). Complements
    crawl_conditional_get (per-URL revalidation) with the robots-tier
    policy. One groupBy on host plus codegen projections."""
    log = _t(spark, sf_dir, "documents").selectExpr(
        f"{HOST_EXPR} as host", f"{_ROBOTS_AGE_EXPR} as age_h"
    )
    per = log.groupBy("host").agg(
        F.count("*").cast("long").alias("n_captures"),
        F.min("age_h").cast("long").alias("age_hours"),
    )
    return per.selectExpr(
        "host",
        "n_captures",
        "age_hours",
        f"cast(case when age_hours >= {_ROBOTS_TTL_H} then 1 else 0 end"
        " as bigint) as refetch_due",
        "cast(cast(conv(substr(md5(host), 1, 8), 16, 10) as bigint) % 3600"
        " as bigint) as refetch_slot_s",
    )


SQL_CRAWL_ROBOTS_FETCH_SCHEDULE = f"""
with log as (
  select {HOST_EXPR} as host, {_ROBOTS_AGE_EXPR} as age_h from documents
),
per as (
  select host, count(*)::BIGINT as n_captures,
         min(age_h)::BIGINT as age_hours
  from log group by host
)
select host, n_captures, age_hours,
       (case when age_hours >= {_ROBOTS_TTL_H} then 1 else 0 end)::BIGINT
         as refetch_due,
       ({_H32.format(x='host')} % 3600)::BIGINT as refetch_slot_s
from per
"""


# --- session-39: water-filling fair share, top-k churn, mojibake,
#     redirect hop histogram --------------------------------------------------

#: fair-share budget = this share of total demand (x10), so it BINDS
_FAIRSHARE_NUM = 6
#: unrolled water-filling rounds
_FAIRSHARE_ROUNDS = 3


def q_crawl_bandwidth_fair_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair bandwidth allocation across hosts (water-filling):
    a global byte budget (60% of total demand — scarcity is the point)
    is poured in {_FAIRSHARE_ROUNDS} rounds; each round splits the
    remaining budget evenly over still-unsatisfied hosts, capped at
    each host's residual demand — small hosts saturate and exit, big
    hosts converge to the common water level. The classic max-min
    discipline, all INTEGER arithmetic (floor-div levels), unrolled a
    fixed round count so the DuckDB oracle is the same recurrence as
    CTE layers. Shape: per round ONE 1-row aggregate broadcast onto the
    bounded host table — no joins that grow with corpus size."""
    hosts = _t(spark, sf_dir, "documents").selectExpr(
        f"{HOST_EXPR} as host",
        f"cast({_EST_BYTES_EXPR} as bigint) as b",
    ).groupBy("host").agg(F.sum("b").cast("long").alias("demand"))
    tot = hosts.agg(
        F.expr(
            f"cast((sum(demand) * {_FAIRSHARE_NUM}) div 10 as bigint)"
        ).alias("budget")
    )
    r = hosts.crossJoin(F.broadcast(tot)).selectExpr(
        "host", "demand", "budget", "cast(0 as bigint) as granted"
    )
    for _ in range(_FAIRSHARE_ROUNDS):
        a = r.agg(
            F.expr("cast(max(budget) - sum(granted) as bigint)").alias("rem"),
            F.sum(
                F.expr("case when granted < demand then 1 else 0 end")
            ).cast("long").alias("n_unsat"),
        )
        r = r.crossJoin(F.broadcast(a)).selectExpr(
            "host",
            "demand",
            "budget",
            "cast(granted + case when granted < demand and n_unsat > 0"
            " then least(demand - granted, rem div n_unsat)"
            " else 0 end as bigint) as granted",
        )
    return r.selectExpr(
        "host",
        "demand",
        "granted",
        "cast(case when granted >= demand then 1 else 0 end as bigint)"
        " as satisfied",
        "cast((granted * cast(1000000 as bigint)) div demand as bigint)"
        " as fill_ppm",
    )


def _sql_crawl_bandwidth_fair_share() -> str:
    layers = []
    prev = "r0"
    for i in range(1, _FAIRSHARE_ROUNDS + 1):
        layers.append(f"""a{i} as (
  select max(budget) - sum(granted) as rem,
         sum(case when granted < demand then 1 else 0 end)::BIGINT as n_unsat
  from {prev}
),
r{i} as (
  select host, demand, budget,
         (granted + case when granted < demand and n_unsat > 0
            then least(demand - granted, rem // n_unsat) else 0 end)::BIGINT
           as granted
  from {prev} cross join a{i}
)""")
        prev = f"r{i}"
    body = ",\n".join(layers)
    return f"""
with hosts as (
  select {HOST_EXPR} as host, sum({_EST_BYTES_EXPR})::BIGINT as demand
  from documents group by 1
),
tot as (
  select ((sum(demand) * {_FAIRSHARE_NUM}) // 10)::BIGINT as budget
  from hosts
),
r0 as (
  select host, demand, budget, 0::BIGINT as granted
  from hosts cross join tot
),
{body}
select host, demand, granted,
       (case when granted >= demand then 1 else 0 end)::BIGINT as satisfied,
       ((granted * 1000000) // demand)::BIGINT as fill_ppm
from {prev}
"""


#: discovery budget and the exploit share (percent)
_CHANNEL_BUDGET = 100000
_CHANNEL_EXPLOIT_PCT = 90


def q_crawl_channel_budget_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-greedy discovery-budget allocator: {_CHANNEL_EXPLOIT_PCT}% of
    the next round's {_CHANNEL_BUDGET}-fetch budget goes to channels
    proportionally to their UNIQUE yield (crawl_discovery_channel_audit
    minus its duplicates), the rest spreads evenly as exploration (a
    starved channel can recover — the bandit floor, deterministic, no
    random and no ln). All integer division over the bounded channel
    table."""
    audit = q_crawl_discovery_channel_audit(spark, sf_dir).selectExpr(
        "channel", "n_pages - n_dup as n_unique"
    )
    tot = audit.agg(
        F.sum("n_unique").cast("long").alias("u_tot"),
        F.count("*").cast("long").alias("k"),
    )
    b, pct = _CHANNEL_BUDGET, _CHANNEL_EXPLOIT_PCT
    return audit.crossJoin(F.broadcast(tot)).selectExpr(
        "channel",
        "cast(n_unique as bigint) as n_unique",
        f"cast((({b} * {pct}) div 100) * n_unique div u_tot as bigint)"
        " as exploit_budget",
        f"cast(({b} * {100 - pct}) div 100 div k as bigint)"
        " as explore_budget",
        f"cast((({b} * {pct}) div 100) * n_unique div u_tot"
        f" + ({b} * {100 - pct}) div 100 div k as bigint) as total_budget",
    )


def _sql_crawl_channel_budget_split() -> str:
    b, pct = _CHANNEL_BUDGET, _CHANNEL_EXPLOIT_PCT
    return f"""
with audit as (select * from ({SQL_CRAWL_DISCOVERY_CHANNEL_AUDIT})),
u as (select channel, (n_pages - n_dup)::BIGINT as n_unique from audit),
tot as (select sum(n_unique)::BIGINT as u_tot, count(*)::BIGINT as k from u)
select channel, n_unique,
       ((({b} * {pct}) // 100) * n_unique // u_tot)::BIGINT as exploit_budget,
       (({b} * {100 - pct}) // 100 // k)::BIGINT as explore_budget,
       ((({b} * {pct}) // 100) * n_unique // u_tot
        + ({b} * {100 - pct}) // 100 // k)::BIGINT as total_budget
from u cross join tot
"""


# --- session-41: outage streaks, pareto frontier, https adoption ------------

#: an outage = this many consecutive failed attempts
_OUTAGE_MIN_STREAK = 4


def q_crawl_host_outage_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage detection from the fetch-attempt log: per host, the
    longest CONSECUTIVE-failure streak and how many distinct streaks
    reached the outage threshold ({_OUTAGE_MIN_STREAK}+) — consecutive
    failures are what distinguish a down host from background flake
    (crawl_error_rate_by_host's rate can't tell a 10% uniform error
    from one solid outage of the same mass). Gaps-and-islands over the
    same attempt synthesis: island id = running count of SUCCESSES, so
    each failure run shares an island with its preceding success; one
    host-partitioned window + two bounded groupBys."""
    attempts = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("doc_id") % 6 + 1)).alias("att"),
    ).selectExpr(
        "host",
        "doc_id",
        "att",
        "case when (doc_id * 5 + att) % 7 >= 3 then 1 else 0 end as ok",
    )
    run = (
        Window.partitionBy("host")
        .orderBy("doc_id", "att")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = attempts.withColumn("island", F.sum("ok").over(run)).filter(
        F.col("ok") == 0
    )
    streaks = isl.groupBy("host", "island").agg(
        F.count("*").cast("long").alias("streak")
    )
    return streaks.groupBy("host").agg(
        F.count("*").cast("long").alias("n_failure_streaks"),
        F.max("streak").cast("long").alias("max_streak"),
        F.sum(
            F.expr(
                f"case when streak >= {_OUTAGE_MIN_STREAK} then 1 else 0 end"
            )
        ).cast("long").alias("n_outages"),
    ).selectExpr(
        "host",
        "n_failure_streaks",
        "max_streak",
        "n_outages",
        "cast(case when n_outages > 0 then 1 else 0 end as bigint)"
        " as outage_flag",
    )


SQL_CRAWL_HOST_OUTAGE_DETECT = f"""
with a as (
  select 'h' || cast(doc_id % 7 as varchar(10)) as host, doc_id,
         unnest(range(1, doc_id % 6 + 2)) as att
  from documents
),
f as (
  select host, doc_id, att,
         case when (doc_id * 5 + att) % 7 >= 3 then 1 else 0 end as ok
  from a
),
isl as (
  select host, ok,
         sum(ok) over (
           partition by host order by doc_id, att
           rows between unbounded preceding and current row
         ) as island
  from f
),
streaks as (
  select host, island, count(*)::BIGINT as streak
  from isl where ok = 0 group by host, island
),
agg as (
  select host, count(*)::BIGINT as n_failure_streaks,
         max(streak)::BIGINT as max_streak,
         sum(case when streak >= {_OUTAGE_MIN_STREAK} then 1 else 0 end)
           ::BIGINT as n_outages
  from streaks group by host
)
select host, n_failure_streaks, max_streak, n_outages,
       (case when n_outages > 0 then 1 else 0 end)::BIGINT as outage_flag
from agg
"""


# --- session-44: MAD outliers, SRM check, device batch plan -----------------


def q_crawl_latency_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust latency outlier detection via MAD (median absolute
    deviation): per host, the median, the MAD and how many fetches sit
    beyond 3×MAD — the robust alternative to
    crawl_content_length_anomaly's 2σ gate (one genuine outage hour
    drags a mean/σ gate, never a median one). BIGINT latencies make
    every median an exact .5-midpoint double (the dwell-time lesson),
    and 2·|x−med| > 6·MAD compares exactly. Two grouped median passes
    over the host key — no global sort."""
    log = _t(spark, sf_dir, "documents").select(
        F.expr(HOST_EXPR).alias("host"),
        F.expr(_HEDGE_LAT_EXPR).cast("long").alias("latency_ms"),
    )
    med = log.groupBy("host").agg(F.median("latency_ms").alias("med"))
    dev = log.join(med, "host").withColumn(
        "adev", F.abs(F.col("latency_ms") - F.col("med"))
    )
    mad = dev.groupBy("host").agg(
        F.max("med").alias("med"),
        F.median("adev").alias("mad"),
        F.count("*").cast("long").alias("n_fetches"),
    )
    out = dev.join(
        mad.select("host", F.col("mad").alias("mad_j")), "host"
    ).groupBy("host").agg(
        F.sum(
            F.expr("case when adev > 3 * mad_j then 1 else 0 end")
        ).cast("long").alias("n_outliers")
    )
    return mad.join(out, "host").selectExpr(
        "host",
        "n_fetches",
        "cast(med * 10 as bigint) as median_decims",
        "cast(mad * 10 as bigint) as mad_decims",
        "n_outliers",
        "cast((n_outliers * cast(1000000 as bigint)) div n_fetches"
        " as bigint) as outlier_ppm",
    )


SQL_CRAWL_LATENCY_MAD_OUTLIERS = f"""
with log as (
  select {HOST_EXPR} as host, ({_HEDGE_LAT_EXPR})::BIGINT as latency_ms
  from documents
),
med as (select host, median(latency_ms) as med from log group by host),
dev as (
  select log.host, latency_ms, abs(latency_ms - med.med) as adev, med.med
  from log join med on log.host = med.host
),
mad as (
  select host, max(med) as med, median(adev) as mad,
         count(*)::BIGINT as n_fetches
  from dev group by host
),
outl as (
  select dev.host,
         sum(case when adev > 3 * mad.mad then 1 else 0 end)::BIGINT
           as n_outliers
  from dev join mad on dev.host = mad.host
  group by dev.host
)
select mad.host, n_fetches,
       cast(med * 10 as bigint) as median_decims,
       cast(mad * 10 as bigint) as mad_decims,
       n_outliers,
       ((n_outliers * 1000000) // n_fetches)::BIGINT as outlier_ppm
from mad join outl on mad.host = outl.host
"""


# --- session-46: compaction tiering, hub pages, SCC core --------------------

#: size-tiered compaction triggers a merge at this many runs per tier
_TIER_FANOUT = 4


def q_checkpoint_compaction_tiering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-tiered compaction plan for the snapshot store's append runs
    (the LSM/Iceberg maintenance policy behind SnapshotStore.compact):
    each crawl round leaves one append run; runs bucket into dyadic
    size tiers, and any tier holding ≥ {_TIER_FANOUT} runs merges into
    one run of the next tier — this entry emits the per-tier ledger
    (run count, bytes, merge decision, bytes rewritten) whose sum is
    the round's write amplification. Run sizes derive from the corpus
    (per-round appended bytes = the docs whose id ≡ round mod 12). All
    integer; two bounded groupBys."""
    runs = _t(spark, sf_dir, "documents").selectExpr(
        "cast(doc_id % 12 as bigint) as round_no",
        "cast(n_chars as bigint) as nb",
    ).groupBy("round_no").agg(F.sum("nb").cast("long").alias("run_bytes"))
    tiers = runs.selectExpr(
        "round_no",
        "run_bytes",
        f"cast({_DEG_BUCKET_CASE.format(d='run_bytes div 1024 + 1')}"
        " as bigint) as tier",
    )
    agg = tiers.groupBy("tier").agg(
        F.count("*").cast("long").alias("n_runs"),
        F.sum("run_bytes").cast("long").alias("tier_bytes"),
    )
    return agg.selectExpr(
        "tier",
        "n_runs",
        "tier_bytes",
        f"cast(case when n_runs >= {_TIER_FANOUT} then 1 else 0 end"
        " as bigint) as merge_now",
        f"cast(case when n_runs >= {_TIER_FANOUT} then tier_bytes"
        " else 0 end as bigint) as bytes_rewritten",
    )


SQL_CHECKPOINT_COMPACTION_TIERING = f"""
with runs as (
  select (doc_id % 12)::BIGINT as round_no, sum(n_chars)::BIGINT as run_bytes
  from documents group by 1
),
tiers as (
  select round_no, run_bytes,
         ({_DEG_BUCKET_CASE.format(d='run_bytes // 1024 + 1')})::BIGINT
           as tier
  from runs
),
agg as (
  select tier, count(*)::BIGINT as n_runs, sum(run_bytes)::BIGINT as tier_bytes
  from tiers group by tier
)
select tier, n_runs, tier_bytes,
       (case when n_runs >= {_TIER_FANOUT} then 1 else 0 end)::BIGINT
         as merge_now,
       (case when n_runs >= {_TIER_FANOUT} then tier_bytes else 0 end)::BIGINT
         as bytes_rewritten
from agg
"""


def q_crawl_hub_page_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-page classification: pages whose outlink count dwarfs their
    text ('hub' — index/navigation pages a scheduler should fetch
    EARLY, they seed discovery) vs content pages vs balanced — the
    positive complement of link_spam_score (concentration says farm;
    link density alone says hub). Pure integer classification (10
    chars-per-link threshold by cross-multiplication), per-host
    rollup."""
    p = _t(spark, sf_dir, "documents").selectExpr(
        f"{HOST_EXPR} as host",
        "cast(n_chars as bigint) as n_chars",
        "cast((doc_id * 13) % 40 as bigint) as n_outlinks",
    )
    c = p.selectExpr(
        "host",
        "case when n_outlinks * 10 > n_chars then 'hub'"
        " when n_outlinks * 100 < n_chars then 'content'"
        " else 'balanced' end as page_class",
    )
    return c.groupBy("host", "page_class").agg(
        F.count("*").cast("long").alias("n_pages")
    )


SQL_CRAWL_HUB_PAGE_DETECT = f"""
with p as (
  select {HOST_EXPR} as host, n_chars::BIGINT as n_chars,
         ((doc_id * 13) % 40)::BIGINT as n_outlinks
  from documents
),
c as (
  select host,
         case when n_outlinks * 10 > n_chars then 'hub'
              when n_outlinks * 100 < n_chars then 'content'
              else 'balanced' end as page_class
  from p
)
select host, page_class, count(*)::BIGINT as n_pages
from c group by host, page_class
"""


#: autoscaler sizing: one executor serves this many events per hour
#: (sized to the fixture's ~2-14 events/hour so demand actually varies)
_SCALE_PER_EXEC = 2


def q_crawl_autoscale_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executor autoscale plan from the hourly load curve: per hour,
    demand = ceil(events / {_SCALE_PER_EXEC}) executors, compared to
    the PREVIOUS hour's demand (lag over the bounded hourly rollup —
    the raw log is never windowed) to emit scale_up / scale_down /
    hold actions — the schedule a cluster autoscaler would replay.
    Integer ceil-division; explicit (hour) ordering with no ties by
    construction."""
    hourly = _t(spark, sf_dir, "events").selectExpr(
        "cast(unix_millis(cast(ts as timestamp)) div 3600000 as bigint)"
        " as hour_b"
    ).groupBy("hour_b").agg(F.count("*").cast("long").alias("n_events"))
    w = Window.orderBy("hour_b")
    d = hourly.selectExpr(
        "hour_b",
        "n_events",
        f"cast((n_events + {_SCALE_PER_EXEC} - 1) div {_SCALE_PER_EXEC}"
        " as bigint) as n_executors",
    ).withColumn("prev_exec", F.lag("n_executors").over(w))
    return d.selectExpr(
        "hour_b",
        "n_events",
        "n_executors",
        "cast(coalesce(prev_exec, 0) as bigint) as prev_executors",
        "case when prev_exec is null or n_executors > prev_exec"
        " then 'scale_up' when n_executors < prev_exec then 'scale_down'"
        " else 'hold' end as action",
    )


SQL_CRAWL_AUTOSCALE_PLAN = f"""
with hourly as (
  select epoch_ms(ts) // 3600000 as hour_b, count(*)::BIGINT as n_events
  from events group by 1
),
d as (
  select hour_b, n_events,
         ((n_events + {_SCALE_PER_EXEC} - 1) // {_SCALE_PER_EXEC})::BIGINT
           as n_executors
  from hourly
),
l as (
  select hour_b, n_events, n_executors,
         lag(n_executors) over (order by hour_b) as prev_exec
  from d
)
select hour_b::BIGINT as hour_b, n_events, n_executors,
       coalesce(prev_exec, 0)::BIGINT as prev_executors,
       case when prev_exec is null or n_executors > prev_exec
            then 'scale_up' when n_executors < prev_exec then 'scale_down'
            else 'hold' end as action
from l
"""


def q_crawl_queue_wait_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M/M/1 queueing estimate per host: utilization ρ = service·rate
    and expected queue wait ρ/(1−ρ)·service, from the fetch log's
    request count and p50 service time over a fixed 1-hour accounting
    window — the closed-form answer to "how far behind is this host's
    politeness queue running". Pure integer cross-multiplication
    (wait_ms = n·p50² div (span − n·p50)); saturated hosts (ρ ≥ 1)
    emit the overload flag instead of a meaningless wait. Reuses the
    latency-quantile rollup."""
    from ..operators.scheduler import latency_quantiles

    span_ms = 3600000
    log = _t(spark, sf_dir, "documents").select(
        F.expr(HOST_EXPR).alias("host"),
        (F.lit(50) + (F.col("doc_id") * 97) % 900).cast("long").alias("latency_ms"),
    )
    qs = latency_quantiles(log).select("host", "n_fetches", "p50_ms")
    return qs.selectExpr(
        "host",
        "n_fetches",
        "p50_ms",
        f"cast((n_fetches * p50_ms * cast(1000000 as bigint))"
        f" div {span_ms} as bigint) as rho_ppm",
        f"cast(case when n_fetches * p50_ms < {span_ms}"
        f" then (n_fetches * p50_ms * p50_ms)"
        f" div ({span_ms} - n_fetches * p50_ms) else -1 end as bigint)"
        " as wait_ms",
        f"cast(case when n_fetches * p50_ms >= {span_ms} then 1 else 0 end"
        " as bigint) as overloaded",
    )


def _sql_crawl_queue_wait_estimate() -> str:
    from ..operators.scheduler import latency_quantiles_sql

    span_ms = 3600000
    inner = latency_quantiles_sql(
        f"select {HOST_EXPR} as host,"
        " (50 + (doc_id * 97) % 900)::BIGINT as latency_ms from documents"
    )
    return f"""
with qs as ({inner})
select host, n_fetches, p50_ms,
       ((n_fetches * p50_ms * 1000000) // {span_ms})::BIGINT as rho_ppm,
       (case when n_fetches * p50_ms < {span_ms}
             then (n_fetches * p50_ms * p50_ms)
                  // ({span_ms} - n_fetches * p50_ms)
             else -1 end)::BIGINT as wait_ms,
       (case when n_fetches * p50_ms >= {span_ms} then 1 else 0 end)::BIGINT
         as overloaded
from qs
"""


#: requests within this window of their group leader coalesce
_SINGLEFLIGHT_WINDOW = 50


def q_crawl_singleflight_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-flight request coalescing: concurrent fetches of the same
    URL within {_SINGLEFLIGHT_WINDOW} ms of the group leader collapse
    into one origin request (the Go singleflight / CDN request-collapse
    discipline) — per URL, how many requests arrive, how many origin
    fetches remain, and the saved-request share. Gaps-and-islands per
    URL on the request timeline (island opens when the gap to the
    previous request exceeds the window). Output is the per-url ledger
    the fetch-tier cache sizes from."""
    reqs = _t(spark, sf_dir, "documents").selectExpr(
        "cast(doc_id % 150 as bigint) as url_key",
        "cast((doc_id * doc_id) % 500 as bigint) as req_ts",
        "doc_id",
    )
    w = Window.partitionBy("url_key").orderBy("req_ts", "doc_id")
    run = (
        Window.partitionBy("url_key")
        .orderBy("req_ts", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = reqs.withColumn("prev_ts", F.lag("req_ts").over(w)).withColumn(
        "new_group",
        F.expr(
            "case when prev_ts is null"
            f" or req_ts - prev_ts > {_SINGLEFLIGHT_WINDOW}"
            " then 1 else 0 end"
        ),
    ).withColumn("grp", F.sum("new_group").over(run))
    return marked.groupBy("url_key").agg(
        F.count("*").cast("long").alias("n_requests"),
        F.max("grp").cast("long").alias("n_origin_fetches"),
    ).selectExpr(
        "url_key",
        "n_requests",
        "n_origin_fetches",
        "n_requests - n_origin_fetches as n_saved",
        "cast(((n_requests - n_origin_fetches) * cast(1000000 as bigint))"
        " div n_requests as bigint) as saved_ppm",
    )


SQL_CRAWL_SINGLEFLIGHT_COALESCE = f"""
with reqs as (
  select (doc_id % 150)::BIGINT as url_key,
         ((doc_id * doc_id) % 500)::BIGINT as req_ts,
         doc_id
  from documents
),
marked as (
  select url_key, req_ts, doc_id,
         lag(req_ts) over (
           partition by url_key order by req_ts, doc_id
         ) as prev_ts
  from reqs
),
grouped as (
  select url_key,
         sum(case when prev_ts is null
                  or req_ts - prev_ts > {_SINGLEFLIGHT_WINDOW}
                  then 1 else 0 end) over (
           partition by url_key order by req_ts, doc_id
           rows between unbounded preceding and current row
         ) as grp
  from marked
)
select url_key, count(*)::BIGINT as n_requests,
       max(grp)::BIGINT as n_origin_fetches,
       (count(*) - max(grp))::BIGINT as n_saved,
       (((count(*) - max(grp)) * 1000000) // count(*))::BIGINT as saved_ppm
from grouped group by url_key
"""


# --- session-52: latency trend slope, in/out degree corr, depth vs
#     conversion -------------------------------------------------------------


def q_crawl_latency_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host latency TREND: the OLS slope of latency against request
    sequence — a host whose latency climbs through the crawl is
    degrading under our own load (the adaptive-delay controller reacts
    to the level; this detects the derivative). Per-group regression
    from exact DECIMAL(38,0) integer moments (the assortativity
    recipe, grouped): slope = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²), per-value
    double, floor to micro-ms-per-request. One groupBy."""
    log = _t(spark, sf_dir, "documents").selectExpr(
        f"{HOST_EXPR} as host",
        "cast(doc_id as bigint) as x",
        f"cast({_HEDGE_LAT_EXPR} as bigint) as y",
    )
    dec = "cast({e} as decimal(38,0))"
    agg = log.groupBy("host").agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.expr(dec.format(e="x"))).alias("sx"),
        F.sum(F.expr(dec.format(e="y"))).alias("sy"),
        F.sum(F.expr(dec.format(e="x * y"))).alias("sxy"),
        F.sum(F.expr(dec.format(e="x * x"))).alias("sxx"),
    )
    return agg.selectExpr(
        "host",
        "cast(m as bigint) as n_fetches",
        "cast(floor((cast(m as double) * cast(sxy as double)"
        " - cast(sx as double) * cast(sy as double))"
        " / (cast(m as double) * cast(sxx as double)"
        " - cast(sx as double) * cast(sx as double))"
        " * cast(1000000 as double)) as bigint) as slope_micro",
    ).selectExpr(
        "host",
        "n_fetches",
        "slope_micro",
        "cast(case when slope_micro > 0 then 1 else 0 end as bigint)"
        " as degrading",
    )


SQL_CRAWL_LATENCY_TREND_SLOPE = f"""
with log as (
  select {HOST_EXPR} as host, doc_id::BIGINT as x,
         ({_HEDGE_LAT_EXPR})::BIGINT as y
  from documents
),
agg as (
  select host, count(*)::BIGINT as m,
         sum(cast(x as decimal(38,0))) as sx,
         sum(cast(y as decimal(38,0))) as sy,
         sum(cast(x * y as decimal(38,0))) as sxy,
         sum(cast(x * x as decimal(38,0))) as sxx
  from log group by host
),
s as (
  select host, m as n_fetches,
         cast(floor((cast(m as double) * cast(sxy as double)
           - cast(sx as double) * cast(sy as double))
           / (cast(m as double) * cast(sxx as double)
           - cast(sx as double) * cast(sx as double))
           * cast(1000000 as double)) as bigint) as slope_micro
  from agg
)
select host, n_fetches, slope_micro,
       (case when slope_micro > 0 then 1 else 0 end)::BIGINT as degrading
from s
"""


# --- session-59: egress billing, corruption resync --------------------------

#: progressive egress price ladder: first 20 KB at 5 µ¢/KB, next 80 KB at
#: 3, the rest at 1 — integer piecewise billing
_EGRESS_T1_KB, _EGRESS_T2_KB = 20, 100
_EGRESS_P1, _EGRESS_P2, _EGRESS_P3 = 5, 3, 1


def q_crawl_egress_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive egress billing per host: fetched bytes priced on a
    three-tier ladder (first {_EGRESS_T1_KB} KB at {_EGRESS_P1} µ¢/KB,
    through {_EGRESS_T2_KB} KB at {_EGRESS_P2}, the rest at
    {_EGRESS_P3}) — cloud-bill arithmetic as pure integer
    least/greatest piecewise terms, the cost face of
    crawl_bandwidth_admit's byte budget. One groupBy, codegen
    projections."""
    t1, t2 = _EGRESS_T1_KB, _EGRESS_T2_KB
    p1, p2, p3 = _EGRESS_P1, _EGRESS_P2, _EGRESS_P3
    hosts = _t(spark, sf_dir, "documents").selectExpr(
        f"{HOST_EXPR} as host",
        f"cast({_EST_BYTES_EXPR} as bigint) as b",
    ).groupBy("host").agg(F.sum("b").cast("long").alias("bytes_total"))
    return hosts.selectExpr(
        "host",
        "bytes_total",
        "cast(bytes_total div 1024 as bigint) as kb_total",
        f"cast(least(bytes_total div 1024, {t1}) * {p1}"
        f" + least(greatest(bytes_total div 1024 - {t1}, 0), {t2 - t1})"
        f" * {p2}"
        f" + greatest(bytes_total div 1024 - {t2}, 0) * {p3}"
        " as bigint) as billed_microcents",
    )


SQL_CRAWL_EGRESS_BILLING = f"""
with hosts as (
  select {HOST_EXPR} as host, sum({_EST_BYTES_EXPR})::BIGINT as bytes_total
  from documents group by 1
)
select host, bytes_total,
       (bytes_total // 1024)::BIGINT as kb_total,
       (least(bytes_total // 1024, {_EGRESS_T1_KB}) * {_EGRESS_P1}
        + least(greatest(bytes_total // 1024 - {_EGRESS_T1_KB}, 0),
                {_EGRESS_T2_KB - _EGRESS_T1_KB}) * {_EGRESS_P2}
        + greatest(bytes_total // 1024 - {_EGRESS_T2_KB}, 0) * {_EGRESS_P3})
         ::BIGINT as billed_microcents
from hosts
"""


#: politeness-delay grid (milliseconds between same-host fetches)
_DELAY_GRID_MS = (1000, 2000, 5000)


def q_crawl_delay_sweep_makespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-delay sensitivity: for each candidate crawl-delay,
    the closed-form per-host serial makespan (n_urls × delay — the
    same arithmetic crawl_host_makespan grounds), the bottleneck host
    and how many hosts exceed a one-hour round — the table that
    justifies a delay choice BEFORE burning a crawl on it. The
    per-host rollup runs once; the 3-point grid fan-out is bounded."""
    hosts = _t(spark, sf_dir, "documents").selectExpr(
        f"{_BINPACK_HOST_EXPR} as host"
    ).groupBy("host").agg(F.count("*").cast("long").alias("n_urls"))
    grid = ", ".join(str(m) for m in _DELAY_GRID_MS)
    g = hosts.select(
        "host", "n_urls", F.explode(F.expr(f"array({grid})")).alias("delay_ms")
    ).selectExpr(
        "host",
        "n_urls",
        "cast(delay_ms as bigint) as delay_ms",
        "n_urls * cast(delay_ms as bigint) as makespan_ms",
    )
    agg = g.groupBy("delay_ms").agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.max("makespan_ms").cast("long").alias("worst_makespan_ms"),
        F.sum(
            F.expr("case when makespan_ms > 3600000 then 1 else 0 end")
        ).cast("long").alias("n_hosts_over_1h"),
    )
    # deterministic argmax without max_by-on-struct (DuckDB 1.0 lacks
    # it, and engine tie rules differ): min host among the achievers
    bott = g.join(
        agg.select("delay_ms", "worst_makespan_ms"), "delay_ms"
    ).filter(F.col("makespan_ms") == F.col("worst_makespan_ms")).groupBy(
        "delay_ms"
    ).agg(F.min("host").alias("bottleneck_host"))
    return agg.join(bott, "delay_ms").select(
        "delay_ms",
        "n_hosts",
        "worst_makespan_ms",
        "bottleneck_host",
        "n_hosts_over_1h",
    )


SQL_CRAWL_DELAY_SWEEP_MAKESPAN = f"""
with hosts as (
  select {_BINPACK_HOST_EXPR} as host, count(*)::BIGINT as n_urls
  from documents group by 1
),
g as (
  select host, n_urls,
         unnest([{", ".join(str(m) for m in _DELAY_GRID_MS)}])::BIGINT
           as delay_ms
  from hosts
),
m as (
  select host, n_urls, delay_ms,
         (n_urls * delay_ms)::BIGINT as makespan_ms
  from g
),
agg as (
  select delay_ms, count(*)::BIGINT as n_hosts,
         max(makespan_ms)::BIGINT as worst_makespan_ms,
         sum(case when makespan_ms > 3600000 then 1 else 0 end)::BIGINT
           as n_hosts_over_1h
  from m group by delay_ms
),
bott as (
  select m.delay_ms, min(m.host) as bottleneck_host
  from m join agg on m.delay_ms = agg.delay_ms
   and m.makespan_ms = agg.worst_makespan_ms
  group by m.delay_ms
)
select agg.delay_ms, n_hosts, worst_makespan_ms, bottleneck_host,
       n_hosts_over_1h
from agg join bott on agg.delay_ms = bott.delay_ms
"""


# --- session-61: frontier memory estimate, weekend value premium ------------


def q_crawl_frontier_memory_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier memory budget: ONE row decomposing the per-row byte
    cost of the frontier relation (url + host strings at observed
    lengths, three fixed 8-byte BIGINT columns: seq, priority, seen
    hash) — the number that sizes `spark.sql.shuffle.partitions` and
    executor memory before the 10^10-row frontier exists (CLAUDE.md's
    spill-aware rule needs exactly this estimate). Exact integer sums
    off the canonical URL set; bytes-per-row is integer division."""
    u = _urlset(spark, sf_dir).selectExpr(
        "cast(length(url) as bigint) as ub",
        "cast(length(host) as bigint) as hb",
    )
    return u.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("ub").cast("long").alias("url_bytes"),
        F.sum("hb").cast("long").alias("host_bytes"),
    ).selectExpr(
        "n_rows",
        "url_bytes",
        "host_bytes",
        "n_rows * cast(24 as bigint) as fixed_bytes",
        "url_bytes + host_bytes + n_rows * cast(24 as bigint)"
        " as total_bytes",
        "cast((url_bytes + host_bytes + n_rows * cast(24 as bigint))"
        " div n_rows as bigint) as bytes_per_row",
    )


SQL_CRAWL_FRONTIER_MEMORY_ESTIMATE = f"""
with u as (
  select length({CANON_URL_EXPR})::BIGINT as ub,
         length({HOST_EXPR})::BIGINT as hb
  from documents
)
select count(*)::BIGINT as n_rows,
       sum(ub)::BIGINT as url_bytes,
       sum(hb)::BIGINT as host_bytes,
       (count(*) * 24)::BIGINT as fixed_bytes,
       (sum(ub) + sum(hb) + count(*) * 24)::BIGINT as total_bytes,
       ((sum(ub) + sum(hb) + count(*) * 24) // count(*))::BIGINT
         as bytes_per_row
from u
"""


# --- session-63: status class mix, local peaks ------------------------------

#: planted status ladder: ~70% 200, 10% 301, 10% 404, 10% 503. NB each
#: host's residue orbit is 5 slots spaced 20 apart, so hosts carry
#: DIFFERENT class mixes (some see no 3xx/5xx) — which is exactly what a
#: status-mix table is for
_STATUS_EXPR = (
    "case when (doc_id * 11) % 100 < 70 then 200"
    " when (doc_id * 11) % 100 < 80 then 301"
    " when (doc_id * 11) % 100 < 90 then 404 else 503 end"
)


def q_crawl_status_class_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP status-class mix per host: 2xx/3xx/4xx/5xx counts and the
    health ppm (2xx share) — the fetch-log taxonomy that routes hosts
    to the retry ladder (5xx), the redirect resolver (3xx) or the
    pruner (4xx); crawl_error_rate_by_host's binary ok/fail can't
    drive those three different reactions. One scan, one groupBy,
    class via integer division of the status code."""
    log = _t(spark, sf_dir, "documents").selectExpr(
        f"{HOST_EXPR} as host",
        f"cast({_STATUS_EXPR} as bigint) as status",
    )
    return log.groupBy("host").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.sum(F.expr("case when status div 100 = 2 then 1 else 0 end"))
        .cast("long").alias("n_2xx"),
        F.sum(F.expr("case when status div 100 = 3 then 1 else 0 end"))
        .cast("long").alias("n_3xx"),
        F.sum(F.expr("case when status div 100 = 4 then 1 else 0 end"))
        .cast("long").alias("n_4xx"),
        F.sum(F.expr("case when status div 100 = 5 then 1 else 0 end"))
        .cast("long").alias("n_5xx"),
    ).selectExpr(
        "host",
        "n_fetches",
        "n_2xx",
        "n_3xx",
        "n_4xx",
        "n_5xx",
        "cast((n_2xx * cast(1000000 as bigint)) div n_fetches as bigint)"
        " as healthy_ppm",
    )


SQL_CRAWL_STATUS_CLASS_MIX = f"""
with log as (
  select {HOST_EXPR} as host, ({_STATUS_EXPR})::BIGINT as status
  from documents
)
select host, count(*)::BIGINT as n_fetches,
       sum(case when status // 100 = 2 then 1 else 0 end)::BIGINT as n_2xx,
       sum(case when status // 100 = 3 then 1 else 0 end)::BIGINT as n_3xx,
       sum(case when status // 100 = 4 then 1 else 0 end)::BIGINT as n_4xx,
       sum(case when status // 100 = 5 then 1 else 0 end)::BIGINT as n_5xx,
       ((sum(case when status // 100 = 2 then 1 else 0 end) * 1000000)
        // count(*))::BIGINT as healthy_ppm
from log group by host
"""


# --- session-65: adaptive timeout, session type pairs -----------------------


def q_crawl_adaptive_timeout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host adaptive fetch timeout: p95 plus one (p95−p50) spread
    — the order-statistic analog of mean+kσ that heavy tails can't
    inflate (crawl_latency_mad_outliers flags the tail; this SETS the
    knob), clamped to a 10 s ceiling, with the exact count of observed
    fetches the plan would have cut. One quantile rollup + one
    membership recount on the host key."""
    log = _t(spark, sf_dir, "documents").select(
        F.expr(HOST_EXPR).alias("host"),
        F.expr(_HEDGE_LAT_EXPR).cast("long").alias("latency_ms"),
    )
    from ..operators.scheduler import latency_quantiles

    qs = latency_quantiles(log).selectExpr(
        "host",
        "n_fetches",
        "p50_ms",
        "p95_ms",
        "least(p95_ms + (p95_ms - p50_ms), cast(10000 as bigint))"
        " as timeout_ms",
    )
    cut = log.join(qs.select("host", "timeout_ms"), "host").groupBy(
        "host"
    ).agg(
        F.sum(
            F.expr("case when latency_ms > timeout_ms then 1 else 0 end")
        ).cast("long").alias("n_would_cut")
    )
    return qs.join(cut, "host").selectExpr(
        "host",
        "n_fetches",
        "p50_ms",
        "p95_ms",
        "timeout_ms",
        "n_would_cut",
        "cast((n_would_cut * cast(1000000 as bigint)) div n_fetches"
        " as bigint) as cut_ppm",
    )


def _sql_crawl_adaptive_timeout_plan() -> str:
    from ..operators.scheduler import latency_quantiles_sql

    inner = latency_quantiles_sql(
        f"select {HOST_EXPR} as host,"
        f" ({_HEDGE_LAT_EXPR})::BIGINT as latency_ms from documents"
    )
    return f"""
with log as (
  select {HOST_EXPR} as host, ({_HEDGE_LAT_EXPR})::BIGINT as latency_ms
  from documents
),
qs as (
  select host, n_fetches, p50_ms, p95_ms,
         least(p95_ms + (p95_ms - p50_ms), 10000)::BIGINT as timeout_ms
  from ({inner})
),
cut as (
  select log.host,
         sum(case when latency_ms > timeout_ms then 1 else 0 end)::BIGINT
           as n_would_cut
  from log join qs on log.host = qs.host
  group by log.host
)
select qs.host, n_fetches, p50_ms, p95_ms, timeout_ms, n_would_cut,
       ((n_would_cut * 1000000) // n_fetches)::BIGINT as cut_ppm
from qs join cut on qs.host = cut.host
"""


#: planted discovery day for each host occurrence
_DISCOVERY_DAY_EXPR = "cast((doc_id * 13) % 30 as bigint)"


def q_crawl_host_discovery_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-discovery curve: per day, how many hosts were seen for the
    FIRST time and the cumulative host count — a crawl that keeps
    finding new hosts is still expanding its universe; a flat curve
    says the seed orbit is exhausted and budget should shift to
    recrawl (the host-level twin of text_vocab_growth's Heaps curve).
    First-seen via one min-groupBy over the Zipf host synthesis;
    cumulative over the bounded day axis."""
    d = _t(spark, sf_dir, "documents").selectExpr(
        f"{_BINPACK_HOST_EXPR} as host",
        f"{_DISCOVERY_DAY_EXPR} as day",
    )
    first = d.groupBy("host").agg(F.min("day").alias("first_day"))
    daily = first.groupBy("first_day").agg(
        F.count("*").cast("long").alias("n_new_hosts")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.withColumn(
        "cum_hosts", F.sum("n_new_hosts").over(w).cast("long")
    ).selectExpr(
        "cast(first_day as bigint) as day", "n_new_hosts", "cum_hosts"
    )


SQL_CRAWL_HOST_DISCOVERY_CURVE = f"""
with d as (
  select {_BINPACK_HOST_EXPR} as host, {_DISCOVERY_DAY_EXPR} as day
  from documents
),
first as (select host, min(day) as first_day from d group by host),
daily as (
  select first_day, count(*)::BIGINT as n_new_hosts
  from first group by first_day
)
select first_day::BIGINT as day, n_new_hosts,
       sum(n_new_hosts) over (
         order by first_day
         rows between unbounded preceding and current row
       )::BIGINT as cum_hosts
from daily
"""


#: SLO: 99% fetch success => a 10000-ppm failure budget
_SLO_BUDGET_PPM = 10000


def q_crawl_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn per host: the observed failure rate
    expressed as a multiple of the 99%-SLO budget ({_SLO_BUDGET_PPM}
    ppm) in milli-units — burn 1000 = exactly on budget, above =
    eating into it (the breaker and the retry ladder both key off
    this one number in real fleets). Pure projection over the
    error-rate rollup."""
    er = q_crawl_error_rate_by_host(spark, sf_dir)
    return er.selectExpr(
        "host",
        "n_attempts",
        "n_failures",
        "fail_ppm",
        f"cast((fail_ppm * cast(1000 as bigint)) div {_SLO_BUDGET_PPM}"
        " as bigint) as burn_x_milli",
    ).selectExpr(
        "host",
        "n_attempts",
        "n_failures",
        "fail_ppm",
        "burn_x_milli",
        "cast(case when burn_x_milli > 1000 then 1 else 0 end as bigint)"
        " as budget_exhausted",
    )


def _sql_crawl_error_budget_burn() -> str:
    return f"""
with er as ({SQL_CRAWL_ERROR_RATE_BY_HOST})
select host, n_attempts, n_failures, fail_ppm,
       ((fail_ppm * 1000) // {_SLO_BUDGET_PPM})::BIGINT as burn_x_milli,
       (case when ((fail_ppm * 1000) // {_SLO_BUDGET_PPM}) > 1000
             then 1 else 0 end)::BIGINT as budget_exhausted
from er
"""


# --- session-72: redirect cycle census, hapax share -------------------------


def q_crawl_redirect_cycle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-loop census: the unresolved chains from the
    pointer-doubling resolver grouped by where they ended up pointing
    (after 2^5 doublings every member of one loop points INSIDE that
    loop, so the landing pointer fingerprints the loop's
    neighborhood) — the triage list behind the resolver's boolean
    flag: one row per loop cluster with its member count and walked
    hops, so the dust-rule writer sees WHICH traps dominate. Bounded
    rollup over the resolver output."""
    res = q_crawl_redirect_resolve(spark, sf_dir).filter(
        ~F.col("resolved")
    )
    return res.groupBy(F.col("final_url").alias("loop_anchor")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.min("hops").cast("long").alias("min_hops"),
        F.max("hops").cast("long").alias("max_hops"),
    )


def _sql_crawl_redirect_cycle_census() -> str:
    inner = _sql_redirect_resolve(rounds=5)
    return f"""
with res as ({inner})
select final_url as loop_anchor, count(*)::BIGINT as n_members,
       min(hops)::BIGINT as min_hops, max(hops)::BIGINT as max_hops
from res where not resolved
group by final_url
"""


# --- session-73: cache TTL sweep --------------------------------------------

#: candidate cache TTLs (same time unit as the request timeline)
_CACHE_TTL_GRID = (50, 150, 400)


def q_crawl_cache_ttl_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Response-cache TTL sweep: at each candidate TTL, how many
    repeat requests would have hit a per-URL cache (gap to the
    previous request ≤ TTL — the lag idiom over the singleflight
    request timeline) vs gone to origin — the hit-rate/staleness
    tradeoff curve read BEFORE provisioning the cache tier
    (singleflight collapses concurrent requests; the cache collapses
    RECENT ones). Grid explodes after the one per-URL lag pass; per
    TTL one bounded rollup."""
    reqs = _t(spark, sf_dir, "documents").selectExpr(
        "cast(doc_id % 150 as bigint) as url_key",
        "cast((doc_id * doc_id) % 500 as bigint) as req_ts",
        "doc_id",
    )
    w = Window.partitionBy("url_key").orderBy("req_ts", "doc_id")
    lagged = reqs.withColumn("prev_ts", F.lag("req_ts").over(w))
    grid = ", ".join(str(t) for t in _CACHE_TTL_GRID)
    g = lagged.select(
        "url_key",
        "req_ts",
        "prev_ts",
        F.explode(F.expr(f"array({grid})")).alias("ttl"),
    ).selectExpr(
        "cast(ttl as bigint) as ttl",
        "case when prev_ts is not null and req_ts - prev_ts <= ttl"
        " then 1 else 0 end as hit",
    )
    return g.groupBy("ttl").agg(
        F.count("*").cast("long").alias("n_requests"),
        F.sum("hit").cast("long").alias("n_cache_hits"),
    ).selectExpr(
        "ttl",
        "n_requests",
        "n_cache_hits",
        "n_requests - n_cache_hits as n_origin_fetches",
        "cast((n_cache_hits * cast(1000000 as bigint)) div n_requests"
        " as bigint) as hit_ppm",
    )


SQL_CRAWL_CACHE_TTL_SWEEP = f"""
with reqs as (
  select (doc_id % 150)::BIGINT as url_key,
         ((doc_id * doc_id) % 500)::BIGINT as req_ts,
         doc_id
  from documents
),
lagged as (
  select url_key, req_ts,
         lag(req_ts) over (
           partition by url_key order by req_ts, doc_id
         ) as prev_ts
  from reqs
),
g as (
  select unnest([{", ".join(str(t) for t in _CACHE_TTL_GRID)}])::BIGINT
           as ttl,
         case when prev_ts is not null and req_ts - prev_ts <=
           unnest([{", ".join(str(t) for t in _CACHE_TTL_GRID)}])
           then 1 else 0 end as hit
  from lagged
)
select ttl, count(*)::BIGINT as n_requests,
       sum(hit)::BIGINT as n_cache_hits,
       (count(*) - sum(hit))::BIGINT as n_origin_fetches,
       ((sum(hit) * 1000000) // count(*))::BIGINT as hit_ppm
from g group by ttl
"""


# --- session-74: Amdahl speedup model ---------------------------------------

#: fixed serial floor (driver barriers, broadcast builds) in ms — the
#: measured r4 crawl-round constant's order of magnitude
_AMDAHL_SERIAL_MS = 6000
_AMDAHL_CORE_GRID = (2, 8, 32)


def q_crawl_amdahl_speedup_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amdahl speedup model for the crawl round: parallel work W from
    the frontier's byte mass (1 ms per 100 bytes — the fetch+parse
    cost proxy), serial floor S from the measured per-round driver
    cost, T(c) = S + W/c over the {2, 8, 32}-core grid with speedup
    and strong-scaling efficiency vs the 2-core base — the closed-form
    twin of the measured N→4N strong-scaling criterion (BASELINE.json ≥0.8):
    the model says WHERE the serial floor caps efficiency before a
    single run burns. Integer arithmetic; one byte rollup + a 3-row
    grid."""
    w_ms = _t(spark, sf_dir, "documents").selectExpr(
        f"cast({_EST_BYTES_EXPR} as bigint) as b"
    ).agg(
        F.expr("cast(sum(b) div 100 as bigint)").alias("w_ms")
    )
    grid = ", ".join(str(c) for c in _AMDAHL_CORE_GRID)
    s = _AMDAHL_SERIAL_MS
    base = _AMDAHL_CORE_GRID[0]
    g = w_ms.select(
        "w_ms", F.explode(F.expr(f"array({grid})")).alias("cores")
    ).selectExpr(
        "cast(cores as bigint) as cores",
        "w_ms",
        f"cast({s} + w_ms div cores as bigint) as t_ms",
        f"cast({s} + w_ms div {base} as bigint) as t_base_ms",
    )
    return g.selectExpr(
        "cores",
        "w_ms",
        "t_ms",
        "cast((t_base_ms * cast(1000 as bigint)) div t_ms as bigint)"
        " as speedup_milli",
        f"cast((t_base_ms * cast(1000000 as bigint) * {base})"
        " div (t_ms * cores) as bigint) as strong_efficiency_ppm",
    )


SQL_CRAWL_AMDAHL_SPEEDUP_MODEL = f"""
with w as (
  select (sum({_EST_BYTES_EXPR}) // 100)::BIGINT as w_ms from documents
),
g as (
  select unnest([{", ".join(str(c) for c in _AMDAHL_CORE_GRID)}])::BIGINT
           as cores,
         w_ms,
         ({_AMDAHL_SERIAL_MS} + w_ms //
           unnest([{", ".join(str(c) for c in _AMDAHL_CORE_GRID)}]))::BIGINT
           as t_ms,
         ({_AMDAHL_SERIAL_MS} + w_ms // {_AMDAHL_CORE_GRID[0]})::BIGINT
           as t_base_ms
  from w
)
select cores, w_ms, t_ms,
       ((t_base_ms * 1000) // t_ms)::BIGINT as speedup_milli,
       ((t_base_ms * 1000000 * {_AMDAHL_CORE_GRID[0]})
        // (t_ms * cores))::BIGINT as strong_efficiency_ppm
from g
"""


# --- session-75: fairness trend ---------------------------------------------


def q_crawl_fairness_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jain fairness index BY HOUR: how evenly each hour's fetch volume
    spreads across hosts ((Σx)²·10⁶ div (n·Σx²) — exact integer ppm,
    the crawl_fairness_index recipe) on the hourly axis — the static
    index says the crawl WAS fair on average; the trend catches the
    hours one host monopolized the fleet (exactly when politeness
    complaints arrive). Host = the event-log user hash stand-in; two
    bounded rollups.

    BIGINT headroom: sum(x)² · 10⁶ stays under 2⁶³ up to ~3e6 fetches
    per HOUR (same envelope as crawl_fairness_index, per-hour grain);
    beyond that Spark wraps silently while DuckDB errors. A deployment
    crawling faster than that per hour must route the product through
    DECIMAL(38,0) — not done here because Spark's decimal `div` rounds
    where DuckDB `//` floors (the documented cross-engine trap)."""
    f = _t(spark, sf_dir, "events").selectExpr(
        "cast(unix_millis(cast(ts as timestamp)) div 3600000 as bigint)"
        " as hour_b",
        "cast(user_id % 7 as bigint) as host_id",
    )
    cells = f.groupBy("hour_b", "host_id").agg(
        F.count("*").cast("long").alias("x")
    )
    return cells.groupBy("hour_b").agg(
        F.count("*").cast("long").alias("n_hosts_active"),
        F.sum("x").cast("long").alias("n_fetches"),
        F.expr(
            "cast((sum(x) * sum(x) * cast(1000000 as bigint))"
            " div (count(*) * sum(x * x)) as bigint)"
        ).alias("jain_ppm"),
    )


SQL_CRAWL_FAIRNESS_TREND = """
with f as (
  select epoch_ms(ts) // 3600000 as hour_b,
         (user_id % 7)::BIGINT as host_id
  from events
),
cells as (
  select hour_b, host_id, count(*)::BIGINT as x
  from f group by hour_b, host_id
)
select hour_b::BIGINT as hour_b, count(*)::BIGINT as n_hosts_active,
       sum(x)::BIGINT as n_fetches,
       ((sum(x) * sum(x) * 1000000) // (count(*) * sum(x * x)))::BIGINT
         as jain_ppm
from cells group by hour_b
"""
