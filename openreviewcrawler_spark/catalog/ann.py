"""ann family query builders + DuckDB oracles (mechanically split from the catalog monolith)."""

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
    SQL_MIME_SNIFF,
    _SQL_DOT,
    _SQL_NORM,
    _sql_lsh_bands_cte,
    _sql_plane_dot,
    _t,
    q_mime_sniff,
)



# ---------------------------------------------------------------------------
# training-data pipeline: similarity search
# ---------------------------------------------------------------------------


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_topk(_t(spark, sf_dir, "embeddings"))


SQL_ANN_BRUTE_TOPK = f"""
with v as (
  select vec_id, label, embedding::DOUBLE[] as e,
         {_SQL_NORM.format(a='embedding::DOUBLE[]')} as nrm
  from embeddings
), scored as (
  select q.vec_id as query_id, c.vec_id as cand_id,
         {_SQL_DOT.format(a='q.e', b='c.e')} / (q.nrm * c.nrm) as cos_raw
  from v q join v c on c.vec_id <> q.vec_id
  where q.vec_id < 16
), ranked as (
  select *, row_number() over (partition by query_id order by cos_raw desc, cand_id asc) as rank
  from scored
)
select query_id, cand_id, rank::BIGINT as rank, round(cos_raw, 3) as cos
from ranked where rank <= 5
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(_t(spark, sf_dir, "embeddings"))


#: shared IVF quantizer CTE chain (seeds -> one exact-decimal Lloyd pass ->
#: storage assignment) — the prefix of both SQL_ANN_IVF_TOPK and
#: SQL_ANN_IVF_CELL_BALANCE, kept in ONE place so the two oracles can never
#: drift apart on the quantizer
_SQL_IVF_STORAGE_CTES = f"""v as (
  select vec_id, embedding::DOUBLE[] as e,
         {_SQL_NORM.format(a='embedding::DOUBLE[]')} as nrm
  from embeddings
), cents0 as (
  select row_number() over (order by vec_id) - 1 as cell, e as ce, nrm as cnrm
  from (select * from v order by vec_id limit {similarity.IVF_K})
), assign0 as (
  select vec_id, cell from (
    select v.vec_id, c.cell,
      row_number() over (partition by v.vec_id order by
        {_SQL_DOT.format(a='c.ce', b='v.e')} / (c.cnrm * v.nrm) desc, c.cell asc) as r
    from v cross join cents0 c
  ) where r = 1
), dim as (
  -- one Lloyd iteration with EXACT decimal means (bit-identical to Spark)
  select a.cell, unnest(range(1, len(v.e) + 1)) as i, unnest(v.e) as val
  from assign0 a join v on a.vec_id = v.vec_id
), means as (
  select cell, i, sum(val::DECIMAL(28,12))::DOUBLE / count(*) as m
  from dim group by 1, 2
), cents as (
  select cell, ce, {_SQL_NORM.format(a='ce')} as cnrm from (
    select cell, list(m order by i) as ce from means group by cell
  )
), assign as (
  select vec_id, cell,
    row_number() over (partition by vec_id order by csim desc, cell asc) as cell_rank
  from (
    select v.vec_id, c.cell,
           {_SQL_DOT.format(a='c.ce', b='v.e')} / (c.cnrm * v.nrm) as csim
    from v cross join cents c
  )
), storage as (
  select vec_id, cell from assign where cell_rank <= 1
)"""


SQL_ANN_IVF_TOPK = f"""
with {_SQL_IVF_STORAGE_CTES}, qprobe as (
  select vec_id as query_id, cell from assign
  where cell_rank <= {similarity.IVF_PROBE} and vec_id < 16
), cand as (
  select distinct query_id, s.vec_id as cand_id
  from qprobe join storage s using (cell)
  where s.vec_id <> query_id
), scored as (
  select query_id, cand_id,
         {_SQL_DOT.format(a='q.e', b='c.e')} / (q.nrm * c.nrm) as cos_raw
  from cand join v q on q.vec_id = query_id join v c on c.vec_id = cand_id
), ranked as (
  select *, row_number() over (partition by query_id order by cos_raw desc, cand_id asc) as rank
  from scored
)
select query_id, cand_id, rank::BIGINT as rank, round(cos_raw, 3) as cos
from ranked where rank <= 3
"""


def q_ann_lsh_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_signatures(_t(spark, sf_dir, "embeddings"))


def _sql_lsh_sig() -> str:
    # literal-plane version: same md5-derived values as r1's runtime-hash
    # expression (bit-identical output), no per-row md5 in either engine.
    terms = [
        f"(case when {_sql_plane_dot(j)} > 0 then {1 << j}::BIGINT else 0 end)"
        for j in range(similarity.N_PLANES)
    ]
    return f"""
with v as (select vec_id, embedding::DOUBLE[] as e from embeddings)
select vec_id, ({' + '.join(terms)})::BIGINT as sig from v
"""


SQL_ANN_LSH_SIGNATURE = _sql_lsh_sig()


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_lsh_topk(_t(spark, sf_dir, "embeddings"))


SQL_ANN_LSH_TOPK = f"""
with v as (
  select vec_id, embedding::DOUBLE[] as e,
         {_SQL_NORM.format(a='embedding::DOUBLE[]')} as nrm
  from embeddings
),
{_sql_lsh_bands_cte('v')},
hot as (
  select band, bval from bands group by 1, 2
  having count(*) > {similarity.MAX_VEC_BUCKET}
),
kept as (
  select b.* from bands b
  where not exists (select 1 from hot h where h.band = b.band and h.bval = b.bval)
),
cand as (
  select distinct q.vec_id as query_id, c.vec_id as cand_id
  from kept q join kept c on q.band = c.band and q.bval = c.bval
  where q.vec_id < 16 and c.vec_id <> q.vec_id
), scored as (
  select query_id, cand_id,
         {_SQL_DOT.format(a='q.e', b='c.e')} / (q.nrm * c.nrm) as cos_raw
  from cand join v q on q.vec_id = query_id join v c on c.vec_id = cand_id
), ranked as (
  select *, row_number() over (partition by query_id order by cos_raw desc, cand_id asc) as rank
  from scored
)
select query_id, cand_id, rank::BIGINT as rank, round(cos_raw, 3) as cos
from ranked where rank <= 5
"""


# ---------------------------------------------------------------------------
# training-data pipeline: multimodal plumbing
# ---------------------------------------------------------------------------


def q_mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.assets_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.decode_metadata(assets)


SQL_MM_DECODE_META = """
select doc_id::BIGINT as asset_id,
  case (doc_id % 3) when 0 then 'image' when 1 then 'audio' else 'video' end as kind,
  octet_length(encode(text))::BIGINT as n_bytes,
  (octet_length(encode(text)) % 640 + 1)::BIGINT as width,
  (ascii(substr(text, 1, 1)) + 1)::BIGINT as height
from documents
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.assets_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.sample_frames(assets).select("asset_id", "frame_idx", "frame_len")


SQL_MM_FRAME_SAMPLE = """
select doc_id::BIGINT as asset_id, f.frame_idx::BIGINT as frame_idx,
       (octet_length(encode(text)) // 3)::BIGINT as frame_len
from documents, (select unnest(range(0, 3)) as frame_idx) f
where doc_id % 3 = 2
"""


def q_embedding_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding ingest gate (operators/similarity.embedding_qa): per-label
    vector counts, dimension range, zero-norm / NaN counts and norm stats
    in ONE scan. Defects are PLANTED deterministically (vec_id % 50 == 0
    zeroed, % 50 == 1 truncated to 8 dims) so the QA columns read
    non-trivially; NaN counting is covered by the unit test (a planted NaN
    would poison cross-engine min/max/decimal-sum semantics in the oracle
    comparison itself)."""
    from ..operators.similarity import embedding_qa

    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    doctored = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.when(F.col("vec_id") % 50 == 0, F.transform(e, lambda x: F.lit(0.0)))
        .when(F.col("vec_id") % 50 == 1, F.slice(e, 1, 8))
        .otherwise(e)
        .alias("embedding"),
    )
    return embedding_qa(doctored)


SQL_EMBEDDING_QA = """
with raw as (
  select label::BIGINT as label,
         case when vec_id % 50 = 0
                then list_transform(embedding::DOUBLE[], x -> 0.0)
              when vec_id % 50 = 1 then (embedding::DOUBLE[])[1:8]
              else embedding::DOUBLE[] end as e
  from embeddings
),
d as (
  select label, e,
         sqrt(list_reduce(list_transform(e, x -> x * x), (x, y) -> x + y))
           as norm
  from raw
)
select label, count(*)::BIGINT as n_vectors,
       min(len(e))::BIGINT as min_dim, max(len(e))::BIGINT as max_dim,
       sum(case when norm = 0.0 then 1 else 0 end)::BIGINT as n_zero_norm,
       sum(case when len(list_filter(e, x -> isnan(x))) > 0 then 1 else 0
           end)::BIGINT as n_nan,
       round(min(norm), 6) as min_norm, round(max(norm), 6) as max_norm,
       round(cast(sum(cast(norm as decimal(28,12))) as double)
             / count(*)::DOUBLE, 6) as mean_norm
from d group by label
"""


def q_embedding_quantize_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization QA (operators/similarity.quantize_qa): per-vector
    affine scale + reconstruction-error bound — the gate that decides
    which embedding shards may ship quantized. Pure map-side array
    expressions; mn/mx/scale staged as columns before any lambda touches
    them (the lambda-capture re-inline lesson)."""
    from ..operators.similarity import quantize_qa

    return quantize_qa(_t(spark, sf_dir, "embeddings"))


def _sql_embedding_quantize_qa() -> str:
    from ..operators.similarity import quantize_qa_sql

    return quantize_qa_sql("select vec_id, embedding from embeddings")


def q_mm_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunk planning (operators/multimodal.plan_audio_chunks):
    Whisper-style overlapped windows (2 s win / 1.5 s hop) planned from
    asset metadata only — pure JVM sequence-explode; the byte-level
    decode stays behind the documented multimodal stub."""
    docs = _t(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    return multimodal.plan_audio_chunks(assets)


SQL_MM_AUDIO_CHUNKS = """
with a as (
  select doc_id as asset_id, length(text)::BIGINT * 10 as dur
  from documents where doc_id % 3 = 1
), n as (
  select asset_id, dur,
         case when dur <= 2000 then 1
              else 1 + (dur - 2000 + 1499) // 1500 end as n_chunks
  from a
), c as (
  select asset_id, dur, unnest(range(n_chunks)) as chunk_idx from n
)
select asset_id, chunk_idx::BIGINT as chunk_idx,
       (chunk_idx * 1500)::BIGINT as start_ms,
       least(chunk_idx * 1500 + 2000, dur)::BIGINT as end_ms
from c
"""


def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm + distance to the global centroid
    (operators/similarity.centroid_drift) — the per-ingest-batch
    domain-shift monitor. Decimal-exact per-dim sums, global centroid
    derived from the per-label sums (no second corpus scan), index-ordered
    double folds + sqrt, floor truncation."""
    from ..operators.similarity import centroid_drift

    return centroid_drift(_t(spark, sf_dir, "embeddings"))


def _sql_embedding_centroid_drift() -> str:
    from ..operators.similarity import SQL_CENTROID_DRIFT

    return SQL_CENTROID_DRIFT


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA (operators/similarity.dim_stats): dead
    dims, clipped ranges, zero-inflation, decimal-exact means. One
    posexplode + one groupBy(pos); output is dim rows at any corpus
    size."""
    from ..operators.similarity import dim_stats

    return dim_stats(_t(spark, sf_dir, "embeddings"))


def _sql_embedding_dim_stats() -> str:
    from ..operators.similarity import SQL_DIM_STATS

    return SQL_DIM_STATS


def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction + eigenvalue of the embedding Gram matrix
    (operators/similarity.pca_power, 2 power iterations) — the
    representation-collapse monitor. Decimal-exact per-dim sums,
    index-ordered folds, sqrt + floor truncation; each iteration's
    one-row v is localCheckpoint()ed so no corpus aggregation is ever
    re-embedded."""
    return similarity.pca_power(_t(spark, sf_dir, "embeddings"))


def _sql_embedding_pca_power() -> str:
    return similarity.pca_power_sql(
        "select embedding::DOUBLE[] as e from embeddings"
    )


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@5 gate (operators/similarity.recall_eval): LSH top-k vs
    the exact brute-force answer on the same 16-query sample — the
    regression alarm for plane/band/bucket-cap changes. Composes the two
    existing rankers; overlap is an equi-join on (query_id, cand_id)."""
    return similarity.recall_eval(_t(spark, sf_dir, "embeddings"))


SQL_ANN_RECALL_EVAL = f"""
with b as ({SQL_ANN_BRUTE_TOPK}),
l as ({SQL_ANN_LSH_TOPK}),
nb as (select query_id, count(*)::BIGINT as n_brute from b group by 1),
nl as (select query_id, count(*)::BIGINT as n_lsh from l group by 1),
nh as (
  select b.query_id, count(*)::BIGINT as n_hit
  from b join l on b.query_id = l.query_id and b.cand_id = l.cand_id
  group by 1
)
select nb.query_id, nb.n_brute,
       coalesce(nl.n_lsh, 0)::BIGINT as n_lsh,
       coalesce(nh.n_hit, 0)::BIGINT as n_hit,
       floor((coalesce(nh.n_hit, 0)::DOUBLE / nb.n_brute::DOUBLE) * 1000000.0)
         / 1000000.0 as recall
from nb left join nl on nb.query_id = nl.query_id
        left join nh on nb.query_id = nh.query_id
"""


def q_mm_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image tile-grid planning (operators/multimodal.plan_image_tiles):
    64 px row-major tiles with border clipping, planned from metadata
    only — the ViT-patch companion of mm_audio_chunks; one pure-JVM
    sequence-explode, decode stays behind the multimodal stub."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.plan_image_tiles(multimodal.assets_from_documents(docs))


SQL_MM_IMAGE_TILES = """
with a as (
  select doc_id as asset_id, length(text)::BIGINT as sl
  from documents where doc_id % 3 = 0
), d as (
  select asset_id, (sl % 613 + 32)::BIGINT as w,
         ((sl * 7) % 487 + 32)::BIGINT as h
  from a
), n as (
  select asset_id, w, h,
         ((w + 63) // 64)::BIGINT as nx, ((h + 63) // 64)::BIGINT as ny
  from d
), t as (
  select asset_id, w, h, nx, unnest(range(nx * ny)) as tile_idx from n
)
select asset_id, tile_idx::BIGINT as tile_idx,
       ((tile_idx % nx) * 64)::BIGINT as x0,
       ((tile_idx // nx) * 64)::BIGINT as y0,
       least((tile_idx % nx) * 64 + 64, w)::BIGINT as x1,
       least((tile_idx // nx) * 64 + 64, h)::BIGINT as y1
from t
"""


def q_embedding_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-QA cross-check — per IVF cell: population, majority
    source label and purity_ppm. High purity means the quantizer's
    geometry recovers the labeling (cells ~ topics, safe to use for
    SemDeDup-style within-cell dedup); purity near the label prior means
    the embedding space ignores the labels — re-embed before trusting
    semantic dedup. Same quantizer as ann_ivf_topk / ann_ivf_cell_balance
    (shared CTE chain in the oracle); the per-cell argmax is a
    max(struct(n, -label)) groupBy with the (n desc, label asc)
    tie-break, never a per-vector window."""
    v = _t(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(v)
    assign = similarity.ivf_assign(v, cents=cents, probe=1)
    lab = v.select("vec_id", F.col("label").cast("long").alias("label"))
    cl = assign.join(lab, "vec_id").groupBy("cell", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    agg = cl.groupBy("cell").agg(
        F.sum("n").cast("long").alias("n_vectors"),
        F.max(F.struct(F.col("n"), (-F.col("label")).alias("negl"))).alias("b"),
    )
    return agg.select(
        F.col("cell").cast("long").alias("cell"),
        "n_vectors",
        (-F.col("b.negl")).cast("long").alias("majority_label"),
        F.col("b.n").cast("long").alias("majority_n"),
        F.expr("(b.n * 1000000) div n_vectors").cast("long").alias("purity_ppm"),
    )


SQL_EMBEDDING_CLUSTER_PURITY = f"""
with {_SQL_IVF_STORAGE_CTES},
cl as (
  select s.cell, e.label::BIGINT as label, count(*)::BIGINT as n
  from storage s join embeddings e on e.vec_id = s.vec_id
  group by 1, 2
),
rk as (
  select cell, label, n,
         sum(n) over (partition by cell)::BIGINT as n_vectors,
         row_number() over (partition by cell order by n desc, label asc) as r
  from cl
)
select cell::BIGINT as cell, n_vectors, label as majority_label,
       n as majority_n,
       ((n * 1000000) // n_vectors)::BIGINT as purity_ppm
from rk where r = 1
"""


def q_ann_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit — per-cell population, share and hot flag
    (n_vectors * n_cells > 2 * total) for the same quantizer ann_ivf_topk
    searches: a cell hoarding a multiple of the fair share makes probes
    scan-heavy (recall@probe collapses onto that cell), empty-ish cells
    waste the quantizer's budget — the number to watch before re-running
    Lloyd with more centroids. Spark side reuses operators/similarity
    ivf_centroids+ivf_assign (probe=1 argmax groupBy, no window); the
    oracle reuses the shared quantizer CTE chain, so index and audit can
    never disagree about cell membership. The single-row total attaches
    via the accepted 1-row broadcast."""
    v = _t(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(v)
    assign = similarity.ivf_assign(v, cents=cents, probe=1)
    per = assign.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("__n_cells"),
        F.sum("n_vectors").cast("long").alias("__total"),
    )
    out = per.crossJoin(F.broadcast(tot))
    return out.select(
        F.col("cell").cast("long").alias("cell"),
        "n_vectors",
        F.expr("(n_vectors * 1000000) div __total").cast("long").alias("share_ppm"),
        (F.col("n_vectors") * F.col("__n_cells") > F.lit(2) * F.col("__total")).alias(
            "is_hot"
        ),
    )


SQL_ANN_IVF_CELL_BALANCE = f"""
with {_SQL_IVF_STORAGE_CTES},
per as (select cell, count(*)::BIGINT as n_vectors from storage group by cell),
tot as (select count(*)::BIGINT as n_cells, sum(n_vectors)::BIGINT as total
        from per)
select cell::BIGINT as cell, n_vectors,
       ((n_vectors * 1000000) // total)::BIGINT as share_ppm,
       n_vectors * n_cells > 2 * total as is_hot
from per cross join tot
"""


#: planted perceptual-hash fixture: assets in groups of 4 (group =
#: (doc_id - doc_id%4)/4); member 0 carries the group's base fingerprint,
#: member m flips ONE bit in band m-1 — every in-group pair sits at
#: Hamming <= 2, cross-group pairs are md5-random (~32) and fail the
#: exact verify even when a 16-bit band collides
_PHASH_GROUP = "cast((doc_id - doc_id % 4) / 4 as bigint)"


def _phash_spark_band(b: int) -> str:
    base = (
        f"cast(conv(substr(md5(concat('ph', cast({_PHASH_GROUP} as string),"
        f" '|', '{b}')), 1, 4), 16, 10) as bigint)"
    )
    flip = (
        f"(case when doc_id % 4 = {b + 1} then cast({1 << ((3 * (b + 1)) % 16)}"
        f" as bigint) else cast(0 as bigint) end)"
    )
    return f"({base} ^ {flip})"


def _phash_duck_band(b: int) -> str:
    base = (
        f"('0x' || substr(md5('ph' || cast({_PHASH_GROUP} as varchar(30))"
        f" || '|' || '{b}'), 1, 4))::BIGINT"
    )
    flip = (
        f"(case when doc_id % 4 = {b + 1} then {1 << ((3 * (b + 1)) % 16)}"
        f" else 0 end)"
    )
    return f"xor({base}, {flip})"


def q_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup (operators/dedup.banded_hamming_pairs):
    near-duplicate asset pairs under Hamming <= 3 over a 64-bit pHash,
    banded 4 x 16 bits — the multimodal sibling of dedup_simhash (same
    pigeonhole guarantee, hot-bucket cap and persisted band table; the
    banding engine is fingerprint-agnostic). The pixel-level pHash decode
    itself is the documented multimodal stub (no image libs in this
    container): the fixture emits deterministic planted fingerprints with
    in-group bit flips, so candidate generation, bucket capping and the
    exact bit_count verify all run for real."""
    docs = _t(spark, sf_dir, "documents")
    wide = docs.select(
        F.col("doc_id").alias("asset_id"),
        *[F.expr(_phash_spark_band(b)).alias(f"b{b}") for b in range(4)],
    )
    return dedup.banded_hamming_pairs(wide, id_col="asset_id")


def _sql_mm_phash_dedup() -> str:
    bands = ", ".join(f"{_phash_duck_band(b)} as b{b}" for b in range(4))
    return dedup.banded_hamming_pairs_sql(
        f"select doc_id as asset_id, {bands} from documents",
        id_col="asset_id",
    )


def q_embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers (operators/similarity.outlier_topk):
    the k vectors farthest from their label centroid — the re-inspection
    queue for mislabeled docs and encoder failures. Exact decimal-mean
    centroids (n_labels broadcast rows), TWO-PHASE top-k (per-partition
    prune then final rank) so no task ever holds a label's full set."""
    from ..operators.similarity import outlier_topk

    return outlier_topk(_t(spark, sf_dir, "embeddings"))


def _sql_embedding_outlier_topk() -> str:
    from ..operators.similarity import outlier_topk_sql

    return outlier_topk_sql("select vec_id, label, embedding from embeddings")


def q_embedding_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean pairwise cosine WITHOUT the pair join
    (operators/similarity.pairwise_diversity): the sum-vector identity
    makes diversity an O(n*d) semilattice of per-dim decimal sums — the
    n^2 formulation this replaces is the textbook scale-killer."""
    from ..operators.similarity import pairwise_diversity

    return pairwise_diversity(_t(spark, sf_dir, "embeddings"))


def _sql_embedding_diversity() -> str:
    from ..operators.similarity import pairwise_diversity_sql

    return pairwise_diversity_sql("select label, embedding from embeddings")


#: synthetic IVF-ish cell histogram: 61 cells with power-law-ish sizes
#: (cell hit count varies with the multiplier orbit) — the shard-plan
#: input is always a (cell, n) rollup, one row per cell
_SHARD_CELLS_CTE = (
    "select (vec_id * 7919) % 61 as cell, count(*) as n"
    " from embeddings group by 1"
)


def q_ann_index_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index shard plan (operators/similarity.index_shard_plan):
    cells ranked by size dealt round-robin over 8 shards, per-shard
    loads + global imbalance ppm. The ranking window runs over the
    bounded CELL table (nlist rows), never the corpus."""
    from ..operators.similarity import index_shard_plan

    cells = (
        _t(spark, sf_dir, "embeddings")
        .groupBy(((F.col("vec_id") * 7919) % 61).alias("cell"))
        .agg(F.count("*").alias("n"))
    )
    return index_shard_plan(cells, n_shards=8)


def _sql_ann_index_shard_plan() -> str:
    from ..operators.similarity import index_shard_plan_sql

    return index_shard_plan_sql(_SHARD_CELLS_CTE, n_shards=8)


def q_mm_scene_cut_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene segmentation plan (operators/multimodal.scene_cuts):
    frame phashes change every 4 frames by construction, so cuts land
    exactly on the 4-frame scene grid; bit_count(xor) > 8 is the simhash
    verify recipe. The lag window, the running cut count and the
    per-scene groupBy share ONE shuffle on video_id."""
    from ..operators.multimodal import scene_cuts
    from ..operators.textstats import hash32_col

    videos = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 2)
        .select(
            F.col("doc_id").alias("video_id"),
            (12 + F.col("doc_id") % 9).cast("int").alias("nf"),
        )
    )
    frames = videos.select(
        "video_id",
        F.explode(F.sequence(F.lit(0), F.col("nf") - 1)).alias("frame_idx"),
    ).select(
        "video_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        hash32_col(
            F.concat(
                F.lit("v"),
                F.col("video_id").cast("string"),
                F.lit("_"),
                F.expr("cast(frame_idx div 4 as string)"),
            )
        ).alias("phash"),
    )
    return scene_cuts(frames, hamming_thr=8)


def _sql_mm_scene_cut_plan() -> str:
    from ..operators.multimodal import scene_cuts_sql

    frames_cte = """
  select video_id, frame_idx,
         ('0x' || substr(md5('v' || cast(video_id as varchar(20)) || '_'
            || cast(frame_idx // 4 as varchar(20))), 1, 8))::BIGINT as phash
  from (
    select doc_id as video_id,
           unnest(range(0, 12 + (doc_id % 9)::INT))::BIGINT as frame_idx
    from documents where doc_id % 5 = 2
  )"""
    return scene_cuts_sql(frames_cte, hamming_thr=8)


def q_embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (operators/similarity.pq_encode):
    m=4 subspaces x k=4 codes, nearest squared-L2 codebook entry per
    subvector + floor-projected reconstruction error — the compressed
    storage tier of the ANN family (brute/IVF/LSH already in-catalog).
    One explode, broadcast m*k codebook, fine-grained window."""
    from ..operators.similarity import pq_encode

    return pq_encode(_t(spark, sf_dir, "embeddings"))


def _sql_embedding_pq_encode() -> str:
    from ..operators.similarity import pq_encode_sql

    return pq_encode_sql("select vec_id, embedding from embeddings")


def q_embedding_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-sketch ANN (operators/similarity.binary_hamming_topk):
    64 sign bits in two BIGINT words, bit_count(xor) Hamming prefilter,
    exact-cosine rerank of the 8 survivors — the 16-bytes-per-vector
    retrieval tier between LSH banding and PQ storage."""
    from ..operators.similarity import binary_hamming_topk

    return binary_hamming_topk(_t(spark, sf_dir, "embeddings"))


def _sql_embedding_hamming_topk() -> str:
    from ..operators.similarity import binary_hamming_topk_sql

    return binary_hamming_topk_sql()


# ---------------------------------------------------------------------------
# session-10: PQ ADC search, engagement stickiness, session concurrency peak,
# classifier calibration, BPE merge mining, WARC compaction planning
# ---------------------------------------------------------------------------


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (operators/similarity.pq_adc_topk):
    float query vs m*log2(k)-bit database codes via the classic ADC
    lookup-table sum — the query half of the PQ tier whose storage half is
    embedding_pq_encode. Bounded broadcast LUT, fixed-order per-row double
    distance sum (bit-identical cross-engine), two-phase top-k."""
    from ..operators.similarity import pq_adc_topk

    return pq_adc_topk(_t(spark, sf_dir, "embeddings"))


def _sql_ann_pq_adc_topk() -> str:
    from ..operators.similarity import pq_adc_topk_sql

    return pq_adc_topk_sql("select vec_id, embedding from embeddings")


def q_mm_modality_mix_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal dataset card: per modality (the image/audio/video cycle
    of multimodal.assets_from_documents) — asset count, payload bytes,
    byte share and mean asset size. The one-table summary a multimodal
    training mix quotes next to its text card. One
    groupBy; the share window runs over 3 rows; integer ppm and
    integer-division means."""
    from ..operators.multimodal import assets_from_documents

    assets = assets_from_documents(_t(spark, sf_dir, "documents"))
    agg = assets.groupBy("kind").agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum("src_len").cast("long").alias("total_bytes"),
    )
    wt = Window.partitionBy()
    return agg.withColumn("__tot", F.sum("total_bytes").over(wt)).selectExpr(
        "kind",
        "n_assets",
        "total_bytes",
        "cast(total_bytes div n_assets as bigint) as mean_bytes",
        "cast((total_bytes * cast(1000000 as bigint)) div __tot as bigint)"
        " as byte_share_ppm",
    )


SQL_MM_MODALITY_MIX_CARD = """
with a as (
  select (case doc_id % 3 when 0 then 'image' when 1 then 'audio'
          else 'video' end) as kind,
         length(text)::BIGINT as src_len
  from documents
),
agg as (
  select kind, count(*)::BIGINT as n_assets, sum(src_len)::BIGINT
           as total_bytes
  from a group by kind
)
select kind, n_assets, total_bytes,
       (total_bytes // n_assets)::BIGINT as mean_bytes,
       ((total_bytes * 1000000) // (sum(total_bytes) over ()))::BIGINT
         as byte_share_ppm
from agg
"""


#: global frame budget for the sqrt-weighted allocation
_FRAME_BUDGET = 10000


def q_mm_frame_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling budget allocation across videos: frames per asset
    proportional to sqrt(duration) under a global budget — the τ=2
    temperature-mix recipe applied to the video
    tier, so long videos don't monopolize the decode budget and shorts
    aren't starved. sqrt is IEEE-correctly-rounded (bit-stable); the
    normalizer sums sqrt terms as DECIMAL(28,12) (exact, associative);
    the per-asset allocation is floor-projected. Videos are the
    assets_from_documents kind cycle (doc_id % 3 == 2)."""
    docs = _t(spark, sf_dir, "documents")
    vids = docs.filter(F.col("doc_id") % 3 == 2).selectExpr(
        "doc_id as asset_id",
        "cast(length(text) as bigint) * 10 as dur_ms",
    )
    z = vids.agg(
        F.sum(F.expr("cast(sqrt(dur_ms) as decimal(28,12))"))
        .cast("double")
        .alias("z")
    )
    return vids.crossJoin(F.broadcast(z)).selectExpr(
        "asset_id",
        "dur_ms",
        f"cast(floor(sqrt(dur_ms) / z * {_FRAME_BUDGET}.0) as bigint)"
        " as n_frames",
    )


SQL_MM_FRAME_BUDGET_PLAN = f"""
with vids as (
  select doc_id as asset_id, length(text)::BIGINT * 10 as dur_ms
  from documents where doc_id % 3 = 2
),
z as (
  select sum(cast(sqrt(dur_ms) as decimal(28,12)))::DOUBLE as z from vids
)
select asset_id, dur_ms,
       cast(floor(sqrt(dur_ms) / z * {_FRAME_BUDGET}.0) as bigint)
         as n_frames
from vids cross join z
"""


#: quantization level grid: levels = 2^bits - 1 for bits in {{2,4,8}}
_QSWEEP_LEVELS = (3, 15, 255)
#: absolute reconstruction tolerance for the "ships as-is" gate
_QSWEEP_TOL = 0.01


def q_embedding_quantization_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization bit-width sweep: the embedding_quantize_qa affine
    recon-error analysis at 2/4/8 bits in ONE pass — per level count of
    vectors within the ship tolerance and total coarse elements, the
    tuning curve that picks the narrowest width the corpus tolerates.
    Same clamp/floor arithmetic as quantize_qa (per-element doubles,
    bit-identical across engines); mn/mx/scale staged as COLUMNS before
    any lambda touches them (lambda-capture re-inline lesson), and the
    3-point level grid explodes AFTER the per-vector min/max so the
    array scan runs once per vector, not once per level."""
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    s = v.select(
        "vec_id",
        "e",
        F.array_min("e").alias("mn"),
        F.array_max("e").alias("mx"),
    )
    grid = s.select(
        "vec_id",
        "e",
        "mn",
        "mx",
        F.explode(
            F.array(*[F.lit(v_).cast("double") for v_ in _QSWEEP_LEVELS])
        ).alias("lv"),
    ).withColumn(
        "qscale",
        F.when(
            F.col("mx") > F.col("mn"), (F.col("mx") - F.col("mn")) / F.col("lv")
        ).otherwise(F.lit(1.0)),
    )
    mn, qs, lv = F.col("mn"), F.col("qscale"), F.col("lv")
    dq = lambda x: mn + F.least(  # noqa: E731
        lv, F.greatest(F.lit(0.0), F.floor((x - mn) / qs + F.lit(0.5)))
    ) * qs
    w = grid.withColumn(
        "errs", F.transform(F.col("e"), lambda x: F.abs(x - dq(x)))
    )
    per = w.select(
        "lv",
        F.array_max("errs").alias("maxe"),
        F.size(
            F.filter("errs", lambda er: er > qs * F.lit(0.375))
        ).cast("long").alias("n_coarse"),
    )
    agg = per.groupBy("lv").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("n_coarse").cast("long").alias("coarse_elems"),
        F.sum(
            F.expr(f"case when maxe <= {_QSWEEP_TOL} then 1 else 0 end")
        ).cast("long").alias("n_within_tol"),
    )
    return agg.selectExpr(
        "cast(lv as bigint) as levels",
        "n_vectors",
        "coarse_elems",
        "n_within_tol",
        "cast((n_within_tol * cast(1000000 as bigint)) div n_vectors"
        " as bigint) as tol_ok_ppm",
    )


SQL_EMBEDDING_QUANTIZATION_SWEEP = f"""
with v as (select vec_id, embedding::DOUBLE[] as e from embeddings),
s as (
  select vec_id, e, list_min(e) as mn, list_max(e) as mx from v
),
grid as (
  select vec_id, e, mn, mx,
         unnest([{", ".join(f"{v_}.0" for v_ in _QSWEEP_LEVELS)}]) as lv
  from s
),
g2 as (
  select vec_id, e, mn, lv,
         case when mx > mn then (mx - mn) / lv else 1.0 end as qscale
  from grid
),
w as (
  select lv, qscale,
         list_transform(e, x -> abs(x - (mn + least(lv, greatest(0.0,
           floor((x - mn) / qscale + 0.5))) * qscale))) as errs
  from g2
),
per as (
  select lv, list_max(errs) as maxe,
         len(list_filter(errs, er -> er > qscale * 0.375))::BIGINT
           as n_coarse
  from w
),
agg as (
  select lv, count(*)::BIGINT as n_vectors,
         sum(n_coarse)::BIGINT as coarse_elems,
         sum(case when maxe <= {_QSWEEP_TOL} then 1 else 0 end)::BIGINT
           as n_within_tol
  from per group by lv
)
select lv::BIGINT as levels, n_vectors, coarse_elems, n_within_tol,
       ((n_within_tol * 1000000) // n_vectors)::BIGINT as tol_ok_ppm
from agg
"""


#: matryoshka prefix widths audited against the 64-d embeddings
_MRL_PREFIXES = (8, 16, 32)


def q_embedding_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) prefix-energy curve: what fraction of each
    embedding's squared norm survives truncation to the first 8/16/32
    of 64 dims — the table that decides which prefix width a
    cheap-tier ANN index can ship (energy ratio = cos² between the
    full vector and its zero-padded prefix). Per-row folds are
    index-ordered `aggregate` with 0.0 init (== DuckDB's no-init
    list_reduce — summands non-negative, the centroid-drift lesson);
    per-prefix means go through DECIMAL(28,12) sums; mins are exact
    integer ppm. The prefix grid explodes AFTER the one total-energy
    fold so the full-array scan runs once per vector."""
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    tot = v.selectExpr(
        "vec_id",
        "e",
        "aggregate(transform(e, x -> x * x), cast(0 as double),"
        " (a, x) -> a + x) as tot_sq",
    )
    grid = tot.select(
        "vec_id",
        "e",
        "tot_sq",
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in _MRL_PREFIXES])
        ).alias("p"),
    )
    en = grid.selectExpr(
        "p",
        "cast(floor(aggregate(transform(slice(e, 1, cast(p as int)),"
        " x -> x * x), cast(0 as double), (a, x) -> a + x) / tot_sq"
        " * cast(1000000 as double)) as bigint) as energy_ppm",
    )
    return en.groupBy("p").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.expr(
            "cast(sum(cast(energy_ppm as decimal(28,12))) as bigint)"
            " div count(*)"
        ).cast("long").alias("mean_energy_ppm"),
        F.min("energy_ppm").cast("long").alias("min_energy_ppm"),
    )


SQL_EMBEDDING_MATRYOSHKA_ENERGY = f"""
with v as (select vec_id, embedding::DOUBLE[] as e from embeddings),
tot as (
  select vec_id, e,
         list_reduce(list_transform(e, x -> x * x), (a, x) -> a + x)
           as tot_sq
  from v
),
grid as (
  select vec_id, e, tot_sq,
         unnest([{", ".join(str(p) for p in _MRL_PREFIXES)}]::BIGINT[]) as p
  from tot
),
en as (
  select p,
         cast(floor(list_reduce(list_transform(e[1:p], x -> x * x),
           (a, x) -> a + x) / tot_sq * cast(1000000 as double)) as bigint)
           as energy_ppm
  from grid
)
select p, count(*)::BIGINT as n_vectors,
       (cast(sum(cast(energy_ppm as decimal(28,12))) as bigint)
        // count(*))::BIGINT as mean_energy_ppm,
       min(energy_ppm)::BIGINT as min_energy_ppm
from en group by p
"""


#: per-route CPU cost in ms per KiB of payload
_ROUTE_COST = {
    "application/pdf": ("ocr_extract", 50),
    "text/html": ("dom_extract", 5),
    "application/xml": ("xml_extract", 3),
    "audio/x-wav": ("asr_stub", 100),
    "audio/ogg": ("asr_stub", 100),
    "image/gif": ("vision_stub", 40),
    "text/plain": ("passthrough", 1),
}


def q_mm_extract_route_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction routing plan over the sniffed MIME mix: each payload
    class routes to its pipeline (OCR for PDF, DOM for HTML, ASR stub
    for audio — the decode stages are stubbed per the container
    constraint, the ROUTING economics are real) with a per-KiB CPU
    coefficient; the per-route CPU ledger is what sizes the extract
    fleet. Reuses mime_sniff's per-doc rows, one bounded groupBy."""
    sniffed = q_mime_sniff(spark, sf_dir)
    route = " ".join(
        f"when mime = '{m}' then '{r}'" for m, (r, _c) in _ROUTE_COST.items()
    )
    coeff = " ".join(
        f"when mime = '{m}' then {c}" for m, (_r, c) in _ROUTE_COST.items()
    )
    per = sniffed.selectExpr(
        "mime",
        f"case {route} else 'quarantine' end as route",
        "n_bytes",
        f"cast((n_bytes div 1024 + 1) * case {coeff} else 0 end as bigint)"
        " as est_cpu_ms",
    )
    return per.groupBy("mime", "route").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("bytes_total"),
        F.sum("est_cpu_ms").cast("long").alias("cpu_ms_total"),
    )


def _sql_mm_extract_route_plan() -> str:
    route = " ".join(
        f"when mime = '{m}' then '{r}'" for m, (r, _c) in _ROUTE_COST.items()
    )
    coeff = " ".join(
        f"when mime = '{m}' then {c}" for m, (_r, c) in _ROUTE_COST.items()
    )
    return f"""
with sniffed as ({SQL_MIME_SNIFF}),
per as (
  select mime,
         case {route} else 'quarantine' end as route,
         n_bytes,
         ((n_bytes // 1024 + 1) * case {coeff} else 0 end)::BIGINT
           as est_cpu_ms
  from sniffed
)
select mime, route, count(*)::BIGINT as n_docs,
       sum(n_bytes)::BIGINT as bytes_total,
       sum(est_cpu_ms)::BIGINT as cpu_ms_total
from per group by mime, route
"""


# --- session-49: label ANOVA, queue wait, nearest snapshot ------------------


def q_embedding_label_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of embedding ENERGY (squared norm — sqrt-free by
    construction) across labels: the F-statistic that says whether the
    label structure explains vector magnitude at all — completing the
    catalog's exact-moment statistics family (Pearson, kappa, χ²,
    Welch z). Per-row energies are index-ordered folds; group and
    global moments accumulate as DECIMAL(28,12) (exact, associative);
    the F formula is per-value double arithmetic over those exact
    sums, floor-projected to milli-units. ONE row; two bounded
    groupBys."""
    v = _t(spark, sf_dir, "embeddings").selectExpr(
        "label",
        "aggregate(transform(cast(embedding as array<double>), x -> x * x),"
        " cast(0 as double), (a, x) -> a + x) as x",
    )
    g = v.groupBy("label").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(F.expr("cast(x as decimal(28,12))")).alias("s_g"),
    )
    tot = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr("cast(x as decimal(28,12))")).alias("s"),
        F.sum(F.expr("cast(x * x as decimal(28,12))")).alias("ss"),
    )
    between = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(
            F.expr(
                "cast(cast(s_g as double) * cast(s_g as double)"
                " / cast(n_g as double) as decimal(28,12))"
            )
        ).alias("sb_raw"),
    )
    return between.crossJoin(F.broadcast(tot)).selectExpr(
        "k",
        "n",
        "cast(floor((cast(sb_raw as double) - cast(s as double)"
        " * cast(s as double) / cast(n as double))"
        " / cast(k - 1 as double)"
        " / ((cast(ss as double) - cast(sb_raw as double))"
        " / cast(n - k as double)) * cast(1000 as double)) as bigint)"
        " as f_stat_milli",
    )


SQL_EMBEDDING_LABEL_ANOVA = """
with v as (
  select label,
         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
           (a, x) -> a + x) as x
  from embeddings
),
g as (
  select label, count(*)::BIGINT as n_g,
         sum(cast(x as decimal(28,12))) as s_g
  from v group by label
),
tot as (
  select count(*)::BIGINT as n, sum(cast(x as decimal(28,12))) as s,
         sum(cast(x * x as decimal(28,12))) as ss
  from v
),
between_g as (
  select count(*)::BIGINT as k,
         sum(cast(cast(s_g as double) * cast(s_g as double)
             / cast(n_g as double) as decimal(28,12))) as sb_raw
  from g
)
select k, n,
       cast(floor((cast(sb_raw as double) - cast(s as double)
         * cast(s as double) / cast(n as double))
         / cast(k - 1 as double)
         / ((cast(ss as double) - cast(sb_raw as double))
            / cast(n - k as double)) * cast(1000 as double)) as bigint)
         as f_stat_milli
from between_g cross join tot
"""
