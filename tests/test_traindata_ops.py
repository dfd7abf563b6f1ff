"""Training-data pipeline operators: dedup family, similarity search, text
stats, multimodal plumbing — plus a sampled catalog-vs-DuckDB oracle gate
(the same comparison the driver runs at sf0.01, here at sf0.001 on a fast
subset; scripts/check_oracle.py covers the full catalog)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from openreviewcrawler_spark.operators import dedup, multimodal, similarity
from openreviewcrawler_spark.operators.textstats import (
    fingerprint_cols,
    lang_id_col,
    tokens_col,
)

DOCS = [
    # (doc_id, text, lang)
    (0, "the quick brown fox jumps over the lazy dog again and again today", "en"),
    (1, "the quick brown fox jumps over the lazy dog again and again today", "en"),  # exact dup of 0
    (2, "quick brown fox jumps over the lazy dog again and again today", "en"),  # near dup (first token dropped)
    (3, "completely different content about spark shuffles and partitions here", "en"),
    (4, "der hund und die katze und das pferd sind nicht da heute", "de"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def test_dedup_exact_groups(corpus):
    g = (
        corpus.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n"))
        .filter("n > 1")
        .collect()
    )
    assert len(g) == 1 and g[0]["keeper"] == 0 and g[0]["n"] == 2


def test_minhash_lsh_finds_exact_and_near_dups(corpus):
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(corpus).collect()}
    assert (0, 1) in pairs  # exact dup shares all bands
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup shares >=1 band
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_signature_identical_for_exact_dup(corpus):
    sig = {r["doc_id"]: tuple(r[f"mh{j}"] for j in range(dedup.N_MINHASH))
           for r in dedup.minhash_signatures(corpus).collect()}
    assert sig[0] == sig[1]
    # near dup agrees on most hashes (shares most shingles)
    agree = sum(a == b for a, b in zip(sig[0], sig[2]))
    assert agree >= dedup.N_MINHASH // 2


def test_simhash_near_pairs(corpus):
    # max_hamming=64 keeps every banded CANDIDATE: band blocking itself must
    # pair duplicates and near-dups but never unrelated docs.
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_near_pairs(corpus, max_hamming=dedup.SIMHASH_BITS).collect()}
    assert pairs[(0, 1)] == 0  # identical text -> identical 64-bit signature
    assert 0 < pairs[(0, 2)] <= 16  # near dup -> small hamming, shares a band
    assert (0, 3) not in pairs  # unrelated doc shares no 16-bit band
    assert (0, 4) not in pairs
    # default threshold (Hamming <= 3, the standard 64-bit near-dup setting)
    strict = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_near_pairs(corpus).collect()}
    assert (0, 1) in strict


def test_ngram_jaccard_exact(corpus):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.0).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs  # no shared shingles at all


def test_embedding_near_dups_and_ann(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),      # exact dup of 0
        (2, [0.9, 0.1, 0.0, 0.0], 0),      # near
        (3, [0.0, 1.0, 0.0, 0.0], 0),      # orthogonal
        (4, [0.0, 0.0, 1.0, 0.0], 1),      # other cell
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    near = {(r["vec_a"], r["vec_b"]) for r in dedup.embedding_near_pairs(df, 0.95).collect()}
    assert (0, 1) in near and (0, 3) not in near

    top = similarity.brute_topk(df, n_queries=1, k=2).collect()
    assert [r["cand_id"] for r in sorted(top, key=lambda r: r["rank"])] == [1, 2]

    ivf = similarity.ivf_topk(df, n_queries=1, k=4).collect()
    assert all(r["cand_id"] != 4 for r in ivf)  # other cell never probed

    sig = {r["vec_id"]: r["sig"] for r in similarity.lsh_signatures(df).collect()}
    assert sig[0] == sig[1]  # identical vectors -> identical signature

    # LSH retrieval answers the ANN query: the exact dup is always in a
    # shared bucket and ranks first with cos 1.0.
    lsh = similarity.ann_lsh_topk(df, n_queries=1, k=3).collect()
    first = [r for r in lsh if r["rank"] == 1]
    assert first and first[0]["cand_id"] == 1 and first[0]["cos"] == 1.0


def test_ivf_recall_against_brute_force(spark, sf_dir):
    """VERDICT r1 item 9 gate: seeded-quantizer IVF with probe=2 must agree
    with brute-force top-k on a healthy fraction of hits (it's approximate —
    cells prune candidates — but on real embeddings recall@3 should be well
    above random)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {(r["query_id"], r["cand_id"])
             for r in similarity.brute_topk(emb, n_queries=16, k=3).collect()}
    ivf = {(r["query_id"], r["cand_id"])
           for r in similarity.ivf_topk(emb, n_queries=16, k=3).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5, f"IVF recall@3 {recall:.2f} vs brute force"


def test_lsh_topk_recall_against_brute_force_on_near_dups(spark, sf_dir):
    """VERDICT r2 item 5 gate: ann_lsh_topk vs brute_topk recall@1 on a
    corpus that actually CONTAINS near-neighbors (each query gets a
    deterministic ~0.99-cos perturbed copy; random sf embeddings alone have
    no high-cos pairs, top-1 cos ~0.37). At cos ~0.99 the per-band collision
    probability is ~(1-theta/pi)^8 ~ 0.7, so 3 bands give ~0.97 expected
    recall — assert a conservative 0.8."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    near = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x * (F.lit(1.0) + F.lit(0.15) * (i == 0).cast("double")),
        ).cast("array<float>").alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(near)
    brute1 = {r["query_id"]: r["cand_id"]
              for r in similarity.brute_topk(corpus, n_queries=16, k=1).collect()}
    lsh = similarity.ann_lsh_topk(corpus, n_queries=16, k=1).collect()
    lsh1 = {r["query_id"]: r["cand_id"] for r in lsh if r["rank"] == 1}
    hits = sum(1 for q, c in brute1.items() if lsh1.get(q) == c)
    recall = hits / len(brute1)
    assert recall >= 0.8, f"LSH recall@1 {recall:.2f} vs brute force"


def test_lsh_plane_dial_parameterized_by_dim():
    """The 768-d configuration documented in lsh_band_values must be
    constructible: plane constants derive for any (plane, dim) with the
    fixture prefix preserved (a dim extension never changes existing
    components, so low-dim signatures are stable under reconfiguration)."""
    p64 = similarity.plane_components(3, 64)
    p768 = similarity.plane_components(3, 768)
    assert len(p64) == 64 and len(p768) == 768
    assert p768[:64] == p64  # prefix-stable
    assert all(-1.0 <= v < 1.0 for v in p768)
    assert similarity.plane_components(3, 768) == p768  # deterministic


def test_lsh_topk_finds_duplicates(spark, sf_dir):
    """LSH retrieval guarantee: a query with an exact duplicate in the corpus
    ALWAYS retrieves it at rank 1 / cos 1.0 (identical vector -> identical
    signature -> same bucket in every band). Random sf embeddings have no
    high-cos neighbors (top-1 cos ~0.37), so — correctly — LSH is not
    expected to reproduce brute-force results there; near-dup recall is what
    the operator promises and what's asserted."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    lsh = similarity.ann_lsh_topk(corpus, n_queries=16, k=5).collect()
    got_rank1 = {r["query_id"]: (r["cand_id"], r["cos"]) for r in lsh if r["rank"] == 1}
    for q in (0, 8):  # queries whose exact duplicate exists at q+100000
        assert got_rank1[q] == (q + 100000, 1.0), got_rank1.get(q)


def test_lang_id_and_fingerprint(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
    pred = {r["doc_id"]: r["p"] for r in df.select(
        "doc_id", lang_id_col(tokens_col(F.col("text"))).alias("p")).collect()}
    assert pred[0] == "en" and pred[4] == "de"

    fps = df.select("doc_id", *[c.alias(k) for k, c in fingerprint_cols(F.col("text")).items()])
    rows = {r["doc_id"]: (r["fp_md5"], r["fp_roll"]) for r in fps.collect()}
    assert rows[0] == rows[1]          # dup text -> same fingerprints
    assert rows[0] != rows[2]
    assert 0 <= rows[0][1] < 2147483647


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string, lang string")
    assets = multimodal.assets_from_documents(docs)
    meta = {r["asset_id"]: r for r in multimodal.decode_metadata(assets).collect()}
    for d, text, _l in DOCS:
        assert meta[d]["n_bytes"] == len(text.encode())
        assert meta[d]["width"] == len(text.encode()) % 640 + 1
        assert meta[d]["height"] == text.encode()[0] + 1
    frames = multimodal.sample_frames(assets).collect()
    vids = [d for d, _t, _l in DOCS if d % 3 == 2]
    assert {r["asset_id"] for r in frames} == set(vids)
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for aid, fr in by_asset.items():
        assert sorted(f["frame_idx"] for f in fr) == [0, 1, 2]
        n = [len(t.encode()) for d, t, _l in DOCS if d == aid][0]
        assert all(f["frame_len"] == n // 3 for f in fr)
        assert all(len(bytes(f["frame_bytes"])) == f["frame_len"] for f in fr)


# --- sampled cross-engine oracle gate ---------------------------------------

ORACLE_SUBSET = [
    "crawl_round",
    "crawl_fetch_seq",
    "dedup_minhash_lsh",
    "doc_fingerprint",
    "reply_forest",
    "label_cascade",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "dedup_simhash",
]


def _norm(v):
    # same strict full-precision comparison as scripts/check_oracle.py
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == 0.0:
            return "0.0"
        return repr(v)
    return str(v)


@pytest.mark.parametrize("name", ORACLE_SUBSET)
def test_catalog_matches_duckdb(spark, sf_dir, name):
    from openreviewcrawler_spark.catalog import CATALOG

    qd = CATALOG[name]
    sdf = qd.build(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    res = con.execute(qd.sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
    assert len(srows) == len(drows)
    s_ord = sorted(range(len(scols)), key=lambda i: scols[i])
    d_ord = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sm = sorted(tuple(_norm(r[i]) for i in s_ord) for r in srows)
    dm = sorted(tuple(_norm(r[i]) for i in d_ord) for r in drows)
    assert sm == dm


def test_connected_components_chain_and_singleton(spark):
    """A~B, B~C collapse to keeper A even though A~C was never emitted;
    isolated docs stay their own component."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)],
                                  "doc_id long")
    comp = {r["doc_id"]: r["component"]
            for r in dedup.connected_components(edges, nodes).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_deep_chain_past_fast_probes(spark):
    """A path graph of diameter 12 converges past the fast-probe phase
    (the adaptive schedule switches to 1-probe-per-3-iterations after
    iteration 4) with no warning; diameter past max_iter warns and returns
    partial labels."""
    import warnings

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(13)], "doc_id long")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any RuntimeWarning fails the test
        comp = {r["doc_id"]: r["component"]
                for r in dedup.connected_components(edges, nodes).collect()}
    assert comp == {i: 0 for i in range(13)}
    with pytest.warns(RuntimeWarning, match="fixpoint not confirmed"):
        dedup.connected_components(edges, nodes, max_iter=3).collect()


def test_stratified_sample_deterministic_rates(spark, sf_dir):
    """md5-coin sampling: reproducible decisions, per-stratum rates near
    target, disjoint salts give different (independent) samples."""
    from openreviewcrawler_spark.operators.textstats import stratified_sample_flag

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flag = stratified_sample_flag(F.col("doc_id"), F.col("lang"), {"en": 0.5})
    kept1 = {r["doc_id"] for r in docs.filter(flag).collect()}
    kept2 = {r["doc_id"] for r in docs.filter(flag).collect()}
    assert kept1 == kept2  # same coin every run
    n_en = docs.filter(F.col("lang") == "en").count()
    if n_en >= 50:
        assert 0.35 <= len(kept1) / n_en <= 0.65  # ~50% of en, 0% of rest
    assert docs.filter(flag & (F.col("lang") != "en")).count() == 0
    other = stratified_sample_flag(
        F.col("doc_id"), F.col("lang"), {"en": 0.5}, salt="samp2"
    )
    kept3 = {r["doc_id"] for r in docs.filter(other).collect()}
    assert kept3 != kept1  # independent coin under a different salt


def test_decontaminate_flags_eval_leaks(corpus, spark):
    """Doc 1 (exact copy of eval doc 0) and doc 2 (near copy) must be
    flagged; doc 3/4 (disjoint vocabulary) must not. The eval inverted
    index is broadcast — plan must show a broadcast join, never a shuffle
    of the train shingles toward the tiny eval side."""
    ev = corpus.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    train = corpus.filter(F.col("doc_id") != 0)
    out = dedup.decontaminate_ngrams(train, ev, n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2}
    # exact dup shares every shingle; the near dup all but the leading ones
    assert rows[1]["n_hit_ngrams"] > rows[2]["n_hit_ngrams"] >= 1
    assert rows[1]["n_eval_docs"] == rows[2]["n_eval_docs"] == 1


def test_repetition_cols_values(spark):
    """Hand-checked repetition signals: an all-same-token doc has
    distinct ratio 1/n and dup-bigram fraction 1 - 1/(n-1); an all-distinct
    doc scores 1.0 / 0.0; a single-token doc gets the 0.0 guard."""
    from openreviewcrawler_spark.operators.textstats import repetition_cols

    df = spark.createDataFrame(
        [(0, "spam spam spam spam"), (1, "all words here differ"), (2, "one")],
        "doc_id long, text string",
    )
    cols = repetition_cols(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[c.alias(k) for k, c in cols.items()]).collect()
    }
    assert rows[0]["distinct_token_ratio"] == 0.25
    assert rows[0]["dup_bigram_frac"] == round(1 - 1 / 3, 4)
    assert rows[1]["distinct_token_ratio"] == 1.0
    assert rows[1]["dup_bigram_frac"] == 0.0
    assert rows[2]["n_tokens"] == 1
    assert rows[2]["dup_bigram_frac"] == 0.0


def test_incremental_dedup_probes_history_only(corpus, spark):
    """New docs 1 (exact dup) and 2 (near dup) must hit history doc 0; the
    join must be a (band, bkey) EQUI-join — no cross product, no
    history x history pairs in the output."""
    old = corpus.filter(F.col("doc_id") == 0)
    new = corpus.filter(F.col("doc_id") > 0)
    out = dedup.minhash_lsh_incremental(old, new)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    rows = {(r["new_id"], r["old_id"]): r["n_bands"] for r in out.collect()}
    assert (1, 0) in rows and rows[(1, 0)] == dedup.N_BANDS  # exact dup: all bands
    assert (2, 0) in rows and rows[(2, 0)] >= 1  # near dup: >=1 band
    assert all(old_id == 0 for _, old_id in rows)


def test_lsh_768d_configuration_end_to_end(spark):
    """VERDICT r3 item 7: the documented production dial
    ``lsh_band_values(v, n_planes=96, band_bits=12, dim=768)`` must work end
    to end, not just construct: on a synthetic 768-d batch with planted
    ~0.9995-cos near-dups, the 8x12-bit band signatures compile, stay inside
    whole-stage codegen at plan level, and band-bucket retrieval finds the
    planted neighbor for >= 80% of queries (theory: p_band ~ 0.84 at this
    angle, 8 bands -> recall ~ 1)."""
    import numpy as np

    from test_plans import plan_of

    rng = np.random.default_rng(42)
    base = rng.normal(size=(40, 768))
    near = base[:10].copy()
    near[:, 0] += 0.05 * np.abs(near[:, 0])  # tiny perturbation: cos ~ 0.9995
    rows = [(int(i), "base", [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(int(1000 + i), "near", [float(x) for x in v]) for i, v in enumerate(near)]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    bands = similarity.lsh_band_values(df, n_planes=96, band_bits=12, dim=768)
    plan = plan_of(bands)
    assert "* Project" in plan  # the 96 plane-dot folds stay codegen'd
    got = bands.collect()
    assert len(got) == 50 * 8  # 8 bands per vector
    by_vec: dict[int, set] = {}
    for r in got:
        by_vec.setdefault(r["vec_id"], set()).add((r["band"], r["bval"]))
    hits = sum(1 for i in range(10) if by_vec[i] & by_vec[1000 + i])
    assert hits >= 8, f"planted-pair band recall {hits}/10"
    # distinct vectors must not all collide: buckets discriminate
    others = sum(1 for i in range(10) for j in range(20, 30) if by_vec[i] & by_vec[j])
    assert others < 20


def test_embedding_qa_counts_planted_defects(spark):
    from openreviewcrawler_spark.operators.similarity import embedding_qa

    rows = [
        (1, [3.0, 4.0], 0),          # norm 5
        (2, [0.0, 0.0], 0),          # zero vector
        (3, [1.0, float("nan")], 0), # NaN element
        (4, [2.0], 1),               # ragged: dim 1
        (5, [0.0, 2.0], 1),          # norm 2
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    by = {r["label"]: r for r in embedding_qa(df).collect()}
    a = by[0]
    assert (a["n_vectors"], a["min_dim"], a["max_dim"]) == (3, 2, 2)
    assert (a["n_zero_norm"], a["n_nan"]) == (1, 1)
    assert a["min_norm"] == 0.0  # NaN sorts greatest in Spark: min unaffected
    b = by[1]
    assert (b["n_vectors"], b["min_dim"], b["max_dim"]) == (2, 1, 2)
    assert (b["min_norm"], b["max_norm"], b["mean_norm"]) == (2.0, 2.0, 2.0)


def test_semantic_dedup_keeps_lowest_id_of_near_group(spark):
    from openreviewcrawler_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),   # exact dup of 1 -> dropped
        (3, [0.0, 1.0], 0),   # orthogonal -> kept
        (4, [0.99, 0.01], 0), # cosine vs v1 ~0.9999 -> dropped
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    by = {r["vec_id"]: r["kept"] for r in semantic_dedup(df, n_centroids=2).collect()}
    assert by[1] is True
    assert by[2] is False
    assert by[3] is True
    assert by[4] is False


def test_quantize_qa_error_bound_and_degenerate_vector(spark):
    from openreviewcrawler_spark.operators.similarity import quantize_qa

    rows = [
        (1, [0.0, 0.5, 1.0]),
        (2, [7.25, 7.25, 7.25]),          # constant: lossless via dummy scale
        (3, [-2.0 + i / 16.0 for i in range(64)]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in quantize_qa(vecs).collect()}
    # affine int8 bound: |err| <= scale/2 always
    for vid in (1, 3):
        assert out[vid]["max_abs_err"] <= out[vid]["scale"] / 2 + 1e-12
        assert out[vid]["max_abs_err"] >= 0.0
    assert out[2]["scale"] == 0.0
    assert out[2]["max_abs_err"] == 0.0
    assert out[2]["n_coarse"] == 0
    # endpoints quantize exactly, so vec 1's worst error is the midpoint's
    assert out[1]["max_abs_err"] > 0.0


def test_quantize_qa_plan_is_shuffle_free(spark, sf_dir):
    from openreviewcrawler_spark.catalog import q_embedding_quantize_qa

    plan = (
        q_embedding_quantize_qa(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_sentence_cols_boundary_counting(spark):
    from openreviewcrawler_spark.operators.textstats import sentence_cols

    rows = [(1, "One. Two! Three?"), (2, "no terminal punctuation"), (3, "..")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = sentence_cols(F.col("text"))
    out = {r["doc_id"]: r for r in
           df.select("doc_id", *[c.alias(k) for k, c in cols.items()]).collect()}
    assert out[1]["n_sentences"] == 3
    assert out[2]["n_sentences"] == 1       # punctuation-free => one sentence
    assert out[3]["n_sentences"] == 2       # pure boundaries, zero content
    assert out[3]["mean_sentence_len"] == 0.0
    # 16 chars total, 3 boundary chars -> 13/3
    assert out[1]["mean_sentence_len"] == round(13 / 3, 4)


def test_readability_counts_and_band(spark):
    from openreviewcrawler_spark.operators.textstats import readability_cols

    df = spark.createDataFrame(
        [(1, "the cat sat. it sat on a mat."), (2, "zzz qqq")],
        "doc_id long, text string",
    )
    cols = readability_cols(F.col("text"))
    out = {r["doc_id"]: r for r in df.select("doc_id", *[c.alias(k) for k, c in cols.items()]).collect()}
    r1 = out[1]
    assert r1["n_words"] == 8 and r1["n_sentences"] == 2
    # "the cat sat. it sat on a mat." vowel groups: e,a,a,i,a,o,a,a = 8
    assert r1["n_syllables"] == 8
    # short simple sentences -> very easy band
    assert r1["band"] == "very_easy"
    r2 = out[2]
    assert r2["n_sentences"] == 1 and r2["n_syllables"] == 0


def test_centroid_drift_two_labels(spark):
    import duckdb

    from openreviewcrawler_spark.operators.similarity import (
        SQL_CENTROID_DRIFT,
        centroid_drift,
    )

    rows = [
        (1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),   # label 0 centroid (1,0)
        (3, [0.0, 1.0], 1), (4, [0.0, 1.0], 1),   # label 1 centroid (0,1)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in centroid_drift(df).collect()}
    # global centroid (0.5, 0.5); drift each = sqrt(0.25+0.25)
    import math
    want_drift = math.floor(math.sqrt(0.5) * 1e6) / 1e6
    assert got[0]["n_vectors"] == 2 and got[1]["n_vectors"] == 2
    assert got[0]["drift_to_global"] == want_drift
    assert got[0]["centroid_norm"] == 1.0
    con = duckdb.connect()
    import pandas as pd

    con.register(
        "embeddings",
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]),
    )
    oracle = {r[0]: r for r in con.sql(SQL_CENTROID_DRIFT).fetchall()}
    for lbl in (0, 1):
        g = got[lbl]
        assert (g["n_vectors"], g["centroid_norm"], g["drift_to_global"]) == (
            oracle[lbl][1], oracle[lbl][2], oracle[lbl][3],
        )


def test_dim_stats_detects_dead_and_zero_dims(spark):
    import duckdb
    import pandas as pd

    from openreviewcrawler_spark.operators.similarity import (
        SQL_DIM_STATS,
        dim_stats,
    )

    rows = [
        (1, [0.5, 7.0, 0.0], 0),
        (2, [-0.25, 7.0, 1.0], 0),
        (3, [0.75, 7.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r["pos"]: r for r in dim_stats(df).collect()}
    assert got[2]["is_dead"] and got[2]["vmin"] == 7.0
    assert not got[1]["is_dead"] and got[1]["n"] == 3
    assert got[3]["n_zero"] == 2
    con = duckdb.connect()
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )
    want = {r[0]: r for r in con.sql(SQL_DIM_STATS).fetchall()}
    for pos in (1, 2, 3):
        g = got[pos]
        assert (g["n"], g["vmin"], g["vmax"], g["mean"], g["n_zero"],
                g["is_dead"]) == want[pos][1:]


def test_unicode_profile_flags_mojibake_and_controls(spark):
    from openreviewcrawler_spark.operators.textstats import (
        unicode_profile_cols,
    )

    df = spark.createDataFrame(
        [
            (1, "plain ascii text."),
            (2, "double-decoded nÃ¯ve marker"),
            (3, "bell\x07inside"),
        ],
        "doc_id long, text string",
    )
    cols = unicode_profile_cols(F.col("text"))
    out = {r["doc_id"]: r
           for r in df.select("doc_id", *[c.alias(k) for k, c in cols.items()]).collect()}
    assert out[1]["charset_flag"] == "clean" and out[1]["ascii_ratio"] == 1.0
    assert out[2]["n_mojibake"] == 1 and out[2]["charset_flag"] == "suspect"
    assert out[3]["n_control"] == 1 and out[3]["charset_flag"] == "control_chars"
    assert out[2]["n_ascii"] == out[2]["n_chars"] - 2  # Ã and ¯ both counted
