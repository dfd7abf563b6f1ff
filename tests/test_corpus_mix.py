"""r4 operators: paragraph dedup, bigram-LM fluency, byte-budget
admission. Semantic tests on planted data; the cross-engine
gate for the catalog entries lives in scripts/check_oracle.py."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from openreviewcrawler_spark.operators import dedup
from openreviewcrawler_spark.operators.lm import bigrams_df, fluency_scores
from openreviewcrawler_spark.operators.scheduler import bandwidth_admit


# --- paragraph dedup -------------------------------------------------------

# 25 tokens -> chunks of 20: doc 0 = [w0..w19], [w20..w24]
_25 = " ".join(f"w{i}" for i in range(25))


@pytest.fixture(scope="module")
def para_corpus(spark):
    rows = [
        (0, _25, "en"),                                  # first occurrence of both chunks
        (1, _25, "en"),                                  # exact dup: all chunks dropped
        (2, _25 + " extra tail words here", "en"),       # chunk 0 dup, chunk 1 differs
        (3, "totally unrelated short text", "en"),       # unique single chunk
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_paragraph_chunking_window(spark, para_corpus):
    ch = dedup.paragraph_chunks(para_corpus.filter("doc_id = 0")).collect()
    assert [(r.chunk_idx, len(r.chunk.split(" "))) for r in sorted(ch, key=lambda r: r.chunk_idx)] == [
        (0, 20),
        (1, 5),
    ]


def test_paragraph_dedup_first_occurrence_keep(spark, para_corpus):
    out = {r.doc_id: r for r in dedup.paragraph_dedup(para_corpus).collect()}
    assert 1 not in out                       # exact dup vanishes entirely
    assert out[0].n_kept == out[0].n_chunks == 2
    assert out[0].clean_text == _25           # reassembly preserves order
    assert out[2].n_chunks == 2 and out[2].n_kept == 1
    assert out[2].clean_text.startswith("w20")  # only the divergent tail chunk survives
    assert out[3].n_kept == 1


# --- bigram-LM fluency -----------------------------------------------------


@pytest.fixture(scope="module")
def lm_corpus(spark):
    rows = [
        (0, "a b a b a b a b", "en"),      # only transitions the corpus has seen often
        (1, "a b c d e f g h", "en"),      # each transition near-unique
        (2, "a b a b c d c d", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_bigrams_keep_multiplicity(lm_corpus):
    bg = bigrams_df(lm_corpus.filter("doc_id = 0")).collect()
    assert len(bg) == 7                     # 8 tokens -> 7 transitions, not distinct
    assert {r.bigram for r in bg} == {"a b", "b a"}
    assert all(r.w1 in ("a", "b") for r in bg)


def test_fluency_orders_like_true_nll(lm_corpus):
    """mean_p (probability domain) must rank docs the same way as the true
    bigram NLL it stands in for (ln is not cross-engine bit-stable)."""
    rows = {r.doc_id: r for r in fluency_scores(lm_corpus).collect()}
    # hand model: c2/c1 over the 3-doc corpus
    texts = {0: "a b a b a b a b", 1: "a b c d e f g h", 2: "a b a b c d c d"}
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    for t in texts.values():
        toks = t.split(" ")
        for x, y in zip(toks, toks[1:]):
            c2[(x, y)] = c2.get((x, y), 0) + 1
            c1[x] = c1.get(x, 0) + 1
    def mean_p(t):
        toks = t.split(" ")
        ps = [c2[(x, y)] / c1[x] for x, y in zip(toks, toks[1:])]
        return sum(ps) / len(ps)
    def nll(t):
        toks = t.split(" ")
        ps = [c2[(x, y)] / c1[x] for x, y in zip(toks, toks[1:])]
        return -sum(math.log(p) for p in ps) / len(ps)
    expect = {d: mean_p(t) for d, t in texts.items()}
    for d, r in rows.items():
        assert abs(r.mean_p - expect[d]) < 1e-6
    # rank agreement: higher mean_p <=> lower NLL on this data
    by_p = sorted(texts, key=lambda d: -rows[d].mean_p)
    by_nll = sorted(texts, key=lambda d: nll(texts[d]))
    assert by_p == by_nll
    # most fluent doc is bucket 1 (head), least fluent is bucket 3 (tail)
    assert rows[by_p[0]].bucket == 1 and rows[by_p[-1]].bucket == 3


# --- byte-budget admission -------------------------------------------------


def test_bandwidth_admit_prefix_by_priority(spark):
    rows = [
        # host, url, seed_index, depth, est_bytes
        ("h1", "u1", 0, 0, 500),
        ("h1", "u2", 1, 0, 400),
        ("h1", "u3", 2, 0, 300),   # cum 1200 > 1000 -> rejected
        ("h1", "u4", 3, 0, 50),    # later priority also rejected (prefix rule)
        ("h2", "u5", 0, 0, 999),
    ]
    df = spark.createDataFrame(
        rows, "host string, url string, seed_index long, depth long, est_bytes long"
    )
    adm = bandwidth_admit(df, byte_budget=1000)
    got = {(r.host, r.url): r.cum_bytes for r in adm.collect()}
    assert got == {("h1", "u1"): 500, ("h1", "u2"): 900, ("h2", "u5"): 999}
