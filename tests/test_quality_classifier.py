"""Semantic gates for the substring-dup statistics and vocab induction (the
cross-engine value gate lives in scripts/check_oracle.py; these pin the
OPERATOR semantics and plan shapes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from openreviewcrawler_spark.operators.dedup import substring_dup_stats

from test_plans import plan_of


def test_substring_dup_planted_copy_is_fully_duplicated(spark):
    """A verbatim copy shares every 8-token window with its original: both
    rows must report dup_fraction 1.0, while a unique doc reports 0.0."""
    base = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in substring_dup_stats(df).collect()}
    assert rows[1].dup_fraction == 1.0
    assert rows[2].dup_fraction == 1.0
    assert rows[3].dup_fraction == 0.0
    assert rows[1].n_windows == 13  # 20 - 8 + 1 distinct windows


def test_substring_dup_partial_overlap(spark):
    """A doc sharing only a suffix has an intermediate dup fraction, and
    the short-doc rule matches shingles_df (docs under k tokens drop)."""
    a = " ".join(f"w{i}" for i in range(30))
    b = " ".join(f"y{i}" for i in range(15)) + " " + " ".join(
        f"w{i}" for i in range(22, 30)
    )
    short = "a b c"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, short)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in substring_dup_stats(df).collect()}
    assert 3 not in rows  # under k tokens: no windows
    assert rows[2].n_dup == 1  # exactly the w22..w29 window
    assert 0.0 < rows[2].dup_fraction < 1.0
    assert rows[1].n_dup == 1


def test_vocab_topk_ordering_and_coverage(spark, sf_dir):
    """rank is dense over (cnt desc, token asc); coverage is monotone
    nondecreasing and ends at the top-K corpus share (= 1.0 when the whole
    vocabulary fits inside K)."""
    from openreviewcrawler_spark.catalog import q_vocab_induct_topk

    rows = q_vocab_induct_topk(spark, sf_dir).orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    covs = [r.coverage for r in rows]
    assert all(b >= a for a, b in zip(covs, covs[1:]))
    if len(rows) < 100:  # whole vocab captured
        assert covs[-1] == 1.0


def test_vocab_topk_plan_has_no_global_sort_funnel(spark, sf_dir):
    """The top-K must be TakeOrderedAndProject (partial per-partition
    top-K), not a global Sort over the full distinct-token relation."""
    from openreviewcrawler_spark.catalog import q_vocab_induct_topk

    plan = plan_of(q_vocab_induct_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
