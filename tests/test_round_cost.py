"""The round's fixed-cost shape: an expansion plan with no Python step and
one anti-join, no Bloom filter before ``seen`` has keys, every Bloom
broadcast released, canonical outlinks out of the parse, and a
canonicalize UDF that survives a session restart."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark import SparkContext

import openreviewcrawler_spark.plans.crawl as crawl
from openreviewcrawler_spark.functions.htmltext import extract_batch, extract_outlinks
from openreviewcrawler_spark.functions.urls import canonicalize_url
from openreviewcrawler_spark.plans.crawl import (
    SEEN_SCHEMA,
    CrawlConfig,
    run_crawl,
    run_round,
    seeds_to_frontier,
)
from openreviewcrawler_spark.sources.checkpoint import SnapshotStore
from openreviewcrawler_spark.sources.fixtures import build_fixture, fixture_to_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CFG = dict(max_rounds=3, default_budget=6, round_seconds=60.0, max_depth=2)
PYTHON_EVAL = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas"}


@pytest.fixture(scope="module")
def fixture():
    return build_fixture(n_pages=300, n_hosts=30, n_seeds=15)


def _operators(plan):
    """Physical operators of ``plan``, looking through the adaptive wrapper
    but not into cached relations (their work is already done)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        yield from _operators(plan.executedPlan())
        return
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _operators(children.apply(i))


def _join_types(ops) -> list[str]:
    return [op.joinType().toString() for op in ops if op.nodeName().endswith("Join")]


def test_frontier_next_plan_is_jvm_only_with_one_anti_join(spark, fixture):
    pages, seeds, robots = fixture_to_spark(spark, fixture)
    frontier = seeds_to_frontier(seeds).persist()
    seen = spark.createDataFrame([("http://unrelated.example/", 1, 0)], SEEN_SCHEMA)
    r = run_round(spark, pages, frontier, seen, robots, CrawlConfig(**CFG), 1, 0)
    try:
        ops = list(_operators(r["frontier_next"]._jdf.queryExecution().executedPlan()))
        names = {op.nodeName() for op in ops}
        assert "InMemoryTableScan" in names  # the walk reached the cached inputs
        assert not names & PYTHON_EVAL, names & PYTHON_EVAL
        assert _join_types(ops) == ["LeftAnti"]
    finally:
        for df in (*r["_cached"], frontier):
            df.unpersist()


@pytest.fixture(scope="module")
def bloom_crawls(spark, fixture, tmp_path_factory):
    """The fixture crawl with the Bloom tier (recording every build_bloom
    call, round start and SparkContext broadcast) and without it."""
    pages, seeds, robots = fixture_to_spark(spark, fixture)
    events: list = []
    broadcasts: list = []
    build, round_, bcast = crawl.build_bloom, crawl.run_round, SparkContext.broadcast

    def rec_build(*a, **kw):
        events.append("build_bloom")
        return build(*a, **kw)

    def rec_round(*a, **kw):
        events.append(("round", a[6]))
        return round_(*a, **kw)

    def rec_bcast(self, value):
        b = bcast(self, value)
        broadcasts.append(b)
        return b

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crawl, "build_bloom", rec_build)
        mp.setattr(crawl, "run_round", rec_round)
        mp.setattr(SparkContext, "broadcast", rec_bcast)
        with_bloom = run_crawl(
            spark, pages, seeds, robots, CrawlConfig(use_bloom=True, **CFG),
            store=SnapshotStore(str(tmp_path_factory.mktemp("bloom"))),
        )
    without = run_crawl(
        spark, pages, seeds, robots, CrawlConfig(**CFG),
        store=SnapshotStore(str(tmp_path_factory.mktemp("exact"))),
    )
    return with_bloom, without, events, broadcasts


def test_fresh_crawl_builds_no_bloom_in_round_1(bloom_crawls):
    state, _, events, _ = bloom_crawls
    assert state.rounds_run == 3
    assert events[0] == ("round", 1)
    # every later round builds exactly one filter, right before it runs
    assert events[1:] == ["build_bloom", ("round", 2), "build_bloom", ("round", 3)]


def test_every_bloom_broadcast_is_destroyed(bloom_crawls):
    _, _, _, broadcasts = bloom_crawls
    assert len(broadcasts) == 2  # rounds 2 and 3
    for b in broadcasts:
        assert not b._jbroadcast.isValid()
        assert not os.path.exists(b._path)


def test_bloom_crawl_equals_exact_crawl(spark, bloom_crawls):
    with_bloom, without, _, _ = bloom_crawls

    def rows(state, table):
        return sorted(tuple(r) for r in state.store.read(spark, table).collect())

    for table in ("fetched", "seen", "metrics"):
        assert rows(with_bloom, table) == rows(without, table), table
    assert with_bloom.store.extra()["n_seen"] == without.store.read(spark, "seen").count()


def test_extract_batch_outlinks_are_canonical(spark, fixture):
    pages = fixture.pages[["url", "html"]].to_dict("records")
    pages.append(
        {
            "url": "http://malformed.example/",
            "html": b'<a href="/x%2%6534">r</a> <a href="HTTP://Malformed.Example:80/x%2%6534#f">a</a>',
        }
    )
    df = spark.createDataFrame(pages, "url string, html binary")
    out = extract_batch(df, schema="url string, extracted_text string, outlinks array<string>")
    got = {r["url"]: list(r["outlinks"]) for r in out.collect()}
    want = {p["url"]: [canonicalize_url(u) for u in extract_outlinks(p["html"])] for p in pages}
    assert got == want
    assert got["http://malformed.example/"] == ["/x%2%6534", "http://malformed.example/x%2e34"]


def test_canonicalize_col_survives_session_restart():
    script = textwrap.dedent(
        """
        from pyspark.sql import SparkSession, functions as F
        from openreviewcrawler_spark.functions.urls import canonicalize_col, canonicalize_url

        urls = ["HTTP://A.Example:80/%7Ex#f", "https://b.example:443", "notaurl#frag"]
        for _ in range(2):
            spark = (
                SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "1")
                .getOrCreate()
            )
            df = spark.createDataFrame([(u,) for u in urls], "url string")
            got = [r[0] for r in df.select(canonicalize_col(F.col("url"))).collect()]
            assert got == [canonicalize_url(u) for u in urls], got
            spark.stop()
        print("restart-ok")
        """
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "restart-ok" in proc.stdout
    assert "accumulator" not in proc.stderr.lower(), proc.stderr[-2000:]
