"""Correctness checks run by the benchmark on the crawl's own outputs.

Every check returns a list of failure messages (empty = passed), so the
benchmark can count attempts and failures and still print what went wrong.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openreviewcrawler_spark.operators.robots import effective_budget_py
from openreviewcrawler_spark.oracle.crawl_oracle import crawl_oracle
from openreviewcrawler_spark.plans.crawl import CrawlConfig, run_crawl
from openreviewcrawler_spark.sources.checkpoint import SnapshotStore
from openreviewcrawler_spark.sources.fixtures import build_fixture, fixture_to_spark


def fingerprint(df: DataFrame, *cols: str) -> tuple[int, int]:
    """(row count, XOR of a 64-bit row hash): order-free table identity."""
    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()
    return int(row[0]), int(row[1] or 0)


def text_mismatches(fetched: DataFrame, pages: DataFrame) -> list[str]:
    """Extracted text must equal the generator's expected text, byte for byte."""
    expected = pages.select("url", F.col("text").alias("expected"))
    joined = fetched.select("url", "text").join(expected, "url", "left")
    bad = joined.filter(~F.col("text").eqNullSafe(F.col("expected")))
    n_bad, n = bad.count(), joined.count()
    if n == 0:
        return ["no page was fetched"]
    if n_bad:
        sample = [r["url"] for r in bad.limit(3).collect()]
        return [f"{n_bad} of {n} fetched texts differ from the expected text, e.g. {sample}"]
    return []


def order_violations(rows: list, lo: int, n_admitted: int, dense: bool) -> list[str]:
    """``rows`` of (fetch_seq, seed_index, depth, url) for one round: the
    sequence is unique, lies in ``[lo, lo + n_admitted)``, is dense when every
    admitted url is present, and follows the key (seed_index, depth, url)."""
    rows = sorted(rows, key=lambda r: r[0])
    seqs = [r[0] for r in rows]
    errors = []
    if len(set(seqs)) != len(seqs):
        errors.append("duplicate fetch_seq")
    if seqs and (seqs[0] < lo or seqs[-1] >= lo + n_admitted):
        errors.append(f"fetch_seq outside [{lo}, {lo + n_admitted})")
    if dense and seqs != list(range(lo, lo + n_admitted)):
        errors.append("fetch_seq is not dense")
    keys = [tuple(r[1:]) for r in rows]
    if any(a >= b for a, b in zip(keys, keys[1:])):
        errors.append("fetch_seq does not follow (seed_index, depth, url)")
    return errors


def budget_violations(
    per_host: list, robots_rows: list, cfg: CrawlConfig
) -> list[str]:
    """``per_host`` of (host, admitted in one round): no host over its budget."""
    rules = {r["host"]: r for r in robots_rows}
    over = []
    for host, n in per_host:
        rule = rules.get(host)
        budget = effective_budget_py(
            rule["max_per_round"] if rule else None,
            rule["crawl_delay_s"] if rule else None,
            cfg.default_budget,
            cfg.round_seconds,
        )
        if n > budget:
            over.append(f"{host}: {n} > {budget}")
    return [f"hosts over budget: {over[:3]}"] if over else []


def crawl_order_violations(
    spark: SparkSession, store: SnapshotStore, round_counts: list[dict]
) -> list[str]:
    """Ordering of every committed round, keyed through the frontier snapshot
    the round was scheduled from (time-travel read of round r-1)."""
    fetched = store.read(spark, "fetched")
    errors, lo = [], 0
    for rc in round_counts:
        rnd = rc["round"]
        frontier = store.read(spark, "frontier", round_no=rnd - 1)
        rows = (
            fetched.filter(F.col("round") == rnd)
            .join(frontier.select("url", "seed_index", "depth"), "url", "left")
            .select("fetch_seq", "seed_index", "depth", "url")
            .collect()
        )
        errors += [f"round {rnd}: {e}" for e in order_violations(rows, lo, rc["n_admitted"], False)]
        lo += rc["n_admitted"]
    return errors


def crawl_budget_violations(
    spark: SparkSession, store: SnapshotStore, robots_rows: list, cfg: CrawlConfig
) -> list[str]:
    """Fetched urls per (round, host) -- a subset of the admitted ones."""
    per = store.read(spark, "fetched").groupBy("round", "host").count().collect()
    return budget_violations([(r["host"], r["count"]) for r in per], robots_rows, cfg)


def oracle_parity(spark: SparkSession, seed: int, cfg: CrawlConfig, root: str) -> list[str]:
    """A small crawl against the single-node reference oracle: same fetch
    order, same seen set, same text as the oracle and the fixture."""
    fx = build_fixture(n_pages=200, n_hosts=30, n_seeds=25, seed=seed)
    kw = dict(max_rounds=2, default_budget=6, round_seconds=60.0, max_depth=2)
    want = crawl_oracle(
        fx.pages.to_dict("records"), fx.seeds.to_dict("records"), fx.robots.to_dict("records"), **kw
    )
    pages, seeds, robots = fixture_to_spark(spark, fx)
    small = CrawlConfig(use_bloom=cfg.use_bloom, admit_impl=cfg.admit_impl, n_salts=cfg.n_salts, **kw)
    state = run_crawl(spark, pages, seeds, robots, small, store=SnapshotStore(os.path.join(root, "oracle")))
    got = [
        (r["url"], r["fetch_seq"], r["round"], r["text"])
        for r in state.store.read(spark, "fetched").orderBy("fetch_seq").collect()
    ]
    errors = []
    if got != [(r["url"], r["fetch_seq"], r["round"], r["text"]) for r in want.fetched]:
        errors.append(f"fetched differs from the oracle ({len(got)} vs {len(want.fetched)} rows)")
    expected = dict(zip(fx.pages["url"], fx.pages["text"]))
    if any(expected[u] != t for u, _, _, t in got):
        errors.append("text differs from the fixture's expected text")
    seen = {(r["url"], r["round"]) for r in state.store.read(spark, "seen").collect()}
    if seen != set(want.seen.items()):
        errors.append("seen set differs from the oracle")
    if not got:
        errors.append("oracle crawl fetched nothing")
    return errors
