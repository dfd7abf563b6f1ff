"""Traced crawl: the round pipeline called module by module, with every
layer's result forced (persist + count) at its boundary.

The untraced benchmark calls ``plans.crawl.run_round`` / ``run_crawl``.
This module calls the same public functions those plans call, in the same
order and with the same arguments, so that each layer's wall time, row
counts, Spark jobs and CPU can be read separately. Forcing each boundary
costs extra jobs and breaks the fusion of fetch with parse; the benchmark
reports the difference against the untraced run as ``trace.overhead_s``.

The fetch, expansion and metrics plans are written out here as they are in
``plans/crawl.py``. The benchmark compares the traced crawl's output
fingerprints with the untraced crawl's, so a change to the round that this
file does not follow fails the run instead of tracing a different plan.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openreviewcrawler_spark.functions.htmltext import extract_batch
from openreviewcrawler_spark.functions.urls import canonicalize_col, host_col
from openreviewcrawler_spark.operators.ordering import assign_fetch_seq
from openreviewcrawler_spark.operators.robots import apply_robots
from openreviewcrawler_spark.operators.scheduler import admit
from openreviewcrawler_spark.operators.seen import BloomFilter, anti_join_seen, build_bloom
from openreviewcrawler_spark.plans.crawl import (
    _PARSED_SCHEMA,
    SEEN_SCHEMA,
    CrawlConfig,
    seeds_to_frontier,
)
from openreviewcrawler_spark.sources.checkpoint import SnapshotStore

from procstat import ProcTree

LAYERS = (
    "urls",
    "bloom",
    "seen",
    "robots",
    "admit",
    "ordering",
    "fetch",
    "parse",
    "expand",
    "checkpoint",
)


@dataclass
class LayerStats:
    s: float = 0.0
    cpu_s: float = 0.0
    rows_in: int = 0
    rows_out: int = 0
    jobs: int = 0


@dataclass
class Trace:
    """Per-layer totals of one traced crawl (summed over its rounds)."""

    layers: dict[str, LayerStats] = field(
        default_factory=lambda: {name: LayerStats() for name in LAYERS}
    )
    counters: dict[str, float] = field(default_factory=dict)
    skews: list[float] = field(default_factory=list)  # admit input, per round
    # layers the untraced crawl does not run (left out of the overhead)
    shadow: set[str] = field(default_factory=set)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def wall_s(self) -> float:
        return sum(st.s for name, st in self.layers.items() if name not in self.shadow)

    def metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, st in self.layers.items():
            out[f"{name}.s"] = st.s
            out[f"{name}.rows_in"] = st.rows_in
            out[f"{name}.rows_out"] = st.rows_out
            out[f"{name}.jobs"] = st.jobs
            out[f"{name}.cores_busy"] = st.cpu_s / st.s if st.s > 0 else 0.0
        c, lay = self.counters, self.layers
        out["seen.new_frac"] = lay["seen"].rows_out / max(lay["seen"].rows_in, 1)
        out["robots.denied_frac"] = c.get("robots.denied", 0) / max(lay["robots"].rows_in, 1)
        out["admit.admit_frac"] = lay["admit"].rows_out / max(lay["admit"].rows_in, 1)
        out["admit.partition_skew"] = max(self.skews, default=0.0)
        out["bloom.maybe_seen_frac"] = c.get("bloom.maybe_seen", 0) / max(
            c.get("bloom.probed", 0), 1
        )
        out["parse.html_mb"] = c.get("parse.html_bytes", 0) / 1e6
        out["checkpoint.bytes"] = c.get("checkpoint.bytes", 0)
        return out


class Tracer:
    """Runs one layer at a time inside a Spark job group and records its
    wall time, process-tree CPU and job count."""

    def __init__(self, spark: SparkSession, tree: ProcTree, trace: Trace, tag: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tree = tree
        self.trace = trace
        self.tag = tag
        self._n = 0

    def span(self, layer: str, fn):
        self._n += 1
        group = f"{self.tag}-{layer}-{self._n}"
        self.sc.setJobGroup(group, layer)
        cpu0, t0 = self.tree.cpu_s(), time.perf_counter()
        try:
            result = fn()
        finally:
            t1, cpu1 = time.perf_counter(), self.tree.cpu_s()
            self.sc.setJobGroup("untraced", "")
        st = self.trace.layers[layer]
        st.s += t1 - t0
        st.cpu_s += cpu1 - cpu0
        st.jobs += len(self.sc.statusTracker().getJobIdsForGroup(group))
        return result


def _forced(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _partition_skew(df: DataFrame, n_parts: int) -> float:
    """Largest over median partition of ``df`` hash-partitioned on host, the
    partitioning the per-host admit window shuffles to."""
    sizes = dict(
        df.groupBy(F.pmod(F.hash("host"), F.lit(n_parts)).alias("p"))
        .count()
        .collect()
    )
    counts = [sizes.get(p, 0) for p in range(n_parts)]
    return max(counts) / max(statistics.median(counts), 1)


def traced_round(
    tr: Tracer,
    pages: DataFrame,
    frontier: DataFrame,
    n_frontier: int,
    seen: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    round_no: int,
    seq_offset: int,
    store: SnapshotStore,
) -> dict:
    """One scheduling round plus its commit, layer by layer (mirrors
    ``run_round`` followed by the commit step of ``run_crawl``)."""
    spark, trace = tr.spark, tr.trace
    cached: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        cached.append(df)
        return df

    # bloom: sized and built over the seen table as run_crawl does; workloads
    # that crawl without it still build it here, as a shadow layer
    def build():
        n_seen = seen.count()
        flt = BloomFilter.sized_for(max(n_seen, 1024), cfg.bloom_fpp)
        return n_seen, build_bloom(seen, "url_hash", flt.n_bits, flt.k)

    n_seen, bloom = tr.span("bloom", build)
    hashes = np.array([r[0] for r in frontier.select("url_hash").collect()], dtype=np.int64)
    n_maybe = int(bloom.might_contain_many(hashes).sum())
    trace.layers["bloom"].rows_in += n_seen
    trace.layers["bloom"].rows_out += n_maybe
    trace.add("bloom.maybe_seen", n_maybe)
    trace.add("bloom.probed", len(hashes))

    cand, n_cand = tr.span(
        "seen",
        lambda: _forced(anti_join_seen(frontier, seen, bloom=bloom if cfg.use_bloom else None)),
    )
    keep(cand)
    trace.layers["seen"].rows_in += n_frontier
    trace.layers["seen"].rows_out += n_cand
    if n_cand == 0:
        for df in cached:
            df.unpersist()
        return {"n_candidates": 0}

    def robots_layer():
        allowed, denied = apply_robots(cand, robots, cfg.default_budget, cfg.round_seconds)
        allowed, n_allowed = _forced(allowed)
        denied, n_denied = _forced(denied)
        return allowed, n_allowed, denied, n_denied

    allowed, n_allowed, denied, n_denied = tr.span("robots", robots_layer)
    keep(allowed), keep(denied)
    trace.layers["robots"].rows_in += n_cand
    trace.layers["robots"].rows_out += n_allowed
    trace.add("robots.denied", n_denied)

    admitted, n_admitted = tr.span(
        "admit", lambda: _forced(admit(allowed, impl=cfg.admit_impl, n_salts=cfg.n_salts))
    )
    keep(admitted)
    trace.layers["admit"].rows_in += n_allowed
    trace.layers["admit"].rows_out += n_admitted
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    trace.skews.append(_partition_skew(allowed, n_parts))

    def ordering_layer():
        b = admitted.agg(
            F.sum(F.length("url")).alias("b"),
            F.min("seed_index").alias("smin"),
            F.max("seed_index").alias("smax"),
        ).first()
        lead = (int(b["smin"]), int(b["smax"])) if b["smin"] is not None else None
        stamped = assign_fetch_seq(
            admitted.drop("budget"),
            ["seed_index", "depth", "url"],
            "fetch_seq",
            offset=seq_offset,
            small_threshold=cfg.seq_small_threshold,
            known_count=n_admitted,
            lead_bounds=lead,
        )
        return int(b["b"] or 0), *_forced(stamped)

    url_bytes, stamped, n_stamped = tr.span("ordering", ordering_layer)
    keep(stamped)
    trace.layers["ordering"].rows_in += n_admitted
    trace.layers["ordering"].rows_out += n_stamped

    page_side = pages.select("url", "html", "lang", "warc_ts")
    cols = ["url", "fetch_seq", "host", "seed_index", "depth", "lang", "warc_ts", "html"]

    def fetch_layer():
        if 0 < n_admitted and url_bytes + 48 * n_admitted <= cfg.broadcast_fetch_max_bytes:
            sched = F.broadcast(stamped.select("url", "fetch_seq", "host", "seed_index", "depth"))
            return _forced(page_side.join(sched, "url", "inner").select(*cols))
        return _forced(stamped.join(page_side, "url", "inner").select(*cols))

    fetch, n_fetch = tr.span("fetch", fetch_layer)
    keep(fetch)
    trace.layers["fetch"].rows_in += n_stamped
    trace.layers["fetch"].rows_out += n_fetch
    trace.add("parse.html_bytes", fetch.agg(F.sum(F.length("html"))).first()[0] or 0)

    parsed, n_parsed = tr.span(
        "parse", lambda: _forced(extract_batch(fetch, schema=_PARSED_SCHEMA))
    )
    keep(parsed)
    trace.layers["parse"].rows_in += n_fetch
    trace.layers["parse"].rows_out += n_parsed

    fetched = parsed.select(
        "url",
        "fetch_seq",
        F.lit(round_no).cast("int").alias("round"),
        "host",
        F.col("extracted_text").alias("text"),
        "lang",
        "warc_ts",
    )
    processed = stamped.select("url").unionByName(denied.select("url"))

    def expand_layer():
        links = (
            parsed.filter(F.col("depth") < F.lit(cfg.max_depth))
            .select(
                "seed_index",
                (F.col("depth") + 1).alias("depth"),
                F.explode("outlinks").alias("raw"),
            )
            .select("seed_index", "depth", canonicalize_col(F.col("raw")).alias("url"))
            .withColumn("host", host_col(F.col("url")))
            .filter(F.col("host") != "")
        )
        survivors = frontier.join(processed, "url", "left_anti").select(
            "url", "host", "seed_index", "depth", "round_added"
        )
        new_cand = (
            links.join(seen.select("url"), "url", "left_anti")
            .join(processed, "url", "left_anti")
            .select(
                "url",
                "host",
                "seed_index",
                "depth",
                F.lit(round_no).cast("int").alias("round_added"),
            )
        )
        return _forced(
            survivors.unionByName(new_cand)
            .groupBy("url")
            .agg(
                F.min(F.struct("seed_index", "depth")).alias("p"),
                F.first("host").alias("host"),
                F.min("round_added").alias("round_added"),
            )
            .select(
                "url",
                F.hash("url").alias("url_hash"),
                "host",
                F.col("p.seed_index").alias("seed_index"),
                F.col("p.depth").alias("depth"),
                "round_added",
            )
        )

    frontier_next, n_next = tr.span("expand", expand_layer)
    keep(frontier_next)
    trace.layers["expand"].rows_in += n_parsed + n_frontier
    trace.layers["expand"].rows_out += n_next

    seen_new = stamped.select(
        "url", "url_hash", F.lit(round_no).cast("int").alias("round")
    ).unionByName(denied.select("url", "url_hash", F.lit(round_no).cast("int").alias("round")))

    def bucket_count(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(
            F.pmod(F.hash("host"), F.lit(cfg.n_buckets)).alias("host_bucket")
        ).agg(F.count("*").alias(name))

    metrics = (
        bucket_count(cand, "n_candidates")
        .join(bucket_count(denied, "n_denied"), "host_bucket", "full")
        .join(bucket_count(stamped, "n_scheduled"), "host_bucket", "full")
        .join(bucket_count(parsed, "n_fetched"), "host_bucket", "full")
        .select(
            F.lit(round_no).cast("int").alias("round"),
            "host_bucket",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_denied", F.lit(0)).alias("n_denied"),
            F.coalesce("n_scheduled", F.lit(0)).alias("n_scheduled"),
            F.coalesce("n_fetched", F.lit(0)).alias("n_fetched"),
            F.coalesce("n_fetched", F.lit(0)).alias("n_parsed"),
        )
    )

    def checkpoint_layer():
        store.stage_append(fetched, "fetched", round_no)
        store.stage_append(seen_new, "seen", round_no)
        store.stage_append(metrics, "metrics", round_no)
        store.stage_replace(frontier_next, "frontier", round_no)
        store.commit(round_no, extra={"seq_offset": seq_offset + n_admitted})
        return store.read(spark, "frontier"), store.read(spark, "seen")

    frontier_out, seen_out = tr.span("checkpoint", checkpoint_layer)
    ck = trace.layers["checkpoint"]
    ck.rows_in += n_parsed + (n_stamped + n_denied) + n_next
    for table in ("fetched", "seen", "metrics", "frontier"):
        trace.add("checkpoint.bytes", _dir_bytes(os.path.join(store.root, table, f"r{round_no:05d}")))
    for df in cached:
        df.unpersist()
    n_frontier_out = frontier_out.count()
    ck.rows_out += n_frontier_out + seen_out.count()
    return {
        "n_candidates": n_cand,
        "n_admitted": n_admitted,
        "frontier": frontier_out,
        "n_frontier": n_frontier_out,
        "seen": seen_out,
    }


def traced_crawl(
    spark: SparkSession,
    tree: ProcTree,
    tag: str,
    inputs: dict[str, DataFrame],
    n_seeds: int,
    cfg: CrawlConfig,
    store: SnapshotStore,
    single_round: bool,
) -> Trace:
    """Trace one unit of the workload's untraced work.

    ``single_round``: seeds -> frontier -> one round over the ``seen`` input
    -> commit (the one-round crawl). Otherwise ``run_crawl`` from scratch:
    seeds -> frontier snapshot, then ``cfg.max_rounds`` rounds with commits.
    """
    trace = Trace(shadow=set() if cfg.use_bloom else {"bloom"})
    tr = Tracer(spark, tree, trace, tag)
    pages, robots = inputs["pages"], inputs["robots"]

    frontier, n_frontier = tr.span("urls", lambda: _forced(seeds_to_frontier(inputs["seeds"])))
    trace.layers["urls"].rows_in += n_seeds
    trace.layers["urls"].rows_out += n_frontier
    if single_round:
        seen = inputs["seen"]
        rounds = [1]
    else:

        def seed_snapshot():
            store.stage_replace(frontier, "frontier", 0)
            store.commit(0, extra={"seq_offset": 0})
            return store.read(spark, "frontier")

        staged = frontier
        frontier = tr.span("checkpoint", seed_snapshot)
        staged.unpersist()
        seen = spark.createDataFrame([], SEEN_SCHEMA)
        rounds = list(range(1, cfg.max_rounds + 1))

    seq_offset = 0
    for rnd in rounds:
        r = traced_round(tr, pages, frontier, n_frontier, seen, robots, cfg, rnd, seq_offset, store)
        if r["n_candidates"] == 0:
            break
        seq_offset += r["n_admitted"]
        frontier, n_frontier, seen = r["frontier"], r["n_frontier"], r["seen"]
    spark.catalog.clearCache()
    return trace
