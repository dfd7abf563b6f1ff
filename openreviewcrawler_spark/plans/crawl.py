"""The crawl plan — batch scheduling rounds over the frontier.

One round (the Spark lifecycle replacing /root/reference/crawler.py:15-111):

  frontier scan -> [Bloom probe +] exact anti-join vs seen -> robots filter
  (broadcast host->rule map) -> per-host priority top-k admit (politeness)
  -> deterministic fetch_seq -> fetch = join pages on url -> parse (Arrow
  batch: text + canonical outlinks) -> frontier expansion (one min-merge,
  one anti-join) -> snapshot commit (seen/fetched/metrics append, frontier
  replace).

The Bloom tier exists only once ``seen`` has keys, sized from the driver's
running count of processed URLs (``n_seen`` in the manifest's ``extra``).
The per-bucket ``metrics`` rows come from one aggregation over the round's
persisted frames. Each round releases its cached frames and its Bloom
broadcast after the commit.

Rounds are driver-side Python iterations; within a round everything is one
declarative DataFrame plan optimized by Catalyst. Batch rounds (not
Structured Streaming) because crawl ordering must be deterministic and
replayable at any parallelism (north rule).
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.htmltext import extract_batch
from ..functions.urls import canonicalize_col, host_col
from ..operators.ordering import assign_fetch_seq
from ..operators.robots import apply_robots
from ..operators.scheduler import admit
from ..operators.seen import BloomFilter, anti_join_seen, build_bloom
from ..sources.checkpoint import SnapshotStore

FRONTIER_SCHEMA = "url string, url_hash int, host string, seed_index int, depth int, round_added int"
SEEN_SCHEMA = "url string, url_hash int, round int"
FETCHED_SCHEMA = (
    "url string, fetch_seq long, round int, host string, text string, lang string,"
    " warc_ts timestamp"
)
METRICS_SCHEMA = (
    "round int, host_bucket int, n_candidates long, n_denied long, n_scheduled long,"
    " n_fetched long, n_parsed long"
)

_PARSED_SCHEMA = (
    "url string, fetch_seq long, host string, seed_index int, depth int, lang string,"
    " warc_ts timestamp, extracted_text string, outlinks array<string>"
)


@dataclass
class CrawlConfig:
    max_rounds: int = 5
    default_budget: int = 8
    round_seconds: float = 60.0
    max_depth: int = 3
    n_salts: int = 1  # >1 enables hot-host salted admission
    admit_impl: str = "window"  # "window" | "arrow"
    use_bloom: bool = False
    bloom_fpp: float = 0.01
    n_buckets: int = 32
    seq_small_threshold: int = 200_000
    # Map-side fetch bound: admitted batches whose ESTIMATED broadcast size
    # (sum of url bytes + per-row overhead, measured in the same single-
    # barrier counts job) fits under this use the broadcast-semi +
    # map-side-parse path (html never shuffled); larger batches fall back to
    # a shuffle join. A BYTE bound, not a row count (r2 ADVICE): a 4M-row
    # threshold broadcast several hundred MB of driver/executor relation
    # regardless of url width — safe on this sandbox's 48g driver, wrong as
    # a default a real cluster copies. 128 MiB ~ 2x Spark's conservative
    # autoBroadcastJoinThreshold ceiling and well under executor overhead.
    broadcast_fetch_max_bytes: int = 128 << 20


@dataclass
class CrawlState:
    store: SnapshotStore
    rounds_run: int = 0
    seq_offset: int = 0
    round_counts: list[dict] = field(default_factory=list)


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """Seed list -> frontier generation 0 (reference analog: the targets grid,
    /root/reference/crawler.py:41-45). Canonicalize, drop non-URLs, dedup by
    canonical url keeping the smallest seed_index."""
    canon = seeds.select(
        F.col("seed_index").cast("int").alias("seed_index"),
        canonicalize_col(F.col("url")).alias("url"),
    ).withColumn("host", host_col(F.col("url")))
    return (
        canon.filter(F.col("host") != "")
        .groupBy("url")
        .agg(F.min("seed_index").alias("seed_index"), F.first("host").alias("host"))
        .select(
            "url",
            F.hash("url").alias("url_hash"),
            "host",
            "seed_index",
            F.lit(0).cast("int").alias("depth"),
            F.lit(0).cast("int").alias("round_added"),
        )
    )


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


def run_round(
    spark: SparkSession,
    pages: DataFrame,
    frontier: DataFrame,
    seen: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    round_no: int,
    seq_offset: int,
    bloom: BloomFilter | None = None,
) -> dict:
    """Execute one scheduling round; returns the round's result DataFrames
    and counts. Caller materializes/commits, then unpersists ``_cached`` and
    destroys ``_broadcasts`` (the Bloom bitset, when ``bloom`` is given)."""
    # One driver barrier for all stage counts — and no duplicated pipeline
    # work. The previous shape union-tagged cand/denied/admitted into one
    # aggregation job; that was one barrier, but the three union branches each
    # carried the full scheduling lineage, so the anti-join + robots pipeline
    # ran up to 3x per round (cache population races within a single job).
    # ``Observation`` metrics ride the ONE action that materializes
    # ``admitted`` (whose lineage passes through cand and allowed), so every
    # stage count — plus the broadcast byte estimate and the seed_index
    # bounds the barrier-free sequence stamp needs — is a side-effect of work
    # the round does anyway. denied = cand - allowed by construction
    # (apply_robots partitions its input), so n_denied needs no denied scan.
    # At 10^10-frontier scale this is ONE full-cluster barrier per scheduling
    # round, with zero recompute.
    # unnamed Observations auto-generate unique names — bench reps re-run the
    # same (round_no, seq_offset) in one session, so fixed names would collide
    obs_cand = Observation()
    obs_allowed = Observation()
    obs_adm = Observation()
    broadcasts: list = []
    cand = (
        anti_join_seen(frontier, seen, bloom=bloom, broadcasts=broadcasts)
        .observe(obs_cand, F.count(F.lit(1)).alias("n"))
        .persist()
    )
    allowed, denied = apply_robots(cand, robots, cfg.default_budget, cfg.round_seconds)
    allowed = allowed.observe(obs_allowed, F.count(F.lit(1)).alias("n"))
    denied = denied.persist()
    admitted = (
        admit(allowed, impl=cfg.admit_impl, n_salts=cfg.n_salts)
        .observe(
            obs_adm,
            F.sum(F.length("url")).alias("b"),
            F.min("seed_index").alias("smin"),
            F.max("seed_index").alias("smax"),
        )
        .persist()
    )
    n_admitted = admitted.count()
    try:
        n_candidates = int(obs_cand.get["n"])
        n_denied = n_candidates - int(obs_allowed.get["n"])
        adm = obs_adm.get
    except Exception:
        # A statically-empty input (empty LocalRelation frontier) lets the
        # optimizer collapse the whole plan, dropping the CollectMetrics
        # nodes — then every stage count is zero by construction. A
        # runtime-empty admitted batch (all candidates denied) does NOT take
        # this path: its observes executed and .get returns normally.
        n_candidates = n_denied = 0
        adm = {"b": None, "smin": None, "smax": None}
    admitted_url_bytes = int(adm["b"] or 0)
    if n_candidates == 0:
        cand.unpersist()
        denied.unpersist()
        admitted.unpersist()
        for b in broadcasts:
            b.destroy()
        return {"n_candidates": 0}

    lead_bounds = (
        (int(adm["smin"]), int(adm["smax"])) if adm["smin"] is not None else None
    )
    stamped = assign_fetch_seq(
        admitted.drop("budget"),
        ["seed_index", "depth", "url"],
        "fetch_seq",
        offset=seq_offset,
        small_threshold=cfg.seq_small_threshold,
        known_count=n_admitted,
        lead_bounds=lead_bounds,
    ).persist()

    # fetch + parse. Two physical strategies, same result:
    #
    # * map-side (default when the admitted batch fits a broadcast): pages
    #   are inner-joined against ONE broadcast of the full stamped batch
    #   (url + 4 fixed-width scheduling columns) and parsed inside the scan
    #   tasks — the fat html column never enters a shuffle. One broadcast,
    #   not two (r3: the earlier semi-join + attach-join shape built and
    #   shipped the same stamped relation twice; each driver-side broadcast
    #   build is pure serial time in every scheduling round). At 100 TB
    #   this is the difference between shuffling the corpus and shuffling
    #   nothing.
    # * shuffle (both sides huge): classic shuffle hash/sort-merge join.
    #
    # Column-pruned either way: pages.text is never read (engine recomputes
    # it); only matching rows pull html.
    page_side = pages.select("url", "html", "lang", "warc_ts")
    # estimated broadcast relation size for the stamped batch: url bytes
    # (the dominant column, measured exactly in the counts job above) plus
    # ~48 B/row for the four fixed-width scheduling columns + row headers
    est_broadcast_bytes = (admitted_url_bytes or 0) + 48 * n_admitted
    if 0 < n_admitted and est_broadcast_bytes <= cfg.broadcast_fetch_max_bytes:
        keep = page_side.join(
            F.broadcast(stamped.select("url", "fetch_seq", "host", "seed_index", "depth")),
            "url",
            "inner",
        )
        parsed = extract_batch(
            keep.select(
                "url", "fetch_seq", "host", "seed_index", "depth", "lang", "warc_ts", "html"
            ),
            schema=_PARSED_SCHEMA,
        ).persist()
    else:
        fetch = stamped.join(page_side, "url", "inner")
        parsed = extract_batch(
            fetch.select(
                "url", "fetch_seq", "host", "seed_index", "depth", "lang", "warc_ts", "html"
            ),
            schema=_PARSED_SCHEMA,
        ).persist()

    fetched = parsed.select(
        "url",
        "fetch_seq",
        F.lit(round_no).cast("int").alias("round"),
        "host",
        F.col("extracted_text").alias("text"),
        "lang",
        "warc_ts",
    )

    # frontier expansion. Outlinks are already canonical (extract_batch), so
    # this is JVM-only: one min-merge by priority (seed_index, depth) of the
    # stored frontier and the new links, then ONE anti-join against every URL
    # that is seen or was processed this round. Stored rows already in seen
    # are dropped here for good; the live frontier (frontier - seen) is the
    # same as keeping them. The anti-join sits above the aggregate on
    # purpose: F.first is nondeterministic, so Catalyst cannot push it down
    # into the union branches and duplicate it.
    links = (
        parsed.filter(F.col("depth") < F.lit(cfg.max_depth))
        .select("seed_index", (F.col("depth") + 1).alias("depth"), F.explode("outlinks").alias("url"))
        .withColumn("host", host_col(F.col("url")))
        .filter(F.col("host") != "")
        .select("url", "host", "seed_index", "depth", F.lit(round_no).cast("int").alias("round_added"))
    )
    done = seen.select("url").unionByName(stamped.select("url")).unionByName(denied.select("url"))
    frontier_next = (
        frontier.select("url", "host", "seed_index", "depth", "round_added")
        .unionByName(links)
        .groupBy("url")
        .agg(
            F.min(F.struct("seed_index", "depth")).alias("p"),
            F.first("host").alias("host"),
            F.min("round_added").alias("round_added"),
        )
        .join(done, "url", "left_anti")
        .select(
            "url",
            F.hash("url").alias("url_hash"),
            "host",
            F.col("p.seed_index").alias("seed_index"),
            F.col("p.depth").alias("depth"),
            "round_added",
        )
    )

    seen_new = stamped.select(
        "url", "url_hash", F.lit(round_no).cast("int").alias("round")
    ).unionByName(
        denied.select("url", "url_hash", F.lit(round_no).cast("int").alias("round"))
    )

    # per-host-bucket counts in one aggregation: each persisted frame
    # contributes a 1 to its own indicator column
    counted = (
        (cand, "n_candidates"),
        (denied, "n_denied"),
        (stamped, "n_scheduled"),
        (parsed, "n_fetched"),
    )
    tagged = [
        df.select(
            F.pmod(F.hash("host"), F.lit(cfg.n_buckets)).alias("host_bucket"),
            *(F.lit(int(c == name)).cast("long").alias(c) for _, c in counted),
        )
        for df, name in counted
    ]
    metrics = (
        reduce(DataFrame.unionByName, tagged)
        .groupBy("host_bucket")
        .agg(*(F.sum(c).alias(c) for _, c in counted))
        .select(
            F.lit(round_no).cast("int").alias("round"),
            "host_bucket",
            "n_candidates",
            "n_denied",
            "n_scheduled",
            "n_fetched",
            F.col("n_fetched").alias("n_parsed"),
        )
    )

    return {
        "n_candidates": n_candidates,
        "n_admitted": n_admitted,
        "n_denied": n_denied,
        "fetched": fetched,
        "frontier_next": frontier_next,
        "seen_new": seen_new,
        "metrics": metrics,
        "_cached": [cand, denied, admitted, stamped, parsed],
        "_broadcasts": broadcasts,
    }


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    store: SnapshotStore | None = None,
    resume: bool = False,
) -> CrawlState:
    """Multi-round crawl with snapshot checkpoints; resumable mid-crawl.

    Each commit's ``extra`` holds ``seq_offset`` and ``n_seen`` (rows in
    ``seen``: the running sum of every round's admitted + denied URLs), so a
    resume needs neither a recount nor a scan to size the Bloom filter. A
    manifest without ``n_seen`` falls back to counting ``seen`` when the
    Bloom tier needs it.
    """
    if store is None:
        store = SnapshotStore(tempfile.mkdtemp(prefix="crawl_store_"))
    state = CrawlState(store=store)

    start_round = 1
    if resume and store.latest_round() is not None:
        start_round = store.latest_round() + 1
        extra = store.extra()
        state.seq_offset = int(extra.get("seq_offset", 0))
        n_seen = extra.get("n_seen")
        frontier = store.read(spark, "frontier")
        seen = store.read(spark, "seen") or _empty(spark, SEEN_SCHEMA)
        state.rounds_run = store.latest_round()
    else:
        frontier = seeds_to_frontier(seeds)
        seen = _empty(spark, SEEN_SCHEMA)
        n_seen = 0
        store.stage_replace(frontier, "frontier", 0)
        store.commit(0, extra={"seq_offset": 0, "n_seen": 0})
        frontier = store.read(spark, "frontier")

    for rnd in range(start_round, cfg.max_rounds + 1):
        bloom = None
        if cfg.use_bloom:
            if n_seen is None:
                n_seen = seen.count()
            if n_seen > 0:
                flt = BloomFilter.sized_for(max(n_seen, 1024), cfg.bloom_fpp)
                bloom = build_bloom(seen, "url_hash", flt.n_bits, flt.k)

        r = run_round(spark, pages, frontier, seen, robots, cfg, rnd, state.seq_offset, bloom)
        if r["n_candidates"] == 0:
            break
        state.rounds_run = rnd

        store.stage_append(r["fetched"], "fetched", rnd)
        store.stage_append(r["seen_new"], "seen", rnd)
        store.stage_append(r["metrics"], "metrics", rnd)
        store.stage_replace(r["frontier_next"], "frontier", rnd)
        state.seq_offset += r["n_admitted"]
        if n_seen is not None:
            n_seen += r["n_admitted"] + r["n_denied"]
        store.commit(rnd, extra={"seq_offset": state.seq_offset, "n_seen": n_seen})
        state.round_counts.append(
            {
                "round": rnd,
                "n_candidates": r["n_candidates"],
                "n_admitted": r["n_admitted"],
                "n_denied": r["n_denied"],
            }
        )

        for df in r["_cached"]:
            df.unpersist()
        for b in r["_broadcasts"]:
            b.destroy()
        frontier = store.read(spark, "frontier")
        seen = store.read(spark, "seen")

    return state
