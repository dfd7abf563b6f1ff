"""The measured work of one benchmark run: set-up, the workload's unit of
work (untraced), the traced crawl, and the correctness checks."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field, replace

from checks import (
    budget_violations,
    crawl_budget_violations,
    crawl_order_violations,
    fingerprint,
    oracle_parity,
    order_violations,
    text_mismatches,
)
from gen import Shape, generate
from layers import traced_crawl
from procstat import PeakRss, ProcTree
from workloads import WORKLOADS

from openreviewcrawler_spark.plans.crawl import (
    CrawlConfig,
    run_crawl,
    run_round,
    seeds_to_frontier,
)
from openreviewcrawler_spark.session import get_spark
from openreviewcrawler_spark.sources.checkpoint import SnapshotStore

FETCHED_COLS = ("url", "fetch_seq", "round", "host", "text", "lang", "warc_ts")
SEEN_COLS = ("url", "url_hash", "round")


def _now() -> float:
    return time.perf_counter()


def _fmt(xs: list[float]) -> str:
    return "[" + ", ".join(f"{x:.2f}" for x in xs) + "]"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Samples:
    round_s: list[float] = field(default_factory=list)
    crawl_s: list[float] = field(default_factory=list)
    resume_s: list[float] = field(default_factory=list)
    sched_urls_per_s: list[float] = field(default_factory=list)
    parsed_pages_per_s: list[float] = field(default_factory=list)
    cpu_s_per_kurl: list[float] = field(default_factory=list)


class Bench:
    def __init__(self, name: str, seed: int, work: str):
        self.wl = WORKLOADS[name]
        self.seed = seed
        self.work = work
        self.shape = Shape(**self.wl.shape)
        self.cfg = CrawlConfig(max_rounds=self.wl.rounds, **self.wl.cfg)
        self.tree = ProcTree()
        self.samples = Samples()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.inputs: dict = {}
        self._n_dirs = 0

    # -- bookkeeping ----------------------------------------------------------
    def _dir(self, tag: str) -> str:
        """A new, unused directory for one snapshot store."""
        self._n_dirs += 1
        return os.path.join(self.work, "stores", f"{tag}-{self._n_dirs}")

    def check(self, name: str, errors: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(errors)
        self.errors += [f"{name}: {e}" for e in errors]

    # -- session ------------------------------------------------------------
    def _start_session(self):
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )

    def _load(self) -> None:
        data = os.path.join(self.work, "data")
        self.inputs = {
            t: self.spark.read.parquet(os.path.join(data, t))
            for t in ("pages", "seeds", "seen", "robots")
        }
        self.counts = {t: df.count() for t, df in self.inputs.items()}
        self.seen_input_fp = fingerprint(self.inputs["seen"], *SEEN_COLS)
        self.robots_rows = self.inputs["robots"].collect()

    def setup(self) -> float:
        """Session start, input load and one warm-up round at full size
        (codegen, Python workers, JIT)."""
        t0 = _now()
        self._start_session()
        self._load()
        if self.wl.rounds == 1:
            self._round_and_commit(check=False)
        else:
            run_crawl(
                self.spark,
                self.inputs["pages"],
                self.inputs["seeds"],
                self.inputs["robots"],
                replace(self.cfg, max_rounds=1),
                store=SnapshotStore(self._dir("warmup")),
            )
        self.spark.catalog.clearCache()
        return _now() - t0

    # -- the workload's unit of work ----------------------------------------
    def unit(self, check: bool) -> dict:
        if self.wl.rounds == 1:
            return self._one_round(check)
        return self._crawl(check)

    def _seed_snapshot(self) -> str:
        """Round-0 snapshot of a one-round crawl (seed frontier + the seen
        input), the state a restarted crawl resumes from."""
        root = self._dir("seed")
        store = SnapshotStore(root)
        store.stage_replace(seeds_to_frontier(self.inputs["seeds"]), "frontier", 0)
        store.stage_append(self.inputs["seen"], "seen", 0)
        store.commit(0, extra={"seq_offset": 0})
        return root

    def _one_round(self, check: bool) -> dict:
        """seeds -> frontier -> one round over the seen input -> commit;
        then a restart that resumes the same round from the seed snapshot."""
        return {**self._round_and_commit(check), **self._resume(self.snapshot, 0)}

    def _round_and_commit(self, check: bool) -> dict:
        spark, inp, cfg = self.spark, self.inputs, self.cfg
        cpu0, t0 = self.tree.cpu_s(), _now()
        frontier = seeds_to_frontier(inp["seeds"]).persist()
        r = run_round(spark, inp["pages"], frontier, inp["seen"], inp["robots"], cfg, 1, 0)
        n_fetched, order_fp = fingerprint(r["fetched"], "fetch_seq", "url")
        frontier_next = r["frontier_next"].persist()
        frontier_next.count()
        t_round = _now()
        store = SnapshotStore(self._dir("crawl"))
        store.stage_append(r["fetched"], "fetched", 1)
        store.stage_append(r["seen_new"], "seen", 1)
        store.stage_append(r["metrics"], "metrics", 1)
        store.stage_replace(frontier_next, "frontier", 1)
        store.commit(1, extra={"seq_offset": r["n_admitted"]})
        t_crawl, cpu1 = _now(), self.tree.cpu_s()

        out = {
            "round_s": [t_round - t0],
            "crawl_s": t_crawl - t0,
            "n_candidates": r["n_candidates"],
            "n_fetched": n_fetched,
            "cpu_s": cpu1 - cpu0,
            "rounds": 1,
            "order_fp": order_fp,
            "fetched_fp": self._fetched_fp(store),
            "seen_fp": self._xor(self._seen_fp(store), self.seen_input_fp),
        }
        if check:
            stamped = r["_cached"][3]
            rows = stamped.select("fetch_seq", "seed_index", "depth", "url").collect()
            self.check("order", order_violations(rows, 0, r["n_admitted"], dense=True))
            per_host = stamped.groupBy("host").count().collect()
            self.check("budget", budget_violations(per_host, self.robots_rows, cfg))
            self.check("text", text_mismatches(store.read(spark, "fetched"), inp["pages"]))
        for df in (*r["_cached"], frontier, frontier_next):
            df.unpersist()
        return out

    def _crawl(self, check: bool) -> dict:
        """run_crawl from the inputs to the final snapshot; then a crash
        before the last round and a resumed crawl."""
        spark, inp = self.spark, self.inputs
        store = TimedStore(self._dir("crawl"))
        cpu0, t0 = self.tree.cpu_s(), _now()
        state = run_crawl(spark, inp["pages"], inp["seeds"], inp["robots"], self.cfg, store=store)
        t_end, cpu1 = store.commit_t[state.rounds_run], self.tree.cpu_s()
        bounds = [store.commit_t[r] for r in range(state.rounds_run + 1)]
        fetched_fp = self._fetched_fp(store)
        out = {
            "round_s": [b - a for a, b in zip(bounds, bounds[1:])],
            "crawl_s": t_end - t0,
            "n_candidates": sum(rc["n_candidates"] for rc in state.round_counts),
            "n_fetched": fetched_fp[0],
            "cpu_s": cpu1 - cpu0,
            "rounds": state.rounds_run,
            "fetched_fp": fetched_fp,
            "seen_fp": self._seen_fp(store),
            "order_fp": fetched_fp,
        }
        if check:
            self.check("order", crawl_order_violations(spark, store, state.round_counts))
            self.check("budget", crawl_budget_violations(spark, store, self.robots_rows, self.cfg))
            self.check("text", text_mismatches(store.read(spark, "fetched"), inp["pages"]))
        return {**out, **self._resume(store.root, state.rounds_run - 1)}

    def _resume(self, root: str, back: int) -> dict:
        """Roll the store's live snapshot back to round ``back`` (the state a
        crash after that commit leaves), drop every cached table, and resume
        with a new store object. ``resume_s`` runs from the restart to the
        first commit after it."""
        tmp = os.path.join(root, ".rollback.tmp")
        shutil.copyfile(os.path.join(root, f"_manifest_r{back:05d}.json"), tmp)
        os.replace(tmp, os.path.join(root, "_manifest.json"))
        self.spark.catalog.clearCache()
        inp = self.inputs
        t0 = _now()
        store = TimedStore(root)
        state = run_crawl(
            self.spark, inp["pages"], inp["seeds"], inp["robots"], self.cfg, store=store, resume=True
        )
        return {
            "resume_s": store.commit_t[back + 1] - t0,
            "resumed_rounds": state.rounds_run - back,
            "resumed_fp": (self._fetched_fp(store), self._seen_fp(store)),
        }

    def _fetched_fp(self, store) -> tuple[int, int]:
        return fingerprint(store.read(self.spark, "fetched"), *FETCHED_COLS)

    def _seen_fp(self, store) -> tuple[int, int]:
        return fingerprint(store.read(self.spark, "seen"), *SEEN_COLS)

    @staticmethod
    def _xor(a: tuple[int, int], b: tuple[int, int]) -> tuple[int, int]:
        """Fingerprint of the union of two disjoint tables."""
        return a[0] + b[0], a[1] ^ b[1]

    # -- timed loop ---------------------------------------------------------
    def measure(self, seconds: float, min_units: int = 1) -> list[dict]:
        units = []
        with PeakRss(self.tree) as rss:
            spent = 0.0
            while spent < seconds or len(units) < min_units:
                t0 = _now()
                u = self.unit(check=not units)
                spent += _now() - t0
                log(
                    f"unit {len(units)}: {_now() - t0:.2f} s (rounds {_fmt(u['round_s'])}, "
                    f"crawl {u['crawl_s']:.2f} s, resume {u['resume_s']:.2f} s)"
                )
                units.append(u)
                self.attempted += u["rounds"] + u["resumed_rounds"]
                first = units[0]["order_fp"]
                self.check("repeat", [] if u["order_fp"] == first else [f"{u['order_fp']} != {first}"])
                whole, fp = (u["fetched_fp"], u["seen_fp"]), u["resumed_fp"]
                self.check("resume", [] if fp == whole else [f"resumed {fp} != uninterrupted {whole}"])
            self.peak_rss_mb = rss.peak / 2**20
        s = self.samples
        for u in units:
            t_round = sum(u["round_s"])
            s.round_s += u["round_s"]
            s.crawl_s.append(u["crawl_s"])
            s.resume_s.append(u["resume_s"])
            s.sched_urls_per_s.append(u["n_candidates"] / t_round)
            s.parsed_pages_per_s.append(u["n_fetched"] / t_round)
            s.cpu_s_per_kurl.append(u["cpu_s"] / (u["n_candidates"] / 1000))
        return units

    def end_to_end(self) -> dict[str, float]:
        s = self.samples
        med = statistics.median
        return {
            "setup_s": self.setup_s,
            "round_s": med(s.round_s),
            "sched_urls_per_s": med(s.sched_urls_per_s),
            "parsed_pages_per_s": med(s.parsed_pages_per_s),
            "crawl_s": med(s.crawl_s),
            "resume_s": med(s.resume_s),
            "cpu_s_per_kurl": med(s.cpu_s_per_kurl),
        }

    def traced(self, seconds: float, untraced: list[dict], min_units: int = 2) -> dict[str, float]:
        """Traced crawls until ``seconds`` have passed (at least ``min_units``);
        per-layer medians plus the tracing overhead against the untraced
        crawl time."""
        traces, spent = [], 0.0
        while spent < seconds or len(traces) < min_units:
            t0 = _now()
            store = SnapshotStore(self._dir("traced"))
            tr = traced_crawl(
                self.spark,
                self.tree,
                f"trace{len(traces)}",
                self.inputs,
                self.counts["seeds"],
                self.cfg,
                store,
                single_round=self.wl.rounds == 1,
            )
            spent += _now() - t0
            traces.append(tr)
            fp = fingerprint(store.read(self.spark, "fetched"), *FETCHED_COLS)
            self.check("traced", [] if fp == untraced[0]["fetched_fp"] else ["traced crawl output differs"])
        per = [t.metrics() for t in traces]
        out = {k: statistics.median(p[k] for p in per) for k in per[0]}
        out["tree.peak_rss_mb"] = self.peak_rss_mb
        out["trace.overhead_s"] = statistics.median(t.wall_s() for t in traces) - statistics.median(
            u["crawl_s"] for u in untraced
        )
        return out

    # -- whole run ------------------------------------------------------------
    def run(self, seconds: float, trace: bool) -> dict[str, float]:
        t0 = _now()
        sizes = generate(self.shape, self.seed, os.path.join(self.work, "data"))
        log(f"generated {sizes} in {_now() - t0:.1f} s")
        self.setup_s = self.setup()
        log(f"setup: {self.setup_s:.2f} s")
        if self.wl.rounds == 1:
            self.snapshot = self._seed_snapshot()
        if not trace:
            self.measure(seconds)
            return self.end_to_end()
        untraced = self.measure(seconds / 2, min_units=2)
        metrics = self.traced(seconds / 2, untraced)
        t0 = _now()
        self.check("oracle", oracle_parity(self.spark, self.seed, self.cfg, self._dir("oracle")))
        log(f"oracle parity in {_now() - t0:.1f} s")
        return metrics


class TimedStore(SnapshotStore):
    """A snapshot store that notes when each round's commit returned."""

    def __init__(self, root: str):
        super().__init__(root)
        self.commit_t: dict[int, float] = {}

    def commit(self, round_no: int, extra: dict | None = None) -> None:
        super().commit(round_no, extra)
        self.commit_t[round_no] = _now()
