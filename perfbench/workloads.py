"""The benchmark's workloads: generator shape, crawl config and round plan."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    shape: dict  # gen.Shape fields
    cfg: dict  # CrawlConfig overrides
    rounds: int  # crawl rounds; 1 = single scheduling round over the seen input


WORKLOADS = {
    # frontier over Zipf-skewed hosts, small pages, default budget of 8:
    # canonicalize / seen / robots / admit / ordering do most of the work
    "frontier_heavy": Workload(
        shape=dict(
            n_pages=12_000,
            n_hosts=240,
            zipf_s=1.1,
            n_paras=1,
            words_per_para=10,
            n_outlinks=1,
            seed_every=1,
            dirty_frac=0.8,
            seen_frac=0.25,
            robots_frac=0.2,
            disallow=True,
            crawl_delay_s=15.0,
            max_per_round=(2, 4, 8),
        ),
        cfg={},
        rounds=1,
    ),
    # ~8 KB pages on uniform hosts, budget above urls-per-host: every
    # candidate is admitted and fetch + parse do most of the work. Runnable,
    # but not listed in BENCHMARK.json: the run budget fits two workloads
    # (perfbench/README.md)
    "parse_heavy": Workload(
        shape=dict(
            n_pages=1_600,
            n_hosts=80,
            zipf_s=0.0,
            n_paras=24,
            words_per_para=45,
            n_outlinks=2,
            seed_every=1,
            dirty_frac=0.1,
            seen_frac=0.02,
            robots_frac=0.1,
            disallow=False,
            crawl_delay_s=0.0,
            max_per_round=(1000,),
        ),
        cfg=dict(default_budget=1000),
        rounds=1,
    ),
    # sparse seeds crawled over several rounds with the Bloom seen tier and a
    # snapshot per round, then a crash and a resume of the last two rounds
    "recrawl_resume": Workload(
        shape=dict(
            n_pages=6_000,
            n_hosts=300,
            zipf_s=0.8,
            n_paras=12,
            words_per_para=45,
            n_outlinks=4,
            seed_every=20,
            dirty_frac=0.5,
            seen_frac=0.0,
            robots_frac=0.2,
            disallow=True,
            crawl_delay_s=15.0,
            max_per_round=(2, 4, 8),
        ),
        cfg=dict(use_bloom=True),
        rounds=2,
    ),
}
