"""Seeded input generator for the crawl benchmark.

Writes the four input tables a crawl consumes -- ``pages``, ``seeds``,
``seen`` and ``robots`` -- as Parquet, built with numpy + pyarrow only (no
Spark), so generation never counts as program time. The same ``(workload,
seed)`` always produces byte-identical tables.

``pages.text`` carries the *expected* extracted text of every page, built
alongside the HTML from the same fragments rather than by running the
program's parser, so comparing the crawl's ``fetched.text`` against it is a
real byte-identity check. The engine never reads ``pages.text``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from openreviewcrawler_spark.hashing import murmur3_str

_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
_LANGS = ["en"] * 8 + ["de", "fr"]
_WORDS = (
    "alpha beta gamma delta crawl frontier host page seed round budget parse "
    "robots ordering fetch queue spark arrow batch shard token domain anchor "
    "snapshot bloom filter commit resume window salt skew rank index vector "
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam"
).split()

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
SEEDS_SCHEMA = pa.schema([("seed_index", pa.int32()), ("url", pa.string())])
SEEN_SCHEMA = pa.schema([("url", pa.string()), ("url_hash", pa.int32()), ("round", pa.int32())])
ROBOTS_SCHEMA = pa.schema(
    [
        ("host", pa.string()),
        ("disallow_prefix", pa.list_(pa.string())),
        ("crawl_delay_s", pa.float64()),
        ("max_per_round", pa.int32()),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Generator parameters of one workload."""

    n_pages: int
    n_hosts: int
    zipf_s: float  # pages of host h proportional to 1/(h+1)^zipf_s; 0 = uniform
    n_paras: int  # paragraphs per page (page size / parse cost)
    words_per_para: int
    n_outlinks: int  # outlinks per page (frontier expansion)
    seed_every: int  # one seed per ``seed_every`` pages (sparse seed list)
    dirty_frac: float  # share of seeds/outlinks spelled non-canonically
    seen_frac: float  # share of seed urls already in ``seen``
    robots_frac: float  # share of hosts with a robots row
    disallow: bool  # robots rows disallow ``/p/1`` (about 1 in 9 paths)
    crawl_delay_s: float  # crawl delay on every 5th robots row; 0 = none
    max_per_round: tuple[int, ...]  # per-host caps cycled over robots rows


def _dirty(url: str, variant: int) -> str:
    """A spelling of canonical ``url`` that canonicalizes back to it."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    if variant == 0:
        return f"{scheme.upper()}://{host.upper()}/{path}"
    if variant == 1:
        return f"{scheme}://{host}:443/{path}"
    if variant == 2:
        return f"{url}#frag{len(path)}"
    return f"{scheme}://{host}/%70/{path[2:]}"  # /p/ spelled /%70/


def _paragraph_pool(rng: np.random.Generator, n: int, n_words: int) -> list[tuple[str, str]]:
    """(html, expected text) pairs covering the parser's cleaning rules:
    inner tags, entity decoding and whitespace collapse."""
    pool = []
    idx = rng.integers(0, len(_WORDS), size=(n, n_words))
    kinds = rng.integers(0, 5, size=n)
    for row, kind in zip(idx, kinds):
        words = [_WORDS[j] for j in row]
        text_words = list(words)
        html_words = list(words)
        if kind == 1:  # inner markup -> stripped
            html_words[1] = f"<b>{words[1]}</b>"
        elif kind == 2:  # entities -> decoded
            html_words[2] = f"{words[2]}&amp;{words[3]}"
            text_words[2] = f"{words[2]}&{words[3]}"
            html_words[4] = f"&lt;{words[4]}&gt;"
            text_words[4] = f"<{words[4]}>"
        elif kind == 3:  # whitespace runs and &nbsp; -> one space
            html_words[0] = f"\n {words[0]}\t"
            html_words[5] = f"{words[5]}&nbsp;"
        pool.append((" ".join(html_words), " ".join(text_words)))
    return pool


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """Several files with small row groups, so Spark splits the scan."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // n_files))
    for f, lo in enumerate(range(0, max(n, 1), step)):
        part = table.slice(lo, step)
        pq.write_table(
            part,
            os.path.join(path, f"part-{f:03d}.parquet"),
            row_group_size=max(256, min(4096, step // 4 or 1)),
        )


def generate(shape: Shape, seed: int, out_dir: str) -> dict:
    """Write ``pages``/``seeds``/``seen``/``robots`` under ``out_dir`` and
    return their row counts and the total HTML bytes."""
    rng = np.random.default_rng(seed)
    n, nh = shape.n_pages, shape.n_hosts
    # pages per host follow the Zipf weights exactly (largest remainder), so
    # every seed gives the same host-size profile; only the assignment moves
    w = 1.0 / np.arange(1, nh + 1) ** shape.zipf_s
    quota = n * w / w.sum()
    per_host = np.floor(quota).astype(np.int64)
    per_host[np.argsort(per_host - quota)[: n - per_host.sum()]] += 1
    host_idx = rng.permutation(np.repeat(np.arange(nh), per_host))
    # host names are seed-salted so different seeds give different strings
    salt = int(rng.integers(0, 1 << 20))
    hosts = [f"h{h:05d}-{salt:05x}.example" for h in range(nh)]
    page_ids = rng.permutation(n) + int(rng.integers(0, 1000))
    urls = [f"https://{hosts[h]}/p/{i}" for h, i in zip(host_idx, page_ids)]

    pool = _paragraph_pool(rng, 512, shape.words_per_para)
    para_pick = rng.integers(0, len(pool), size=(n, shape.n_paras))
    link_pick = rng.integers(0, n, size=(n, shape.n_outlinks))
    link_dirty = rng.random((n, shape.n_outlinks)) < shape.dirty_frac
    link_variant = rng.integers(0, 4, size=(n, shape.n_outlinks))
    html, text = [], []
    for i in range(n):
        title = f"T{page_ids[i]} {hosts[host_idx[i]]}"
        paras = [pool[j] for j in para_pick[i]]
        links = "".join(
            f'<a href="{_dirty(urls[j], v) if d else urls[j]}">x</a>'
            for j, d, v in zip(link_pick[i], link_dirty[i], link_variant[i])
        )
        body = "".join(f"<p>{h}</p>" for h, _ in paras)
        html.append(
            f"<html><head><title>{title}</title></head><body>{body}{links}</body></html>".encode()
        )
        text.append("\n".join([title] + [t for _, t in paras]))
    pages = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array(_EPOCH_US + page_ids.astype(np.int64) * 17_000_000).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array(html, pa.binary()),
            "text": text,
            "lang": [_LANGS[i % 10] for i in page_ids],
        },
        schema=PAGES_SCHEMA,
    )

    # seeds: every seed_every-th page, some dirty, a few canonical duplicates
    # (the smallest seed_index must win) and two urls absent from pages
    picks = rng.permutation(n)[: max(1, n // shape.seed_every)]
    seed_urls = []
    dirty = rng.permutation(len(picks)) < shape.dirty_frac * len(picks)
    variant = rng.integers(0, 4, size=len(picks))
    for k, j in enumerate(picks):
        u = urls[j]
        seed_urls.append(_dirty(u, variant[k]) if dirty[k] else u)
        if k % 50 == 0:
            seed_urls.append(_dirty(u, (variant[k] + 1) % 4))
    seed_urls += [f"https://missing-{salt:05x}.example/p/{k}" for k in (1, 2)]
    seeds = pa.table(
        {"seed_index": np.arange(len(seed_urls), dtype=np.int32), "url": seed_urls},
        schema=SEEDS_SCHEMA,
    )

    # seen: a share of the seed urls (canonical) plus urls outside the corpus
    n_seen = int(len(picks) * shape.seen_frac)
    seen_urls = [urls[j] for j in picks[:n_seen]]
    if n_seen:
        seen_urls += [f"https://old-{salt:05x}.example/p/{k}" for k in range(n_seen // 4)]
    seen = pa.table(
        {
            "url": seen_urls,
            "url_hash": np.array([murmur3_str(u) for u in seen_urls], dtype=np.int32),
            "round": np.zeros(len(seen_urls), dtype=np.int32),
        },
        schema=SEEN_SCHEMA,
    )

    # every k-th host by size rank, plus the three hottest
    rob_hosts = np.union1d(np.arange(0, nh, round(1 / shape.robots_frac)), [0, 1, 2])
    caps = shape.max_per_round
    robots = pa.table(
        {
            "host": [hosts[h] for h in rob_hosts],
            "disallow_prefix": [
                ["/p/1"] if shape.disallow and k % 2 == 0 else ["/private/"]
                for k in range(len(rob_hosts))
            ],
            "crawl_delay_s": [
                shape.crawl_delay_s if k % 5 == 1 else 0.0 for k in range(len(rob_hosts))
            ],
            "max_per_round": np.array(
                [caps[k % len(caps)] for k in range(len(rob_hosts))], dtype=np.int32
            ),
        },
        schema=ROBOTS_SCHEMA,
    )

    for name, table, files in (
        ("pages", pages, 8),
        ("seeds", seeds, 8),
        ("seen", seen, 2),
        ("robots", robots, 1),
    ):
        _write(table, os.path.join(out_dir, name), files)
    return {
        "pages": pages.num_rows,
        "seeds": seeds.num_rows,
        "seen": seen.num_rows,
        "robots": robots.num_rows,
        "html_bytes": sum(len(h) for h in html),
    }
