"""North-rule determinism across cluster sizes, via the real launch path.

BASELINE.json requires the SAME crawl ordering and URL-seen set at N and
4N executors. This test pins it in CI through the actual `spark-submit --py-files` entry point
(scripts/submit_crawl.py): two fresh JVMs at local[4] and local[16] run
the identical synthetic crawl into separate snapshot stores, and the
(fetch_seq, url, round) sequence plus the seen set must be identical.
The comparison reads the stores with pyarrow — no Spark in the test
process, so the module-scoped test session is untouched.
"""

from __future__ import annotations

import json
import os
import subprocess
import zipfile

import pyarrow.dataset as ds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT = os.path.join(REPO, "scripts", "submit_crawl.py")
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def _build_zip(tmp_path) -> str:
    zpath = str(tmp_path / "orc_spark.zip")
    pkg = os.path.join(REPO, "openreviewcrawler_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zpath


def _run(master: str, store: str, zpath: str) -> dict:
    out = subprocess.run(
        [
            SPARK_SUBMIT, "--master", master,
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.local.dir=/dev/shm/spark-local",
            "--py-files", zpath,
            SUBMIT, "--pages", "4000", "--hosts", "64", "--rounds", "2",
            "--budget", "16", "--store", store,
        ],
        capture_output=True, text=True, timeout=420, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def _fetched(store: str):
    t = ds.dataset(os.path.join(store, "fetched")).to_table(
        columns=["fetch_seq", "url", "round"]
    )
    rows = list(zip(*[t.column(c).to_pylist() for c in ("fetch_seq", "url", "round")]))
    return sorted(rows)


def _seen(store: str):
    t = ds.dataset(os.path.join(store, "seen")).to_table(columns=["url", "round"])
    return set(zip(t.column("url").to_pylist(), t.column("round").to_pylist()))


def test_spark_submit_crawl_identical_at_two_parallelism_levels(tmp_path):
    zpath = _build_zip(tmp_path)
    s4, s16 = str(tmp_path / "store4"), str(tmp_path / "store16")
    r4 = _run("local[4]", s4, zpath)
    r16 = _run("local[16]", s16, zpath)
    assert r4["n_fetched"] == r16["n_fetched"] > 0
    f4, f16 = _fetched(s4), _fetched(s16)
    assert f4 == f16  # identical crawl ordering (fetch_seq per url per round)
    assert _seen(s4) == _seen(s16)  # identical URL-seen set
