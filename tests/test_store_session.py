"""Crash-safe manifest writes and machine-fitting session defaults (both
Spark-free)."""

from __future__ import annotations

import os

import pytest

from openreviewcrawler_spark.session import (
    DRIVER_MEM_FRACTION,
    default_cores,
    default_driver_mem,
)
from openreviewcrawler_spark.sources import checkpoint
from openreviewcrawler_spark.sources.checkpoint import SnapshotStore


def test_failed_history_manifest_write_changes_nothing(tmp_path, monkeypatch):
    store = SnapshotStore(str(tmp_path))
    store.commit(0, extra={"seq_offset": 0})
    live = tmp_path / "_manifest.json"
    before = live.read_bytes()

    def failing_fsync(fd):
        raise OSError("injected: disk gone while writing the history manifest")

    monkeypatch.setattr(checkpoint.os, "fsync", failing_fsync)
    with pytest.raises(OSError, match="injected"):
        store.commit(1, extra={"seq_offset": 7})
    monkeypatch.undo()

    assert live.read_bytes() == before
    assert sorted(os.listdir(tmp_path)) == ["_manifest.json", "_manifest_r00000.json"]

    store.commit(1, extra={"seq_offset": 7})
    assert store.latest_round() == 1
    assert store.manifest(1) == store.manifest()
    assert store.extra() == {"seq_offset": 7}


def test_default_cores_from_env_or_affinity():
    assert default_cores(env={"SPARK_GRAFT_CPUS": "3"}, affinity={0}) == 3
    assert default_cores(env={}, affinity={0, 2, 5}) == 3
    assert default_cores(env={"SPARK_GRAFT_CPUS": ""}, affinity={1}) == 1


MEMINFO = "MemTotal:       16303428 kB\nMemFree:         9000000 kB\n"


def test_default_driver_mem_from_env_or_meminfo():
    assert default_driver_mem(env={"SPARK_GRAFT_DRIVER_MEM": "2g"}, meminfo=MEMINFO) == "2g"
    total_mib = 16303428 // 1024
    assert default_driver_mem(env={}, meminfo=MEMINFO) == f"{int(total_mib * DRIVER_MEM_FRACTION)}m"
    assert default_driver_mem(env={}, meminfo="MemTotal: 1024 kB\n") == "512m"
    with pytest.raises(ValueError):
        default_driver_mem(env={}, meminfo="MemFree: 1 kB\n")
