"""Snapshot checkpoint store — resumable engine state.

North rule: resume from Iceberg-snapshot checkpoints with per-partition
lineage + metrics. The Iceberg runtime jar is not fetchable in this sandbox
(no network), so the store is a thin snapshot-manifest shim over Parquet that
preserves the semantics the engine depends on:

* **atomic commit** — data files for a round are fully written before the
  manifest is swapped; every manifest file (live and history) is written by
  :func:`_write_json_atomic` (temp file, fsync, ``os.replace``, directory
  fsync). A crash mid-round leaves the previous manifest intact and the
  orphan files unreferenced, exactly like an uncommitted Iceberg snapshot.
* **append tables** (``seen``, ``fetched``, ``metrics``) accumulate one
  directory per round — reading unions the committed increments, so no
  O(total-state) rewrite per round (Iceberg fast-append analog).
* **replace tables** (``frontier``) are rewritten per round (copy-on-write).
* **resume** = read the latest committed manifest; every table is then
  consistent as of the same round (reference analog: reload prior output and
  skip seen keys, /root/reference/crawler.py:29-34).

If an Iceberg catalog is configured on the session (jar present), callers can
swap this store for real Iceberg tables; the engine only uses this API.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

APPEND_TABLES = ("seen", "fetched", "metrics")
REPLACE_TABLES = ("frontier",)

_MANIFEST = "_manifest.json"


def _write_json_atomic(path: str, obj: Any) -> None:
    """Replace ``path`` with ``obj`` as JSON, all or nothing, durably.

    The bytes go to a temp file in the same directory, which is flushed and
    fsynced before ``os.replace`` swaps it in; the directory is fsynced after
    so the rename itself survives a power loss. On failure the temp file is
    removed and ``path`` is untouched.
    """
    dirname, name = os.path.split(path)
    tmp = os.path.join(dirname, f".{name}.tmp")
    try:
        with open(tmp, "w") as fh:
            fh.write(json.dumps(obj, indent=1))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    fd = os.open(dirname, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._pending: dict[str, list[str] | str] = {}

    # -- write side -------------------------------------------------------
    def stage_append(self, df: DataFrame, table: str, round_no: int) -> str:
        rel = os.path.join(table, f"r{round_no:05d}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        prev = self._committed_paths(table)
        self._pending[table] = [*prev, rel]
        return rel

    def stage_replace(self, df: DataFrame, table: str, round_no: int) -> str:
        rel = os.path.join(table, f"r{round_no:05d}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        self._pending[table] = [rel]
        return rel

    def commit(self, round_no: int, extra: dict[str, Any] | None = None) -> None:
        """Atomically publish every staged table as snapshot ``round_no``.

        The history manifest (kept for time-travel reads and lineage audits)
        is written first, the live manifest last: a failure anywhere leaves
        the live snapshot as it was.
        """
        manifest = self.manifest() or {"round": -1, "tables": {}}
        tables = dict(manifest["tables"])
        for t, paths in self._pending.items():
            tables[t] = paths
        new_manifest = {"round": round_no, "tables": tables}
        if extra:
            new_manifest["extra"] = {**manifest.get("extra", {}), **extra}
        _write_json_atomic(
            os.path.join(self.root, f"_manifest_r{round_no:05d}.json"), new_manifest
        )
        _write_json_atomic(os.path.join(self.root, _MANIFEST), new_manifest)
        self._pending = {}

    # -- read side --------------------------------------------------------
    def manifest(self, round_no: int | None = None) -> dict | None:
        name = _MANIFEST if round_no is None else f"_manifest_r{round_no:05d}.json"
        path = os.path.join(self.root, name)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def _committed_paths(self, table: str, round_no: int | None = None) -> list[str]:
        m = self.manifest(round_no)
        if not m:
            return []
        return list(m["tables"].get(table, []))

    def latest_round(self) -> int | None:
        m = self.manifest()
        return None if m is None else int(m["round"])

    def read(
        self, spark: SparkSession, table: str, round_no: int | None = None
    ) -> DataFrame | None:
        paths = self._committed_paths(table, round_no)
        if not paths:
            return None
        return spark.read.parquet(*[os.path.join(self.root, p) for p in paths])

    def extra(self) -> dict:
        m = self.manifest()
        return {} if m is None else m.get("extra", {})

    # -- maintenance --------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        table: str,
        min_segments: int = 8,
        partition_by: str | None = None,
    ) -> bool:
        """Rewrite an append table's accumulated per-round segments as ONE
        segment and commit the swap atomically (Iceberg rewrite-data-files
        analog). Returns True if a compaction ran.

        Why this must exist at scale: ``seen`` gains one directory per
        scheduling round, and every round's anti-join unions ALL of them —
        after 10^3 rounds the scan plans 10^3 file groups and the frontier
        anti-join pays the per-segment open/footer cost each round.
        Compaction is pure maintenance: same rows, one segment, optionally
        hash-clustered by the join key (``partition_by``) so the downstream
        anti-join scans co-located files.

        Crash-safe the same way commits are: the compacted segment is fully
        written BEFORE the manifest swap; a crash in between leaves the old
        manifest referencing the old segments (the orphan compacted dir is
        unreferenced garbage, exactly like an uncommitted Iceberg rewrite).
        Readers of the previous manifest keep seeing the old segment list.
        """
        if table not in APPEND_TABLES:
            raise ValueError(f"compact() is for append tables, got {table!r}")
        if self._pending:
            # staged-but-uncommitted segment lists were captured from the
            # pre-compaction manifest; committing them after a compact would
            # silently re-publish the old segment list (reverting the
            # compaction — and dangling if old segments were then GC'd)
            raise RuntimeError(
                "compact() must run between commits; staged tables pending: "
                f"{sorted(self._pending)}"
            )
        m = self.manifest()
        if m is None:
            return False
        paths = list(m["tables"].get(table, []))
        # never rewrite a dir the live manifest already references (the
        # write-before-swap guarantee): a lone c* segment is already compact
        if len(paths) < max(min_segments, 2):
            return False
        round_no = int(m["round"])
        df = spark.read.parquet(*[os.path.join(self.root, p) for p in paths])
        rel = os.path.join(table, f"c{round_no:05d}")
        writer = df.write.mode("overwrite")
        if partition_by is not None:
            writer = df.repartition(partition_by).write.mode("overwrite")
        writer.parquet(os.path.join(self.root, rel))
        tables = dict(m["tables"])
        tables[table] = [rel]
        _write_json_atomic(os.path.join(self.root, _MANIFEST), {**m, "tables": tables})
        return True


    def expire_snapshots(self, keep_last: int = 2) -> tuple[int, int]:
        """Drop historical snapshot manifests beyond the newest
        ``keep_last`` and delete data directories no surviving snapshot
        references (Iceberg expire-snapshots + orphan-file GC analog).
        Returns (n_manifests_removed, n_dirs_removed).

        Why this must exist at scale: every round appends segment dirs and
        a time-travel manifest; without expiry the store grows without
        bound even after compaction (the compacted segment supersedes the
        per-round dirs, but the OLD manifests still pin them). Crash-safe
        ordering: expired manifest FILES are unlinked first (each unlink
        atomic), data dirs are removed only if unreferenced by every
        remaining manifest — a crash in between leaves orphan data dirs
        (unreferenced garbage, same as an uncommitted write), never a
        manifest pointing at deleted data.
        """
        import shutil

        if self._pending:
            raise RuntimeError(
                "expire_snapshots() must run between commits; staged tables "
                f"pending: {sorted(self._pending)}"
            )
        hist = sorted(
            f for f in os.listdir(self.root)
            if f.startswith("_manifest_r") and f.endswith(".json")
        )
        expired = hist[: max(0, len(hist) - keep_last)]
        for name in expired:
            os.unlink(os.path.join(self.root, name))
        # survivors: the live manifest + remaining history pin their dirs
        referenced: set[str] = set()
        manifests = [self.manifest()] + [
            json.load(open(os.path.join(self.root, f)))
            for f in os.listdir(self.root)
            if f.startswith("_manifest_r") and f.endswith(".json")
        ]
        for m in manifests:
            if m:
                for paths in m["tables"].values():
                    referenced.update(paths)
        n_dirs = 0
        for table in (*APPEND_TABLES, *REPLACE_TABLES):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for seg in os.listdir(tdir):
                rel = os.path.join(table, seg)
                if rel not in referenced:
                    shutil.rmtree(os.path.join(self.root, rel))
                    n_dirs += 1
        return len(expired), n_dirs


def snapshot_diff(
    old: "DataFrame",
    new: "DataFrame",
    key_col: str = "doc_id",
    payload_col: str = "text",
    include_unchanged: bool = False,
) -> "DataFrame":
    """Change capture between two corpus snapshots — the read side of the
    Iceberg-snapshot story ``SnapshotStore`` shims (incremental consumers
    want "what changed since round N", not a full rescan).

    Full outer join on the key, payload compared by md5 digest:
    ``added`` (key only in new), ``removed`` (only in old), ``changed``
    (both, digests differ), ``unchanged`` (both, equal — excluded by
    default so the output is O(churn), not O(corpus)).

    Output: (key, status, old_digest, new_digest) with '' for the absent
    side. Scale shape: ONE shuffle join on the snapshot key (or zero
    shuffles when both snapshots are bucketed/partitioned by it), digests
    computed map-side before the join so only (key, 32-byte hash) shuffles
    — never the payloads.
    """
    from pyspark.sql import functions as F  # local: keep module import light

    o = old.select(F.col(key_col).alias("k"), F.md5(F.col(payload_col)).alias("old_digest"))
    n = new.select(F.col(key_col).alias("k"), F.md5(F.col(payload_col)).alias("new_digest"))
    j = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        F.col("k").alias(key_col),
        status.alias("status"),
        F.coalesce("old_digest", F.lit("")).alias("old_digest"),
        F.coalesce("new_digest", F.lit("")).alias("new_digest"),
    )
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out
