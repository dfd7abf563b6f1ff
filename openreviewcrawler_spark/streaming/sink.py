"""Streaming upsert sink — exactly-once micro-batch MERGE into the
snapshot store via ``foreachBatch``.

The append-mode sinks in ``streaming/ingest.py`` are write-once: every
micro-batch lands as new rows. A production crawl also maintains KEYED
state tables fed by the stream — the URL-seen ledger, per-URL fetch
status, host health — where each arriving record must UPSERT (replace the
row with its key, latest capture wins). Iceberg spells this
``foreachBatch`` + ``MERGE INTO``; this module is that pattern over
:class:`~..sources.checkpoint.SnapshotStore`, which is the engine's
Iceberg shim (atomic manifest swap = snapshot commit).

Exactly-once discipline: Structured Streaming replays a micro-batch after
a crash with the SAME ``batch_id``, so the merge must be idempotent. The
store's manifest carries a ``stream_batch:<table>`` high-water mark,
written in the SAME atomic commit as the data — a replayed batch whose id
is ≤ the mark is skipped entirely, and a crash BETWEEN data write and
commit leaves the manifest (and the mark) untouched, so the replay redoes
the staging write into the same per-batch directory (overwrite mode: no
duplicates). This is the standard Delta/Iceberg "txn version in the same
commit" recipe.

Merge shape per batch: within-batch latest-wins dedup (one shuffle on the
key, bounded by the micro-batch), then ``existing LEFT ANTI batch`` (keys
being replaced drop) union the deduped batch. Copy-on-write of the keyed
table — the Iceberg CoW MERGE analog; at true scale the table would be
bucketed by key so the anti-join co-partitions, which is exactly how the
store's ``compact`` lays out its rewrite.

Reference analog: the reference crawler's ``already_done`` reload-and-skip
loop (/root/reference/crawler.py:29-34) is a driver-side dict rebuilt per
run; this is the distributed, crash-consistent, continuously-maintained
version of the same ledger.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.checkpoint import SnapshotStore


def merge_upsert(
    existing: DataFrame | None,
    batch: DataFrame,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Latest-wins MERGE of ``batch`` into ``existing`` by ``key_cols``.

    Within the batch, the row with the highest ``order_col`` per key wins.
    ``order_col`` ties are broken by ``xxhash64`` over the full row — a
    DETERMINISTIC total order, so a crash-replayed batch durably commits
    the same winner the original attempt would have (row_number over a
    partial order picks a partitioning-dependent winner; r4 ADVICE).
    The result is deterministic up to a 64-bit hash collision: two distinct
    rows tied on both ``order_col`` and the hash (probability ~2^-64 per
    pair) would leave a partitioning-dependent winner. Pure batch logic,
    reused by tests directly."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), F.xxhash64(*batch.columns).desc()
    )
    latest = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if existing is None:
        return latest
    return existing.join(latest, key_cols, "left_anti").unionByName(latest)


def upsert_batch_fn(
    store: SnapshotStore,
    table: str,
    key_cols: list[str],
    order_col: str,
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` callable: idempotent exactly-once upsert of
    each micro-batch into ``store.<table>``. Safe to call directly with a
    stale ``batch_id`` (no-op) — that IS the crash-replay contract."""
    mark_key = f"stream_batch:{table}"

    def _merge(batch: DataFrame, batch_id: int) -> None:
        extra = store.extra()
        # The sink numbers snapshots by micro-batch id, which would clobber
        # a crawl pipeline's round-numbered manifests if both shared one
        # store (r4 ADVICE). Claim the store exclusively: every sink commit
        # stamps `sink_store`; a store with prior NON-sink commits refuses.
        if store.latest_round() is not None and not extra.get("sink_store"):
            raise ValueError(
                f"SnapshotStore at {store.root!r} has non-sink commits; "
                "upsert sinks require a dedicated store root (batch-id "
                "snapshot numbering would clobber crawl round manifests)"
            )
        last = int(extra.get(mark_key, -1))
        if batch_id <= last:
            return  # replayed batch already committed — exactly-once
        spark = batch.sparkSession
        existing = store.read(spark, table)
        merged = merge_upsert(existing, batch, key_cols, order_col)
        # stage under the batch id; a replay after a pre-commit crash
        # overwrites the same directory, never duplicating
        store.stage_replace(merged, table, round_no=int(batch_id))
        store.commit(
            int(batch_id), extra={mark_key: int(batch_id), "sink_store": True}
        )

    return _merge


def run_upsert_sink(
    stream: DataFrame,
    store: SnapshotStore,
    table: str,
    key_cols: list[str],
    order_col: str,
    checkpoint_dir: str,
):
    """Start the upsert sink with ``Trigger.AvailableNow`` (drain what's
    there, then stop — the deterministic test/backfill trigger; a
    production deployment swaps in a processing-time trigger on the same
    checkpoint). Returns the streaming query."""
    return (
        stream.writeStream.foreachBatch(
            upsert_batch_fn(store, table, key_cols, order_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
