"""Sequence packing — concat-and-chunk document→training-sequence assignment.

LLM trainers consume fixed-length token sequences, not documents: the corpus
is (virtually) concatenated in a deterministic order and split every
``seq_tokens`` tokens. The assignment each document needs is therefore its
EXCLUSIVE PREFIX SUM of token counts in the global order — which chunk it
starts in (``seq_id``), where (``offset_in_seq``), and how many chunks it
spans (``n_seqs_spanned``).

A naive ``sum() over (order by ...)`` window is a single-partition funnel —
the same trap ``ordering.assign_seq_scalable`` avoids for row numbers — so
the prefix sum here generalizes that two-pass pattern from counts to sums:

  1. range-repartition on the (globally unique) order key and sort within
     partitions — total order across partition boundaries;
  2. ONE small job: per-partition SUM of the value column (O(partitions)
     rows to the driver), exclusive-prefix-folded into per-partition base
     offsets, broadcast back;
  3. Arrow ``mapInPandas`` stamps ``base + local exclusive cumsum`` — no
     further shuffle, deterministic at any parallelism (the sum depends
     only on the total order, never on partition boundaries).

Token counts are integers, so unlike float aggregation there is no
fold-order hazard: the result is exactly the single-threaded cumsum, and a
SQL ``sum(...) over (order by ...)`` window matches it bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import track_persist
from pyspark.sql import types as T


def prefix_sum_scalable(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` in total-order of ``order_cols``
    (which must form a globally unique key). One counting job, no global
    window funnel; see module docstring."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    d = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
    d = d.sortWithinPartitions(*order_cols)
    # Partition id cached AS DATA (see ordering.assign_seq_scalable): reading
    # TaskContext.partitionId() at stamp time mis-numbers partitions whenever
    # the stamped plan is consumed inside a union-fused stage. The data column
    # freezes the id assigned during the standalone counts job below.
    d = d.withColumn("__pid", F.spark_partition_id())
    d = track_persist(d, StorageLevel.MEMORY_AND_DISK)

    part_sums = (
        d.groupBy("__pid")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    )
    sums = {r["__pid"]: int(r["s"]) for r in part_sums}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.LongType())])

    def _stamp(batches):
        base = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = b_offsets.value[int(pdf["__pid"].iloc[0])]
            pdf = pdf.drop(columns=["__pid"])
            v = pdf[value_col].to_numpy(dtype=np.int64)
            pdf[out_col] = base + np.concatenate(([0], np.cumsum(v)[:-1]))
            base += int(v.sum())
            yield pdf

    return d.mapInPandas(_stamp, out_schema)


def pack_sequences(
    docs: DataFrame,
    seq_tokens: int,
    token_col: str = "n_tokens",
    order_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each document its place in the packed fixed-length token
    stream. Adds ``tok_offset`` (exclusive prefix sum), ``seq_id``,
    ``offset_in_seq``, ``n_seqs_spanned``. ``token_col`` must be >= 1 per
    row (single-space tokenization guarantees it)."""
    order_cols = order_cols or ["doc_id"]
    with_off = prefix_sum_scalable(
        docs, token_col, order_cols, "tok_offset", num_partitions
    )
    off, s = F.col("tok_offset"), F.lit(seq_tokens)
    return (
        with_off.withColumn("seq_id", F.expr(f"tok_offset div {seq_tokens}"))
        .withColumn("offset_in_seq", F.pmod(off, s).cast("long"))
        .withColumn(
            "n_seqs_spanned",
            (F.expr(f"(tok_offset + {token_col} - 1) div {seq_tokens}")
             - F.col("seq_id") + F.lit(1)).cast("long"),
        )
    )


def token_budget_trim(
    docs: DataFrame,
    budget: int,
    score_col: str = "score",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data selection under a global token budget: keep the highest-quality
    documents whose token counts fit.

    Training runs are sized in tokens, not documents; given an integer
    quality ``score`` per doc, the kept set is the greedy best-first prefix
    — exactly the docs whose EXCLUSIVE prefix sum of tokens in
    (score desc, id) order still fits ``budget`` with their own tokens.
    A straddling document (starts inside, ends outside) is dropped whole —
    budgets bound what the trainer reads, so partial docs don't count.

    Scale shape: one :func:`prefix_sum_scalable` pass (range-repartition +
    O(partitions) counts job + Arrow stamp — no global window funnel), then
    a pure filter. Deterministic at any parallelism; integer arithmetic
    only.
    """
    d = docs.withColumn("__neg_score", -F.col(score_col))
    stamped = prefix_sum_scalable(
        d, token_col, ["__neg_score", id_col], "tok_prefix"
    )
    return stamped.filter(
        F.col("tok_prefix") + F.col(token_col) <= F.lit(budget)
    ).drop("__neg_score")
