"""As-of join — each left row picks the latest right row at-or-before
its timestamp, per key.

Spark has no ASOF JOIN operator (DuckDB, Pandas and kdb all ship one;
the catalog oracle uses DuckDB's native `ASOF JOIN` as the independent
formulation). The scalable composition is the UNION + WINDOW trick:

    tag right rows side=0 and left rows side=1, union them, and run ONE
    window per key ordered by (ts, side) carrying a running
    ``last(value, ignorenulls)`` — every left row then reads the most
    recent right value at-or-before its own timestamp (right sorts
    before left on ties, so "at" is inclusive), and the filter keeps
    only left rows.

Why this shape at 100 TB: the naive formulations are a per-row
correlated subquery (not expressible in DataFrame ops), a range
self-join (quadratic between versions), or per-key collect (driver
funnel). The union+window is ONE shuffle on the join key — the same
cost as an equi-join — and the window state is a single running value
per key. Skew follows the key distribution exactly like any keyed
window; a hot key salts the same way the politeness scheduler's does.

The same machinery runs the labeling/attribution family
(operators/events.last_touch_attribution); this module generalizes it
to an arbitrary (key, ts, payload) dimension — price/fee schedules,
robots rule epochs, config rollouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    right_ts_col: str | None = None,
    asof_ts_name: str = "asof_ts",
) -> DataFrame:
    """Left rows + the latest ``value_cols`` from ``right`` whose
    timestamp is ≤ the left row's ``ts_col``, per ``key_cols``.

    ``right`` must have at most one row per (key, ts) — ties among
    right versions at the same instant are a dimension-modeling bug the
    caller owns (mirrors DuckDB ASOF JOIN semantics). Left rows with no
    eligible right row keep NULL values (left-outer asof).

    Timestamps are integral on both sides (epoch-ms BIGINT by
    convention, any integer order key works): a timestamp-typed right ts
    would silently come back as epoch SECONDS through the final long
    cast, and a timestamp-typed left ts would be compared against the
    right side's integers through an implicit cast, so either is
    rejected here. ``value_cols`` and ``asof_ts_name`` must not collide
    with left's non-key columns — the union projection would otherwise
    produce duplicate/ambiguous output columns (r4 ADVICE)."""
    rts = right_ts_col or ts_col
    overlap = set(value_cols) & (set(left.columns) - set(key_cols))
    if overlap:
        raise ValueError(
            f"value_cols {sorted(overlap)} collide with left non-key columns; "
            "rename them on one side before the asof join"
        )
    if asof_ts_name in set(left.columns) - set(key_cols):
        raise ValueError(
            f"asof_ts_name {asof_ts_name!r} collides with a left column"
        )
    for side, df, col in (("left", left, ts_col), ("right", right, rts)):
        col_type = df.schema[col].dataType.simpleString()
        if col_type not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"{side} ts column {col!r} is {col_type}; asof_join expects "
                "an integral order key (epoch-ms bigint) — cast timestamps "
                "with unix_millis() first (cast('long') on a timestamp is "
                "SECONDS)"
            )
    lcols = left.columns
    r = right.select(
        *key_cols,
        F.col(rts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(rts).alias("__rts"),
        *[F.col(v) for v in value_cols],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in key_cols
        ],
    )
    l_ = left.select(
        *key_cols,
        F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("long").alias("__rts"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(v) for v in value_cols],
        *[F.col(c) for c in lcols if c not in key_cols],
    )
    u = r.unionByName(l_)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *key_cols,
        "__ts",
        "__side",
        F.last("__rts", ignorenulls=True).over(w).alias(asof_ts_name),
        *[
            F.last(F.when(F.col("__side") == 0, F.col(v)), ignorenulls=True)
            .over(w)
            .alias(v)
            for v in value_cols
        ],
        *[F.col(c) for c in lcols if c not in key_cols],
    )
    return carried.filter(F.col("__side") == 1).select(
        *key_cols,
        *[F.col(c) for c in lcols if c not in key_cols],
        F.col(asof_ts_name).cast("long").alias(asof_ts_name),
        *value_cols,
    )
