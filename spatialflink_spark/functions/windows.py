"""Window assignment — tumbling / sliding / session, in two forms.

Batch-portable form (used by the gate queries + oracle): window start/end as
BIGINT epoch seconds computed with integer arithmetic, identical in Spark SQL
and DuckDB SQL. Streaming form (streaming/pipeline.py) uses the native
``window()`` / ``session_window()`` grouping columns — same assignment math
(Spark's window start = floor(ts/slide)*slide ladder), so outputs agree at
window close.

Reference semantics mirrored:
- tumbling:  TumblingEventTimeWindows (sncb/mobility/MN_Q1.java:73)
- sliding:   SlidingEventTimeWindows (MN_Q2.java:85; PointPointRangeQuery.java:228)
- session:   not used by the reference; required by north_rule — Spark
             session_window semantics (gap-merged per key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_start(ts_col: str, size_s: int) -> Column:
    """BIGINT window start for a tumbling window of `size_s` seconds."""
    return F.expr(f"cast(floor({ts_col} / {size_s}) * {size_s} as bigint)")


def with_sliding_windows(df: DataFrame, ts_col: str, size_s: int, slide_s: int) -> DataFrame:
    """Explode each row into every sliding window containing it, adding
    `ws` (BIGINT start). A row at time t belongs to windows with start in
    (t - size, t], stepped by slide — exactly Flink/Spark assignment.

    The explode fan-out factor is size/slide (static, known at plan time);
    Catalyst keeps this in codegen. At scale this is the same replication the
    reference performs implicitly by buffering each element in size/slide
    panes.
    """
    n = size_s // slide_s
    return (
        df.withColumn("_k", F.explode(F.expr(f"sequence(0, {n - 1})")))
        .withColumn(
            "ws",
            F.expr(
                f"cast(floor({ts_col} / {slide_s}) * {slide_s} - _k * {slide_s} as bigint)"
            ),
        )
        .where(F.expr(f"{ts_col} >= ws AND {ts_col} < ws + {size_s}"))
        .drop("_k")
    )


def with_session_windows(
    df: DataFrame, key_cols: list[str], ts_col: str, order_cols: list[str], gap_s: int
) -> DataFrame:
    """Gap-based sessionization via window functions (batch-portable form).

    A new session starts when ts - lag(ts) > gap within the key partition;
    session id = running count of starts. Identical SQL-window semantics in
    DuckDB. Streaming form uses native session_window() — same merge result.
    """
    part = ", ".join(key_cols)
    order = ", ".join(order_cols)
    return (
        df.withColumn(
            "_new_sess",
            F.expr(
                f"CASE WHEN {ts_col} - lag({ts_col}) OVER "
                f"(PARTITION BY {part} ORDER BY {order}) > {gap_s} "
                "THEN 1 ELSE CASE WHEN lag(1) OVER "
                f"(PARTITION BY {part} ORDER BY {order}) IS NULL THEN 1 ELSE 0 END END"
            ),
        )
        .withColumn(
            "sess_id",
            F.expr(
                f"sum(_new_sess) OVER (PARTITION BY {part} ORDER BY {order} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ),
        )
        .drop("_new_sess")
    )
