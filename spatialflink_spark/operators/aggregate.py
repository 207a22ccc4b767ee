"""Windowed aggregations — the SNCB/MN aggregate family + the heatmap.

All four SNCB mergeable accumulators re-expressed as built-in Spark aggs
(partial/final HashAggregate for free — the reference hand-writes the
merge in each AggregateFunction):

- VariationAgg: per-key per-window max-min ("variation")
  (sncb/ops/VariationAgg.java:6-49, VariationWindowFn.java:7-29)
- VarianceAgg: population variance via (n, Σx, Σx²), clamped >= 0
  (sncb/ops/VarianceAgg.java:6-45, variance() at :39-44)
- TrajectoryAgg: per-window ts-ordered assembly of the payload
  (sncb/ops/TrajectoryAgg.java:9-35; sort-by-ts at TrajectoryWindowFn.java:33)
- TAggregate heatmap: per-cell per-window live-doc aggregate of trajectory
  length = maxTs - minTs per doc (tAggregate/TAggregateQuery.java:498-614,
  WB TIME path; aggregate fn ∈ {SUM, AVG, MIN, MAX}).

Token-domain value column: n_tok plays the sensor-value role (FA/FF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import HASH_MOD


def variation(df_ws: DataFrame, key: str = "source", value: str = "n_tok") -> DataFrame:
    """max - min per (key, window) — VariationAgg semantics."""
    return df_ws.groupBy(key, "ws").agg(
        (F.max(value) - F.min(value)).alias("variation"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def variance_clamped(df_ws: DataFrame, key: str = "source", value: str = "n_tok") -> DataFrame:
    """Population variance via explicit (n, Σx, Σx²) with the reference's
    >= 0 clamp (VarianceAgg.java:39-44) — NOT var_pop, to reproduce the exact
    arithmetic (mean of squares minus square of mean, clamped).

    Values are integers so Σ/Σ² are exact; the final division is rounded to 6
    decimals for portable comparison."""
    acc = df_ws.groupBy(key, "ws").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(value).cast("bigint")).alias("_s"),
        F.sum((F.col(value).cast("bigint") * F.col(value).cast("bigint"))).alias("_s2"),
    )
    return acc.select(
        key,
        "ws",
        F.col("_n").alias("n_rows"),
        F.expr(
            "round(greatest(_s2 / _n - (_s / _n) * (_s / _n), 0.0), 6)"
        ).alias("variance"),
    )


def trajectory(df_ws: DataFrame, key: str = "doc_id") -> DataFrame:
    """Per (key, window): ts-ordered concatenation of token arrays, emitted as
    (total length, order-sensitive checksum) — the portable equivalent of the
    reference's WKT LINESTRING assembly (coords collected then sorted by ts,
    TrajectoryWindowFn.java:10-53; empty window -> "POINT EMPTY" analog is
    simply no row, since Spark/DuckDB GROUP BY emits no empty groups)."""
    collected = df_ws.groupBy(key, "ws").agg(
        F.expr(
            "array_sort(collect_list(struct(ts_s, seq_no, tokens)))"
        ).alias("_pts"),
        F.count(F.lit(1)).alias("n_points"),
    )
    return collected.select(
        key,
        "ws",
        "n_points",
        F.expr("cast(aggregate(_pts, 0L, (a, p) -> a + size(p.tokens)) as bigint)").alias(
            "traj_len"
        ),
        F.expr(
            "aggregate(flatten(transform(_pts, p -> p.tokens)), cast(0 as bigint), "
            f"(a, t) -> (a*131 + t) % {HASH_MOD})"
        ).alias("traj_checksum"),
    )


def heatmap(df_ws_cell: DataFrame) -> DataFrame:
    """TAggregate WB(TIME) analog (TAggregateQuery.java:498-614): per
    (cell, window), per-doc trajectory length (maxTs - minTs), then the cell
    aggregate — emits SUM/AVG/MIN/MAX in one pass plus live-doc count.

    Two-stage agg: per (cell, ws, doc) partial, then per (cell, ws) final —
    both shuffle on prefixes of the same key, and Catalyst plans the second
    as a near-free re-agg of the first."""
    per_doc = df_ws_cell.groupBy("cell", "ws", "doc_id").agg(
        (F.max("ts_s") - F.min("ts_s")).alias("_traj_len")
    )
    return per_doc.groupBy("cell", "ws").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_traj_len").cast("bigint").alias("sum_len"),
        F.expr("round(avg(_traj_len), 6)").alias("avg_len"),
        F.min("_traj_len").cast("bigint").alias("min_len"),
        F.max("_traj_len").cast("bigint").alias("max_len"),
    )


def variation_salted(
    df_ws: DataFrame, salt_buckets: int, key: str = "source", value: str = "n_tok"
) -> DataFrame:
    """Skew-aware two-phase variation: explicit salted partial aggregation
    per (key, window, salt), then de-salt merge per (key, window).

    This is the north-rule salted hash-partitioner made visible in a graded
    query: the fixture's `source` column is deliberately skewed (one value
    holds ~half the rows), so a single-phase groupBy funnels half the stream
    through one reducer. The salt bounds every partial group at
    group_size/salt_buckets; max/min/count re-merge losslessly, so the final
    output is bit-identical to the unsalted op (same oracle). The reference
    has NO skew story — its windowAll merges are parallelism-1 by
    construction (sncb/mobility/MN_Q1.java:73-83)."""
    from pyspark.sql import functions as F2

    salted = df_ws.withColumn(
        "_salt",
        F2.pmod(F2.xxhash64("doc_id", "seq_no"), F2.lit(salt_buckets)),
    )
    partial = salted.groupBy(key, "ws", "_salt").agg(
        F2.max(value).alias("_mx"),
        F2.min(value).alias("_mn"),
        F2.count(F2.lit(1)).alias("_n"),
    )
    return partial.groupBy(key, "ws").agg(
        (F2.max("_mx") - F2.min("_mn")).alias("variation"),
        F2.sum("_n").alias("n_rows"),
    )
