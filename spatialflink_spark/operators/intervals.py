"""Interval-object operators — the Polygon/LineString type-combo analog.

The reference implements 9 type combinations of range/kNN/join over
Point/Polygon/LineString (spatialOperators/join/PointPolygonJoinQuery.java,
tRange/PointPolygonTRangeQuery.java:75-86 containment, etc.). In the token
domain the extended-object analog of a polygon is an n_tok INTERVAL
[lo, hi] (a 1-D bounding box): containment = lo <= n_tok <= hi; distance =
max(0, lo - n_tok, n_tok - hi) (the 1-D point-to-bbox distance,
utils/DistanceFunctions.java:150-200).

Interval objects carry a SET of covered cells (like Polygon.gridIDsSet,
spatialObjects/Polygon.java:17-23) and are replicated per covered cell so
the join is a pure equi-join — the same replicate→equi-join→θ-filter shape
as the point case (JoinQuery.java:93-115 replicates polygons the same way).
The guaranteed-cell bypass is sound: an interval overlapping a cell inside
[q - r, q + r] contains a point within r, so its bbox distance is <= r.
The range/kNN/join plans are the shared ones (operators/geometry.py); this
module holds the spec.

The interval stream is derived deterministically from the sequence stream:
one interval per (doc, seq): [n_tok - (doc_id%5+1), n_tok + (doc_id%7+2)].
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.operators.geometry import GeometrySpec, span_cells

LO_EXPR = "cast(greatest(n_tok - (doc_id % 5 + 1), 0) as int)"
HI_EXPR = "cast(n_tok + (doc_id % 7 + 2) as int)"


def interval_stream(seq_ws: DataFrame) -> DataFrame:
    """(ws, iv_id, iv_seq, lo, hi, iv_ts) derived from the windowed
    sequence stream — the second (extended-object) stream."""
    return seq_ws.select(
        "ws",
        F.col("doc_id").alias("iv_id"),
        F.col("seq_no").alias("iv_seq"),
        F.expr(LO_EXPR).alias("lo"),
        F.expr(HI_EXPR).alias("hi"),
        F.col("ts_s").alias("iv_ts"),
    )


INTERVAL = GeometrySpec(
    id="iv_id",
    seq="iv_seq",
    ts="iv_ts",
    geom=("lo", "hi"),
    derive=interval_stream,
    cells=span_cells("lo", "hi"),
    # the 1-D point-to-bbox distance (DistanceFunctions.java:150-200)
    dist=lambda p: f"greatest(0, lo - {p}, {p} - hi)",
    bypass=True,
)


def interval_range_count(seq_ws: DataFrame, q_n_tok: int) -> DataFrame:
    """Windowed range over the INTERVAL stream: per window, how many
    intervals contain the query point (1-D bbox distance == 0) — the
    Polygon-stream range query (tRange/PointPolygonTRangeQuery.java:75-86).
    Output: ws, n_containing, n_intervals."""
    iv = interval_stream(seq_ws)
    return iv.groupBy("ws").agg(
        F.sum(
            F.when(
                (F.lit(q_n_tok) >= F.col("lo")) & (F.lit(q_n_tok) <= F.col("hi")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_containing"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
