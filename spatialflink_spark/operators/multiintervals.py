"""Multi-interval objects — the multi-geometry stream analog.

Reference: MultiPoint / MultiPolygon / MultiLineString / GeometryCollection
streams (spatialStreams/Deserialization.java:588-621 MultiPoint, :837-870
MultiPolygon, :1208-1241 GeometryCollection; spatialObjects/MultiPolygon.java)
— a multi object is a SET of parts whose gridIDsSet is the UNION of the
parts' covered cells and whose distance to a point is the MIN over parts
(the same min-over-parts the reference's DistanceFunctions apply per part).

Token analog: a MULTI-INTERVAL object — an array of [lo, hi] spans per
(doc, seq), derived deterministically from the sequence stream:

    m spans, m = doc_id % 3 + 1, span j at stride 17:
      lo_j = max(n_tok + 17*j - (doc_id % 5 + 1), 0)
      hi_j =     n_tok + 17*j + (doc_id % 7 + 2)

    distance(point p) = min_j max(0, lo_j - p, p - hi_j)
    covered cells     = union_j cells(lo_j .. hi_j)   (gridIDsSet of parts)

The stride spreads a multi object across non-adjacent cells, so the
union-of-parts cell set is genuinely non-contiguous — the property that
distinguishes multi objects from plain intervals. The same arithmetic is
emitted as DuckDB SQL (oracle/sql_apps.py) for bit-identical goldens.

Grid pruning via the union-of-parts covered cells is complete: if
dist <= r, some span intersects [q - r, q + r], so one of its covered cells
is a candidate or guaranteed cell. The guaranteed-cell bypass is sound for
the same reason as for intervals: a part overlapping a guaranteed cell has a
point within the radius. The range/kNN/join plans are the shared ones
(operators/geometry.py); this module holds the spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.operators.geometry import GeometrySpec, parts_cells

SPAN_STRIDE = 17

# array<struct<lo int, hi int>> — the parts array (MultiPolygon.polygons analog)
SPANS_EXPR = (
    "transform(sequence(0, cast(doc_id % 3 as int)), j -> "
    f"struct(cast(greatest(n_tok + {SPAN_STRIDE}*j - (doc_id % 5 + 1), 0) as int) as lo, "
    f"cast(n_tok + {SPAN_STRIDE}*j + (doc_id % 7 + 2) as int) as hi))"
)


def mi_stream(seq_ws: DataFrame) -> DataFrame:
    """(ws, mi_id, mi_seq, spans, mi_ts) derived from the windowed sequence
    stream — the multi-geometry (array-of-parts) stream."""
    return seq_ws.select(
        "ws",
        F.col("doc_id").alias("mi_id"),
        F.col("seq_no").alias("mi_seq"),
        F.expr(SPANS_EXPR).alias("spans"),
        F.col("ts_s").alias("mi_ts"),
    )


MULTI_INTERVAL = GeometrySpec(
    id="mi_id",
    seq="mi_seq",
    ts="mi_ts",
    geom=("spans",),
    derive=mi_stream,
    cells=parts_cells("spans"),
    # min-over-parts 1-D bbox distance
    dist=lambda p: f"array_min(transform(spans, s -> greatest(0, s.lo - {p}, {p} - s.hi)))",
    bypass=True,
)
