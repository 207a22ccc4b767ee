"""LineString-object operators — the third geometry type of the reference's
9-way type-combo matrix (range/kNN/join over Point/Polygon/LineString).

Token-domain re-expression: a LineString is the token ARRAY itself, a 1-D
polyline whose vertices are the token values (spatialObjects/LineString.java
keeps the ordered coordinate list the same way), with bounding box
[array_min(tokens), array_max(tokens)] (LineString.java boundingBox).

Distance choice, stated honestly: the reference's exact distance iterates the
geometry's SEGMENTS (getPointLineStringMinEuclideanDistance,
utils/DistanceFunctions.java:202-230). In 1-D the continuous-segment distance
degenerates to the bbox distance (a connected polyline's image is exactly
[lo, hi] by the intermediate value theorem) — which the interval operators
already re-express. So the linestring analog keeps the DISCRETE polyline:
distance = min over vertices |t - q|. The three geometry types then carry
three genuinely distinct distance functions — point |a-b|, interval bbox
clamp, vertex-set min — and the linestring's exact check genuinely iterates
the geometry array, as the reference's does.

The LineString-LineString combo is deliberately NOT implemented: token
vertex sets are drawn from the one shared vocabulary, so two polylines'
bboxes essentially always overlap (zero grid pruning — candidate set = all
pairs) and the min pairwise vertex distance is ~0 for every pair — the combo
is semantically degenerate in the 1-D token domain. Its two non-degenerate
aspects are covered elsewhere: extent-vs-extent by the interval_interval_join
query, vertex distance by the point_linestring_join and
interval_linestring_join queries (gate.py).

Candidate pruning is grid-shaped like the reference's
(UniformGrid.java:368-395): replicate each linestring to the cells its bbox
covers (gridIDsSet, HelperClass.java:123-143); the bbox distance
max(0, lo - q, q - hi) lower-bounds the vertex distance, so pruning on it is
sound, and any vertex within radius lies in a covered bbox cell that is also
one of the query's candidate cells, so it is complete. The guaranteed-cell
bypass is deliberately NOT used: a bbox overlapping a guaranteed cell does
not imply a VERTEX there (only a crossing), so the bypass is unsound for
vertex distance.

The range/kNN/join plans are the shared ones (operators/geometry.py); this
module holds the spec, with the bbox distance as its cheap `bound` checked
before the vertex scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.operators.geometry import GeometrySpec, span_cells


def linestring_stream(seq_ws: DataFrame) -> DataFrame:
    """(ws, ls_id, ls_seq, tokens, lo, hi, ls_ts): each sequence row as a
    1-D polyline with its bbox."""
    return seq_ws.select(
        "ws",
        F.col("doc_id").alias("ls_id"),
        F.col("seq_no").alias("ls_seq"),
        "tokens",
        F.expr("array_min(tokens)").alias("lo"),
        F.expr("array_max(tokens)").alias("hi"),
        F.col("ts_s").alias("ls_ts"),
    )


LINESTRING = GeometrySpec(
    id="ls_id",
    seq="ls_seq",
    ts="ls_ts",
    geom=("tokens",),
    derive=linestring_stream,
    cells=span_cells("lo", "hi"),
    # exact 1-D point-to-vertex-set distance over the token array
    dist=lambda p: f"array_min(transform(tokens, t -> abs(t - {p})))",
    bypass=False,
    bound=lambda p: f"greatest(0, lo - {p}, {p} - hi)",
)
