"""Point objects — the sequence rows themselves, at n_tok on the axis.

Reference: spatialObjects/Point.java; distance |p - q|
(DistanceFunctions.getDistance). A point lies in exactly one cell (the
gridID of Point.java:65), so it needs no explode unless a join replicates it
to its radius neighborhood (JoinQuery.java:73-90). The guaranteed-cell
bypass is sound: a point in a cell inside [q - r, q + r] is within r.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spatialflink_spark.operators.cells import cell_expr, cell_range_sql
from spatialflink_spark.operators.geometry import GeometrySpec


def _cells(grid, expand):
    if expand == 0:
        return cell_expr(grid)
    return F.explode(F.expr(cell_range_sql(grid, "n_tok", "n_tok", expand)))


POINT = GeometrySpec(
    id="doc_id",
    seq="seq_no",
    ts="ts_s",
    geom=("n_tok",),
    derive=lambda seq_ws: seq_ws,
    cells=_cells,
    dist=lambda p: f"abs(n_tok - {p})",
    bypass=True,
    one_cell=True,
)
