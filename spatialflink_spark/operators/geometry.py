"""Geometry specs — what the plan shapes need to know about one geometry type.

The reference writes one operator class per geometry-type combination
(PointPointRangeQuery, PointPolygonKNNQuery, PolygonLineStringJoinQuery, ...;
SURVEY.md §1). In the columnar form the plan shapes do not depend on the type
at all, only on a few expressions over the derived stream. A `GeometrySpec`
holds exactly those, and each type declares its spec once in its own module:

- `operators.points.POINT`                  the sequence rows themselves
- `operators.intervals.INTERVAL`            n_tok intervals (polygon analog)
- `operators.linestrings.LINESTRING`        token vertex sets
- `operators.multiintervals.MULTI_INTERVAL` arrays of spans (multi-geometry)
- `operators.geomcollection.GEOM_COLLECTION` mixed typed parts

The plan shapes that consume a spec, one implementation each:

- covered-cell range with per-object dedup: `range_query.range_query`
  (candidate generation: `range_query.candidates`)
- two-stage radius-bounded kNN: `knn.knn_windowed` (stage 2: `knn.knn_merge`)
- replicate -> cell equi-join -> θ-filter -> latest-per-pair:
  `join.windowed_join`, over two `GeometrySpec.side` inputs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.config import GridConfig
from spatialflink_spark.operators.cells import cell_range_sql


def span_cells(lo: str, hi: str) -> Callable[[GridConfig, int], Column]:
    """Covered cells of a one-span object [lo, hi]: one row per cell."""
    return lambda grid, expand: F.explode(F.expr(cell_range_sql(grid, lo, hi, expand)))


def parts_cells(parts: str) -> Callable[[GridConfig, int], Column]:
    """Covered cells of a multi-part object: the union over its parts'
    [p.lo, p.hi] spans (Polygon.gridIDsSet over parts, HelperClass.java:
    123-143 applied per part), one row per distinct cell."""
    return lambda grid, expand: F.explode(
        F.expr(
            f"array_distinct(flatten(transform({parts}, p -> "
            f"{cell_range_sql(grid, 'p.lo', 'p.hi', expand)})))"
        )
    )


class Side(NamedTuple):
    """One input of windowed_join: a replicated stream (ws, cell, id, seq,
    ts, geometry columns) and the names its id/seq/ts columns carry."""

    df: DataFrame
    id: str
    seq: str
    ts: str


@dataclass(frozen=True)
class GeometrySpec:
    """One geometry type, as the plan shapes see it.

    - `derive(seq_ws)`: the type's stream, derived from the windowed
      sequence rows; carries `ws` plus the id/seq/ts and `geom` columns.
    - `cells(grid, expand)`: the `cell` column of the object's covered cells,
      each side widened by `expand` (join replication); an exploding
      generator unless the object always lies in exactly one cell.
    - `dist(p)`: SQL distance from the object to n_tok-axis point `p`.
    - `bypass`: whether rows in a query's guaranteed cells may skip the
      exact distance check. Sound when overlapping a cell inside
      [q - r, q + r] implies a point of the object within r.
    - `bound(p)`: optional cheap lower bound of `dist(p)`, checked first.
    - `one_cell`: every object lies in exactly one cell, so a range query
      needs no per-object dedup.
    """

    id: str
    seq: str
    ts: str
    geom: tuple[str, ...]
    derive: Callable[[DataFrame], DataFrame]
    cells: Callable[[GridConfig, int], Column]
    dist: Callable[[str], str]
    bypass: bool
    bound: Callable[[str], str] | None = None
    one_cell: bool = False

    def replicate(self, seq_ws: DataFrame, grid: GridConfig, expand: int = 0) -> DataFrame:
        """The derived stream with one row per covered cell."""
        return self.derive(seq_ws).withColumn("cell", self.cells(grid, expand))

    def side(
        self, seq_ws: DataFrame, grid: GridConfig, expand: int = 0, **names: str
    ) -> Side:
        """A windowed_join input: the replicated stream projected to ws,
        cell, id, seq, ts and the geometry columns, renamed by `names`
        (needed when both sides are of one type)."""
        cols = (self.id, self.seq, self.ts, *self.geom)
        df = self.replicate(seq_ws, grid, expand).select(
            "ws", "cell", *[F.col(c).alias(names.get(c, c)) for c in cols]
        )
        return Side(df, *(names.get(c, c) for c in cols[:3]))
