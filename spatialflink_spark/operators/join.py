"""Windowed stream–stream spatial join — replicate → equi-join → θ-filter.

Reference semantics (join/PointPointJoinQuery.java:124-183):
1. replicate the (smaller) query stream to every neighboring cell so the join
   becomes a pure equi-join on gridID (JoinQuery.java:73-90)
2. window-join on (gridID, window)
3. exact distance θ-filter d(p, q) <= r.
Trajectory join adds latest-per-pair dedup: keep the max-timestamp match per
(traj1, traj2) (tJoin/PointPointTJoinQuery.java:133-177); the self-join
variant skips p.objID == q.objID (:341-435).

Token-domain re-expression, one plan for every geometry-type pair: each
side is a spec's stream (operators/geometry.py) exploded to its covered
cells, one side widened by the radius ("neighboring cells" = the cells
intersecting [lo - r, hi + r], integer arithmetic + sequence()), keeping the
join a pure (cell, ws) equi-join that Catalyst executes as SortMergeJoin (or
BroadcastHashJoin when one side is small — a strategy Catalyst picks from
stats; at 100 TB both sides are big and SMJ on (cell, ws) with AQE skew
splitting is the right plan).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialflink_spark.operators.geometry import Side


def windowed_join(
    left: Side,
    right: Side,
    radius: int,
    dist: str,
    payload: Sequence[str] = ("dist",),
    emit: Sequence[str] | None = None,
    skip_self: bool = True,
) -> DataFrame:
    """Pairs (l, r) in the same window whose θ distance `dist` (SQL over
    both sides' columns) is <= radius, deduped to the latest match per
    (window, l.id, r.id) pair.

    `left`/`right` come from GeometrySpec.side; one of them is replicated
    with expand=radius, so every qualifying pair shares >= 1 cell.
    `skip_self` drops pairs of one object id (runSingle semantics,
    tJoin/PointPointTJoinQuery.java:341-435).

    Latest-per-pair (PointPointTJoinQuery.java:133-177): max over
    struct(pair_ts, l.seq, r.seq, *payload) — max(struct) breaks ties field
    by field, so the field order is part of the answer. Output: ws, l.id,
    r.id, the `emit` struct fields (default: payload), pair_ts.
    """
    pairs = left.df.join(right.df, ["ws", "cell"])
    if skip_self:
        pairs = pairs.where(F.col(left.id) != F.col(right.id))
    pairs = pairs.withColumn("dist", F.expr(dist)).where(F.col("dist") <= radius)
    # max over a struct: single shuffle, partial+final aggregate automatic
    latest = pairs.groupBy("ws", left.id, right.id).agg(
        F.max(
            F.struct(
                F.greatest(left.ts, right.ts).alias("pair_ts"),
                left.seq,
                right.seq,
                *payload,
            )
        ).alias("_m")
    )
    return latest.select(
        "ws",
        left.id,
        right.id,
        *[F.col(f"_m.{c}").alias(c) for c in (emit or payload)],
        F.col("_m.pair_ts").alias("pair_ts"),
    )
