"""spatialflink_spark — a PySpark-native streaming/CEP analytics engine.

A brand-new engine (NOT a port) re-expressing the query semantics of the
reference repo marianaGarcez/SpatialFlink (GeoFlink + SNCB extension) over a
table of pre-tokenized training sequences
``(doc_id string, tokens array<int>, n_tok int, source string, event_ts)``:

- uniform-grid cell assignment        -> 1-D token-length grid (`operators.cells`,
  the one clamped cell-range helper `cell_range_sql`)
  (reference: spatialIndices/UniformGrid.java)
- geometry types, one spec each       -> `operators.geometry.GeometrySpec`;
  `operators.points.POINT`, `operators.intervals.INTERVAL`,
  `operators.linestrings.LINESTRING`, `operators.multiintervals.MULTI_INTERVAL`,
  `operators.geomcollection.GEOM_COLLECTION`
  (reference: spatialObjects/*.java, one query class per type combination)
- covered-cell range, any type        -> `operators.range_query`
  (reference: spatialOperators/range/PointPointRangeQuery.java)
- windowed kNN (two-stage top-k)      -> `operators.knn` (`knn_windowed`;
  stage 2 `knn_merge`, shared with `streaming.pipeline.finalize_knn`)
  (reference: spatialOperators/knn/PointPointKNNQuery.java, KNNQuery.java)
- windowed spatial join, any type pair -> `operators.join.windowed_join`
  (reference: spatialOperators/join/PointPointJoinQuery.java,
   tJoin/PointPointTJoinQuery.java)
- trajectory/stateful operators       -> `operators.stats`, `operators.aggregate`,
  `streaming.stateful`
  (reference: tStats/TStatsQuery.java, tAggregate/TAggregateQuery.java,
   sncb/ops/*Agg.java)
- Kafka/socket sources + sinks        -> `sources`, `streaming.sink`
  (exactly-once foreachBatch keyed (window, doc_id))

plus first-class large-scale training-data operators (deduplication,
similarity search, text analysis, multimodal plumbing) in
`operators.dedup`, `operators.similarity`, `operators.text`,
`operators.multimodal`.

Everything is declarative DataFrame/SQL (Catalyst-optimizable); Python rows
never appear on the hot path (vectorized pandas/Arrow UDFs only where Spark
lacks a primitive, e.g. count-windows).
"""

__version__ = "0.1.0"

from spatialflink_spark.config import EngineConfig, GridConfig, QueryPoint  # noqa: F401
