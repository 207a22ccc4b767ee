"""DuckDB oracle SQL for the SNCB-analog app queries (operators/apps.py)."""

from __future__ import annotations

from spatialflink_spark.config import (
    DEFAULT_CONFIG as C,
    DEFAULT_QUERY_POINTS,
    HASH_MOD,
)
from spatialflink_spark.operators.apps import (
    BLOCKED_CELLS,
    FENCE_CELLS,
    Q4_NTOK_HI,
    Q4_NTOK_LO,
    Q5_AVG_HI,
    Q5_MIN_LO,
)
from spatialflink_spark.operators.cells import duck_cell_expr
from spatialflink_spark.oracle.sql import _prologue, qpoints_values

_CELL = duck_cell_expr(C.grid)
_FENCE = ", ".join(str(c) for c in FENCE_CELLS)
_BLOCKED = ", ".join(str(c) for c in BLOCKED_CELLS)
_TRAJ_CHK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), flatten(pts)), "
    f"(a, t) -> (a*131 + t) % {HASH_MOD})"
)


def _query_cells_values() -> str:
    """(q_id, q_n_tok, cell) literal rows: candidate ∪ guaranteed cells per
    query — the same sets operators/range_query.query_cells_df materializes."""
    rows = []
    for q in DEFAULT_QUERY_POINTS:
        cells = C.grid.guaranteed_cells(q.q_n_tok, q.radius) | C.grid.candidate_cells(
            q.q_n_tok, q.radius
        )
        for cell in sorted(cells):
            rows.append(f"('{q.q_id}', {q.q_n_tok}, {cell})")
    return f"(VALUES {', '.join(rows)}) qc(q_id, q_n_tok, cell)"


def range_approx() -> str:
    return f"""{_prologue(tumbling=True)}
SELECT s.ws AS ws, qc.q_id AS q_id, s.doc_id AS doc_id, s.seq_no AS seq_no,
       s.n_tok AS n_tok, abs(s.n_tok - qc.q_n_tok) AS dist
FROM seq_t s
JOIN {_query_cells_values()} ON {_CELL.replace('n_tok', 's.n_tok')} = qc.cell
"""


def trajectory_restricted() -> str:
    return f"""{_prologue(tumbling=True)}
SELECT doc_id, ws, count(*) AS n_points,
       min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok
FROM seq_t
WHERE n_tok >= {Q4_NTOK_LO} AND n_tok <= {Q4_NTOK_HI} AND ts_s % 600 < 300
GROUP BY doc_id, ws
"""


def fence_speed_alert() -> str:
    return f"""{_prologue(sliding=True)}
, agg AS (
  SELECT doc_id, ws, count(*) AS n_points,
         round(avg(n_tok), 6) AS avg_val, min(n_tok) AS min_val
  FROM seq_s
  WHERE {_CELL} IN ({_FENCE})
  GROUP BY doc_id, ws
)
SELECT * FROM agg WHERE avg_val > {Q5_AVG_HI} AND min_val > {Q5_MIN_LO}
"""


def exclude_cells() -> str:
    return f"""{_prologue()}
SELECT source, count(*) AS n_kept,
       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
FROM sequences
WHERE {_CELL} NOT IN ({_BLOCKED})
GROUP BY source
"""


def include_cells() -> str:
    return f"""{_prologue()}
SELECT source, count(*) AS n_kept,
       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
FROM sequences
WHERE {_CELL} IN ({_FENCE})
GROUP BY source
"""


def staytime_cells() -> str:
    return f"""{_prologue(tumbling=True)}
, per_doc AS (
  SELECT doc_id, {_CELL} AS cell, ws, max(ts_s) - min(ts_s) AS stay
  FROM seq_t GROUP BY doc_id, cell, ws
)
SELECT cell, ws, count(*) AS n_docs,
       CAST(sum(stay) AS BIGINT) AS total_stay,
       round(avg(stay), 6) AS avg_stay
FROM per_doc GROUP BY cell, ws
"""


def staytime_normalized() -> str:
    """normalizedCellStayTime twin (StayTime.java:113-202): per-(cell, ws)
    total stay joined with per-(cell, ws) distinct sensor-interval timestamps;
    norm_stay = stay / n_sensor_ts * windowSize."""
    cl, nc = C.grid.cell_len, C.grid.num_cells
    return f"""{_prologue(tumbling=True)}
, {_iv_cte()},
per_doc AS (
  SELECT doc_id, {_CELL} AS cell, ws, max(ts_s) - min(ts_s) AS stay
  FROM seq_t GROUP BY doc_id, cell, ws
),
stay AS (
  SELECT cell, ws, CAST(sum(stay) AS BIGINT) AS total_stay
  FROM per_doc GROUP BY cell, ws
),
iv_cells AS (
  SELECT ws, iv_ts,
         CAST(unnest(range(
           CAST(least(greatest(floor(lo / {cl}), 0), {nc - 1}) AS BIGINT),
           CAST(least(greatest(floor(hi / {cl}), 0), {nc - 1}) AS BIGINT) + 1
         )) AS INT) AS cell
  FROM iv
),
sensor AS (
  SELECT cell, ws, count(DISTINCT iv_ts) AS n_sensor_ts
  FROM iv_cells GROUP BY cell, ws
)
SELECT s.cell AS cell, s.ws AS ws, s.total_stay AS total_stay,
       se.n_sensor_ts AS n_sensor_ts,
       round(CAST(s.total_stay AS DOUBLE) / se.n_sensor_ts * {C.tumbling_s}, 6)
         AS norm_stay
FROM stay s JOIN sensor se ON s.cell = se.cell AND s.ws = se.ws
"""


def interval_interval_join(radius: int | None = None) -> str:
    """Polygon-Polygon join twin (gate.q_interval_interval_join):
    all-pairs 1-D bbox distance join with id-skip + latest-per-pair dedup —
    the row_number ordering mirrors the engine's max-struct field order
    (pair_ts, l_seq, r_seq)."""
    radius = C.join_radius if radius is None else radius
    return f"""{_prologue(tumbling=True)}
, {_iv_cte()},
pairs AS (
  SELECT l.ws, l.iv_id AS left_iv, r.iv_id AS right_iv,
         l.iv_seq AS l_seq, r.iv_seq AS r_seq,
         l.lo AS l_lo, l.hi AS l_hi, r.lo AS r_lo, r.hi AS r_hi,
         greatest(0, l.lo - r.hi, r.lo - l.hi) AS dist,
         greatest(l.iv_ts, r.iv_ts) AS pair_ts
  FROM iv l JOIN iv r
    ON l.ws = r.ws AND l.iv_id <> r.iv_id
   AND greatest(0, l.lo - r.hi, r.lo - l.hi) <= {radius}
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY ws, left_iv, right_iv
    ORDER BY pair_ts DESC, l_seq DESC, r_seq DESC) AS rn
  FROM pairs
)
SELECT ws, left_iv, right_iv, l_lo, l_hi, r_lo, r_hi, dist, pair_ts
FROM dedup WHERE rn = 1
"""


def _vdist(tokens: str, q: str) -> str:
    """1-D vertex-set distance: min over the token array of |t - q| —
    twin of operators/linestrings.LINESTRING.dist."""
    return f"list_min(list_transform({tokens}, t -> abs(t - {q})))"


def linestring_range() -> str:
    return f"""{_prologue(tumbling=True)}
, scored AS (
  SELECT s.ws, q.q_id, s.doc_id AS ls_id, s.seq_no AS ls_seq,
         {_vdist('s.tokens', 'q.q_n_tok')} AS dist, q.radius
  FROM seq_t s CROSS JOIN {qpoints_values()}
)
SELECT ws, q_id, ls_id, ls_seq, dist FROM scored WHERE dist <= radius
"""


def linestring_knn() -> str:
    return f"""{_prologue(tumbling=True)}
, cand AS (
  SELECT s.ws, q.q_id, q.k, s.doc_id AS ls_id, s.seq_no AS ls_seq,
         {_vdist('s.tokens', 'q.q_n_tok')} AS dist
  FROM seq_t s
  JOIN {qpoints_values()}
    ON {_vdist('s.tokens', 'q.q_n_tok')} <= q.radius
),
per_ls AS (
  SELECT ws, q_id, k, ls_id, ls_seq, dist,
         row_number() OVER (PARTITION BY ws, q_id, ls_id ORDER BY dist, ls_seq) AS rd
  FROM cand
),
ranked AS (
  SELECT ws, q_id, k, ls_id, ls_seq, dist,
         row_number() OVER (PARTITION BY ws, q_id ORDER BY dist, ls_id) AS rank
  FROM per_ls WHERE rd = 1
)
SELECT ws, q_id, CAST(rank AS INT) AS rank, ls_id, ls_seq, dist
FROM ranked WHERE rank <= k
"""


def interval_linestring_join(radius: int | None = None) -> str:
    """Polygon-LineString combo twin: min over vertices of the 1-D bbox
    distance, id-skip, latest-per-pair dedup (struct-max field order
    pair_ts, iv_seq, ls_seq)."""
    radius = C.join_radius if radius is None else radius
    vd = "list_min(list_transform(l.tokens, t -> greatest(0, i.lo - t, t - i.hi)))"
    return f"""{_prologue(tumbling=True)}
, {_iv_cte()},
pairs AS (
  SELECT i.ws, i.iv_id, l.doc_id AS ls_id,
         i.iv_seq, l.seq_no AS ls_seq, i.lo, i.hi,
         {vd} AS dist,
         greatest(i.iv_ts, l.ts_s) AS pair_ts
  FROM iv i JOIN seq_t l
    ON i.ws = l.ws AND i.iv_id <> l.doc_id AND {vd} <= {radius}
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY ws, iv_id, ls_id
    ORDER BY pair_ts DESC, iv_seq DESC, ls_seq DESC) AS rn
  FROM pairs
)
SELECT ws, iv_id, ls_id, lo, hi, dist, pair_ts FROM dedup WHERE rn = 1
"""


def point_linestring_join(radius: int | None = None) -> str:
    radius = C.join_radius if radius is None else radius
    return f"""{_prologue(tumbling=True)}
, pairs AS (
  SELECT p.ws, p.doc_id, l.doc_id AS ls_id,
         p.seq_no, l.seq_no AS ls_seq,
         {_vdist('l.tokens', 'p.n_tok')} AS dist,
         greatest(p.ts_s, l.ts_s) AS pair_ts
  FROM seq_t p JOIN seq_t l
    ON p.ws = l.ws AND p.doc_id <> l.doc_id
   AND {_vdist('l.tokens', 'p.n_tok')} <= {radius}
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY ws, doc_id, ls_id
    ORDER BY pair_ts DESC, seq_no DESC, ls_seq DESC, dist DESC) AS rn
  FROM pairs
)
SELECT ws, doc_id, ls_id, dist, pair_ts FROM dedup WHERE rn = 1
"""


def tknn_trajectories() -> str:
    return f"""{_prologue(sliding=True)}
, cand AS (
  SELECT s.ws, q.q_id, q.k, s.doc_id, s.seq_no,
         abs(s.n_tok - q.q_n_tok) AS dist
  FROM seq_s s
  JOIN {qpoints_values()} ON abs(s.n_tok - q.q_n_tok) <= q.radius
),
per_doc AS (
  SELECT ws, q_id, k, doc_id, seq_no, dist,
         row_number() OVER (PARTITION BY ws, q_id, doc_id ORDER BY dist, seq_no) AS rd
  FROM cand
),
ranked AS (
  SELECT ws, q_id, k, doc_id, dist,
         row_number() OVER (PARTITION BY ws, q_id ORDER BY dist, doc_id) AS rank
  FROM per_doc WHERE rd = 1
),
topk AS (SELECT ws, q_id, CAST(rank AS INT) AS rank, doc_id, dist FROM ranked WHERE rank <= k),
joined AS (
  SELECT t.ws, t.q_id, t.rank, t.doc_id, t.dist, s.ts_s, s.seq_no, s.tokens
  FROM topk t JOIN seq_s s ON s.ws = t.ws AND s.doc_id = t.doc_id
),
coll AS (
  SELECT ws, q_id, rank, doc_id, dist, count(*) AS n_points,
         list(tokens ORDER BY ts_s, seq_no) AS pts
  FROM joined GROUP BY ws, q_id, rank, doc_id, dist
)
SELECT ws, q_id, rank, doc_id, dist, n_points, {_TRAJ_CHK} AS traj_checksum
FROM coll
"""


def trange_trajectories() -> str:
    return f"""{_prologue(tumbling=True)}
, s AS (SELECT *, {_CELL} AS cell FROM seq_t),
qualifying AS (
  SELECT DISTINCT ws, doc_id FROM s WHERE cell IN ({_FENCE})
),
rows_q AS (
  SELECT s.ws, s.doc_id, s.ts_s, s.seq_no, s.tokens
  FROM s JOIN qualifying q ON s.ws = q.ws AND s.doc_id = q.doc_id
),
coll AS (
  SELECT ws, doc_id, count(*) AS n_points,
         list(tokens ORDER BY ts_s, seq_no) AS pts
  FROM rows_q GROUP BY ws, doc_id
)
SELECT ws, doc_id, n_points, {_TRAJ_CHK} AS traj_checksum FROM coll
"""


def join_two_streams(radius: int = 3) -> str:
    """Two distinct streams: the full sequence stream joined with the sparse
    'query stream' (docs with doc_id % 10 = 0) — the non-self windowed join
    of join/PointPointJoinQuery.java:124-183 (no id-skip)."""
    return f"""{_prologue(tumbling=True)}
, qstream AS (SELECT * FROM seq_t WHERE doc_id % 10 = 0),
pairs AS (
  SELECT l.ws, l.doc_id AS left_doc, r.doc_id AS right_doc,
         l.seq_no AS left_seq, r.seq_no AS right_seq,
         abs(l.n_tok - r.n_tok) AS dist,
         greatest(l.ts_s, r.ts_s) AS pair_ts
  FROM seq_t l JOIN qstream r
    ON l.ws = r.ws AND abs(l.n_tok - r.n_tok) <= {radius}
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY ws, left_doc, right_doc
    ORDER BY pair_ts DESC, left_seq DESC, right_seq DESC, dist DESC) AS rn
  FROM pairs
)
SELECT ws, left_doc, right_doc, left_seq, right_seq, dist, pair_ts
FROM dedup WHERE rn = 1
"""


def variation_salted() -> str:
    """Oracle identical to variation_sliding — salting must be invisible."""
    from spatialflink_spark.oracle.sql import variation_sliding

    return variation_sliding()


def events_json_props() -> str:
    # CAST(sum(...) AS BIGINT): DuckDB sum(BIGINT) returns HUGEINT -> pandas
    # float64, while Spark sum(bigint) stays int64; TRY_CAST mirrors the
    # engine's try_cast on the untrusted JSON field.
    return """
SELECT event_type, count(*) AS n_events,
       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def stream_range_e2e() -> str:
    """Batch range counts restricted to windows the final watermark closed:
    watermark = max(ts_s) - lateness; a window [ws, ws+T) is emitted iff
    ws + T <= watermark (verified empirically against Spark's eviction)."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C
    from spatialflink_spark.oracle.sql import _prologue, qpoints_values

    return f"""{_prologue(tumbling=True)}
, wm AS (SELECT max(ts_s) - {C.allowed_lateness_s} AS w FROM sequences)
SELECT ws, q.q_id AS q_id, count(*) AS n_matches
FROM seq_t s
JOIN {qpoints_values()} ON abs(s.n_tok - q.q_n_tok) <= q.radius
WHERE s.ws + {C.tumbling_s} <= (SELECT w FROM wm)
GROUP BY ws, q.q_id
"""


def stream_decon_e2e() -> str:
    """Batch twin of the streaming-curation gate path (q_stream_decon_e2e):
    token 3-gram shingle overlap vs the doc_id % 13 probe slice (the DuckDB
    twin of streaming/pipeline.token_shingle_expr — same 131-power rolling
    hash in BIGINT), survivors (< 3 shared shingles) counted per
    (watermark-closed tumbling window, source)."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C, HASH_MOD
    from spatialflink_spark.oracle.sql import _prologue

    tg = (
        "CASE WHEN len(tokens) >= 3 THEN "
        "list_distinct(list_transform(range(1, len(tokens) - 1), "
        f"i -> (CAST(tokens[i] AS BIGINT) * 17161 + tokens[i+1] * 131 "
        f"+ tokens[i+2]) % {HASH_MOD})) "
        "ELSE CAST([] AS BIGINT[]) END"
    )
    return f"""{_prologue(tumbling=True)}
, wm AS (
  -- the engine installs the probe filter STRUCTURALLY below the watermark
  -- node (read_sequences_stream's pre_watermark_filter — guaranteed by
  -- plan construction, NOT by optimizer pushdown), so the stream's
  -- watermark tracks only non-probe rows; the oracle uses the same max.
  -- A plain .where() AFTER the watermark would NOT be equivalent.
  SELECT max(ts_s) - {C.allowed_lateness_s} AS w
  FROM sequences WHERE doc_id % 13 <> 0
),
probe AS (
  SELECT list(DISTINCT h) AS arr FROM (
    SELECT unnest({tg}) AS h FROM sequences WHERE doc_id % 13 = 0
  )
),
flag AS (
  SELECT s.ws, s.source, s.n_tok,
         len(list_intersect({tg}, p.arr)) AS n_shared
  FROM seq_t s CROSS JOIN probe p WHERE s.doc_id % 13 <> 0
)
SELECT ws, source, count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS tok_kept
FROM flag
WHERE n_shared < 3 AND ws + {C.tumbling_s} <= (SELECT w FROM wm)
GROUP BY ws, source
"""


def stream_knn_e2e() -> str:
    """Batch tumbling kNN restricted to watermark-closed windows — golden for
    the streaming collect + batch-merge kNN path (same closure rule as
    stream_range_e2e)."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C

    return f"""{_prologue(tumbling=True)}
, wm AS (SELECT max(ts_s) - {C.allowed_lateness_s} AS w FROM sequences),
cand AS (
  SELECT s.ws, q.q_id, q.k, s.doc_id, s.seq_no,
         abs(s.n_tok - q.q_n_tok) AS dist
  FROM seq_t s
  JOIN {qpoints_values()} ON abs(s.n_tok - q.q_n_tok) <= q.radius
  WHERE s.ws + {C.tumbling_s} <= (SELECT w FROM wm)
),
per_doc AS (
  SELECT ws, q_id, k, doc_id, seq_no, dist,
         row_number() OVER (PARTITION BY ws, q_id, doc_id ORDER BY dist, seq_no) AS rd
  FROM cand
),
ranked AS (
  SELECT ws, q_id, k, doc_id, seq_no, dist,
         row_number() OVER (PARTITION BY ws, q_id ORDER BY dist, doc_id) AS rank
  FROM per_doc WHERE rd = 1
)
SELECT ws, q_id, CAST(rank AS INT) AS rank, doc_id, seq_no, dist
FROM ranked WHERE rank <= k
"""


def _iv_cte() -> str:
    from spatialflink_spark.operators.intervals import HI_EXPR, LO_EXPR

    lo = LO_EXPR.replace("cast(", "CAST(").replace(" as int)", " AS INT)")
    hi = HI_EXPR.replace("cast(", "CAST(").replace(" as int)", " AS INT)")
    return f"""
iv AS (
  SELECT ws, doc_id AS iv_id, seq_no AS iv_seq, {lo} AS lo, {hi} AS hi,
         ts_s AS iv_ts
  FROM seq_t
)"""


def interval_containment_join() -> str:
    return f"""{_prologue(tumbling=True)}
, {_iv_cte()},
pairs AS (
  SELECT p.ws, p.doc_id, i.iv_id, p.n_tok, i.lo, i.hi,
         greatest(p.ts_s, i.iv_ts) AS pair_ts, p.seq_no, i.iv_seq
  FROM seq_t p JOIN iv i
    ON p.ws = i.ws AND p.n_tok >= i.lo AND p.n_tok <= i.hi
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY ws, doc_id, iv_id
    ORDER BY pair_ts DESC, seq_no DESC, iv_seq DESC, n_tok DESC, lo DESC, hi DESC
  ) AS rn
  FROM pairs
)
SELECT ws, doc_id, iv_id, n_tok, lo, hi, pair_ts FROM dedup WHERE rn = 1
"""


def interval_range_count(q_n_tok: int = 48) -> str:
    return f"""{_prologue(tumbling=True)}
, {_iv_cte()}
SELECT ws,
       CAST(sum(CASE WHEN {q_n_tok} >= lo AND {q_n_tok} <= hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_containing,
       count(*) AS n_intervals
FROM iv GROUP BY ws
"""


_CHECKIN_GATE = "CASE WHEN n_tok % 2 = 0 THEN 'in' ELSE 'out' END"


def _checkin_fill_ctes() -> str:
    return f"""
base AS (
  SELECT doc_id, ts_s, seq_no, {_CHECKIN_GATE} AS gate FROM sequences
),
with_prev AS (
  SELECT doc_id, ts_s, gate,
         lag(gate) OVER w AS _pg, lag(ts_s) OVER w AS _pts
  FROM base WINDOW w AS (PARTITION BY doc_id ORDER BY ts_s, seq_no)
),
filled AS (
  SELECT doc_id, ts_s, gate, FALSE AS inserted FROM base
  UNION ALL
  SELECT doc_id,
         CAST(floor((_pts + ts_s) / 2) AS BIGINT) AS ts_s,
         CASE WHEN gate = 'in' THEN 'out' ELSE 'in' END AS gate,
         TRUE AS inserted
  FROM with_prev WHERE _pg IS NOT NULL AND _pg = gate
)"""


def checkin_fill() -> str:
    return f"""{_prologue()}
, {_checkin_fill_ctes()}
SELECT doc_id, ts_s, gate, inserted FROM filled
"""


def checkin_occupancy() -> str:
    return f"""{_prologue()}
, {_checkin_fill_ctes()},
per_ws AS (
  SELECT CAST(floor(ts_s / {C.tumbling_s}) * {C.tumbling_s} AS BIGINT) AS ws,
         CAST(sum(CASE WHEN gate = 'in' THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
         CAST(sum(CASE WHEN gate = 'out' THEN 1 ELSE 0 END) AS BIGINT) AS n_out
  FROM filled GROUP BY 1
)
SELECT ws, n_in, n_out,
       CAST(sum(n_in - n_out) OVER (ORDER BY ws
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS occupancy
FROM per_ws
"""


def interval_knn() -> str:
    """Point-Polygon kNN twin (gate.q_interval_knn): 1-D
    point-to-bbox distance, per-interval dedup-keep-min, rank cut to k."""
    return f"""{_prologue(tumbling=True)}
, {_iv_cte()},
cand AS (
  SELECT i.ws, q.q_id, q.k, i.iv_id, i.iv_seq,
         greatest(0, i.lo - q.q_n_tok, q.q_n_tok - i.hi) AS dist
  FROM iv i
  JOIN {qpoints_values()}
    ON greatest(0, i.lo - q.q_n_tok, q.q_n_tok - i.hi) <= q.radius
),
per_iv AS (
  SELECT ws, q_id, k, iv_id, iv_seq, dist,
         row_number() OVER (PARTITION BY ws, q_id, iv_id ORDER BY dist, iv_seq) AS rd
  FROM cand
),
ranked AS (
  SELECT ws, q_id, k, iv_id, iv_seq, dist,
         row_number() OVER (PARTITION BY ws, q_id ORDER BY dist, iv_id) AS rank
  FROM per_iv WHERE rd = 1
)
SELECT ws, q_id, CAST(rank AS INT) AS rank, iv_id, iv_seq, dist
FROM ranked WHERE rank <= k
"""


def knn_unbounded() -> str:
    return f"""{_prologue(tumbling=True)}
, cand AS (
  SELECT s.ws, q.q_id, q.k, s.doc_id, s.seq_no,
         abs(s.n_tok - q.q_n_tok) AS dist
  FROM seq_t s CROSS JOIN {qpoints_values()}
),
per_doc AS (
  SELECT ws, q_id, k, doc_id, seq_no, dist,
         row_number() OVER (PARTITION BY ws, q_id, doc_id ORDER BY dist, seq_no) AS rd
  FROM cand
),
ranked AS (
  SELECT ws, q_id, k, doc_id, seq_no, dist,
         row_number() OVER (PARTITION BY ws, q_id ORDER BY dist, doc_id) AS rank
  FROM per_doc WHERE rd = 1
)
SELECT ws, q_id, CAST(rank AS INT) AS rank, doc_id, seq_no, dist
FROM ranked WHERE rank <= k
"""


def csv_ingest() -> str:
    """Direct read of documents — golden for the CSV serialize -> parse
    ingest (gate.q_csv_ingest); the injected malformed lines must vanish."""
    return """
SELECT doc_id,
       CAST(1700000000 + doc_id % 1000 AS BIGINT) AS ts_s,
       source,
       CAST(length(text) AS INT) AS n_chars
FROM documents
"""


def _mi_duck_dist(tbl: str, p: str) -> str:
    """DuckDB twin of operators/multiintervals.MULTI_INTERVAL.dist +
    SPANS_EXPR: the min-over-parts 1-D bbox distance, with the spans
    generated inline from the same deterministic arithmetic (m = doc_id%3+1
    spans at stride 17)."""
    from spatialflink_spark.operators.multiintervals import SPAN_STRIDE

    return (
        f"list_min(list_transform(range(0, CAST({tbl}.doc_id % 3 AS INT) + 1), "
        f"j -> greatest(0, "
        f"greatest({tbl}.n_tok + {SPAN_STRIDE}*j - ({tbl}.doc_id % 5 + 1), 0) - {p}, "
        f"{p} - ({tbl}.n_tok + {SPAN_STRIDE}*j + ({tbl}.doc_id % 7 + 2)))))"
    )


def multiinterval_range() -> str:
    """Multi-geometry range twin (gate.q_multiinterval_range): all-objects
    scan, min-over-parts distance."""
    return f"""{_prologue(tumbling=True)}
, scored AS (
  SELECT s.ws, q.q_id, s.doc_id AS mi_id, s.seq_no AS mi_seq,
         {_mi_duck_dist('s', 'q.q_n_tok')} AS dist, q.radius
  FROM seq_t s CROSS JOIN {qpoints_values()}
)
SELECT ws, q_id, mi_id, mi_seq, dist FROM scored WHERE dist <= radius
"""


def multiinterval_join(radius: int | None = None) -> str:
    """Point-MultiPolygon join twin: min-over-parts distance, id-skip,
    latest-per-pair dedup (struct-max field order pair_ts, seq_no, mi_seq)."""
    radius = C.join_radius if radius is None else radius
    vd = _mi_duck_dist("i", "p.n_tok")
    return f"""{_prologue(tumbling=True)}
, pairs AS (
  SELECT p.ws, p.doc_id, i.doc_id AS mi_id,
         p.seq_no, i.seq_no AS mi_seq,
         {vd} AS dist,
         greatest(p.ts_s, i.ts_s) AS pair_ts
  FROM seq_t p JOIN seq_t i
    ON p.ws = i.ws AND p.doc_id <> i.doc_id AND {vd} <= {radius}
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY ws, doc_id, mi_id
    ORDER BY pair_ts DESC, seq_no DESC, mi_seq DESC, dist DESC) AS rn
  FROM pairs
)
SELECT ws, doc_id, mi_id, dist, pair_ts FROM dedup WHERE rn = 1
"""


def multiinterval_knn() -> str:
    """Point-MultiPolygon kNN twin: min-over-parts distance, per-object
    dedup-keep-min, rank cut to k."""
    vd = _mi_duck_dist("s", "q.q_n_tok")
    return f"""{_prologue(tumbling=True)}
, cand AS (
  SELECT s.ws, q.q_id, q.k, s.doc_id AS mi_id, s.seq_no AS mi_seq,
         {vd} AS dist
  FROM seq_t s
  JOIN {qpoints_values()} ON {vd} <= q.radius
),
per_mi AS (
  SELECT ws, q_id, k, mi_id, mi_seq, dist,
         row_number() OVER (PARTITION BY ws, q_id, mi_id ORDER BY dist, mi_seq) AS rd
  FROM cand
),
ranked AS (
  SELECT ws, q_id, k, mi_id, mi_seq, dist,
         row_number() OVER (PARTITION BY ws, q_id ORDER BY dist, mi_id) AS rank
  FROM per_mi WHERE rd = 1
)
SELECT ws, q_id, CAST(rank AS INT) AS rank, mi_id, mi_seq, dist
FROM ranked WHERE rank <= k
"""


def _gc_duck_dist(tbl: str, p: str) -> str:
    """DuckDB twin of operators/geomcollection._gc_dist + GC_PARTS_EXPR: the
    min over MIXED typed parts (point / interval / linestring), parts
    generated inline from the same deterministic arithmetic (stride 23;
    interval part iff doc_id % 2 = 0, linestring part iff doc_id % 3 = 0).
    The point part is the least()'s neutral fallback for absent parts."""
    from spatialflink_spark.operators.geomcollection import GC_STRIDE

    pt = f"abs({tbl}.n_tok - {p})"
    iv = (
        f"greatest(0, "
        f"greatest({tbl}.n_tok + {GC_STRIDE} - ({tbl}.doc_id % 5 + 1), 0) - {p}, "
        f"{p} - ({tbl}.n_tok + {GC_STRIDE} + ({tbl}.doc_id % 7 + 2)))"
    )
    ls = f"list_min(list_transform({tbl}.tokens, t -> abs(t - {p})))"
    # len(tokens) > 0 guard mirrors the engine's GC_PARTS_EXPR: no 'ls'
    # part for an empty token array (and list_min of [] is NULL anyway)
    return (
        f"least({pt}, CASE WHEN {tbl}.doc_id % 2 = 0 THEN {iv} ELSE {pt} END, "
        f"CASE WHEN {tbl}.doc_id % 3 = 0 AND len({tbl}.tokens) > 0 "
        f"THEN {ls} ELSE {pt} END)"
    )


def geomcollection_range() -> str:
    """Mixed-part collection range twin (gate.q_geomcollection_range):
    all-objects scan, min-over-typed-parts dist."""
    return f"""{_prologue(tumbling=True)}
, scored AS (
  SELECT s.ws, q.q_id, s.doc_id AS gc_id, s.seq_no AS gc_seq,
         {_gc_duck_dist('s', 'q.q_n_tok')} AS dist, q.radius
  FROM seq_t s CROSS JOIN {qpoints_values()}
)
SELECT ws, q_id, gc_id, gc_seq, dist FROM scored WHERE dist <= radius
"""


def geomcollection_join(radius: int | None = None) -> str:
    """Point-collection join twin: min-over-typed-parts distance, id-skip,
    latest-per-pair dedup (struct-max field order pair_ts, seq_no, gc_seq)."""
    radius = C.join_radius if radius is None else radius
    vd = _gc_duck_dist("g", "p.n_tok")
    return f"""{_prologue(tumbling=True)}
, pairs AS (
  SELECT p.ws, p.doc_id, g.doc_id AS gc_id,
         p.seq_no, g.seq_no AS gc_seq,
         {vd} AS dist,
         greatest(p.ts_s, g.ts_s) AS pair_ts
  FROM seq_t p JOIN seq_t g
    ON p.ws = g.ws AND p.doc_id <> g.doc_id AND {vd} <= {radius}
),
dedup AS (
  SELECT *, row_number() OVER (
    PARTITION BY ws, doc_id, gc_id
    ORDER BY pair_ts DESC, seq_no DESC, gc_seq DESC, dist DESC) AS rn
  FROM pairs
)
SELECT ws, doc_id, gc_id, dist, pair_ts FROM dedup WHERE rn = 1
"""


def stream_mix_e2e() -> str:
    """Batch twin of the streaming source-mixing gate path (q_stream_mix_e2e):
    the same integer basis-point quota rates (token mass = n_tok over the
    full static snapshot) + LCG keep-filter, survivors counted per
    (watermark-closed tumbling window, source, rate)."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C
    from spatialflink_spark.operators.mixing import BP, LCG_A, LCG_C
    from spatialflink_spark.oracle.sql import _prologue

    return f"""{_prologue(tumbling=True)}
, wm AS (SELECT max(ts_s) - {C.allowed_lateness_s} AS wlim FROM sequences),
mt AS (
  SELECT source, CAST(n_tok AS BIGINT) AS n_w,
         coalesce(TRY_CAST(substr(source, 4) AS INT) % 5 + 1, 1) AS wt
  FROM sequences
),
per_src AS (
  SELECT source, wt, sum(n_w) AS src_toks FROM mt GROUP BY source, wt
),
totals AS (
  SELECT sum(src_toks) AS total_toks, sum(CAST(wt AS BIGINT)) AS w_sum FROM per_src
),
rates AS (
  SELECT source,
         CAST(CASE WHEN src_toks // u = 0 THEN {BP} ELSE
           least({BP}, ({BP} * per_src.wt * (total_toks // u))
                        // (w_sum * (src_toks // u)))
         END AS INT) AS rate_bp
  FROM per_src CROSS JOIN (
    SELECT total_toks, w_sum,
           CAST(greatest(1, total_toks // {2**43}) AS BIGINT) AS u
    FROM totals
  ) totals
)
SELECT s.ws, s.source, coalesce(r.rate_bp, {BP}) AS rate_bp, count(*) AS n_kept,
       CAST(sum(s.n_tok) AS BIGINT) AS tok_kept
FROM seq_t s LEFT JOIN rates r ON s.source = r.source
WHERE (((s.doc_id % 2147483648) * {LCG_A} + {LCG_C}) % 2147483648) % {BP}
      < coalesce(r.rate_bp, {BP})
  AND s.ws + {C.tumbling_s} <= (SELECT wlim FROM wm)
GROUP BY s.ws, s.source, coalesce(r.rate_bp, {BP})
"""


def geomcollection_knn() -> str:
    """Point-collection kNN twin: min-over-typed-parts distance, per-object
    dedup-keep-min, rank cut to k (same shape as multiinterval_knn)."""
    vd = _gc_duck_dist("s", "q.q_n_tok")
    return f"""{_prologue(tumbling=True)}
, cand AS (
  SELECT s.ws, q.q_id, q.k, s.doc_id AS gc_id, s.seq_no AS gc_seq,
         {vd} AS dist
  FROM seq_t s
  JOIN {qpoints_values()} ON {vd} <= q.radius
),
per_gc AS (
  SELECT ws, q_id, k, gc_id, gc_seq, dist,
         row_number() OVER (PARTITION BY ws, q_id, gc_id ORDER BY dist, gc_seq) AS rd
  FROM cand
),
ranked AS (
  SELECT ws, q_id, k, gc_id, gc_seq, dist,
         row_number() OVER (PARTITION BY ws, q_id ORDER BY dist, gc_id) AS rank
  FROM per_gc WHERE rd = 1
)
SELECT ws, q_id, CAST(rank AS INT) AS rank, gc_id, gc_seq, dist
FROM ranked WHERE rank <= k
"""


def stream_vocab_e2e() -> str:
    """Batch twin of the streaming vocabulary-novelty gate path
    (q_stream_vocab_e2e): min ts_s per token over the full static table,
    first-arrival window per token, closed-window filter, novelty counts +
    cumulative vocabulary."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C
    from spatialflink_spark.oracle.sql import _prologue

    return f"""{_prologue()}
, wm AS (SELECT max(ts_s) - {C.allowed_lateness_s} AS wlim FROM sequences),
t AS (SELECT unnest(tokens) AS tok, ts_s FROM sequences),
first AS (SELECT tok, min(ts_s) AS first_ts FROM t GROUP BY tok),
fw AS (SELECT CAST(floor(first_ts / {C.tumbling_s}) * {C.tumbling_s} AS BIGINT)
         AS ws
       FROM first),
cnt AS (SELECT ws, CAST(count(*) AS BIGINT) AS n_new_tokens
        FROM fw WHERE ws + {C.tumbling_s} <= (SELECT wlim FROM wm)
        GROUP BY ws)
SELECT ws, n_new_tokens,
       CAST(sum(n_new_tokens) OVER (
         ORDER BY ws ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_vocab
FROM cnt
"""


def stream_tmix_e2e() -> str:
    """Batch twin of the streaming TEMPERATURE-mixing gate path
    (q_stream_tmix_e2e): tau=0.5 rates (integer div before the IEEE
    sqrt, token mass = n_tok over the full static snapshot) + LCG
    keep-filter, survivors counted per (watermark-closed tumbling
    window, source, rate)."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C
    from spatialflink_spark.operators.mixing import (
        BP,
        LCG_A,
        LCG_C,
        TEMP_SCALE,
    )
    from spatialflink_spark.oracle.sql import _prologue

    return f"""{_prologue(tumbling=True)}
, wm AS (SELECT max(ts_s) - {C.allowed_lateness_s} AS wlim FROM sequences),
per_src AS (
  SELECT source, CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS src_toks
  FROM sequences GROUP BY source
),
mn AS (
  SELECT CAST(min(src_toks) AS BIGINT) AS min_toks
  FROM per_src WHERE src_toks > 0
),
rates AS (
  SELECT source,
         CAST(CASE WHEN src_toks = 0 THEN {BP} ELSE
           least({BP}, CAST(floor(sqrt(CAST(
             ({TEMP_SCALE} * min_toks) // src_toks AS DOUBLE))) AS INT))
         END AS INT) AS rate_bp
  FROM per_src CROSS JOIN mn
)
SELECT s.ws, s.source, coalesce(r.rate_bp, {BP}) AS rate_bp, count(*) AS n_kept,
       CAST(sum(s.n_tok) AS BIGINT) AS tok_kept
FROM seq_t s LEFT JOIN rates r ON s.source = r.source
WHERE (((s.doc_id % 2147483648) * {LCG_A} + {LCG_C}) % 2147483648) % {BP}
      < coalesce(r.rate_bp, {BP})
  AND s.ws + {C.tumbling_s} <= (SELECT wlim FROM wm)
GROUP BY s.ws, s.source, coalesce(r.rate_bp, {BP})
"""


def stream_neardup_e2e() -> str:
    """Batch twin of the streaming near-dup incidence gate
    (q_stream_neardup_e2e): the 60-bit wide SimHash over each sequence
    row's token array — hash arrays from the SAME builder the engine uses
    (dedup.wide_hash_chain 'duck' dialect) and the shared 60-bit fold
    (sql_data.duck_wide_bit_terms) — counted per (watermark-closed
    tumbling window, fingerprint)."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C
    from spatialflink_spark.operators.dedup import (
        WIDE_SEED_H1,
        WIDE_SEED_H2,
        wide_hash_chain,
    )
    from spatialflink_spark.oracle.sql import _prologue
    from spatialflink_spark.oracle.sql_data import duck_wide_bit_terms

    return f"""{_prologue(tumbling=True)}
, wm AS (SELECT max(ts_s) - {C.allowed_lateness_s} AS w FROM sequences),
hx AS (
  SELECT ws, n_tok,
         {wide_hash_chain('tokens', WIDE_SEED_H1, 'duck')} AS _h1,
         {wide_hash_chain('tokens', WIDE_SEED_H2, 'duck')} AS _h2
  FROM seq_t
),
sh AS (SELECT ws, n_tok, CAST({duck_wide_bit_terms()} AS BIGINT) AS simhash FROM hx)
SELECT ws, simhash, count(*) AS n_rows, CAST(sum(n_tok) AS BIGINT) AS tok_rows
FROM sh
WHERE ws + {C.tumbling_s} <= (SELECT w FROM wm)
GROUP BY ws, simhash
"""


def stream_chunk_e2e() -> str:
    """Batch twin of the streaming chunking gate (q_stream_chunk_e2e):
    per-row overlapping chunk counts/token sums over the token arrays
    (1-based inclusive list slices == Spark slice(arr, s, w)), rolled up
    per (watermark-closed tumbling window, source)."""
    from spatialflink_spark.config import DEFAULT_CONFIG as C
    from spatialflink_spark.operators.text import CHUNK_S, CHUNK_W
    from spatialflink_spark.oracle.sql import _prologue

    cl = (
        f"CASE WHEN len(tokens) >= 1 THEN"
        f" list_transform(range(1, len(tokens) + 1, {CHUNK_S}),"
        f" s -> len(tokens[s : s + {CHUNK_W} - 1]))"
        " ELSE CAST([] AS BIGINT[]) END"
    )
    return f"""{_prologue(tumbling=True)}
, wm AS (SELECT max(ts_s) - {C.allowed_lateness_s} AS w FROM sequences),
x AS (
  SELECT ws, source, {cl} AS _cl FROM seq_t
),
r AS (
  SELECT ws, source, len(_cl) AS _n,
         list_reduce(list_prepend(CAST(0 AS BIGINT), _cl), (a, v) -> a + v)
           AS _ct
  FROM x
)
SELECT ws, source, CAST(sum(_n) AS BIGINT) AS n_chunks,
       CAST(sum(_ct) AS BIGINT) AS chunk_tok,
       count(*) AS n_rows
FROM r
WHERE ws + {C.tumbling_s} <= (SELECT w FROM wm)
GROUP BY ws, source
"""
