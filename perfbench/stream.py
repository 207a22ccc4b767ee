"""Open-loop streaming workload: a generator thread releases pre-staged
event-time slice files into a watched directory on a fixed schedule, while
one standing query runs

    read_sequences_stream -> stream_knn_topk -> finalize_knn
        -> ExactlyOnceSink.write_batch

The run starts with a backlog of slices already in the directory, as after
a restart. Each paced slice's latency runs from its *scheduled* release to
the atomic ledger commit of the micro-batch that consumed it; the
checkpoint's offset log says which micro-batch that was.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from perfbench import stats
from perfbench import trace as T

# paced slices stop this long before the run's end, so a slice released
# last has time to commit before the backlog is counted (it waits for at
# most two micro-batches, ~3 s each on a loaded 4-vCPU host)
GRACE_S = 7.0
DRAIN_TIMEOUT_S = 60


# ---- checkpoint offset log -------------------------------------------------

def _log_records(path: str) -> list[dict]:
    """JSON records of one Spark metadata log file (first line: version)."""
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip()]


def slice_batches(ckpt: str) -> dict[str, int]:
    """Map each file the query read (by base name) to the id of the
    micro-batch that consumed it.

    offsets/<b> holds, for micro-batch b, the file source's log offset; the
    source log (sources/0/<n>, compacted into <n>.compact files) lists each
    file with the log batch that added it. A file added at log batch n is
    consumed by the first micro-batch whose offset reaches n."""
    offsets = []
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(p)
        if not name.isdigit():
            continue
        recs = _log_records(p)
        # recs[0] is the batch metadata, recs[1] the single source's offset
        offsets.append((int(name), int(recs[1]["logOffset"])))
    offsets.sort()
    added: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        for r in _log_records(p):
            added[os.path.basename(r["path"])] = int(r["batchId"])
    out = {}
    for f, n in added.items():
        for b, off in offsets:
            if off >= n:
                out[f] = b
                break
    return out


# ---- the run ---------------------------------------------------------------

def paced_slices(spec: dict, seconds: float) -> int:
    """Slices released on the schedule: the run's seconds, less the grace
    period, at the workload's fixed rate."""
    return int((seconds - GRACE_S) * spec["slices_per_s"])


class _Pacer(threading.Thread):
    """Releases slices at t0 + (j+1)/rate, never waiting for the engine."""

    def __init__(self, staged: list[str], watched: str, t0: float, rate: float):
        super().__init__(daemon=True)
        self.staged, self.watched, self.t0, self.rate = staged, watched, t0, rate
        self.released: list[dict] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for j, src in enumerate(self.staged):
                due = self.t0 + (j + 1) / self.rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                dst = os.path.join(self.watched, os.path.basename(src))
                os.replace(src, dst)
                now = time.time()
                os.utime(dst, (now, now))
                self.released.append(
                    {"slice": os.path.basename(src), "due": due, "at": now}
                )
        except BaseException as e:  # reported by the main thread
            self.error = e


def _start_query(ctx, spark, root: str, watched: str, batches: list):
    from spatialflink_spark.config import DEFAULT_CONFIG as C
    from spatialflink_spark.config import DEFAULT_QUERY_POINTS
    from spatialflink_spark.sources.streams import read_sequences_stream
    from spatialflink_spark.streaming.pipeline import finalize_knn, stream_knn_topk
    from spatialflink_spark.streaming.sink import ExactlyOnceSink

    # the state store's partition count is fixed at the first checkpoint
    spark.conf.set("spark.sql.shuffle.partitions", str(ctx.cores))
    sink = ExactlyOnceSink(f"{root}/out", key_cols=("ws", "q_id", "rank"))
    stream = read_sequences_stream(
        spark, watched, C.allowed_lateness_s,
        max_files_per_trigger=ctx.spec["max_files_per_trigger"],
    )
    topk = stream_knn_topk(stream, C, DEFAULT_QUERY_POINTS)
    sc = spark.sparkContext

    def foreach(df, bid):
        # a traced run traces every other micro-batch; the untraced ones
        # measure what tracing costs
        traced = ctx.trace and bid % 2 == 1
        replayed = bid in sink.committed_batches()
        t0 = time.time()
        if traced:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", f"mb-{bid}")
            try:
                with ctx.tracer.span("sink.write_batch", batch=bid):
                    sink.write_batch(finalize_knn(df), bid)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)
        else:
            sink.write_batch(finalize_knn(df), bid)
        rec = {"batch": bid, "sink_start": t0, "sink_end": time.time(),
               "replayed": replayed, "traced": traced}
        if traced:
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"mb-{bid}"))
        batches.append(rec)

    q = (
        topk.writeStream.foreachBatch(foreach)
        .option("checkpointLocation", f"{root}/ckpt")
        .outputMode("append")
        .start()
    )
    return q, sink


def run(ctx) -> dict:
    from spatialflink_spark.sources.streams import stage_replay_files

    w = ctx.spec
    rate = w["slices_per_s"]
    backlog = w["backlog_slices"]
    n_paced = paced_slices(w, ctx.seconds)
    if n_paced <= stats.TAIL_BEYOND:
        raise SystemExit(f"--seconds too short: {n_paced} paced slices")
    n_setup = [0]

    def setup():
        root = os.path.join(ctx.work, f"stream{n_setup[0]}")
        n_setup[0] += 1
        spark = ctx.new_session()
        sc = spark.sparkContext
        sc.setJobGroup("stage", "stage_replay_files")
        with ctx.tracer.span("sources.stage") as sp:
            staged = stage_replay_files(
                spark, ctx.data_dir, f"{root}/staged", n_batches=backlog + n_paced
            )
        sc.setLocalProperty("spark.jobGroup.id", None)
        if sp is not None:
            # stage_replay_files derives the sequence table inside its
            # approxQuantile job (the persisted derivation's first action)
            store = sc._jsc.sc().statusStore()
            sp["derive_s"] = sum(
                T.job_span_s(sc, j)
                for j in sc.statusTracker().getJobIdsForGroup("stage")
                if store.job(j).name().startswith("approxQuantile")
            )
        if len(staged) != backlog + n_paced:
            raise RuntimeError(f"staged {len(staged)} slices, wanted {backlog + n_paced}")
        watched = f"{root}/in"
        os.makedirs(watched)
        for p in staged[:backlog]:
            os.replace(p, os.path.join(watched, os.path.basename(p)))
        batches: list[dict] = []
        with ctx.tracer.span("streaming.start"):
            q, sink = _start_query(ctx, spark, root, watched, batches)
        return {"q": q, "sink": sink, "spark": spark, "root": root,
                "staged": staged, "watched": watched, "batches": batches}

    def teardown(st):
        st["q"].stop()
        st["spark"].stop()

    st = ctx.repeat_setup(setup, teardown)
    q, sink, spark, root = st["q"], st["sink"], st["spark"], st["root"]

    # the backlog drains first; the paced phase starts once it committed
    t0 = time.time()
    backlog_names = {os.path.basename(p) for p in st["staged"][:backlog]}
    while not _committed(f"{root}/ckpt", sink, backlog_names):
        if time.time() - t0 > DRAIN_TIMEOUT_S or not q.isActive:
            raise RuntimeError(f"backlog did not drain: {q.exception()!r}")
        time.sleep(0.05)
    t1 = time.time()
    pacer = _Pacer(st["staged"][backlog:], st["watched"], t1, rate)
    pacer.start()
    pacer.join(timeout=ctx.seconds + 30)
    if pacer.is_alive() or pacer.error is not None:
        raise RuntimeError(f"slice generator failed: {pacer.error!r}")
    t_end = t1 + ctx.seconds
    time.sleep(max(0.0, t_end - time.time()))
    # let the query finish every released slice and the closing no-data
    # batch that flushes the windows the final watermark closed
    done = threading.Event()
    err: list[BaseException] = []

    def drain():
        try:
            q.processAllAvailable()
        except BaseException as e:  # reported below
            err.append(e)
        done.set()

    threading.Thread(target=drain, daemon=True).start()
    drained = done.wait(DRAIN_TIMEOUT_S) and not err
    ctx.mark_rss()
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    if not drained:
        ctx.log(f"query did not drain: {err[:1]!r}")

    # ---- attribution: slice -> micro-batch -> ledger commit ---------------
    mb_of = slice_batches(f"{root}/ckpt")
    ledger = {r["batch_id"]: r for r in sink.lineage()}
    rows_of = _slice_rows(st["watched"])
    released = [
        {"slice": os.path.basename(p), "due": t0, "at": t0, "backlog": True}
        for p in st["staged"][:backlog]
    ] + [{**r, "backlog": False} for r in pacer.released]
    slices = []
    for r in released:
        b = mb_of.get(r["slice"])
        commit = ledger[b]["committed_at"] if b in ledger else None
        slices.append({**r, "batch": b, "commit": commit, "rows": rows_of.get(r["slice"], 0),
                       "latency_s": commit - r["due"] if commit else None})

    paced = [s for s in slices if not s["backlog"]]
    lat = [s["latency_s"] for s in paced if s["latency_s"] is not None]
    missing = sum(1 for s in slices if s["commit"] is None)
    backlog_end = sum(1 for s in slices if s["commit"] is None or s["commit"] > t_end)
    drain_end = max(s["commit"] or time.time() for s in slices if s["backlog"])
    backlog_rows = sum(s["rows"] for s in slices if s["backlog"])

    mismatch = _check_output(ctx, spark, sink) if drained else True
    # one operation per slice: a slice fails when it never commits, and an
    # output mismatch fails them all
    attempted = len(slices)
    failed = attempted if mismatch else missing

    tail_v, tail_p, tail_n = stats.tail(lat) if len(lat) > stats.TAIL_BEYOND else (0.0, 0.0, len(lat))
    # the engine's commit cadence while paced: intervals between the ledger
    # commits of consecutive micro-batches after the backlog drained
    commits = sorted(r["committed_at"] for r in ledger.values() if r["committed_at"] > t1)
    e2e = {
        "latency_p50_s": stats.median(lat),
        "latency_tail_s": tail_v,
        "cycle_s": stats.median(b - a for a, b in zip(commits, commits[1:])),
    }
    info = {
        "drain_s": drain_end - t0,
        "drain_seq_per_s": backlog_rows / (drain_end - t0),
        "backlog_end": backlog_end,
        "slices": len(slices),
        "paced_slices": len(paced),
        "latency_tail_percentile": round(tail_p, 2),
        "latency_samples": tail_n,
        "gen_late_s_max": max(r["at"] - r["due"] for r in pacer.released),
        "micro_batches": len(progress),
    }
    batch_rows = _batch_rows(st["batches"], progress, ledger)
    ctx.write_jsonl("slices", slices)
    ctx.write_jsonl("batches", batch_rows)
    layer = _layer(ctx, progress, batch_rows, slices, info) if ctx.trace else {}
    spark.stop()
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "layer": layer, "info": info}


def _committed(ckpt: str, sink, names: set[str]) -> bool:
    mb_of = slice_batches(ckpt)
    done = sink.committed_batches()
    return all(mb_of.get(n) in done for n in names)


def _slice_rows(watched: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        os.path.basename(p): pq.read_metadata(p).num_rows
        for p in glob.glob(os.path.join(watched, "*.parquet"))
    }


def _check_output(ctx, spark, sink) -> bool:
    """True when the committed sink output differs from the stream_knn_e2e
    golden (which depends only on the final watermark)."""
    import duckdb

    from spatialflink_spark.oracle.compare import assert_frames_match

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{ctx.data_dir}/documents.parquet')"
    )
    try:
        want = con.execute(ctx.oracles["stream_knn_e2e"]).fetchdf()
        got = sink.read_committed(spark).toPandas()
        assert_frames_match(got, want, "stream_knn_e2e")
        return False
    except Exception as e:  # any failure to read or match the output fails the run
        ctx.log(f"MISMATCH stream_knn_e2e: {str(e)[:300]}")
        return True
    finally:
        con.close()


def _batch_rows(batches, progress, ledger) -> list[dict]:
    by_id = {p["batchId"]: p for p in progress}
    rows = []
    for b in batches:
        p = by_id.get(b["batch"], {})
        led = ledger.get(b["batch"], {})
        so = (p.get("stateOperators") or [{}])[0]
        rows.append({
            **b,
            "sink_s": b["sink_end"] - b["sink_start"],
            "rows_in": p.get("numInputRows", 0),
            "duration_ms": p.get("durationMs", {}),
            "state_rows": so.get("numRowsTotal", 0),
            "state_mem_bytes": so.get("memoryUsedBytes", 0),
            "state_commit_ms": so.get("commitTimeMs", 0),
            "late_rows": so.get("numRowsDroppedByWatermark", 0),
            "partition_rows": led.get("partition_rows", []),
            "rows_out": led.get("rows_out", 0),
        })
    return rows


def _layer(ctx, progress, batch_rows, slices, info) -> dict:
    dur = [p.get("durationMs", {}) for p in progress]
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    ops = [(p.get("stateOperators") or [{}])[0] for p in progress]
    traced = [b for b in batch_rows if b["traced"]]
    sink_s = [b["sink_s"] for b in traced]
    skew = [
        max(b["partition_rows"]) / (sum(b["partition_rows"]) / len(b["partition_rows"]))
        for b in traced if sum(b["partition_rows"])
    ]
    traced_ids = {b["batch"] for b in traced}
    paced = [s for s in slices if not s["backlog"] and s["latency_s"] is not None]
    lat_t = [s["latency_s"] for s in paced if s["batch"] in traced_ids]
    lat_u = [s["latency_s"] for s in paced if s["batch"] not in traced_ids]
    derive = [s["derive_s"] for s in ctx.tracer.spans if s["name"] == "sources.stage"]

    def tail(xs):
        return stats.tail(xs)[0] if len(xs) > stats.TAIL_BEYOND else max(xs or [0.0])

    return {
        "sources.derive_s": stats.median(derive),
        "sources.stage_s": ctx.span_median("sources.stage"),
        "sources.offset_ms_p50": stats.median(
            d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur
        ),
        "sources.rows_in": sum(p.get("numInputRows", 0) for p in progress),
        "streaming.batches": len(progress),
        "streaming.rows_per_batch_p50": stats.median(p["numInputRows"] for p in data),
        "streaming.trigger_ms_p50": stats.median(d.get("triggerExecution", 0) for d in dur),
        "streaming.trigger_ms_tail": tail([d.get("triggerExecution", 0) for d in dur]),
        "streaming.planning_ms_p50": stats.median(d.get("queryPlanning", 0) for d in dur),
        "streaming.wal_ms_p50": stats.median(d.get("walCommit", 0) for d in dur),
        "stateful.rows_total_max": max(o.get("numRowsTotal", 0) for o in ops),
        "stateful.mem_bytes_max": max(o.get("memoryUsedBytes", 0) for o in ops),
        "stateful.commit_ms_p50": stats.median(o.get("commitTimeMs", 0) for o in ops),
        # the pandas-with-state node carries no Python timer among its SQL
        # metrics; its update and timeout phases (both inside the Python
        # function) are the state operator's update and removal times
        "stateful.python_s": sum(
            o.get("allUpdatesTimeMs", 0) + o.get("allRemovalsTimeMs", 0) for o in ops
        ) / 1000.0,
        "stateful.late_rows": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "sink.write_batch_s_p50": stats.median(sink_s),
        "sink.write_batch_s_tail": tail(sink_s),
        "sink.jobs_per_batch": stats.median(b["jobs"] for b in traced),
        "sink.partition_skew": stats.median(skew),
        "sink.replay_ratio": (
            sum(1 for b in batch_rows if b["replayed"]) / len(batch_rows) if batch_rows else 0.0
        ),
        "streaming.drain_seq_per_s": info["drain_seq_per_s"],
        "bench.gen_late_s_max": info["gen_late_s_max"],
        "bench.backlog_end": info["backlog_end"],
        "bench.trace_overhead": (
            stats.median(lat_t) / stats.median(lat_u) - 1.0 if lat_t and lat_u else 0.0
        ),
    }
