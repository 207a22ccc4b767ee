"""Closed-loop batch workloads: one client runs a fixed query mix back to
back, pass after pass, until the run's time is up.

Each execution builds the query through its public ``gate.q_*`` function and
writes the result as parquet; the last pass's files are then checked against
the query's DuckDB oracle, outside the timed region. A failed operation is an
exception, a timeout (the query's job group is cancelled) or an oracle
mismatch.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

from perfbench import stats
from perfbench import trace as T

QUERY_TIMEOUT_S = 60
WARM_PASSES = 3
# the queries whose output is the survivor set of a candidate filter (grid
# cells, LSH/IVF buckets): operators.candidates_per_row is measured on them
CANDIDATE_FAMILIES = ("range", "knn", "join", "ivf")


def _rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def run_query(ctx, spark, name: str, out: str, traced: bool) -> dict:
    """One timed execution; returns its row for the per-query JSONL."""
    sc = spark.sparkContext
    group = f"q-{name}-{ctx.seq()}"
    sc.setJobGroup(group, name, interruptOnCancel=True)
    timer = threading.Timer(QUERY_TIMEOUT_S, sc.cancelJobGroup, [group])
    exec0 = T.sql_execution_count(spark) if traced else 0
    spread0 = dict(ctx.tracer.counts) if traced else {}
    row = {"query": name, "group": group, "ok": True, "traced": traced}
    timer.start()
    t0 = time.time()
    t1 = None
    try:
        with ctx.tracer.span("operators.query", query=name):
            with ctx.tracer.span("operators.build", query=name):
                df = ctx.queries[name](spark, ctx.data_dir)
            t1 = time.time()
            with ctx.tracer.span("operators.exec", query=name):
                df.write.mode("overwrite").parquet(out)
    except Exception:
        row["ok"] = False
        row["error"] = traceback.format_exc(limit=3)[-600:]
    finally:
        timer.cancel()
        sc.setLocalProperty("spark.jobGroup.id", None)
    t2 = time.time()
    t1 = t1 or t2
    row.update(wall_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
    if row["ok"] and t2 - t0 >= QUERY_TIMEOUT_S:
        row["ok"] = False
        row["error"] = "timeout"
    if traced:
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
        row.update(T.stage_metrics(sc, sorted(jobs)))
        row.update(T.plan_shape(T.sql_nodes(spark, exec0, jobs)))
        row["spread_calls"] = ctx.tracer.counts["session.spread_calls"] - spread0.get(
            "session.spread_calls", 0
        )
        row["spread_s"] = ctx.tracer.counts["session.spread_s"] - spread0.get(
            "session.spread_s", 0
        )
        row["rows_out"] = _rows(out) if row["ok"] else 0
    return row


def check_outputs(ctx, mix: list[str], out_dir: str, failed: set[str]) -> list[str]:
    """Oracle-compare each query's last written result; returns the names
    that mismatch."""
    import duckdb

    from spatialflink_spark.oracle.compare import assert_frames_match

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{ctx.data_dir}/{t}.parquet')"
        )
    bad = []
    for name in mix:
        if name in failed:
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).fetchdf()
            want = con.execute(ctx.oracles[name]).fetchdf()
            assert_frames_match(got, want, name)
        except (AssertionError, duckdb.Error) as e:
            ctx.log(f"MISMATCH {name}: {str(e)[:300]}")
            bad.append(name)
    con.close()
    return bad


def run(ctx) -> dict:
    from spatialflink_spark.sources.sequences import sequences_cached

    w = ctx.spec
    mix = w["mix"]

    def setup():
        spark = ctx.new_session()
        with ctx.tracer.span("sources.derive"):
            sequences_cached(spark, ctx.data_dir).count()
        return spark

    spark = ctx.repeat_setup(setup, lambda s: s.stop())

    out_dir = os.path.join(ctx.work, "results")
    # pass 0 is a warm-up (first code generation, JIT compilation, Python
    # workers). Nothing in it is timed, so its queries run concurrently;
    # they count as operations but not as latency samples.
    ctx.tracer.enabled = False
    tp = time.time()
    with ThreadPoolExecutor(len(mix)) as pool:
        rows = list(pool.map(
            lambda name: run_query(ctx, spark, name, f"{out_dir}/{name}", False), mix
        ))
    for r in rows:
        r["pass"] = 0
    passes = [time.time() - tp]
    # the warm passes run for the run's seconds, and at least WARM_PASSES of
    # them so the query walls have a tail above their median
    t_start = time.time()
    while time.time() - t_start < ctx.seconds or len(passes) <= WARM_PASSES:
        n = len(passes)
        tp = time.time()
        for i, name in enumerate(mix):
            # a traced run traces each query in one warm pass and leaves it
            # untraced in the next, so traced and untraced walls of the
            # same queries measure the tracing overhead
            traced = ctx.trace and (n + i) % 2 == 1
            ctx.tracer.enabled = traced
            rows.append(run_query(ctx, spark, name, f"{out_dir}/{name}", traced))
            rows[-1]["pass"] = n
        passes.append(time.time() - tp)
    ctx.tracer.enabled = ctx.trace
    ctx.mark_rss()

    failed_names = {r["query"] for r in rows if not r["ok"]}
    for r in rows:
        if not r["ok"]:
            ctx.log(f"FAILED {r['query']} pass {r['pass']}: {r.get('error')}")
    mismatched = check_outputs(ctx, mix, out_dir, failed_names)
    for r in rows:
        if r["query"] in mismatched and r["pass"] == len(passes) - 1:
            r["ok"] = False
            r["error"] = "oracle mismatch"
    attempted = len(rows)
    failed = sum(1 for r in rows if not r["ok"])

    walls = [r["wall_s"] for r in rows if r["ok"] and r["pass"] > 0]
    tail_v, tail_p, tail_n = (
        stats.tail(walls) if len(walls) > stats.TAIL_BEYOND else (0.0, 0.0, len(walls))
    )
    e2e = {
        "latency_p50_s": stats.median(walls),
        "latency_tail_s": tail_v,
        "cycle_s": stats.median(passes[1:]),
    }
    info = {
        "pass_walls_s": [round(p, 4) for p in passes],
        "query_tail_percentile": round(tail_p, 2),
        "query_samples": tail_n,
    }
    ctx.write_jsonl("queries", rows)
    layer = layer_metrics(ctx, rows, mix) if ctx.trace else {}
    spark.stop()
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "layer": layer, "info": info}


def layer_metrics(ctx, rows: list[dict], mix: list[str]) -> dict:
    """Per-module figures from the traced executions, per pass of the mix."""
    traced = [r for r in rows if r["traced"]]
    n_pass = len(traced) / len(mix) if traced else 1.0

    def per_pass(key: str, scale: float = 1.0) -> float:
        return sum(r.get(key, 0) for r in traced) * scale / n_pass

    cand = [r for r in traced if r["ok"] and any(f in r["query"] for f in CANDIDATE_FAMILIES)]
    cand_rows = sum(r.get("join_rows", 0) for r in cand)
    out_rows = sum(r.get("rows_out", 0) for r in cand)
    # tracing overhead, paired by query: each query's mean traced wall over
    # its mean untraced wall in the warm passes; the median of those ratios
    ratios = []
    for name in mix:
        t = [r["wall_s"] for r in traced if r["query"] == name]
        u = [r["wall_s"] for r in rows
             if r["query"] == name and r["pass"] > 0 and not r["traced"]]
        if t and u:
            ratios.append(statistics.mean(t) / statistics.mean(u))
    return {
        "operators.build_s": per_pass("build_s"),
        "operators.exec_s": per_pass("exec_s"),
        "operators.jobs": per_pass("jobs"),
        "operators.stages": per_pass("stages"),
        "operators.tasks": per_pass("tasks"),
        "operators.executor_run_s": per_pass("executor_run_ms", 1e-3),
        "operators.executor_cpu_s": per_pass("executor_cpu_ns", 1e-9),
        "operators.shuffle_write_bytes": per_pass("shuffle_write_bytes"),
        "operators.shuffle_read_bytes": per_pass("shuffle_read_bytes"),
        "operators.spill_bytes": per_pass("spill_bytes"),
        "operators.exchanges": per_pass("exchanges"),
        "operators.sorts": per_pass("sorts"),
        "operators.generates": per_pass("generates"),
        "operators.candidates_per_row": cand_rows / out_rows if out_rows else 0.0,
        "session.spread_calls": per_pass("spread_calls"),
        "session.spread_s": per_pass("spread_s"),
        "bench.trace_overhead": stats.median(ratios) - 1.0 if ratios else 0.0,
    }
