"""The repository's benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see WORKLOADS below):

- stream_paced   open loop: slices released on a fixed schedule into one
                 standing streaming kNN query with an exactly-once sink
- spatial_batch  closed loop: one client runs the grid-query mix in passes

Inputs come from the seeded generator (perfbench/gen.py) and are written
once per (workload, seed) under .perfbench/ in the checkout; the engine only
sees the generated files. Every output is checked against the engine's
DuckDB oracles outside the timed region. The engine runs at
local[<cores of this process>].

The last line of standard output is one JSON object: correct, attempted,
failed and metrics. With --trace 0 the metrics are the end-to-end metrics,
measured untraced. With --trace 1 the metrics are the per-module ones; the
traced run also writes its spans, per-query / per-batch rows and a
per-module report under .perfbench/reports/.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / ".perfbench"
SETUPS = 3

WORKLOADS = {
    "stream_paced": {
        "kind": "stream",
        # the corpus is sized to the slice count, so every slice carries
        # 6 documents (~12 sequences) whatever the run length
        "docs_per_slice": 6, "copies": 1, "hot_share": 0.0,
        # the file cap sits well above what arrives during one micro-batch,
        # so a slow batch does not leave released slices queued behind it
        "backlog_slices": 16, "max_files_per_trigger": 64,
        # fixed release rate: 4 slices/s, ~48 sequences/s. A paced
        # micro-batch (~8-12 slices) costs little more than an empty one,
        # so the engine runs well below capacity (~2-3 s per batch on a
        # 4-vCPU host)
        "slices_per_s": 4.0,
    },
    "spatial_batch": {
        "kind": "batch",
        # 4 seeded copies of a 250-document base: 1k documents. At the
        # sf0.1 size (5k) a run takes ~85 s on a 4-vCPU host, too long for
        # the benchmark's time budget.
        "n_docs": 250, "copies": 4, "hot_share": 0.3,
        "mix": [
            "range_tumbling_count", "knn_sliding", "join_self_tumbling",
            "heatmap_sliding", "tstats_running", "interval_knn", "linestring_knn",
            "range_rows",
        ],
    },
}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cycle_s": "s",
}

PER_LAYER = {
    "sources.derive_s": "s", "sources.stage_s": "s",
    "sources.offset_ms_p50": "ms", "sources.rows_in": "count",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.trigger_ms_tail": "ms",
    "streaming.planning_ms_p50": "ms", "streaming.wal_ms_p50": "ms",
    "streaming.drain_seq_per_s": "seq/s",
    "stateful.rows_total_max": "count", "stateful.mem_bytes_max": "bytes",
    "stateful.commit_ms_p50": "ms", "stateful.python_s": "s",
    "stateful.late_rows": "count",
    "sink.write_batch_s_p50": "s", "sink.write_batch_s_tail": "s",
    "sink.jobs_per_batch": "count", "sink.partition_skew": "ratio",
    "sink.replay_ratio": "ratio",
    "operators.build_s": "s", "operators.exec_s": "s", "operators.jobs": "count",
    "operators.stages": "count", "operators.tasks": "count",
    "operators.executor_run_s": "s", "operators.executor_cpu_s": "s",
    "operators.shuffle_write_bytes": "bytes", "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.exchanges": "count",
    "operators.sorts": "count", "operators.generates": "count",
    "operators.candidates_per_row": "ratio",
    "session.get_spark_s": "s", "session.spread_calls": "count",
    "session.spread_s": "s",
    "bench.gen_late_s_max": "s", "bench.trace_overhead": "ratio",
    "bench.fail_ratio": "ratio", "bench.backlog_end": "count",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Context:
    """What a workload runner needs: its spec, inputs, session factory,
    tracer and output files."""

    def __init__(self, args, spec: dict, work: Path, data_dir: str, tracer):
        import __spark_entry__ as entry

        self.name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.spec = spec
        self.work = str(work)
        self.data_dir = data_dir
        self.tracer = tracer
        self.cores = _cores()
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.setup_walls: list[float] = []
        self.jvm_pid: int | None = None
        self.peak_rss_mb = 0.0
        self._seq = itertools.count(1)
        self.reports = BENCH / "reports"
        self.reports.mkdir(parents=True, exist_ok=True)

    def seq(self) -> int:
        return next(self._seq)

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def new_session(self):
        from spatialflink_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            spark = get_spark(
                f"perfbench-{self.name}",
                cores=self.cores,
                extra_conf={
                    "spark.local.dir": f"{self.work}/spark-local",
                    "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                    # a heap fixed at its maximum from the start keeps the
                    # resident size from tracking when the heap grew
                    "spark.driver.extraJavaOptions": (
                        f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp"
                    ),
                    "spark.driver.memory": "1g",
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                },
            )
        spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        return spark

    def repeat_setup(self, setup, teardown):
        """Run the workload's set-up SETUPS times, each from a new session,
        keeping the last; setup_s is the median wall."""
        state = None
        for i in range(SETUPS):
            if state is not None:
                teardown(state)
            t0 = time.time()
            with self.tracer.span("bench.setup", n=i):
                state = setup()
            self.setup_walls.append(time.time() - t0)
        return state

    def mark_rss(self) -> None:
        """Peak resident memory so far of this process plus its JVM."""
        kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(self.jvm_pid) if self.jvm_pid else 0)
        self.peak_rss_mb = kb / 1024.0

    def span_median(self, name: str) -> float:
        return statistics.median(
            [s["end"] - s["start"] for s in self.tracer.spans if s["name"] == name] or [0.0]
        )

    def write_jsonl(self, kind: str, rows: list[dict]) -> None:
        if not self.trace:
            return
        path = self.reports / f"{self.name}-s{self.seed}-{kind}.jsonl"
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r, default=str) + "\n")


def _install_spread_probe(tracer) -> None:
    """Count calls to, and time spent in, session.spread (imported by the
    engine's operators at call time, so the module attribute is the seam)."""
    import spatialflink_spark.session as session

    inner = session.spread

    def spread(df, parallelism=None):
        t0 = time.time()
        try:
            return inner(df, parallelism)
        finally:
            tracer.count("session.spread_calls")
            tracer.count("session.spread_s", time.time() - t0)

    session.spread = spread


def _stop_jvm() -> None:
    """Shut down the JVM this process launched and wait until it exits
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import __spark_entry__  # noqa: F401
        import spatialflink_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import gen
    from perfbench.stream import paced_slices
    from perfbench.trace import Tracer, self_times

    spec = WORKLOADS[args.workload]
    n_docs = spec.get("n_docs") or spec["docs_per_slice"] * (
        spec["backlog_slices"] + paced_slices(spec, args.seconds)
    )
    data_dir = gen.generate(
        str(BENCH / "data" / f"{args.workload}-s{args.seed}-n{n_docs}x{spec['copies']}"),
        seed=args.seed,
        n_docs=n_docs,
        copies=spec["copies"],
        hot_share=spec["hot_share"],
    )
    work = BENCH / "work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # everything the engine, Spark and Python write goes under the checkout
    # (the JVM's perf-data file would go to /tmp, so it is switched off)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None

    tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    if args.trace:
        _install_spread_probe(tracer)
    ctx = Context(args, spec, work, data_dir, tracer)
    if spec["kind"] == "stream":
        from perfbench import stream as runner
    else:
        from perfbench import batch as runner
    try:
        res = runner.run(ctx)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    fail_ratio = res["failed"] / res["attempted"]
    ctx.log(
        f"{args.workload} seed={args.seed} setup_walls={[round(x, 3) for x in ctx.setup_walls]} "
        f"e2e={json.dumps(res['e2e'])} info={json.dumps(res['info'])} fail_ratio={fail_ratio}"
    )
    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(res["layer"])
        layer["session.get_spark_s"] = ctx.span_median("session.get_spark")
        if spec["kind"] == "batch":
            layer["sources.derive_s"] = ctx.span_median("sources.derive")
        layer["bench.fail_ratio"] = fail_ratio
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
        modules: dict[str, dict] = {}
        for k, v in layer.items():
            modules.setdefault(k.split(".")[0], {})[k] = v
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "modules": modules,
            "self_s": self_times(tracer.spans),
            "trace_overhead": layer["bench.trace_overhead"],
            "end_to_end_traced": res["e2e"], "info": res["info"],
        }
        stem = ctx.reports / f"{args.workload}-s{args.seed}"
        with open(f"{stem}-report.json", "w") as f:
            json.dump(report, f, indent=1)
        tracer.write(f"{stem}-spans.jsonl")
    else:
        values = {
            "setup_s": statistics.median(ctx.setup_walls),
            "peak_rss_mb": ctx.peak_rss_mb,
            **res["e2e"],
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
