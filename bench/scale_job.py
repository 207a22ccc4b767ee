"""Single scaling-run job, invoked by bench/scaling.py in a fresh process:

    python bench/scale_job.py <job> <cores> <amplify> [<sf_dir>]

Jobs:
- minhash_kernel: compute-dense dedup signature kernel — tokenize -> shingle
  -> 16 minhash functions, checksum-reduced (forces full evaluation; the
  checksum is also a cross-parallelism determinism check).
- stream_ingest: the engine's streaming ingest pipeline — staged raw docs
  streamed through tokenize -> sequence derive -> cell assign -> grid-pruned
  range query -> tumbling window count -> foreachBatch sink.

Input: documents amplified xA with distinct doc_ids, staged ONCE under
/tmp/spatialflink_scale (identical bytes for every parallelism level).
Prints one JSON line {"job", "cores", "rows", "wall_s", "rows_per_s", ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

STAGE_ROOT = "/tmp/spatialflink_scale"


def staged_docs(spark, sf_dir: str, amplify: int) -> tuple[str, int]:
    from pyspark.sql import functions as F

    out_dir = f"{STAGE_ROOT}/docs_x{amplify}"
    marker = f"{out_dir}/_STAGED_{amplify}"
    if not os.path.exists(marker):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text", "source"
        )
        amp = docs.withColumn(
            "copy", F.explode(F.expr(f"sequence(0, {amplify - 1})"))
        ).select(
            F.expr("doc_id + copy * 1000000").alias("doc_id"),
            "text",
            "source",
            F.expr(
                "cast(1767225600 + (doc_id*7 + copy*13) % 600 as bigint)"
            ).alias("ts_s"),
        )
        n = amp.count()
        amp.repartition(256).write.mode("overwrite").parquet(out_dir)
        with open(marker, "w") as f:
            f.write(str(n))
    return out_dir, int(open(marker).read())


def job_minhash_kernel(spark, stage_dir: str, n_rows: int, cores: int) -> dict:
    from pyspark.sql import functions as F

    from spatialflink_spark.config import HASH_MOD
    from spatialflink_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        with_shingle_hashes,
    )

    df = spark.read.parquet(stage_dir)
    df.count()  # warm the scan/page cache outside the timing
    sigs = ", ".join(
        f"array_min(transform(_hs, h -> (h * {a} + {b}) % {HASH_MOD}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )

    def pipeline(d):
        return (
            with_shingle_hashes(d)
            .select(
                F.expr(f"aggregate(array({sigs}), 0L, (a, x) -> a + x)").alias("chk")
            )
            .agg(F.sum("chk"))
        )

    # same-shape warm-up OUTSIDE the timed region: whole-stage codegen compile
    # + JIT of the generated class is a fixed per-JVM cost (several seconds
    # for this expression), not per-row throughput — leaving it inside the
    # timing biases the short 4N wall and understates scaling efficiency
    pipeline(df.limit(2000)).collect()
    t0 = time.time()
    out = pipeline(df).collect()
    wall = time.time() - t0
    return {"wall_s": round(wall, 2), "checksum": int(out[0][0])}


def job_stream_ingest(spark, stage_dir: str, n_rows: int, cores: int) -> dict:
    from pyspark.sql import functions as F

    from spatialflink_spark.config import (
        DEFAULT_CONFIG as C,
        DEFAULT_QUERY_POINTS,
        VOCAB_SIZE,
    )
    from spatialflink_spark.functions import tokens as T
    from spatialflink_spark.operators.range_query import range_query

    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, source string, ts_s bigint"
        )
        .option("maxFilesPerTrigger", 256)
        .parquet(stage_dir)
        .withColumn("event_ts", F.expr("timestamp_seconds(ts_s)"))
        .withWatermark("event_ts", f"{C.allowed_lateness_s} seconds")
    )
    seq = stream.select(
        "doc_id",
        "source",
        "event_ts",
        F.expr(T.spark_tokenize("text")).alias("tokens"),
    ).select(
        "doc_id",
        "source",
        "event_ts",
        F.expr("cast(size(tokens) as int)").alias("n_tok"),
        F.expr(
            f"aggregate(tokens, 0L, (a, t) -> (a*131 + t) % {VOCAB_SIZE})"
        ).alias("tok_sum"),
    )
    matched = range_query(seq, C.grid, DEFAULT_QUERY_POINTS)
    counted = matched.groupBy(
        F.window("event_ts", f"{C.tumbling_s} seconds"), "q_id"
    ).agg(F.count(F.lit(1)).alias("n_matches"), F.sum("tok_sum").alias("chk"))

    out_rows = []

    def fb(df, bid):
        out_rows.append(df.count())

    ckpt = f"{STAGE_ROOT}/ckpt_{cores}_{time.time_ns()}"
    t0 = time.time()
    q = (
        counted.writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    wall = time.time() - t0
    return {"wall_s": round(wall, 2), "out_rows": sum(out_rows)}


JOBS = {"minhash_kernel": job_minhash_kernel, "stream_ingest": job_stream_ingest}


def main() -> None:
    job = sys.argv[1]
    cores = int(sys.argv[2])
    amplify = int(sys.argv[3]) if len(sys.argv) > 3 else 200
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from spatialflink_spark.session import get_spark

    spark = get_spark(f"scale-{job}-{cores}", cores=cores,
                      shuffle_partitions=cores * 2)
    spark.sparkContext.setLogLevel("ERROR")
    stage_dir, n_rows = staged_docs(spark, sf_dir, amplify)
    res = JOBS[job](spark, stage_dir, n_rows, cores)
    res.update(
        {
            "job": job,
            "cores": cores,
            "rows": n_rows,
            "rows_per_s": round(n_rows / res["wall_s"], 1),
        }
    )
    print(json.dumps(res))


if __name__ == "__main__":
    main()
