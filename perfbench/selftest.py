"""Self-tests for the benchmark: python3 -m pytest perfbench/selftest.py -q

The file name keeps it out of a default pytest collection of the repository
(its Spark session would start the JVM before the engine suite's own).

They cover the generator's determinism, the tail-percentile rule and the
attribution of released slices to micro-batches through the checkpoint's
offset log (on a hand-written log and on a real Spark file stream).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import gen, stats  # noqa: E402
from perfbench.stream import slice_batches  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(Path(d, f).read_bytes()).hexdigest()
        for f in ("documents.parquet", "embeddings.parquet")
    }


def test_same_seed_gives_identical_files_and_another_seed_does_not(tmp_path):
    kw = dict(n_docs=60, copies=3, hot_share=0.3)
    a = gen.generate(str(tmp_path / "a"), seed=7, **kw)
    b = gen.generate(str(tmp_path / "b"), seed=7, **kw)
    c = gen.generate(str(tmp_path / "c"), seed=8, **kw)
    assert _digest(a) == _digest(b)
    da, dc = _digest(a), _digest(c)
    assert all(da[f] != dc[f] for f in da)


def test_copies_share_no_words_and_keep_the_hot_cell(tmp_path):
    import pyarrow.parquet as pq

    d = gen.generate(str(tmp_path / "d"), seed=3, n_docs=200, copies=2, hot_share=0.5)
    docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
    assert len(docs["doc_id"]) == 400 and len(set(docs["doc_id"])) == 400
    words = [set(t.split()) for t in docs["text"]]
    assert not set().union(*words[:200]) & set().union(*words[200:])
    lo, hi = gen.HOT_WORDS
    hot = sum(lo <= len(t.split()) - t.endswith(" dup") <= hi for t in docs["text"][:200])
    assert hot >= 80  # half the base documents plus the uniform share


def test_tail_has_exactly_ten_samples_beyond_it():
    xs = list(range(1, 101))
    v, p, n = stats.tail(xs)
    assert (v, p, n) == (90, 90.0, 100)
    assert sum(x > v for x in xs) == stats.TAIL_BEYOND
    v, p, n = stats.tail(list(range(11)))
    assert v == 0 and n == 11 and sum(x > v for x in range(11)) == 10
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


def _write_log(path: Path, records: list[dict]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("v1\n" + "\n".join(json.dumps(r) for r in records) + "\n")


def test_slice_attribution_from_a_written_offset_log(tmp_path):
    ck = tmp_path / "ckpt"
    meta = {"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}}
    # batches 0..3 read source-log batches 0, 1, 1 (a no-data batch), 3
    for b, off in enumerate([0, 1, 1, 3]):
        _write_log(ck / "offsets" / str(b), [meta, {"logOffset": off}])

    def entry(name, n):
        return {"path": f"file:///in/{name}", "timestamp": 0, "batchId": n}

    # log batches 0 and 1 were compacted into 1.compact; 2 and 3 are plain
    _write_log(ck / "sources" / "0" / "1.compact",
               [entry("s0", 0), entry("s1", 0), entry("s2", 1)])
    _write_log(ck / "sources" / "0" / "2", [entry("s3", 2)])
    _write_log(ck / "sources" / "0" / "3", [entry("s4", 3)])
    assert slice_batches(str(ck)) == {"s0": 0, "s1": 0, "s2": 1, "s3": 3, "s4": 3}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("spark")
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", str(tmp / "local"))
        .config("spark.sql.warehouse.dir", str(tmp / "wh"))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_slice_attribution_matches_the_files_each_batch_read(spark, tmp_path):
    """Ground truth from the stream itself: each micro-batch records the
    files its rows came from."""
    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()
    for i in range(5):
        spark.range(i * 10, i * 10 + 10).write.parquet(str(tmp_path / f"w{i}"))
        part = next(p for p in os.listdir(tmp_path / f"w{i}") if p.endswith(".parquet"))
        os.replace(tmp_path / f"w{i}" / part, src / f"slice_{i}.parquet")
        os.utime(src / f"slice_{i}.parquet", (1000 + i, 1000 + i))
    seen: dict[str, int] = {}

    def record(df, bid):
        for r in df.select(F.input_file_name().alias("f")).distinct().collect():
            seen[os.path.basename(r["f"])] = bid

    q = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 2)
        .parquet(str(src))
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(seen) == 5 and len(set(seen.values())) == 3
    assert slice_batches(str(tmp_path / "ckpt")) == seen
