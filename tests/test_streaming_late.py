"""Watermark late-data semantics: an event older than the current
watermark is DROPPED from a windowed streaming aggregate — the core
guarantee that bounds state at 100 TB/day event volumes.

Two incremental availableNow runs share a checkpoint (the production
ingest shape; within ONE run Spark plans every batch against the run's
starting watermark, so the drop only binds across runs).  Run 1 sees
five 08:xx events plus 10:xx events that advance the watermark to 10:20
(delay 30 min).  Run 2 delivers one LATE 08:45 event — below the
restored watermark: dropped — and a 12:00 event.  The 08:00 window must
finalize at count 5, while the same data through a batch aggregate
counts 6: the stream applied (and the batch path did not need) the
late-row drop.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

from pyspark.sql import functions as F

def _ts(h: int, m: int) -> dt.datetime:
    return dt.datetime(2024, 3, 1, h, m, 0)


def _write(spark, src_dir: str, name: str, rows, mtime: float) -> None:
    """Land ``rows`` as one parquet FILE directly in ``src_dir`` (the file
    stream source lists plain files, not nested directories)."""
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    stage = os.path.join(os.path.dirname(src_dir), "stage", name)
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(
        f for f in os.listdir(stage) if f.endswith(".parquet") and f.startswith("part-")
    )
    os.makedirs(src_dir, exist_ok=True)
    dest = os.path.join(src_dir, f"{name}.parquet")
    shutil.move(os.path.join(stage, part), dest)
    os.utime(dest, (mtime, mtime))


def _run_incremental(spark, src: str, ckpt: str, out: str) -> None:
    """One availableNow pass over ``src`` with a persistent checkpoint —
    the production incremental-ingest shape: the watermark is restored
    from the checkpoint, so rows late relative to the PREVIOUS run are
    dropped."""
    schema = "event_id long, ts timestamp, user_id long"
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("h"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_watermark_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    batch1 = [(i, _ts(8, 5 * i), 1) for i in range(5)] + [
        (10 + i, _ts(10, 10 * i), 2) for i in range(6)
    ]
    batch2 = [(100, _ts(8, 45), 1), (101, _ts(12, 0), 2)]
    now = time.time()

    # run 1: watermark advances to 10:20; the 08:00 window finalizes at 5
    _write(spark, src, "b1", batch1, now - 120)
    _run_incremental(spark, src, ckpt, out)
    # run 2: the 08:45 row is LATE (< restored watermark) -> dropped; the
    # 12:00 row advances the watermark to 11:30, finalizing 10:00 at 6
    _write(spark, src, "b2", batch2, now - 60)
    _run_incremental(spark, src, ckpt, out)

    streamed = {r["h"]: r["n"] for r in spark.read.parquet(out).collect()}

    schema = "event_id long, ts timestamp, user_id long"
    batch = (
        spark.read.schema(schema)
        .parquet(src)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("h"), "n")
    )
    batched = {r["h"]: r["n"] for r in batch.collect()}

    # batch sees all 6 events in the 08:00 window; the stream dropped the
    # late one
    assert batched["08:00"] == 6
    assert streamed.get("08:00") == 5
    assert streamed.get("10:00") == 6
    # append mode withholds windows the final watermark (11:30) has not
    # passed
    assert "12:00" not in streamed
