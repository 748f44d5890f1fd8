"""Streaming conformance queries (driver-added scope; the reference has no
streaming surface — SURVEY.md §2.6).

q90 runs a real Structured Streaming query (file source → watermark →
tumbling window → memory sink, drained synchronously) and its oracle is
the equivalent batch SQL: tumbling windows are epoch-aligned integer
bucket arithmetic, so DuckDB reproduces them exactly.  q91 validates
session_window against gap-island SQL.  q92 exercises
applyInPandasWithState; its per-user final state equals a plain batch
aggregate, which is the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiledb_mariadb_spark.streaming.events import (
    read_events_stream,
    run_to_completion,
    stateful_user_stats,
    windowed_counts,
)
from tiledb_mariadb_spark.suite import QuerySpec, t
from tiledb_mariadb_spark.suite.scratch import scratch_dir
from tiledb_mariadb_spark.suite.scratch import tag as _scratch_tag

_WINDOW_US = 6 * 3600 * 1_000_000  # 6-hour tumbling windows


# --- q90: streaming tumbling-window aggregation ----------------------------
def q90_stream_window(spark, sf_dir):
    # complete mode: append would withhold windows newer than the final
    # watermark (no late data ever arrives to advance it past the end)
    events = read_events_stream(spark, sf_dir)
    return run_to_completion(windowed_counts(events, "6 hours"), "complete")


Q90_SQL = f"""
SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {_WINDOW_US}) * {_WINDOW_US} AS win_start_us,
       event_type, COUNT(*) AS n,
       (CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) / 100.0) AS total_value
FROM events
GROUP BY 1, 2
"""


# --- q91: session_window (batch) vs gap-island SQL -------------------------
def q91_session_window(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window(F.col("ts"), "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )


Q91_SQL = """
WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
flagged AS (
  SELECT user_id, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   > 1800000000
              OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM e),
sessions AS (
  SELECT user_id, us,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged)
SELECT user_id, MIN(us) AS session_start_us,
       MAX(us) + 1800000000 AS session_end_us,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sid
"""


# --- q92: custom stateful operator (applyInPandasWithState) ----------------
def q92_stream_stateful(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    return run_to_completion(stateful_user_stats(events), "update")


Q92_SQL = """
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events
GROUP BY user_id
"""


# --- q93: stream-stream interval join --------------------------------------
# Inner join emits eagerly as matches arrive, so the drained result equals
# the batch join — which is exactly the oracle.
def q93_stream_stream_join(spark, sf_dir):
    from tiledb_mariadb_spark.streaming.events import interval_join  # noqa: PLC0415

    clicks = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return run_to_completion(interval_join(clicks, purchases), "append")


Q93_SQL = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_us,
       epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_us,
       p.value AS amount
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


# --- q94: streaming dedup (exactly-once replay) -----------------------------
# Two source instances over the same files = every event delivered twice;
# dropDuplicates(event_id) must restore the exact original table.
def q94_stream_dedup(spark, sf_dir):
    from tiledb_mariadb_spark.streaming.events import dedup_stream  # noqa: PLC0415

    doubled = read_events_stream(spark, sf_dir).union(
        read_events_stream(spark, sf_dir)
    )
    out = dedup_stream(doubled).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    return run_to_completion(out, "append")


Q94_SQL = """
SELECT event_id, user_id, event_type,
       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
FROM events
"""


# --- q148: streaming sliding-window counts ---------------------------------
_SLIDE_US = 3 * 3600 * 1_000_000  # 3-hour slide under 6-hour windows


def q148_stream_sliding(spark, sf_dir):
    from tiledb_mariadb_spark.streaming.events import sliding_counts  # noqa: PLC0415

    events = read_events_stream(spark, sf_dir)
    return run_to_completion(sliding_counts(events, "6 hours", "3 hours"), "complete")


# Sliding windows are epoch-aligned: every event belongs to exactly
# duration/slide = 2 windows, whose starts are floor(ts/slide)*slide - i*slide
# for i in 0..1 — reproducible integer arithmetic in DuckDB.
Q148_SQL = f"""
SELECT win_start_us, event_type, COUNT(*) AS n
FROM (
  SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) // {_SLIDE_US}) - i.i) * {_SLIDE_US}
           AS win_start_us,
         event_type
  FROM events, UNNEST(range(0, 2)) AS i(i)
)
GROUP BY 1, 2
"""


# --- q177: streaming incremental dedup (stream-static index probe) ---------
# The deployment shape of q173: the new-document feed computes MinHash
# signatures IN-ROW (minhash_inline_cols is aggregation-free, so it is
# legal in append mode), bands them, and joins the STATIC corpus band
# index; dropDuplicates collapses multi-band hits exactly like the batch
# DISTINCT.  At scale the static side is the stored band index table
# (partitioned by band/hash) and state is only the emitted pair set.
def q177_stream_probe_dedup(spark, sf_dir):
    from tiledb_mariadb_spark.functions import dedup as D  # noqa: PLC0415
    from tiledb_mariadb_spark.streaming.events import (  # noqa: PLC0415
        read_documents_stream,
    )

    corpus = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 != 0)
        .select("doc_id", "text")
    )
    ibands = D.band_explode(
        D.with_minhash_inline(corpus, "text", ["doc_id"]), "doc_id", "index_id"
    )
    sdocs = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 5 == 0
    )
    pbands = D.band_explode(
        D.with_minhash_inline(sdocs, "text", ["doc_id"]), "doc_id", "probe_id"
    )
    hits = (
        pbands.join(ibands, ["band", "h0", "h1"])
        .select("probe_id", "index_id")
        .dropDuplicates(["probe_id", "index_id"])
    )
    return run_to_completion(hits, "append")


def _q177_sql() -> str:
    from tiledb_mariadb_spark.functions import dedup as D  # noqa: PLC0415

    corpus_sh = D.shingles_sql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0)",
        "doc_id",
        "text",
        k=3,
    )
    batch_sh = D.shingles_sql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0)",
        "doc_id",
        "text",
        k=3,
    )
    return D.lsh_probe_pairs_sql(
        D.minhash_sql(corpus_sh, "doc_id"), D.minhash_sql(batch_sh, "doc_id")
    )


Q177_SQL = _q177_sql()


SPECS = [
    QuerySpec("q90_stream_window", q90_stream_window, Q90_SQL, "streaming window agg"),
    QuerySpec(
        "q177_stream_probe_dedup", q177_stream_probe_dedup, Q177_SQL,
        "streaming incremental dedup: stream-static LSH index probe",
    ),
    QuerySpec(
        "q148_stream_sliding", q148_stream_sliding, Q148_SQL,
        "streaming sliding-window counts",
    ),
    QuerySpec("q91_session_window", q91_session_window, Q91_SQL, "session_window"),
    QuerySpec("q92_stream_stateful", q92_stream_stateful, Q92_SQL, "stateful op"),
    QuerySpec(
        "q93_stream_stream_join", q93_stream_stream_join, Q93_SQL,
        "stream-stream interval join",
    ),
    QuerySpec("q94_stream_dedup", q94_stream_dedup, Q94_SQL, "streaming dedup"),
]


# --- q274: streaming CDC feed with op indicator -----------------------------
# stream_tile_table(with_op=True) — the streaming twin of
# read_changes(with_op=True): a tile table receives a base write plus an
# apply_changes MERGE batch (upsert + delete); the STREAMING feed must
# deliver every fragment row with _op distinguishing tombstones, and
# pre-CDC fragments (no __tombstone column on disk) as 'upsert'.  The
# whole feed runs as a real readStream (availableNow drain).
def q274_stream_cdc_feed(spark, sf_dir):
    import shutil  # noqa: PLC0415

    from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable  # noqa: PLC0415
    from tiledb_mariadb_spark.streaming.events import (  # noqa: PLC0415
        run_to_completion,
        stream_tile_table,
    )

    e = t(spark, sf_dir, "events").select(
        "event_id", (F.col("event_id") % 100).alias("bucket")
    )
    tag = _scratch_tag(f"cdcfeed:{sf_dir}")
    uri = f"{scratch_dir('stream_cdc')}/{tag}"
    shutil.rmtree(uri, ignore_errors=True)
    tt = TileTable.create(
        spark,
        uri,
        dimensions=[Dim("event_id", "bigint")],
        attributes=[Attr("bucket", "bigint")],
        overwrite=True,
    )
    tt.write(e.filter(F.col("event_id") < 500))
    changes = (
        e.filter((F.col("event_id") >= 500) & (F.col("event_id") < 600))
        .withColumn("__op", F.lit("upsert"))
        .unionByName(
            e.filter(F.col("event_id") < 50).select(
                "event_id",
                F.lit(None).cast("bigint").alias("bucket"),
                F.lit("delete").alias("__op"),
            )
        )
    )
    tt.apply_changes(changes)
    feed = stream_tile_table(spark, tt, with_op=True)
    return run_to_completion(
        feed.select("event_id", "bucket", "_op"), "append"
    )


Q274_SQL = """
WITH e AS (SELECT event_id, event_id % 100 AS bucket FROM events)
SELECT event_id, bucket, 'upsert' AS _op FROM e WHERE event_id < 500
UNION ALL
SELECT event_id, bucket, 'upsert' FROM e
WHERE event_id >= 500 AND event_id < 600
UNION ALL
SELECT event_id, CAST(NULL AS BIGINT), 'delete' FROM e WHERE event_id < 50
"""

SPECS.append(
    QuerySpec(
        "q274_stream_cdc_feed",
        q274_stream_cdc_feed,
        Q274_SQL,
        "streaming CDC feed: real readStream over the version log with "
        "_op distinguishing tombstones from upserts",
    )
)


# --- q279: streaming sink into a NATIVE-format array (round 4) --------------
# Unifies the round-4 native fragment writer with Structured Streaming:
# each foreachBatch micro-batch lands as independent native fragments
# (write_array -> tiledb_native_write, no libtiledb), i.e. the streaming
# twin of the reference's bulk write path (ha_mytile.cc:3260-3360) with
# TileDB's no-coordination multi-writer model as the micro-batch contract.
# Verification closes the loop THROUGH the on-disk format: the array is
# read back by the native connector with dim-range pruning and aggregated.
def q279_stream_native_sink(spark, sf_dir):
    import shutil  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        ArrayInfo,
        AttrInfo,
        DimInfo,
        NativeDecoderBackend,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.streaming.events import (  # noqa: PLC0415
        read_events_stream,
    )
    from tiledb_mariadb_spark.suite import dsum  # noqa: PLC0415

    tag = _scratch_tag(f"natsink:{sf_dir}")
    root = f"{scratch_dir('stream_native')}/{tag}"
    shutil.rmtree(root, ignore_errors=True)
    uri = f"{root}/arr"
    be = NativeDecoderBackend()
    be.create(
        uri,
        ArrayInfo(
            dims=[DimInfo("event_id", "bigint", (0, 10**9))],
            attrs=[
                AttrInfo("user_id", "bigint", nullable=False),
                AttrInfo("value", "double", nullable=False),
                AttrInfo("event_type", "string", nullable=False),
            ],
        ),
    )
    ev = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_id") < 3000)
        .select("event_id", "user_id", "value", "event_type")
    )

    def write_batch(batch_df, _batch_id):
        write_array(batch_df.repartition(2), uri, backend=be)

    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{root}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    arr = read_array(
        spark, uri, backend=be,
        dim_ranges={"event_id": (0, 1999)},  # pruned below what was sunk
        target_splits=8,
    )
    return (
        arr.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


Q279_SQL = """
SELECT event_type, COUNT(*) AS n,
       (CAST(CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
             AS DOUBLE) / 100.0) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events WHERE event_id < 2000
GROUP BY event_type ORDER BY event_type
"""

SPECS.append(
    QuerySpec(
        "q279_stream_native_sink",
        q279_stream_native_sink,
        Q279_SQL,
        "Structured Streaming foreachBatch sink writing REAL native-format "
        "fragments per micro-batch; read back through the pruned native "
        "connector scan (streaming twin of ha_mytile.cc:3260-3360)",
    )
)


# --- q285: registered streaming SOURCE over a native array (round 4) --------
# spark.readStream.format("tiledb_native"): the committed-fragment set is
# the streaming offset, so each micro-batch carries exactly the new
# fragments (TileDB's append-only model = an exact, replayable change
# feed).  Two deterministic fragments from the events table stream into a
# stateless aggregation; oracle = the same aggregate over the slice.
def q285_datasource_stream(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.spark_datasource import (  # noqa: PLC0415
        register_tiledb_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_native_fragment,
    )
    from tiledb_mariadb_spark.streaming.events import (  # noqa: PLC0415
        run_to_completion,
    )

    register_tiledb_native(spark)
    root = tempfile.mkdtemp(prefix="q285_stream_src_")
    uri = root + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("event_id", 1, 1, (0, 10**9), None)],
        attrs=[
            NativeAttr("user_id", 1, 1, False, None),
            NativeAttr("etype", 12, 0xFFFFFFFF, False, None),
        ],
    )
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "user_id", F.col("event_type").alias("etype"))
        .collect()
    )
    first = [r for r in ev if r.event_id < 1000]
    second = [r for r in ev if r.event_id >= 1000]
    for ts, batch in ((100, first), (200, second)):
        write_native_fragment(
            uri,
            {
                "event_id": [r.event_id for r in batch],
                "user_id": [r.user_id for r in batch],
                "etype": [r.etype for r in batch],
            },
            ts=ts,
        )
    feed = (
        spark.readStream.format("tiledb_native").option("path", uri).load()
    )
    agg = feed.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").alias("min_user"),
        F.sum("event_id").cast("bigint").alias("sum_id"),
    )
    return run_to_completion(agg, "complete").orderBy("etype")


Q285_SQL = """
SELECT event_type AS etype, COUNT(*) AS n,
       MIN(user_id) AS min_user,
       CAST(SUM(event_id) AS BIGINT) AS sum_id
FROM events WHERE event_id < 2000
GROUP BY event_type ORDER BY etype
"""

SPECS.append(
    QuerySpec(
        "q285_datasource_stream",
        q285_datasource_stream,
        Q285_SQL,
        "streaming SOURCE via the registered Python Data Source: "
        "fragment-set offsets give an exact replayable change feed",
    )
)
