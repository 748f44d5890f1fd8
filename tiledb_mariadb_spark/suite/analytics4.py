"""Vector rollups, event-sequence transitions, and multi-format export.

* q207 — **per-label embedding centroids** (the "tensor rollup"): mean
  vector per label via posexplode -> groupBy (label, dim) on integer-
  scaled components.  The explode looks expensive but is the correct
  distributed shape: map-side partial aggregation collapses each
  partition to at most labels x dims rows before the shuffle, so the
  exchange is sketch-sized regardless of input rows.  (A per-row
  zip-with reduce would need an array UDAF — Python-side — for no win.)
* q208 — **event-transition matrix** (first-order Markov): lag window
  per user orders events, transition counts + exact-division
  probabilities.  One shuffle on user_id for the window, one constant-
  size aggregate on (from, to).
* q209 — **multi-format export round-trip**: the same projection written
  to ORC, JSON-lines, and CSV under `.tmp/` and read back through
  Spark's corresponding sources, union-tagged.  The reference's CSV
  surface (`mysql-test/mytile/t/csv.test`, q85) widened to the sink
  formats a Spark deployment actually exchanges data in; the oracle is
  the source projection tripled — so a hash match proves every format
  round-trips values (timestamps pinned to ISO strings: JSON/CSV have
  no native timestamp type).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tiledb_mariadb_spark.functions.similarity import _scaled_int_spark, _scaled_int_sql
from tiledb_mariadb_spark.suite import QuerySpec, t
from tiledb_mariadb_spark.suite.scratch import scratch_dir
from tiledb_mariadb_spark.suite.scratch import tag as _scratch_tag

# --- q207: per-label embedding centroids -----------------------------------


def q207_label_centroids(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    comps = e.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.expr(_scaled_int_spark("x")).alias("xs"),
    )
    return (
        comps.groupBy("label", "dim")
        .agg(F.sum("xs").alias("sx"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "dim",
            (F.col("sx").cast("double") / F.col("n").cast("double")).alias("mean_s"),
            "n",
        )
        .filter(F.col("dim") < 8)  # bound the conformance output
        .orderBy("label", "dim")
    )


Q207_SQL = f"""
WITH comps AS (
  SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
         {_scaled_int_sql('embedding[i]')} AS xs
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i))
SELECT label, dim,
       CAST(SUM(xs) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_s,
       COUNT(*) AS n
FROM comps WHERE dim < 8
GROUP BY label, dim
ORDER BY label, dim
"""


# --- q208: event-transition matrix (first-order Markov) --------------------
def q208_transitions(spark, sf_dir):
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # row-normalize with a window over the aggregated matrix (bounded by
    # |event_types|²) — a totals self-join would re-plan the whole
    # window+groupBy pipeline as a second subtree (was 12 exchanges)
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.expr(
            "CAST(n AS DOUBLE) /"
            " CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)"
        ).alias("p"),
    ).orderBy("from_type", "to_type")


Q208_SQL = """
WITH pairs AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
counts AS (SELECT from_type, to_type, COUNT(*) AS n FROM pairs
           WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
           FROM counts GROUP BY from_type)
SELECT counts.from_type, to_type, n,
       CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
FROM counts JOIN totals ON counts.from_type = totals.from_type
ORDER BY counts.from_type, to_type
"""


# --- q209: multi-format export round-trip ----------------------------------
_EXPORT_ROOT = scratch_dir("exports")


def q209_export_roundtrip(spark, sf_dir):
    tag = _scratch_tag(sf_dir)
    sub = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 997 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.expr("CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)").alias(
                "price_cents"
            ),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("odate"),
        )
    )
    parts = []
    for fmt in ("orc", "json", "csv"):
        path = os.path.join(_EXPORT_ROOT, f"orders-{tag}.{fmt}")
        w = sub.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            w = w.option("header", True)
        w.save(path)
        r = spark.read.format(fmt)
        if fmt == "csv":
            r = r.option("header", True).schema(sub.schema)
        elif fmt == "json":
            r = r.schema(sub.schema)
        parts.append(r.load(path).withColumn("fmt", F.lit(fmt)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fmt", "o_orderkey")


Q209_SQL = """
WITH sub AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT) AS price_cents,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
  FROM orders WHERE o_orderkey % 997 = 0)
SELECT sub.*, fmt
FROM sub, (VALUES ('orc'), ('json'), ('csv')) AS f(fmt)
ORDER BY fmt, o_orderkey
"""


SPECS = [
    QuerySpec(
        "q207_label_centroids",
        q207_label_centroids,
        Q207_SQL,
        "per-label embedding centroid rollup (sketch-sized shuffle)",
    ),
    QuerySpec(
        "q208_transitions",
        q208_transitions,
        Q208_SQL,
        "first-order Markov event-transition matrix with probabilities",
    ),
    QuerySpec(
        "q209_export_roundtrip",
        q209_export_roundtrip,
        Q209_SQL,
        "ORC/JSON/CSV export round-trip equals the source projection",
    ),
]
