"""Round-7 session-2 native-tier surfaces.

q338 — windowed metadata aggregation: the subarray form of the
reference's group_by_handler (mytile/ha_mytile.cc:607-715 answers
ungrouped COUNT/MIN/MAX/SUM from storage) on TileDB core's tile-stats
design — tiles fully inside the requested dim ranges contribute their
fragment-metadata tile stats without being read; only boundary tiles
decode.  The spec writes a range-partitioned native array from orders
(disjoint NEDs — the provability precondition), answers a key-window
COUNT/SUM/MIN/MAX twice (metadata path, then a distributed connector
scan), and the oracle recomputes both from the parquet source: the
hash match proves the metadata numbers equal a real scan's.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiledb_mariadb_spark.suite import QuerySpec, ldf, t

SPECS: list[QuerySpec] = []

_W_LO, _W_HI = 101, 4000  # o_orderkey window: populated at every sf


def q338_windowed_agg(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
        windowed_agg_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q338_windowed_") + "/arr"
    # small capacity so the window spans many interior tiles even at
    # sf0.001 (1.5k orders): the metadata path must actually engage
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 6_000_000), None)],
        attrs=[
            NativeAttr("cents", 1, 1, False, None),
            NativeAttr("ckey", 1, 1, False, None),
        ],
        capacity=200,
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
        F.col("o_custkey").cast("bigint").alias("ckey"),
    )
    # range partitioning => pairwise-disjoint fragment NEDs, the
    # windowed-agg provability precondition (and the natural shape of a
    # time/key-partitioned 100 TB ingest)
    write_array(
        src.repartitionByRange(8, "k"), uri, backend=NativeDecoderBackend()
    )

    res = windowed_agg_native(
        uri, {"k": (_W_LO, _W_HI)}, fields=["cents", "ckey"]
    )
    if res is None:  # fail loudly — never silently scan
        raise AssertionError("windowed metadata agg not provable")
    a = res["audit"]
    # at tiny sf the window covers almost every key (nothing to skip);
    # the invariant that must hold at EVERY sf is that interior tiles
    # were served from metadata, not decoded
    if a["tiles_contained"] == 0:
        raise AssertionError(f"metadata path did not engage: {a}")
    meta_rows = [("meta", "*", "rows", float(res["count"]))]
    for fname in ("cents", "ckey"):
        s = res["fields"][fname]
        for stat in ("count", "sum", "min", "max"):
            meta_rows.append(("meta", fname, stat, float(s[stat])))
    meta = ldf(spark,
        meta_rows, "src string, field string, stat string, value double"
    )

    arr = read_array(
        spark, uri, dim_ranges={"k": (_W_LO, _W_HI)}, target_splits=8
    )
    aggs = arr.agg(
        F.count(F.lit(1)).alias("all_rows"),
        F.count("cents").alias("cents_count"),
        F.sum("cents").alias("cents_sum"),
        F.min("cents").alias("cents_min"),
        F.max("cents").alias("cents_max"),
        F.count("ckey").alias("ckey_count"),
        F.sum("ckey").alias("ckey_sum"),
        F.min("ckey").alias("ckey_min"),
        F.max("ckey").alias("ckey_max"),
    )
    scan = aggs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("*").alias("field"),
                    F.lit("rows").alias("stat"),
                    F.col("all_rows").cast("double").alias("value"),
                ),
                *[
                    F.struct(
                        F.lit(c.rsplit("_", 1)[0]).alias("field"),
                        F.lit(c.rsplit("_", 1)[1]).alias("stat"),
                        F.col(c).cast("double").alias("value"),
                    )
                    for c in aggs.columns
                    if c != "all_rows"
                ],
            )
        ).alias("s")
    ).select(F.lit("scan").alias("src"), "s.field", "s.stat", "s.value")
    return meta.unionByName(scan).orderBy("src", "field", "stat")


Q338_SQL = f"""
WITH w AS (
  SELECT CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents,
         CAST(o_custkey AS BIGINT) AS ckey
  FROM orders WHERE o_orderkey BETWEEN {_W_LO} AND {_W_HI}
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS rows_,
         CAST(COUNT(cents) AS DOUBLE) AS cents_count,
         CAST(SUM(cents) AS DOUBLE) AS cents_sum,
         CAST(MIN(cents) AS DOUBLE) AS cents_min,
         CAST(MAX(cents) AS DOUBLE) AS cents_max,
         CAST(COUNT(ckey) AS DOUBLE) AS ckey_count,
         CAST(SUM(ckey) AS DOUBLE) AS ckey_sum,
         CAST(MIN(ckey) AS DOUBLE) AS ckey_min,
         CAST(MAX(ckey) AS DOUBLE) AS ckey_max
  FROM w
), stats AS (
  SELECT '*' AS field, 'rows' AS stat, rows_ AS value FROM s
  UNION ALL SELECT 'cents', 'count', cents_count FROM s
  UNION ALL SELECT 'cents', 'sum',   cents_sum   FROM s
  UNION ALL SELECT 'cents', 'min',   cents_min   FROM s
  UNION ALL SELECT 'cents', 'max',   cents_max   FROM s
  UNION ALL SELECT 'ckey',  'count', ckey_count  FROM s
  UNION ALL SELECT 'ckey',  'sum',   ckey_sum    FROM s
  UNION ALL SELECT 'ckey',  'min',   ckey_min    FROM s
  UNION ALL SELECT 'ckey',  'max',   ckey_max    FROM s
)
SELECT src.src AS src, stats.field, stats.stat, stats.value
FROM stats CROSS JOIN (
  SELECT 'meta' AS src UNION ALL SELECT 'scan'
) AS src
ORDER BY src, field, stat
"""

SPECS.append(
    QuerySpec(
        "q338_windowed_agg",
        q338_windowed_agg,
        Q338_SQL,
        "windowed metadata aggregation (round 7): dim-range COUNT/SUM/"
        "MIN/MAX answered from R-tree tile classification + tile stats, "
        "boundary tiles decoded exactly; hash-matched against both a "
        "connector scan and the parquet oracle "
        "(group_by_handler subarray form, ha_mytile.cc:607-715)",
    )
)


# --- q339: storage-partitioned join of co-dimensioned arrays ----------------
#
# Two native arrays keyed by the same dimension join WITHOUT shuffling
# either side: one split plan over the shared coordinate space, each
# task reads both subarrays and merges locally (the connector-level
# analog of Spark's storage-partitioned join, SPARK-37375 — which the
# Python DataSource API cannot express to Catalyst).  Reference parity:
# the dim-key joins of mysql-test/mytile/t/join.test and
# mrr_triple_join.test (MariaDB BKA-joins through ha_mytile; here the
# co-location removes the exchange entirely).  At 100 TB a fact-to-fact
# join on the dimension key is a full-data double shuffle in plain
# Spark; this is a map-only pass.  The spec LEFT-joins an orders array
# against a lineitem-rollup array with range + condition pushdown, and
# self-audits that the physical plan contains no Spark join node.

_J_LO, _J_HI = 1, 800  # o_orderkey join window: populated at every sf


def q339_copartitioned_join(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        copartitioned_join_arrays,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    base = tempfile.mkdtemp(prefix="q339_cpj_")
    ua, ub = base + "/orders_arr", base + "/items_arr"
    dims = [NativeDim("k", 1, 1, (0, 6_000_000), None)]
    create_native_array(
        ua, dims=dims,
        attrs=[
            NativeAttr("cents", 1, 1, False, None),
            NativeAttr("cust", 1, 1, False, None),
        ],
    )
    create_native_array(
        ub, dims=dims,
        attrs=[
            NativeAttr("qty", 1, 1, False, None),
            NativeAttr("items", 1, 1, False, None),
        ],
    )
    be = NativeDecoderBackend()
    # ingest trimmed to the join window (round 9, the q331 treatment):
    # the copartitioned read below is pinned to k in (_J_LO, _J_HI), so
    # rows outside it can never appear in the result; the per-orderkey
    # lineitem groups are intact under an orderkey cut
    a_src = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey").between(_J_LO, _J_HI)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
        F.col("o_custkey").cast("bigint").alias("cust"),
    )
    b_src = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey").between(_J_LO, _J_HI))
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            F.count(F.lit(1)).alias("items"),
        )
        .where(F.col("items") >= 4)
    )
    # range partitioning: disjoint fragment NEDs per writer — the
    # natural key-partitioned ingest shape both split plans exploit.
    # The two ingests write SEPARATE arrays: overlap them (guide §2.6)
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    par_jobs(
        lambda: write_array(a_src.repartitionByRange(3, "k"), ua, backend=be),
        lambda: write_array(b_src.repartitionByRange(3, "k"), ub, backend=be),
    )

    joined = copartitioned_join_arrays(
        spark, ua, ub,
        how="left",
        dim_ranges={"k": (_J_LO, _J_HI)},
        conditions_a=[("cents", ">=", 1_000_000)],
        target_splits=6,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if "Join" in plan:  # the whole point: the merge rides the scan
        raise AssertionError("copartitioned join produced a shuffle join")
    return joined.select(
        "k", "cents", "cust", "qty", "items",
        F.when(F.col("items").isNotNull(), F.lit("true"))
        .otherwise(F.lit("false")).alias("matched"),
    ).orderBy("k")


Q339_SQL = f"""
WITH a AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents,
         CAST(o_custkey AS BIGINT) AS cust
  FROM orders
  WHERE o_orderkey BETWEEN {_J_LO} AND {_J_HI}
), b AS (
  SELECT CAST(l_orderkey AS BIGINT) AS k,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS items
  FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) >= 4
)
SELECT a.k, a.cents, a.cust, b.qty, b.items,
       CASE WHEN b.k IS NULL THEN 'false' ELSE 'true' END AS matched
FROM a LEFT JOIN b ON a.k = b.k
WHERE a.cents >= 1000000
ORDER BY a.k
"""

# --- q340: bucketed metadata rollup (GROUP BY floor(dim/width)) -------------
#
# The grouped twin of q338: GROUP BY floor(k/width) COUNT/SUM/MIN/MAX
# answered from tile stats in ONE footer walk — tiles inside a single
# bucket contribute stats unread, only bucket-edge tiles decode (the
# hypertable continuous-aggregate shape; group_by_handler
# ha_mytile.cc:607-715 extended to grouped subarrays).  The spec
# computes the rollup twice (metadata path, then a distributed
# connector scan + groupBy) and the oracle recomputes both from
# parquet: the hash match proves the metadata rollup equals a real
# grouped scan.  Width 1024 is deliberately UNALIGNED to the tile
# capacity, so edge tiles exercise the exact-decode path at every sf.

_B_W = 1024


def q340_bucketed_rollup(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
        bucketed_agg_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q340_bucketed_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 6_000_000), None)],
        attrs=[NativeAttr("cents", 1, 1, False, None)],
        capacity=200,
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    write_array(
        src.repartitionByRange(8, "k"), uri, backend=NativeDecoderBackend()
    )

    res = bucketed_agg_native(uri, _B_W, fields=["cents"])
    if res is None:  # fail loudly — never silently scan
        raise AssertionError("bucketed metadata rollup not provable")
    if res["audit"]["tiles_contained"] == 0:
        raise AssertionError(f"metadata path did not engage: {res['audit']}")
    meta = ldf(
        spark,
        [
            ("meta", int(b), ent["count"], int(ent["fields"]["cents"]["sum"]),
             int(ent["fields"]["cents"]["min"]),
             int(ent["fields"]["cents"]["max"]))
            for b, ent in sorted(res["buckets"].items())
        ],
        "src string, bucket long, rows long, c_sum long, c_min long,"
        " c_max long",
    )
    scan = (
        read_array(spark, uri, target_splits=8)
        .groupBy(
            F.expr(f"CAST(k DIV {_B_W} AS BIGINT)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("cents").alias("c_sum"),
            F.min("cents").alias("c_min"),
            F.max("cents").alias("c_max"),
        )
        .select(F.lit("scan").alias("src"), "bucket", "rows",
                "c_sum", "c_min", "c_max")
    )
    return meta.unionByName(scan).orderBy("src", "bucket")


Q340_SQL = f"""
WITH g AS (
  SELECT CAST(FLOOR(CAST(o_orderkey AS DOUBLE) / {_B_W}.0) AS BIGINT)
           AS bucket,
         CAST(COUNT(*) AS BIGINT) AS rows,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                       AS BIGINT)) AS BIGINT) AS c_sum,
         CAST(MIN(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                       AS BIGINT)) AS BIGINT) AS c_min,
         CAST(MAX(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                       AS BIGINT)) AS BIGINT) AS c_max
  FROM orders GROUP BY 1
)
SELECT src.src AS src, g.bucket, g.rows, g.c_sum, g.c_min, g.c_max
FROM g CROSS JOIN (
  SELECT 'meta' AS src UNION ALL SELECT 'scan'
) AS src
ORDER BY src, bucket
"""

# --- q342: three-way storage-partitioned star join ---------------------------
#
# The reference's mrr_triple_join.test star-joins three dim-keyed
# tables through the handler (BKA/MRR); here all three arrays share the
# dimension space, so ONE split plan serves the whole star and the only
# exchange is the split-id round-robin — each task reads three
# subarrays and folds them with O(n) sorted merges.  Inner planning
# intersects all three non-empty domains.

_T_LO, _T_HI = 1, 3000


def q342_triple_join(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        copartitioned_join_many,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    base = tempfile.mkdtemp(prefix="q342_triple_")
    ua, ub, uc = base + "/a", base + "/b", base + "/c"
    dims = [NativeDim("k", 1, 1, (0, 6_000_000), None)]
    create_native_array(
        ua, dims=dims, attrs=[NativeAttr("cents", 1, 1, False, None)])
    create_native_array(
        ub, dims=dims, attrs=[
            NativeAttr("qty", 1, 1, False, None),
            NativeAttr("items", 1, 1, False, None),
        ])
    create_native_array(
        uc, dims=dims, attrs=[NativeAttr("prio", 1, 1, False, None)])
    be = NativeDecoderBackend()
    # ingest trimmed to the triple-join window (k <= _T_HI) — the
    # pinned dim_ranges read makes out-of-window rows unreachable
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey").between(_T_LO, _T_HI)
    )
    # the three ingests write SEPARATE arrays: overlap them (guide §2.6)
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    par_jobs(
        lambda: write_array(
            orders.select(
                F.col("o_orderkey").alias("k"),
                F.expr(
                    "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D)"
                    " AS BIGINT)"
                ).alias("cents"),
            ).repartitionByRange(3, "k"),
            ua, backend=be,
        ),
        lambda: write_array(
            t(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey").between(_T_LO, _T_HI))
            .groupBy(F.col("l_orderkey").alias("k"))
            .agg(
                F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
                F.count(F.lit(1)).alias("items"),
            )
            .where(F.col("items") >= 4)
            .repartitionByRange(3, "k"),
            ub, backend=be,
        ),
        lambda: write_array(
            orders.where(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            ).select(
                F.col("o_orderkey").alias("k"),
                F.substring("o_orderpriority", 1, 1).cast("bigint")
                .alias("prio"),
            ).repartitionByRange(2, "k"),
            uc, backend=be,
        ),
    )
    joined = copartitioned_join_many(
        spark, [ua, ub, uc],
        dim_ranges={"k": (_T_LO, _T_HI)},
        target_splits=6,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if "Join" in plan:
        raise AssertionError("triple join produced a shuffle join")
    return joined.select(
        "k", "cents", "qty", "items", "prio"
    ).orderBy("k")


Q342_SQL = f"""
WITH a AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders WHERE o_orderkey BETWEEN {_T_LO} AND {_T_HI}
), b AS (
  SELECT CAST(l_orderkey AS BIGINT) AS k,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS items
  FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) >= 4
), c AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS prio
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
)
SELECT a.k, a.cents, b.qty, b.items, c.prio
FROM a JOIN b ON a.k = b.k JOIN c ON a.k = c.k
ORDER BY a.k
"""

SPECS.append(
    QuerySpec(
        "q342_triple_join",
        q342_triple_join,
        Q342_SQL,
        "three-way storage-partitioned star join (round 7): one split "
        "plan serves all three co-dimensioned arrays, each task folds "
        "three subarray reads with O(n) sorted merges — zero data "
        "shuffle, plan self-audited join-free "
        "(mrr_triple_join.test parity)",
    )
)


# --- q343: 2-D grid rollup (heatmap/datacube from tile metadata) ------------
#
# GROUP BY (floor(x/wx), floor(y/wy)) answered from 2-D tile MBRs +
# tile stats: tiles inside one grid cell on BOTH dims serve unread,
# straddlers decode per cell.  The spec grids an orders-derived 2-D
# array (x = custkey, y = orderkey — unique coordinate pairs), computes
# the cube twice (metadata path, distributed grouped scan) and the
# oracle recomputes both from parquet.

_G_WX, _G_WY = 100, 2048


def q343_grid_rollup(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
        grid_agg_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q343_grid_") + "/arr"
    create_native_array(
        uri,
        dims=[
            NativeDim("x", 1, 1, (0, 1_000_000), None),
            NativeDim("y", 1, 1, (0, 6_000_000), None),
        ],
        attrs=[NativeAttr("cents", 1, 1, False, None)],
        capacity=200,
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("x"),
        F.col("o_orderkey").alias("y"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    write_array(
        src.repartitionByRange(8, "x"), uri,
        backend=NativeDecoderBackend(),
    )
    res = grid_agg_native(uri, {"x": _G_WX, "y": _G_WY},
                          fields=["cents"])
    if res is None:
        raise AssertionError("grid rollup not provable from metadata")
    meta = ldf(
        spark,
        [
            ("meta", int(b[0]), int(b[1]), ent["count"],
             int(ent["fields"]["cents"]["sum"]),
             int(ent["fields"]["cents"]["min"]),
             int(ent["fields"]["cents"]["max"]))
            for b, ent in sorted(res["buckets"].items())
        ],
        "src string, bx long, by long, rows long, c_sum long,"
        " c_min long, c_max long",
    )
    scan = (
        read_array(spark, uri, target_splits=8)
        .groupBy(
            F.expr(f"CAST(x DIV {_G_WX} AS BIGINT)").alias("bx"),
            F.expr(f"CAST(y DIV {_G_WY} AS BIGINT)").alias("by"),
        )
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("cents").alias("c_sum"),
            F.min("cents").alias("c_min"),
            F.max("cents").alias("c_max"),
        )
        .select(F.lit("scan").alias("src"), "bx", "by", "rows",
                "c_sum", "c_min", "c_max")
    )
    return meta.unionByName(scan).orderBy("src", "bx", "by")


Q343_SQL = f"""
WITH g AS (
  SELECT CAST(FLOOR(CAST(o_custkey AS DOUBLE) / {_G_WX}.0) AS BIGINT)
           AS bx,
         CAST(FLOOR(CAST(o_orderkey AS DOUBLE) / {_G_WY}.0) AS BIGINT)
           AS by,
         CAST(COUNT(*) AS BIGINT) AS rows,
         CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                       AS BIGINT)) AS BIGINT) AS c_sum,
         CAST(MIN(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                       AS BIGINT)) AS BIGINT) AS c_min,
         CAST(MAX(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                       AS BIGINT)) AS BIGINT) AS c_max
  FROM orders GROUP BY 1, 2
)
SELECT src.src AS src, g.bx, g.by, g.rows, g.c_sum, g.c_min, g.c_max
FROM g CROSS JOIN (
  SELECT 'meta' AS src UNION ALL SELECT 'scan'
) AS src
ORDER BY src, bx, by
"""

SPECS.append(
    QuerySpec(
        "q343_grid_rollup",
        q343_grid_rollup,
        Q343_SQL,
        "2-D grid rollup (round 7): GROUP BY (floor(x/wx), floor(y/wy)) "
        "from 2-D tile MBRs + tile stats — the heatmap/datacube shape; "
        "hash-matched against both a distributed grouped scan and the "
        "parquet oracle",
    )
)


# --- q341: continuous-aggregate refresh (bucket rollup + CDC delta) ---------
#
# The maintenance composition a 100 TB rollup lives by: a SNAPSHOT
# bucketed rollup (at=t0), then an append lands, then the refresh folds
# ONLY the CDC window's per-bucket deltas (bucketed_agg_native with
# since=) into the snapshot — never rescanning the base.  The spec
# hash-matches the FOLDED rollup against the oracle's from-scratch
# GROUP BY over all data: refresh == truth.  Cost audit: the delta walk
# sees only the window's fragments.  (TimescaleDB continuous-aggregate
# shape on TileDB fragment metadata; q326's windowed twin, grouped.)


def q341_bucket_refresh(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
        bucketed_agg_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q341_refresh_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 6_000_000), None)],
        attrs=[NativeAttr("cents", 1, 1, False, None)],
        capacity=200,
    )
    be = NativeDecoderBackend()
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    cutoff = src.agg(F.max("k")).first()[0] // 2
    # base @100 and append @200: the snapshot rollup below time-travels
    # to at=100, so its view is identical whether the append has landed
    # yet — EXPLICIT timestamps let the two ingest jobs overlap
    # (guide §2.6) while the modeled timeline (snapshot, then append,
    # then window-confined refresh) is unchanged
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    par_jobs(
        lambda: write_array(
            src.where(F.col("k") <= cutoff).repartitionByRange(2, "k"),
            uri, backend=be, ts=100,
        ),
        lambda: write_array(
            src.where(F.col("k") > cutoff).repartitionByRange(2, "k"),
            uri, backend=be, ts=200,
        ),
    )
    snap = bucketed_agg_native(uri, _B_W, fields=["cents"], at=100)
    if snap is None or snap["audit"]["tiles_contained"] == 0:
        raise AssertionError("snapshot rollup not provable from metadata")
    # the refresh reads ONLY the window's fragments
    delta = bucketed_agg_native(uri, _B_W, fields=["cents"], since=150)
    if delta is None:
        raise AssertionError("delta rollup not provable from metadata")
    if delta["audit"]["fragments"] >= snap["audit"]["fragments"] + 2:
        raise AssertionError(
            f"delta walked base fragments: {delta['audit']}"
        )
    folded = {}
    for part in (snap, delta):
        for b, ent in part["buckets"].items():
            s = ent["fields"]["cents"]
            cur = folded.get(b)
            if cur is None:
                folded[b] = [ent["count"], s["sum"], s["min"], s["max"]]
            else:  # append-only fold: counts/sums add, extrema widen
                cur[0] += ent["count"]
                cur[1] += s["sum"]
                cur[2] = min(cur[2], s["min"])
                cur[3] = max(cur[3], s["max"])
    return ldf(spark,
        [(int(b), v[0], int(v[1]), int(v[2]), int(v[3]))
         for b, v in sorted(folded.items())],
        "bucket long, rows long, c_sum long, c_min long, c_max long",
    ).orderBy("bucket")


Q341_SQL = f"""
SELECT CAST(FLOOR(CAST(o_orderkey AS DOUBLE) / {_B_W}.0) AS BIGINT)
         AS bucket,
       CAST(COUNT(*) AS BIGINT) AS rows,
       CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                     AS BIGINT)) AS BIGINT) AS c_sum,
       CAST(MIN(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                     AS BIGINT)) AS BIGINT) AS c_min,
       CAST(MAX(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
                     AS BIGINT)) AS BIGINT) AS c_max
FROM orders GROUP BY 1 ORDER BY bucket
"""

SPECS.append(
    QuerySpec(
        "q341_bucket_refresh",
        q341_bucket_refresh,
        Q341_SQL,
        "continuous-aggregate refresh (round 7): snapshot bucket rollup "
        "+ CDC-window per-bucket delta fold equals the from-scratch "
        "GROUP BY (oracle) — the base is never rescanned (audit-pinned "
        "to the window's fragments); TimescaleDB continuous-aggregate "
        "shape on fragment metadata",
    )
)


SPECS.append(
    QuerySpec(
        "q340_bucketed_rollup",
        q340_bucketed_rollup,
        Q340_SQL,
        "bucketed metadata rollup (round 7): GROUP BY floor(k/width) "
        "COUNT/SUM/MIN/MAX from tile stats in one footer walk, only "
        "bucket-edge tiles decoded; hash-matched against both a "
        "distributed grouped scan and the parquet oracle "
        "(grouped form of the group_by_handler, ha_mytile.cc:607-715)",
    )
)


SPECS.append(
    QuerySpec(
        "q339_copartitioned_join",
        q339_copartitioned_join,
        Q339_SQL,
        "storage-partitioned join (round 7): two co-dimensioned native "
        "arrays LEFT-join with zero data shuffle — one split plan, both "
        "sides read per task, local merge; range + condition pushdown "
        "into each side; plan self-audited join-free "
        "(join.test / mrr_triple_join.test parity, SPARK-37375 analog)",
    )
)


# --- q344: zone-map top-k pushdown (round 7, session 3) ----------------------
#
# ORDER BY attr LIMIT k over a native array without a full scan:
# `topk_threshold` (sources/tiledb_native.py) derives, from v11+ fmmsn
# fragment stats alone, a bound t with >= k surviving rows provably at
# or beyond it, and `topk_array` pushes (attr >= t) as an ordinary
# condition — the existing stat-refutation + newest-wins shadow rule
# (plan_condition_skips) then skips every fragment whose range cannot
# reach the bound.  The spec models the canonical 100 TB use: "the N
# newest rows" of an append-ordered corpus, where the sort attribute
# (an event timestamp) correlates with the ingest partitioning, so the
# bound prunes all but the tail fragments.  The census is pinned into
# the hashed output exactly like q333: at most half the fragments may
# be read.  Reference anchor: mytile surfaces fragment min/max only as
# optimizer table stats (ha_mytile.cc info / records_in_range); ORDER
# BY ... LIMIT in the reference always full-scans.
_TS0 = 1_600_000_000_000


def q344_topk_pushdown(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        topk_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
        explain_native_pruning,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q344_topk_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 6_000_000), None)],
        attrs=[
            NativeAttr("ts_ms", 1, 1, False, None),
            NativeAttr("cents", 1, 1, False, None),
        ],
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.lit(_TS0) + F.col("o_orderkey")).cast("bigint").alias("ts_ms"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    # 8 key-range fragments = disjoint NEDs, the append-ordered ingest
    # shape; ts_ms is monotone in k, so fragment stat ranges stack
    backend = NativeDecoderBackend()
    write_array(src.repartitionByRange(8, "k"), uri, backend=backend)

    def side(name, col, k, ascending):
        thr = backend.topk_threshold(uri, col, k, ascending=ascending)
        if thr is None:  # fail loudly — the bound must be provable here
            raise AssertionError("top-k bound not provable from stats")
        census = explain_native_pruning(
            uri, conditions=[(col, "<=" if ascending else ">=", thr)]
        )
        kept = sum(1 for r in census if r["decision"] == "read")
        pruned = str(kept * 2 <= len(census)).lower()
        df = topk_array(spark, uri, col, k, ascending=ascending,
                        target_splits=8)
        return df.select(
            F.lit(name).alias("side"),
            "k", "ts_ms", "cents",
            F.lit(pruned).alias("pruned"),
            F.lit(len(census)).cast("long").alias("frags_total"),
        )

    newest = side("newest", "ts_ms", 12, ascending=False)
    oldest = side("oldest", "ts_ms", 5, ascending=True)
    return newest.unionByName(oldest).orderBy("side", "k")


Q344_SQL = f"""
WITH src AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST({_TS0} + o_orderkey AS BIGINT) AS ts_ms,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders
), newest AS (
  SELECT 'newest' AS side, k, ts_ms, cents
  FROM src ORDER BY ts_ms DESC, k LIMIT 12
), oldest AS (
  SELECT 'oldest' AS side, k, ts_ms, cents
  FROM src ORDER BY ts_ms ASC, k LIMIT 5
)
SELECT side, k, ts_ms, cents, 'true' AS pruned,
       CAST(8 AS BIGINT) AS frags_total
FROM (SELECT * FROM newest UNION ALL SELECT * FROM oldest)
ORDER BY side, k
"""

SPECS.append(
    QuerySpec(
        "q344_topk_pushdown",
        q344_topk_pushdown,
        Q344_SQL,
        "zone-map top-k pushdown (round 7): ORDER BY attr LIMIT k "
        "derives a bound from fragment min/max stats and pushes it as "
        "a condition — only fragments whose stat range reaches the "
        "bound decode (census hash-pinned: <=4 of 8 read, both "
        "directions); the latest-N query of an append-ordered corpus "
        "without a full scan",
    )
)


# --- q345: snapshot diff — CDC between two timestamps (round 7, session 3) ---
#
# `diff_arrays` (sources/tiledb_array.py): added/deleted/changed rows of
# the at_new snapshot relative to at_old, computed as a zero-shuffle
# storage-partitioned SELF-join (both sides are the same array at two
# open_at timestamps — co-partitioning is free) and confined, when no
# delete commit falls inside the window, to the window fragments' union
# bounding box (metadata-only `window_ned`): O(window), not O(array).
# The spec runs both shapes: an ingest window (overwrites + inserts,
# box-confined) and a purge window (a `.del` commit — full-domain scan,
# deletions classified).  The oracle reconstructs both snapshots from
# parquet with pure SQL and full-outer-joins them.  Reference anchor:
# `uri@ts` reads any snapshot (ha_mytile.cc open_at); diffing two takes
# two full scans + a server join there.
_DIFF_T = 30_000_000  # purge threshold: cents > $300k


def q345_snapshot_diff(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        diff_arrays,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_delete_condition,
    )

    uri = tempfile.mkdtemp(prefix="q345_diff_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 6_000_000), None)],
        attrs=[NativeAttr("cents", 1, 1, False, None)],
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    backend = NativeDecoderBackend()
    # v1 @1000 (keys not divisible by 3) and ingest @2000 (every 5th key
    # rewritten at cents+777 — changed where it existed, added where it
    # did not): EXPLICIT timestamps make the two fragment sets identical
    # whichever lands first, so the two ingest jobs overlap (guide §2.6)
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    par_jobs(
        lambda: write_array(
            src.filter(F.col("k") % 3 != 0).repartitionByRange(4, "k"),
            uri, backend=backend, ts=1000,
        ),
        lambda: write_array(
            src.filter(F.col("k") % 5 == 0)
            .withColumn("cents", F.col("cents") + F.lit(777))
            .repartitionByRange(4, "k"),
            uri, backend=backend, ts=2000,
        ),
    )
    # purge @3000: delete commit, O(1) bytes regardless of array size
    write_delete_condition(uri, [("cents", ">", _DIFF_T)], ts=3000)

    ingest = diff_arrays(
        spark, uri, at_old=1000, at_new=2000, target_splits=8
    ).select(
        F.lit("ingest").alias("win"), "k", "change",
        "cents_old", "cents_new",
    )
    purge = diff_arrays(
        spark, uri, at_old=2000, at_new=3000, target_splits=8
    ).select(
        F.lit("purge").alias("win"), "k", "change",
        "cents_old", "cents_new",
    )
    return ingest.unionByName(purge).orderBy("win", "k")


Q345_SQL = f"""
WITH src AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders
), v1 AS (
  SELECT k, cents FROM src WHERE k % 3 <> 0
), w AS (
  SELECT k, cents + 777 AS cents FROM src WHERE k % 5 = 0
), v2 AS (
  SELECT COALESCE(w.k, v1.k) AS k,
         COALESCE(w.cents, v1.cents) AS cents
  FROM v1 FULL OUTER JOIN w ON v1.k = w.k
), ingest AS (
  SELECT 'ingest' AS win, COALESCE(w.k, v1.k) AS k,
         CASE WHEN v1.k IS NULL THEN 'added' ELSE 'changed' END AS change,
         v1.cents AS cents_old, w.cents AS cents_new
  FROM v1 FULL OUTER JOIN w ON v1.k = w.k
  WHERE w.k IS NOT NULL
), purge AS (
  SELECT 'purge' AS win, k, 'deleted' AS change,
         cents AS cents_old, CAST(NULL AS BIGINT) AS cents_new
  FROM v2 WHERE cents > {_DIFF_T}
)
SELECT * FROM (
  SELECT * FROM ingest UNION ALL SELECT * FROM purge
) ORDER BY win, k
"""

SPECS.append(
    QuerySpec(
        "q345_snapshot_diff",
        q345_snapshot_diff,
        Q345_SQL,
        "snapshot diff (round 7): added/deleted/changed rows between "
        "two timestamps as a zero-shuffle storage-partitioned "
        "self-join, window-box-confined (O(window)) when the window "
        "holds no delete commit; both CDC shapes exercised (ingest "
        "overwrites + a .del purge) against a full-outer-join oracle",
    )
)


# --- q346: MERGE INTO — clause-split upsert (round 7, session 3) -------------
#
# `merge_into_array` (sources/tiledb_array.py): row identity is the
# dimension tuple; when_matched update|skip x when_not_matched
# insert|skip covers MERGE's core and the host-side INSERT..ON
# DUPLICATE KEY UPDATE / REPLACE / INSERT IGNORE the reference lowers
# onto handler::write_row (which itself only upserts).  The clause
# split probes target keys ONLY inside the source's bounding box; the
# pure upsert writes one fragment with zero target reads.  The spec
# runs an INSERT-IGNORE batch then an UPDATE-only batch and pins BOTH
# the final state and the matched/not-matched/written counts of each
# merge into the hashed output; the oracle reconstructs all of it in
# SQL.
def q346_merge_into(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        merge_into_array,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q346_merge_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 6_000_000), None)],
        attrs=[NativeAttr("cents", 1, 1, False, None)],
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    backend = NativeDecoderBackend()
    src1 = src.filter(F.col("k") % 3 == 0).withColumn(
        "cents", F.col("cents") + F.lit(555)
    )
    src2 = src.filter(F.col("k") % 5 == 0).withColumn(
        "cents", F.col("cents") + F.lit(99)
    )

    def _box(df):
        r = df.agg(F.min("k").alias("lo"), F.max("k").alias("hi")).collect()[0]
        return {"k": (r["lo"], r["hi"])}

    # seed: even keys — 16 range partitions so the big ingest write uses
    # the cores instead of 4 long tasks (each partition is an
    # independent fragment; same rows, same read-back state).  The two
    # merges' probe-confinement boxes depend only on the SOURCE frames,
    # not on the target, so their bounds jobs overlap the seed ingest
    # (guide §2.6) and each merge skips its own bounds aggregation.
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    _, box1, box2 = par_jobs(
        lambda: write_array(
            src.filter(F.col("k") % 2 == 0).repartitionByRange(16, "k"),
            uri, backend=backend, ts=1000,
        ),
        lambda: _box(src1),
        lambda: _box(src2),
    )
    # merge 1 — INSERT IGNORE shape: add k%3==0 rows at cents+555,
    # existing keys untouched
    c1 = merge_into_array(
        spark, uri, src1,
        when_matched="skip", when_not_matched="insert", ts=2000,
        target_splits=8, on_source_dups="allow",  # orderkey is unique
        source_bounds=box1,
    )
    # merge 2 — UPDATE-only shape: k%5==0 rows present in the array get
    # cents+99, absent keys dropped
    c2 = merge_into_array(
        spark, uri, src2,
        when_matched="update", when_not_matched="skip", ts=3000,
        target_splits=8, on_source_dups="allow",
        source_bounds=box2,
    )
    # final-state read confined to the k<2000 window it returns:
    # dim_ranges prunes splits on the driver and each task decodes only
    # its subarray — the unpushed .filter() decoded all ~N rows first
    state = read_array(
        spark, uri, dim_ranges={"k": (0, 1999)}, target_splits=8
    )
    return state.select(
        "k", "cents",
        F.lit(c1["matched"]).cast("long").alias("m1_matched"),
        F.lit(c1["not_matched"]).cast("long").alias("m1_new"),
        F.lit(c1["written"]).cast("long").alias("m1_written"),
        F.lit(c2["matched"]).cast("long").alias("m2_matched"),
        F.lit(c2["not_matched"]).cast("long").alias("m2_new"),
        F.lit(c2["written"]).cast("long").alias("m2_written"),
    ).orderBy("k")


Q346_SQL = """
WITH src AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders
), counts AS (
  SELECT
    CAST(SUM(CASE WHEN k % 3 = 0 AND k % 2 = 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS m1_matched,
    CAST(SUM(CASE WHEN k % 3 = 0 AND k % 2 <> 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS m1_new,
    CAST(SUM(CASE WHEN k % 5 = 0 AND (k % 2 = 0 OR k % 3 = 0)
      THEN 1 ELSE 0 END) AS BIGINT) AS m2_matched,
    CAST(SUM(CASE WHEN k % 5 = 0 AND k % 2 <> 0 AND k % 3 <> 0
      THEN 1 ELSE 0 END) AS BIGINT) AS m2_new
  FROM src
), final AS (
  SELECT k,
    CASE
      WHEN k % 5 = 0 THEN cents + 99
      WHEN k % 2 = 0 THEN cents
      ELSE cents + 555
    END AS cents
  FROM src WHERE k % 2 = 0 OR k % 3 = 0
)
SELECT f.k, f.cents,
       c.m1_matched, c.m1_new, c.m1_new AS m1_written,
       c.m2_matched, c.m2_new, c.m2_matched AS m2_written
FROM final f CROSS JOIN counts c
WHERE f.k < 2000
ORDER BY f.k
"""

SPECS.append(
    QuerySpec(
        "q346_merge_into",
        q346_merge_into,
        Q346_SQL,
        "MERGE INTO (round 7): clause-split upsert — INSERT-IGNORE "
        "batch then UPDATE-only batch; matched/new/written counts AND "
        "the final merged state hash-pinned against a pure-SQL "
        "reconstruction; target-key probe confined to the source box "
        "(ON DUPLICATE KEY UPDATE / REPLACE / INSERT IGNORE parity)",
    )
)


# --- q347: zero-shuffle native AS-OF join (round 7, session 3) ---------------
#
# `copartitioned_asof_join` (sources/tiledb_array.py): the kdb/Timescale
# "latest quote before each trade" shape over two arrays sharing one
# integer time dimension — one split plan, each task reads both arrays'
# subarray and runs a LOCAL sorted merge_asof (decoder order, no sort,
# no shuffle).  The boundary problem (a task's match can live before
# its split) is solved metadata-only: `dim0_neighbor` bisects each B
# fragment's coordinate chunk index for the split edge's predecessor —
# O(log) chunk decodes, no tile read.  Oracle: DuckDB's native ASOF
# LEFT JOIN (same construct q38's oracle uses).  Engine-surplus twin of
# operators/asof.py (which shuffles both sides through Spark).
def q347_native_asof(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        copartitioned_asof_join,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    base = tempfile.mkdtemp(prefix="q347_asof_")
    ua, ub = base + "/trades", base + "/quotes"
    create_native_array(
        ua,
        dims=[NativeDim("ts", 1, 1, (0, 6_000_000), None)],
        attrs=[NativeAttr("trade_cents", 1, 1, False, None)],
    )
    create_native_array(
        ub,
        dims=[NativeDim("ts", 1, 1, (0, 6_000_000), None)],
        attrs=[NativeAttr("quote_cents", 1, 1, False, None)],
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ts"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    backend = NativeDecoderBackend()
    # the two ingests write SEPARATE arrays: overlap them (guide §2.6)
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    par_jobs(
        lambda: write_array(
            src.filter(F.col("ts") % 2 == 0)
            .withColumnRenamed("cents", "trade_cents")
            .repartitionByRange(8, "ts"),
            ua, backend=backend,
        ),
        lambda: write_array(
            src.filter(F.col("ts") % 7 == 0)
            .withColumn("quote_cents", F.col("cents") + F.lit(1000))
            .drop("cents")
            .repartitionByRange(6, "ts"),
            ub, backend=backend,
        ),
    )
    return copartitioned_asof_join(
        spark, ua, ub, target_splits=8
    ).orderBy("ts")


Q347_SQL = """
WITH src AS (
  SELECT CAST(o_orderkey AS BIGINT) AS ts,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders
), trades AS (
  SELECT ts, cents AS trade_cents FROM src WHERE ts % 2 = 0
), quotes AS (
  SELECT ts, cents + 1000 AS quote_cents FROM src WHERE ts % 7 = 0
)
SELECT t.ts, t.trade_cents, q.quote_cents
FROM trades t ASOF LEFT JOIN quotes q ON t.ts >= q.ts
ORDER BY t.ts
"""

SPECS.append(
    QuerySpec(
        "q347_native_asof",
        q347_native_asof,
        Q347_SQL,
        "zero-shuffle native as-of join (round 7): per-split local "
        "merge_asof over both arrays' subarrays, split-edge matches "
        "recovered by a metadata-only predecessor bisect "
        "(dim0_neighbor) — verified against DuckDB's native ASOF LEFT "
        "JOIN; the latest-quote-per-trade shape with no shuffle",
    )
)


# --- q348: CDC capstone — diff-driven incremental rollup (r7 session 3) ------
#
# The session-3 tier composed the way a 100 TB deployment uses it:
# (1) `merge_into_array` lands an upsert batch (pure upsert — ONE
# fragment write, zero target reads); (2) `diff_arrays` extracts the
# exact delta between the two snapshots (zero-shuffle self-join,
# window-box-confined); (3) the delta FOLDS into a materialized bucket
# rollup (+new for added, +new-old for changed) — the base snapshot is
# never rescanned — and the spec asserts the folded rollup equals the
# from-scratch GROUP BY over the new snapshot before emitting it.  The
# oracle reconstructs everything in SQL.  Companion to q341 (window-
# read-driven refresh); this is the diff-driven variant.
def q348_cdc_capstone(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        diff_arrays,
        merge_into_array,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q348_capstone_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 6_000_000), None)],
        attrs=[NativeAttr("cents", 1, 1, False, None)],
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    backend = NativeDecoderBackend()
    # seed @1000 and (1) the upsert batch @2000: the pure upsert is ONE
    # fragment write with ZERO target reads, so neither job observes the
    # other and the EXPLICIT timestamps pin newest-wins identically
    # whichever lands first — overlap the two ingests (guide §2.6); all
    # reads below start from the committed @1000/@2000 state
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    par_jobs(
        lambda: write_array(
            src.filter(F.col("k") % 2 == 0).repartitionByRange(4, "k"),
            uri, backend=backend, ts=1000,
        ),
        lambda: merge_into_array(
            spark, uri,
            src.filter(F.col("k") % 3 == 0)
            .withColumn("cents", F.col("cents") + F.lit(555)),
            ts=2000, return_counts=False, on_source_dups="allow",
        ),
    )
    bucket = (F.col("k") / 1000).cast("long").alias("bucket")
    # base rollup at t=1000 (the materialized aggregate being maintained)
    base = (
        read_array(spark, uri, at=1000, target_splits=8)
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    # (2) the delta, (3) folded per bucket
    d = diff_arrays(spark, uri, at_old=1000, at_new=2000, target_splits=8)
    delta = d.groupBy(bucket).agg(
        F.sum(F.when(F.col("change") == "added", 1).otherwise(0))
        .alias("d_n"),
        F.sum(
            F.coalesce(F.col("cents_new"), F.lit(0))
            - F.coalesce(F.col("cents_old"), F.lit(0))
        ).alias("d_sum"),
        F.sum(F.when(F.col("change") == "added", 1).otherwise(0))
        .alias("n_added"),
        F.sum(F.when(F.col("change") == "changed", 1).otherwise(0))
        .alias("n_changed"),
    )
    from pyspark import StorageLevel  # noqa: PLC0415

    # persisted: the invariant check below and the returned collect are
    # two actions over this frame — without it the base scan + diff
    # scan + join recompute for each (the frame itself is ~N/1000
    # bucket rows, tiny relative to its subtree)
    folded = (
        base.join(delta, "bucket", "full")
        .select(
            "bucket",
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .alias("n_rows"),
            (
                F.coalesce("cents_sum", F.lit(0))
                + F.coalesce("d_sum", F.lit(0))
            ).alias("cents_sum"),
            F.coalesce("n_added", F.lit(0)).alias("n_added"),
            F.coalesce("n_changed", F.lit(0)).alias("n_changed"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    from tiledb_mariadb_spark import persists as _P  # noqa: PLC0415

    _P.track(folded)
    # the invariant: folded == from-scratch over the new snapshot
    scratch = (
        read_array(spark, uri, target_splits=8)
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    chk = (
        folded.select("bucket", "n_rows", "cents_sum")
        .exceptAll(scratch)
        .count()
    )
    if chk:
        raise AssertionError(f"folded rollup diverged on {chk} buckets")
    return folded.orderBy("bucket")


Q348_SQL = """
WITH src AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders
), final AS (
  SELECT k,
    CASE WHEN k % 3 = 0 THEN cents + 555 ELSE cents END AS cents
  FROM src WHERE k % 2 = 0 OR k % 3 = 0
), roll AS (
  SELECT k // 1000 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(cents) AS BIGINT) AS cents_sum
  FROM final GROUP BY 1
), cls AS (
  SELECT k // 1000 AS bucket,
    CAST(SUM(CASE WHEN k % 3 = 0 AND k % 2 <> 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS n_added,
    CAST(SUM(CASE WHEN k % 3 = 0 AND k % 2 = 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS n_changed
  FROM src GROUP BY 1
)
SELECT r.bucket, r.n_rows, r.cents_sum,
       COALESCE(c.n_added, 0) AS n_added,
       COALESCE(c.n_changed, 0) AS n_changed
FROM roll r LEFT JOIN cls c ON r.bucket = c.bucket
ORDER BY r.bucket
"""

SPECS.append(
    QuerySpec(
        "q348_cdc_capstone",
        q348_cdc_capstone,
        Q348_SQL,
        "CDC capstone (round 7): merge upsert -> snapshot diff -> "
        "delta folded into a bucket rollup without rescanning the "
        "base, asserted equal to the from-scratch GROUP BY before "
        "emitting; diff-class counts hash-pinned",
    )
)


# --- q349: TTL retention — age-based expiry (round 7, session 3) -------------
#
# `expire_native_fragments` (sources/tiledb_native_write.py): fragments
# wholly older than the cutoff are physically removed (markers first),
# a `.del` that can no longer match is swept, spanning consolidated
# ranges are kept whole — the keep-N-days pass a 100 TB time-series
# deployment runs daily, O(expired fragments), zero surviving bytes
# rewritten.  Exposed as `maintain_array(expire_before=)` step one.
# The spec writes three day-generations from orders, purges a slice by
# predicate, expires the oldest day, and hash-pins BOTH the surviving
# state and the structural census (fragments/dels before and after).
def q349_ttl_retention(spark, sf_dir):
    import os  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        read_array,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
        _fragment_dirs,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        expire_native_fragments,
        write_delete_condition,
    )

    uri = tempfile.mkdtemp(prefix="q349_ttl_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 6_000_000), None)],
        attrs=[NativeAttr("cents", 1, 1, False, None)],
    )
    # ingest trimmed to the surviving-state window (round 9): the state
    # read is pinned to k < 3000 and the structural census (6 fragments
    # -> expire 2 -> 4, one .del swept) is layout-derived, identical at
    # any row count — expiry/sweep semantics are exercised unchanged
    src = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000).select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    backend = NativeDecoderBackend()
    # three "days": k%3 == 0 / 1 / 2 at ts 1000/2000/3000 — EXPLICIT
    # timestamps make the fragment sets and the ts-1500 delete's shadow
    # set (cells written at-or-before it, i.e. day 0 only) identical
    # whichever write lands first, so the three ingest jobs overlap
    # (guide §2.6); the purge commit follows on the driver (O(1) bytes)
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    def _day(day: int, ts: int):
        return lambda: write_array(
            src.filter(F.col("k") % 3 == day).repartitionByRange(2, "k"),
            uri, backend=backend, ts=ts,
        )

    par_jobs(_day(0, 1000), _day(1, 2000), _day(2, 3000))
    # day-1 purge: delete day-0 high-value rows (ts 1500, affects
    # only cells written at-or-before it)
    write_delete_condition(uri, [("cents", ">", 40_000_000)], ts=1500)
    frags_before = len(_fragment_dirs(uri))
    commits = os.path.join(uri, "__commits")
    dels_before = sum(1 for e in os.listdir(commits) if e.endswith(".del"))
    removed = expire_native_fragments(uri, before=1800)  # day 0 expires
    frags_after = len(_fragment_dirs(uri))
    dels_after = sum(1 for e in os.listdir(commits) if e.endswith(".del"))

    state = read_array(spark, uri, target_splits=8).filter(
        F.col("k") < 3000
    )
    return state.select(
        "k", "cents",
        F.lit(frags_before).cast("long").alias("frags_before"),
        F.lit(removed).cast("long").alias("expired"),
        F.lit(frags_after).cast("long").alias("frags_after"),
        F.lit(dels_before).cast("long").alias("dels_before"),
        F.lit(dels_after).cast("long").alias("dels_after"),
    ).orderBy("k")


Q349_SQL = """
WITH src AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders
)
SELECT k, cents,
       CAST(6 AS BIGINT) AS frags_before,
       CAST(2 AS BIGINT) AS expired,
       CAST(4 AS BIGINT) AS frags_after,
       CAST(1 AS BIGINT) AS dels_before,
       CAST(0 AS BIGINT) AS dels_after
FROM src
WHERE k % 3 IN (1, 2) AND k < 3000
ORDER BY k
"""

SPECS.append(
    QuerySpec(
        "q349_ttl_retention",
        q349_ttl_retention,
        Q349_SQL,
        "TTL retention (round 7): age-based fragment expiry — the "
        "oldest day's fragments physically removed, its obsolete .del "
        "swept, surviving days bit-identical; structural census "
        "hash-pinned (6 frags -> 4, 1 del -> 0)",
    )
)


# --- q350: KEYED zero-shuffle as-of join (round 7, session 3) ----------------
#
# The per-symbol variant of q347 — `copartitioned_asof_join(by_cols=)`:
# each trade matches the latest quote OF ITS OWN SYMBOL within a
# tolerance window (pandas merge_asof by= per split; the tolerance
# bounds the per-key lookback, making the split extension exact without
# a per-key bisect).  Oracle: DuckDB ASOF LEFT JOIN with the symbol
# equality in the ON clause and the tolerance as a range conjunct.
_Q350_TOL = 500


def q350_keyed_asof(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        NativeDecoderBackend,
        copartitioned_asof_join,
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    base = tempfile.mkdtemp(prefix="q350_kasof_")
    ua, ub = base + "/trades", base + "/quotes"
    create_native_array(
        ua,
        dims=[NativeDim("ts", 1, 1, (0, 6_000_000), None)],
        attrs=[
            NativeAttr("sym", 1, 1, False, None),
            NativeAttr("trade_cents", 1, 1, False, None),
        ],
    )
    create_native_array(
        ub,
        dims=[NativeDim("ts", 1, 1, (0, 6_000_000), None)],
        attrs=[
            NativeAttr("sym", 1, 1, False, None),
            NativeAttr("quote_cents", 1, 1, False, None),
        ],
    )
    src = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ts"),
        (F.col("o_custkey") % 5).cast("bigint").alias("sym"),
        F.expr(
            "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) AS BIGINT)"
        ).alias("cents"),
    )
    backend = NativeDecoderBackend()
    # the two ingests write SEPARATE arrays: overlap them (guide §2.6)
    from tiledb_mariadb_spark.suite import par_jobs  # noqa: PLC0415

    par_jobs(
        lambda: write_array(
            src.filter(F.col("ts") % 2 == 0)
            .withColumnRenamed("cents", "trade_cents")
            .repartitionByRange(8, "ts"),
            ua, backend=backend,
        ),
        lambda: write_array(
            src.filter(F.col("ts") % 11 == 0)
            .withColumn("quote_cents", F.col("cents") + F.lit(77))
            .drop("cents")
            .repartitionByRange(6, "ts"),
            ub, backend=backend,
        ),
    )
    return copartitioned_asof_join(
        spark, ua, ub, by_cols=["sym"], tolerance=_Q350_TOL,
        target_splits=8,
    ).orderBy("ts")


Q350_SQL = f"""
WITH src AS (
  SELECT CAST(o_orderkey AS BIGINT) AS ts,
         CAST(o_custkey % 5 AS BIGINT) AS sym,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders
), trades AS (
  SELECT ts, sym, cents AS trade_cents FROM src WHERE ts % 2 = 0
), quotes AS (
  SELECT ts, sym, cents + 77 AS quote_cents FROM src WHERE ts % 11 = 0
)
SELECT t.ts, t.sym, t.trade_cents,
       CASE WHEN q.ts >= t.ts - {_Q350_TOL} THEN q.quote_cents END
         AS quote_cents
FROM trades t ASOF LEFT JOIN quotes q
  ON t.sym = q.sym AND t.ts >= q.ts
ORDER BY t.ts
"""

SPECS.append(
    QuerySpec(
        "q350_keyed_asof",
        q350_keyed_asof,
        Q350_SQL,
        "keyed zero-shuffle as-of join (round 7): latest same-symbol "
        "quote within a tolerance window per trade — per-split local "
        "merge_asof by=sym, tolerance-bounded split extension; oracle "
        "is DuckDB ASOF LEFT JOIN with symbol equality + range bound",
    )
)


# --- q352: unified JVM provider — grouped rollup + filter composition (r8) ---
# Round 8 unifies the JVM DSv2 shim into one provider: format
# ("tiledb_agg") now serves the SCAN path (filter pushdown applied
# exactly by the decoder, projection pruned, split plan intersected
# with the condition-NED) AND composes aggregates with pushed filters —
# the reference's range-stealing (group_by_handler consumes the
# already-pushed ranges + conditions, ha_mytile.cc:634-640) — AND
# pushes GROUP BY FLOOR(dim0/width) down to the bucketed metadata
# rollup (q340's engine surface, now behind plain SQL).  This spec
# drives all three from one SQL statement: a bucketed revenue rollup
# over a key window, with the plan-level pushdown proof returned as a
# column the oracle pins TRUE.
_Q352_W = 1000
_Q352_LO, _Q352_HI = 500, 30000


def q352_jvm_grouped_rollup(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.jvm_agg import (  # noqa: PLC0415
        agg_reader,
        scan_descriptions,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_native_fragment,
    )

    uri = tempfile.mkdtemp(prefix="q352_jvm_rollup_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**7), None)],
        attrs=[
            NativeAttr("cents", 1, 1, False, None),
            NativeAttr("custkey", 1, 1, False, None),
        ],
        capacity=_Q352_W,  # tiles pack per bucket-width cells
    )
    # ingest only the queried key range (2x window margin): the spec
    # exercises the PUSHDOWN machinery — write throughput is q278's job
    src = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= _Q352_HI * 2)
        .select(
            F.col("o_orderkey").alias("k"),
            F.expr(
                "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) "
                "AS BIGINT)"
            ).alias("cents"),
            F.col("o_custkey").alias("custkey"),
        )
    )

    def part(batches):
        parts = list(batches)
        if parts:
            pdf = pd.concat(parts, ignore_index=True).sort_values("k")
            write_native_fragment(
                uri,
                {c: list(pdf[c]) for c in pdf.columns},
                version=19,
            )
        yield pd.DataFrame({"written": [len(parts)]})

    src.coalesce(1).mapInPandas(part, schema="written int").collect()
    agg_reader(spark, uri).load().createOrReplaceTempView("q352_arr")
    df = spark.sql(
        f"SELECT CAST(FLOOR(k/{_Q352_W}) AS BIGINT) AS bucket, "
        "COUNT(*) AS n, SUM(cents) AS sum_cents, "
        "MIN(custkey) AS min_cust, MAX(custkey) AS max_cust "
        f"FROM q352_arr WHERE k BETWEEN {_Q352_LO} AND {_Q352_HI} "
        f"GROUP BY FLOOR(k/{_Q352_W}) ORDER BY bucket"
    )
    pushed = any(
        "GroupedPushedAggregates" in d for d in scan_descriptions(df)
    )
    # the filtered SCAN path of the same provider (pushed conditions +
    # pruned projection — no Spark residual): total of one bucket
    probe = spark.sql(
        f"SELECT SUM(cents) AS s FROM q352_arr "
        f"WHERE k >= {_Q352_LO} AND k < {_Q352_W}"
    ).collect()[0]["s"]
    return (
        df.withColumn("pushed_to_metadata", F.lit(pushed))
        .withColumn("first_bucket_cents", F.lit(probe).cast("long"))
    )


Q352_SQL = f"""
WITH src AS (SELECT * FROM orders WHERE o_orderkey <= {_Q352_HI * 2})
SELECT CAST(FLOOR(o_orderkey / {_Q352_W}.0) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
         AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
       CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
       TRUE AS pushed_to_metadata,
       (SELECT CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0)
          AS BIGINT)) AS BIGINT) FROM orders
        WHERE o_orderkey >= {_Q352_LO} AND o_orderkey < {_Q352_W})
         AS first_bucket_cents
FROM src
WHERE o_orderkey BETWEEN {_Q352_LO} AND {_Q352_HI}
GROUP BY 1
ORDER BY bucket
"""

SPECS.append(
    QuerySpec(
        "q352_jvm_grouped_rollup",
        q352_jvm_grouped_rollup,
        Q352_SQL,
        "unified JVM provider (round 8): plain-SQL GROUP BY "
        "FLOOR(dim0/width) + WHERE dim-range pushed through "
        "format('tiledb_agg') to the bucketed metadata rollup, with "
        "exact filter pushdown + pruning on the same provider's scan "
        "path (range-stealing composition, ha_mytile.cc:634-640)",
    )
)


# --- q353: DENSE metadata rollup — fills included, triple-matched (r8) -------
# Round 8 extends the metadata-aggregation tier to DENSE arrays: the
# read view is the written boxes' bounding box with FILL values in the
# gaps, so a windowed/bucketed aggregate = fragment stats (whole boxes
# in window) + clipped-edge decode + pure fill arithmetic.  The
# reference DISABLES COUNT pushdown on dense and allows dim SUM only
# there (ha_mytile.cc:592-601) because its handler cannot know the fill
# surface; this engine defines it (q84 dense fill reads), so both are
# exact.  The spec builds a daily dense revenue raster from orders with
# a deliberate 30-day ingest HOLE (fill rows), answers a weekly rollup
# from metadata, re-answers it with a distributed connector scan, and
# the DuckDB oracle reconstructs the same fill-aware series from
# parquet — a triple match.
_Q353_W = 7
_Q353_BOX1 = 800   # box1 = [d0, d0+800]
_Q353_GAP = 30     # gap = (d0+800, d0+831) exclusive


def q353_dense_rollup(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        read_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
        bucketed_agg_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_native_fragment,
    )

    day_agg = (
        t(spark, sf_dir, "orders")
        .select(
            F.datediff("o_orderdate", F.lit("1970-01-01")).alias("day"),
            F.expr(
                "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) "
                "AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("cents"))
    )
    # the daily series is inherently tiny (~2.4k rows at any sf): a
    # bounded driver fetch builds the raster
    rows = {r["day"]: (r["cnt"], r["cents"]) for r in day_agg.collect()}
    d0, d1 = min(rows), max(rows)
    uri = tempfile.mkdtemp(prefix="q353_dense_rollup_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("day", 1, 1, (0, 50000), _Q353_W)],
        attrs=[
            NativeAttr("cnt", 1, 1, False, None),
            NativeAttr("cents", 1, 1, False, None),
        ],
        array_type="DENSE",
    )
    boxes = [(d0, d0 + _Q353_BOX1), (d0 + _Q353_BOX1 + _Q353_GAP + 1, d1)]
    for ts, (lo, hi) in enumerate(boxes, start=1):
        days = range(lo, hi + 1)
        write_native_fragment(
            uri,
            {"cnt": [rows.get(d, (0, 0))[0] for d in days],
             "cents": [rows.get(d, (0, 0))[1] for d in days]},
            subarray=[(lo, hi)], ts=ts, version=19,
        )
    meta = bucketed_agg_native(uri, _Q353_W)
    assert meta is not None
    out = [
        (int(b), acc["count"], acc["fields"]["cnt"]["sum"],
         acc["fields"]["cents"]["sum"], acc["fields"]["cnt"]["min"],
         acc["fields"]["cnt"]["max"])
        for b, acc in sorted(meta["buckets"].items())
    ]
    # triple leg 2: the same rollup from a DISTRIBUTED connector scan
    # (fills materialized by the reader)
    scan = (
        read_array(spark, uri)
        .groupBy((F.col("day") - F.col("day") % _Q353_W).alias("wk"))
        .agg(
            F.count(F.lit(1)).alias("days"),
            F.sum("cnt").alias("sum_cnt"),
            F.sum("cents").alias("sum_cents"),
            F.min("cnt").alias("min_cnt"),
            F.max("cnt").alias("max_cnt"),
        )
        .collect()
    )
    scan_rows = sorted(
        (int(r["wk"] // _Q353_W), r["days"], r["sum_cnt"],
         r["sum_cents"], r["min_cnt"], r["max_cnt"])
        for r in scan
    )
    matched = scan_rows == out
    df = ldf(spark,
        out,
        "bucket long, days long, sum_cnt long, sum_cents long, "
        "min_cnt long, max_cnt long",
    )
    return (
        df.withColumn("meta_matches_scan", F.lit(bool(matched)))
        .orderBy("bucket")
    )


Q353_SQL = f"""
WITH o AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders),
b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM o),
alldays AS (
  SELECT UNNEST(generate_series((SELECT d0 FROM b),
                                (SELECT d1 FROM b))) AS day),
raw AS (
  SELECT day, COUNT(*) AS cnt, CAST(SUM(cents) AS BIGINT) AS cents
  FROM o GROUP BY day),
series AS (
  SELECT a.day,
    CASE WHEN a.day BETWEEN (SELECT d0 FROM b) + {_Q353_BOX1 + 1}
                        AND (SELECT d0 FROM b) + {_Q353_BOX1 + _Q353_GAP}
         THEN 0 ELSE COALESCE(r.cnt, 0) END AS cnt,
    CASE WHEN a.day BETWEEN (SELECT d0 FROM b) + {_Q353_BOX1 + 1}
                        AND (SELECT d0 FROM b) + {_Q353_BOX1 + _Q353_GAP}
         THEN 0 ELSE COALESCE(r.cents, 0) END AS cents
  FROM alldays a LEFT JOIN raw r ON a.day = r.day)
SELECT CAST(day // {_Q353_W} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS days,
       CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(cnt) AS BIGINT) AS min_cnt,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       TRUE AS meta_matches_scan
FROM series
GROUP BY 1
ORDER BY bucket
"""

SPECS.append(
    QuerySpec(
        "q353_dense_rollup",
        q353_dense_rollup,
        Q353_SQL,
        "dense metadata aggregation (round 8): weekly rollup of a daily "
        "dense revenue raster with a 30-day ingest hole — fragment "
        "stats + clipped-edge decode + fill arithmetic, triple-matched "
        "against a distributed fill-materializing scan AND the DuckDB "
        "oracle's reconstructed series (ha_mytile.cc:592-601 parity "
        "note: the reference disables dense COUNT; this engine defines "
        "the fill surface so it is exact)",
    )
)


# --- q354: UTF-16/32/UCS-2 string attributes through the engine (r8) ---------
# The reference maps STRING_UTF16/UTF32/UCS2/UCS4 to VARCHAR
# (mytile/mytile.cc:63-68); round 8 gives the native tier the matching
# LE codecs (_TEXT_CODEC) in the var/fixed decode paths, writer, fills
# and bloom hashing.  This spec writes a customer corpus into an array
# whose three attributes use THREE different exotic encodings (with
# non-ASCII decorations so multibyte code units actually appear),
# reads it back through the distributed connector (the numpy fast path
# refuses these dtypes, so the exact row path decodes), and the oracle
# recomputes the strings from parquet — including per-string CHARACTER
# lengths, which only match if the decode produced real text.
_Q354_N = 500


def q354_utf16_corpus(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        read_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_native_fragment,
    )

    rows = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= _Q354_N)
        .select("c_custkey", "c_name", "c_mktsegment")
        .collect()
    )  # bounded driver fetch: the corpus is the fixture being built
    uri = tempfile.mkdtemp(prefix="q354_utf16_") + "/arr"
    VAR = 0xFFFFFFFF
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**7), None)],
        attrs=[
            NativeAttr("name16", 13, VAR, False, None),   # UTF-16
            NativeAttr("seg32", 14, VAR, False, None),    # UTF-32
            NativeAttr("note2", 15, VAR, True, None),     # UCS-2
        ],
    )
    ks = sorted(r["c_custkey"] for r in rows)
    by_k = {r["c_custkey"]: r for r in rows}
    write_native_fragment(
        uri,
        {
            "k": ks,
            "name16": [f"«{by_k[k]['c_name']}»" for k in ks],
            "seg32": [f"{by_k[k]['c_mktsegment']}•{k % 10}" for k in ks],
            "note2": [
                None if k % 7 == 0 else f"Ω{by_k[k]['c_mktsegment']}"
                for k in ks
            ],
        },
        ts=1, version=19,
    )
    df = read_array(spark, uri)
    return df.select(
        "k", "name16", "seg32", "note2",
        F.length("name16").cast("long").alias("len16"),
        F.length("seg32").cast("long").alias("len32"),
    ).orderBy("k")


Q354_SQL = f"""
SELECT c_custkey AS k,
       '«' || c_name || '»' AS name16,
       c_mktsegment || '•' || CAST(c_custkey % 10 AS VARCHAR) AS seg32,
       CASE WHEN c_custkey % 7 = 0 THEN NULL
            ELSE 'Ω' || c_mktsegment END AS note2,
       CAST(LENGTH('«' || c_name || '»') AS BIGINT) AS len16,
       CAST(LENGTH(c_mktsegment || '•' || CAST(c_custkey % 10 AS VARCHAR))
         AS BIGINT) AS len32
FROM customer
WHERE c_custkey <= {_Q354_N}
ORDER BY k
"""

SPECS.append(
    QuerySpec(
        "q354_utf16_corpus",
        q354_utf16_corpus,
        Q354_SQL,
        "UTF-16/32/UCS-2 string attributes (round 8): three exotic "
        "encodings round-tripped through the native writer + the "
        "distributed exact row path, character lengths pinned "
        "(mytile.cc:63-68 VARCHAR parity)",
    )
)


# --- q359: DENSE overlapping-patch rollup — newest-wins metadata (r9) --------
# Round 9 closes the r8 verdict's Missing #5: overlapping dense written
# boxes (the restatement / correction shape: a newer fragment patches a
# sub-window of an older raster) previously refused the metadata tier
# into a full scan.  Now the window decomposes into disjoint newest-wins
# regions (fragment box minus every newer box) and each region runs the
# same stats / interior-tile-stats / edge-sliver ladder, so per-cell
# decode happens only at shadow-boundary slivers.  The spec builds the
# q353 daily revenue raster WITHOUT the gap, overlays a patch fragment
# that restates a 100-day window (cnt+1, cents doubled — a deterministic
# correction), answers the weekly rollup from metadata, re-answers it
# with a distributed connector scan (the reader's own newest-wins), and
# the DuckDB oracle reconstructs the same patched series from parquet —
# a triple match.
_Q359_W = 7
_Q359_P_LO = 350   # patch window = [d0+350, d0+449]
_Q359_P_HI = 449


def q359_dense_patch_rollup(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        read_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
        bucketed_agg_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
        write_native_fragment,
    )

    day_agg = (
        t(spark, sf_dir, "orders")
        .select(
            F.datediff("o_orderdate", F.lit("1970-01-01")).alias("day"),
            F.expr(
                "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0D) "
                "AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("cents"))
    )
    rows = {r["day"]: (r["cnt"], r["cents"]) for r in day_agg.collect()}
    d0, d1 = min(rows), max(rows)
    uri = tempfile.mkdtemp(prefix="q359_dense_patch_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("day", 1, 1, (0, 50000), _Q359_W)],
        attrs=[
            NativeAttr("cnt", 1, 1, False, None),
            NativeAttr("cents", 1, 1, False, None),
        ],
        array_type="DENSE",
    )
    days = range(d0, d1 + 1)
    write_native_fragment(
        uri,
        {"cnt": [rows.get(d, (0, 0))[0] for d in days],
         "cents": [rows.get(d, (0, 0))[1] for d in days]},
        subarray=[(d0, d1)], ts=1, version=19,
    )
    # the restatement patch OVERLAPS the base raster (newest wins)
    pdays = range(d0 + _Q359_P_LO, d0 + _Q359_P_HI + 1)
    write_native_fragment(
        uri,
        {"cnt": [rows.get(d, (0, 0))[0] + 1 for d in pdays],
         "cents": [rows.get(d, (0, 0))[1] * 2 for d in pdays]},
        subarray=[(d0 + _Q359_P_LO, d0 + _Q359_P_HI)], ts=2, version=19,
    )
    meta = bucketed_agg_native(uri, _Q359_W)
    assert meta is not None, "overlap metadata rollup refused"
    out = [
        (int(b), acc["count"], acc["fields"]["cnt"]["sum"],
         acc["fields"]["cents"]["sum"], acc["fields"]["cnt"]["min"],
         acc["fields"]["cnt"]["max"])
        for b, acc in sorted(meta["buckets"].items())
    ]
    scan = (
        read_array(spark, uri)
        .groupBy((F.col("day") - F.col("day") % _Q359_W).alias("wk"))
        .agg(
            F.count(F.lit(1)).alias("days"),
            F.sum("cnt").alias("sum_cnt"),
            F.sum("cents").alias("sum_cents"),
            F.min("cnt").alias("min_cnt"),
            F.max("cnt").alias("max_cnt"),
        )
        .collect()
    )
    scan_rows = sorted(
        (int(r["wk"] // _Q359_W), r["days"], r["sum_cnt"],
         r["sum_cents"], r["min_cnt"], r["max_cnt"])
        for r in scan
    )
    matched = scan_rows == out
    df = ldf(spark,
        out,
        "bucket long, days long, sum_cnt long, sum_cents long, "
        "min_cnt long, max_cnt long",
    )
    return (
        df.withColumn("meta_matches_scan", F.lit(bool(matched)))
        .orderBy("bucket")
    )


Q359_SQL = f"""
WITH o AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT)
           AS cents
  FROM orders),
b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM o),
alldays AS (
  SELECT UNNEST(generate_series((SELECT d0 FROM b),
                                (SELECT d1 FROM b))) AS day),
raw AS (
  SELECT day, COUNT(*) AS cnt, CAST(SUM(cents) AS BIGINT) AS cents
  FROM o GROUP BY day),
series AS (
  SELECT a.day,
    CASE WHEN a.day BETWEEN (SELECT d0 FROM b) + {_Q359_P_LO}
                        AND (SELECT d0 FROM b) + {_Q359_P_HI}
         THEN COALESCE(r.cnt, 0) + 1 ELSE COALESCE(r.cnt, 0) END AS cnt,
    CASE WHEN a.day BETWEEN (SELECT d0 FROM b) + {_Q359_P_LO}
                        AND (SELECT d0 FROM b) + {_Q359_P_HI}
         THEN COALESCE(r.cents, 0) * 2
         ELSE COALESCE(r.cents, 0) END AS cents
  FROM alldays a LEFT JOIN raw r ON a.day = r.day)
SELECT CAST(day // {_Q359_W} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS days,
       CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(cnt) AS BIGINT) AS min_cnt,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       TRUE AS meta_matches_scan
FROM series
GROUP BY 1
ORDER BY bucket
"""

SPECS.append(
    QuerySpec(
        "q359_dense_patch_rollup",
        q359_dense_patch_rollup,
        Q359_SQL,
        "dense OVERLAPPING-patch metadata rollup (round 9, r8 verdict "
        "#5): a restatement fragment patches 100 days of the daily "
        "revenue raster; the weekly rollup decomposes newest-wins into "
        "disjoint regions served by fragment/tile stats with sliver "
        "decode only at shadow boundaries — triple-matched against the "
        "reader's own newest-wins scan AND the oracle's patched series",
    )
)


# --- q360: unified provider WRITE path — staged-group atomic commit (r9) -----
# Round 9 closes the provider's last asymmetry: df.write.format(
# "tiledb_agg") stages one invisible native fragment per task and the
# job commit flips the whole group atomically with ONE .con file (the
# distributed-consolidation crash contract).  The spec ingests a
# customer slice through the JVM write path (multi-partition, so the
# group commit is a real .con), reads it back through the SAME format
# with a pushed filter + aggregate, and the oracle recomputes from
# parquet — write→scan→agg in one provider, one SQL surface.
_Q360_N = 600


def q360_jvm_write_roundtrip(spark, sf_dir):
    import glob as _glob  # noqa: PLC0415
    import os as _os  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.jvm_agg import (  # noqa: PLC0415
        agg_reader,
        register_tiledb_agg,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    register_tiledb_agg(spark)
    uri = tempfile.mkdtemp(prefix="q360_jvm_write_") + "/arr"
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (0, 10**7), None)],
        attrs=[
            NativeAttr("balance_cents", 1, 1, False, None),
            NativeAttr("segment", 12, 0xFFFFFFFF, False, None),
        ],
    )
    src = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= _Q360_N)
        .select(
            F.col("c_custkey").alias("k"),
            F.expr(
                "CAST(ROUND(CAST(c_acctbal AS DOUBLE) * 100.0D) "
                "AS BIGINT)"
            ).alias("balance_cents"),
            F.col("c_mktsegment").alias("segment"),
        )
        .repartition(3)
    )
    src.write.format("tiledb_agg").option("path", uri).mode(
        "append"
    ).save()
    # the job commit must be ONE atomic .con group (3 write tasks)
    cons = _glob.glob(_os.path.join(uri, "__commits", "*.con"))
    atomic = len(cons) == 1
    agg_reader(spark, uri).load().createOrReplaceTempView("q360_arr")
    df = spark.sql(
        "SELECT segment, COUNT(*) AS n, SUM(balance_cents) AS cents, "
        "MIN(k) AS lo, MAX(k) AS hi "
        f"FROM q360_arr WHERE k <= {_Q360_N // 2} "
        "GROUP BY segment ORDER BY segment"
    )
    return df.withColumn("atomic_commit", F.lit(bool(atomic)))


Q360_SQL = f"""
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(CAST(c_acctbal AS DOUBLE) * 100.0) AS BIGINT))
         AS BIGINT) AS cents,
       CAST(MIN(c_custkey) AS BIGINT) AS lo,
       CAST(MAX(c_custkey) AS BIGINT) AS hi,
       TRUE AS atomic_commit
FROM customer
WHERE c_custkey <= {_Q360_N // 2}
GROUP BY c_mktsegment
ORDER BY segment
"""

SPECS.append(
    QuerySpec(
        "q360_jvm_write_roundtrip",
        q360_jvm_write_roundtrip,
        Q360_SQL,
        "unified JVM provider WRITE path (round 9): multi-task "
        "df.write.format('tiledb_agg') with staged fragments + ONE "
        "atomic .con group commit, read back through the same format "
        "with pushed filter + aggregation, oracle from parquet",
    )
)
