"""Spatial conformance queries (t/spatial_index.test parity — SURVEY §2.2).

q95 derives a deterministic point cloud from customer keys, applies the
MBR-prefilter + exact point-in-triangle split with identical arithmetic on
both engines.  The WKB tier (parse/MBR/ray-casting) is covered by unit
tests in tests/test_spatial.py since DuckDB here has no spatial extension
to act as an oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiledb_mariadb_spark.operators.spatial import (
    bbox_filter,
    point_in_triangle,
    point_in_triangle_sql,
)
from tiledb_mariadb_spark.suite import QuerySpec, t

TRI = [(10.0, 10.0), (90.0, 20.0), (50.0, 110.0)]
_XMIN, _YMIN = 10.0, 10.0
_XMAX, _YMAX = 90.0, 110.0


def q95_spatial_intersects(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 1201) / F.lit(10.0)).alias("x"),
        ((F.col("c_custkey") * 73 % 1201) / F.lit(10.0)).alias("y"),
    )
    pre = pts.filter(bbox_filter(F.col("x"), F.col("y"), _XMIN, _YMIN, _XMAX, _YMAX))
    return pre.select(
        "c_custkey",
        "x",
        "y",
        point_in_triangle(F.col("x"), F.col("y"), TRI).alias("in_triangle"),
    )


Q95_SQL = f"""
WITH pts AS (
  SELECT c_custkey,
         ((c_custkey * 37 % 1201) / 10.0) AS x,
         ((c_custkey * 73 % 1201) / 10.0) AS y
  FROM customer)
SELECT c_custkey, x, y,
       {point_in_triangle_sql('x', 'y', TRI)} AS in_triangle
FROM pts
WHERE x BETWEEN {_XMIN} AND {_XMAX} AND y BETWEEN {_YMIN} AND {_YMAX}
"""


# --- q96: ST_Equals — exact-coordinate match, pushed as equality ranges ----
# (cond_push_func_spatial maps ST_Equals to zero-padding MBR ranges,
# ha_mytile.cc:2411-2421: an equality range per axis — which is exactly
# what an equality filter on the point columns is.)
def q96_st_equals(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        (F.col("c_custkey") * 37 % 1201).alias("xi"),
        (F.col("c_custkey") * 73 % 1201).alias("yi"),
    )
    target = (42 * 37 % 1201, 42 * 73 % 1201)
    return pts.filter(
        (F.col("xi") == target[0]) & (F.col("yi") == target[1])
    ).select("c_custkey", "xi", "yi")


Q96_SQL = f"""
SELECT c_custkey, xi, yi FROM (
  SELECT c_custkey,
         (c_custkey * 37 % 1201) AS xi,
         (c_custkey * 73 % 1201) AS yi
  FROM customer)
WHERE xi = {42 * 37 % 1201} AND yi = {42 * 73 % 1201}
"""


# --- q97: ST_Overlaps — strict interior box overlap, integer-exact ---------
def q97_st_overlaps(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    boxes = s.select(
        "s_suppkey",
        (F.col("s_suppkey") * 13 % 500).alias("x0"),
        (F.col("s_suppkey") * 29 % 500).alias("y0"),
        (F.col("s_suppkey") * 13 % 500 + F.col("s_suppkey") % 7 + 1).alias("x1"),
        (F.col("s_suppkey") * 29 % 500 + F.col("s_suppkey") % 11 + 1).alias("y1"),
    )
    qx0, qy0, qx1, qy1 = 50, 50, 300, 300
    return boxes.filter(
        (F.col("x0") < qx1)
        & (F.col("x1") > qx0)
        & (F.col("y0") < qy1)
        & (F.col("y1") > qy0)
    )


Q97_SQL = """
SELECT * FROM (
  SELECT s_suppkey,
         (s_suppkey * 13 % 500) AS x0,
         (s_suppkey * 29 % 500) AS y0,
         (s_suppkey * 13 % 500 + s_suppkey % 7 + 1) AS x1,
         (s_suppkey * 29 % 500 + s_suppkey % 11 + 1) AS y1
  FROM supplier)
WHERE x0 < 300 AND x1 > 50 AND y0 < 300 AND y1 > 50
"""


# --- q254: ST_Contains + ST_Distance (MariaDB-tier GIS widening) -----------
# The plugin pushes only Intersects/Equals/Overlaps (cond_push_func_spatial,
# ha_mytile.cc:2312-2507); every OTHER ST_* a reference user writes is
# evaluated by the MariaDB layer over scanned rows — the [M]-tier this
# spec covers: polygon containment (strict interior vs boundary) and
# Euclidean distance.  Coordinates derive from exact integers, so the
# distance is sqrt of an exact int64 — bit-stable on both engines.
_CX, _CY = 421, 473  # centroid-ish probe point in the 0..1200 int grid


def q254_st_contains_distance(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 400)
    pts = c.select(
        "c_custkey",
        (F.col("c_custkey") * 37 % 1201).alias("xi"),
        (F.col("c_custkey") * 73 % 1201).alias("yi"),
    ).select(
        "c_custkey",
        "xi",
        "yi",
        (F.col("xi") / F.lit(10.0)).alias("x"),
        (F.col("yi") / F.lit(10.0)).alias("y"),
    )
    return pts.select(
        "c_custkey",
        point_in_triangle(F.col("x"), F.col("y"), TRI).alias("contains"),
        (
            (F.col("x") >= _XMIN)
            & (F.col("x") <= _XMAX)
            & (F.col("y") >= _YMIN)
            & (F.col("y") <= _YMAX)
        ).alias("within_box"),
        F.expr(
            f"sqrt(CAST((xi - {_CX}) * (xi - {_CX})"
            f" + (yi - {_CY}) * (yi - {_CY}) AS DOUBLE)) / 10.0D"
        ).alias("dist"),
    ).orderBy("c_custkey")


Q254_SQL = f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 37 % 1201) AS xi, (c_custkey * 73 % 1201) AS yi,
         ((c_custkey * 37 % 1201) / 10.0) AS x,
         ((c_custkey * 73 % 1201) / 10.0) AS y
  FROM customer WHERE c_custkey <= 400)
SELECT c_custkey,
       {point_in_triangle_sql('x', 'y', TRI)} AS contains,
       (x >= {_XMIN} AND x <= {_XMAX} AND y >= {_YMIN} AND y <= {_YMAX})
         AS within_box,
       sqrt(CAST((xi - {_CX}) * (xi - {_CX})
                 + (yi - {_CY}) * (yi - {_CY}) AS DOUBLE)) / CAST(10.0 AS DOUBLE)
         AS dist
FROM pts ORDER BY c_custkey
"""


SPECS = [
    QuerySpec(
        "q95_spatial_intersects",
        q95_spatial_intersects,
        Q95_SQL,
        "MBR prefilter + exact point-in-triangle",
    ),
    QuerySpec("q96_st_equals", q96_st_equals, Q96_SQL, "ST_Equals as equality ranges"),
    QuerySpec("q97_st_overlaps", q97_st_overlaps, Q97_SQL, "ST_Overlaps box predicate"),
    QuerySpec(
        "q254_st_contains_distance",
        q254_st_contains_distance,
        Q254_SQL,
        "ST_Contains / ST_Within / ST_Distance residual-tier GIS surface",
    ),
]


# --- q311: spatial pushdown over a NATIVE array (t/spatial_index.test) ------
# The reference's cond_push_func_spatial (mytile/ha_mytile.cc:2312-2507)
# turns a query geometry's MBR into dimension ranges on the centroid
# dims _X/_Y, then evaluates the exact predicate on the stored WKB.
# Here: customer-derived RECTANGLES land in an engine-created native
# array (double centroid dims + a GEOM_WKB attr built inside the
# distributed writer), st_intersects_native pushes the padded query MBR
# as dim ranges (split pruning) and the exact polygon-polygon residual
# runs on the decoded WKB.  Rectangle geometry makes the ORACLE exact
# SQL: ST_Intersects(rect, rect) = strict interval overlap on both axes
# (coordinates engineered so no boundary ever ties).
_Q311_QUERY = (100.5, 100.5, 300.5, 300.5)  # query rectangle
_Q311_PAD = 4.5  # >= max stored half-extent (hw<=3.5, hh<=2.5)


def q311_native_spatial(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.operators.spatial import (  # noqa: PLC0415
        make_wkb_polygon,
        st_intersects_native,
    )
    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q311_spatial_") + "/buildings"
    create_native_array(
        uri,
        dims=[
            NativeDim("cx", 3, 1, (0.0, 2000.0), None),
            NativeDim("cy", 3, 1, (0.0, 2000.0), None),
        ],
        attrs=[
            NativeAttr("ckey", 1, 1, False, None),
            NativeAttr("wkb_geometry", 41, 0xFFFFFFFF, False, None),
        ],
        allows_dups=True,
    )
    src = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 4000)
        .select(
            F.col("c_custkey").cast("long").alias("ckey"),
            ((F.col("c_custkey") * 37 % 1000) + F.lit(0.25)).alias("cx"),
            ((F.col("c_custkey") * 73 % 1000) + F.lit(0.25)).alias("cy"),
            ((F.col("c_custkey") % 7 + 1) * F.lit(0.5)).alias("hw"),
            ((F.col("c_custkey") % 5 + 1) * F.lit(0.5)).alias("hh"),
        )
    )

    @F.pandas_udf("binary")
    def _rect_wkb(cx, cy, hw, hh):
        import pandas as pd  # noqa: PLC0415

        return pd.Series(
            [
                make_wkb_polygon(
                    [(x - w, y - h), (x + w, y - h), (x + w, y + h),
                     (x - w, y + h)]
                )
                for x, y, w, h in zip(cx, cy, hw, hh)
            ]
        )

    rows = src.select(
        "cx", "cy", "ckey",
        _rect_wkb("cx", "cy", "hw", "hh").alias("wkb_geometry"),
    ).repartition(4)
    write_array(rows, uri)
    qx1, qy1, qx2, qy2 = _Q311_QUERY
    qwkb = make_wkb_polygon([(qx1, qy1), (qx2, qy1), (qx2, qy2), (qx1, qy2)])
    out = st_intersects_native(
        spark, uri, qwkb, "cx", "cy", "wkb_geometry", pad=_Q311_PAD
    )
    return (
        out.filter(F.col("st_intersects"))
        .select("ckey")
        .orderBy("ckey")
    )


Q311_SQL = f"""
WITH rects AS (
  SELECT CAST(c_custkey AS BIGINT) AS ckey,
         (c_custkey * 37 % 1000) + 0.25 AS cx,
         (c_custkey * 73 % 1000) + 0.25 AS cy,
         (c_custkey % 7 + 1) * 0.5 AS hw,
         (c_custkey % 5 + 1) * 0.5 AS hh
  FROM customer WHERE c_custkey <= 4000)
SELECT ckey FROM rects
WHERE cx - hw < {_Q311_QUERY[2]} AND cx + hw > {_Q311_QUERY[0]}
  AND cy - hh < {_Q311_QUERY[3]} AND cy + hh > {_Q311_QUERY[1]}
ORDER BY ckey
"""

SPECS.append(
    QuerySpec(
        "q311_native_spatial",
        q311_native_spatial,
        Q311_SQL,
        "spatial pushdown over a native array (cond_push_func_spatial "
        "parity): query-MBR dim ranges prune splits, exact "
        "polygon-polygon residual on the stored GEOM_WKB attr; oracle = "
        "strict interval overlap on the rectangle corners in DuckDB",
    )
)


# --- q313: spatial pushdown THROUGH the tiledb_agg format (round 6) ---------
# q311 drives the MBR tier through the st_intersects_native helper; this
# spec drives it through the SQL read format (jvm_agg.agg_reader): the
# query polygon arrives as reader OPTIONS (spatial_wkb hex +
# spatial_dims + spatial_pad), the bridge's split planner seeds
# padded-MBR dim ranges BEFORE split planning (cond_push_func_spatial
# parity, ha_mytile.cc:2312-2507, 2825-2830 — split confinement tested
# in test_spark_datasource), and
# the EXACT rectangle-overlap residual runs in plain SQL over the
# scanned columns.  pad >= max stored half-extent (hw<=3.5) keeps the
# centroid-indexed MBR tier over-selecting only; coordinates are
# engineered so no boundary ever ties (.25-offset centers, .5-step
# extents vs .5-offset query bounds).
_Q313_QUERY = (200.5, 150.5, 420.5, 390.5)
_Q313_PAD = 4.5


def q313_spatial_datasource(spark, sf_dir):
    import tempfile  # noqa: PLC0415

    from tiledb_mariadb_spark.operators.spatial import (  # noqa: PLC0415
        make_wkb_polygon,
    )
    from tiledb_mariadb_spark.sources.jvm_agg import agg_reader  # noqa: PLC0415
    from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
        write_array,
    )
    from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
        NativeAttr,
        NativeDim,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
        create_native_array,
    )

    uri = tempfile.mkdtemp(prefix="q313_spds_") + "/rects"
    create_native_array(
        uri,
        dims=[
            NativeDim("cx", 3, 1, (0.0, 2000.0), None),
            NativeDim("cy", 3, 1, (0.0, 2000.0), None),
        ],
        attrs=[
            NativeAttr("ckey", 1, 1, False, None),
            NativeAttr("hw", 3, 1, False, None),
            NativeAttr("hh", 3, 1, False, None),
        ],
        allows_dups=True,
    )
    rows = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 4000)
        .select(
            F.col("c_custkey").cast("long").alias("ckey"),
            ((F.col("c_custkey") * 37 % 1000) + F.lit(0.25)).alias("cx"),
            ((F.col("c_custkey") * 73 % 1000) + F.lit(0.25)).alias("cy"),
            ((F.col("c_custkey") % 7 + 1) * F.lit(0.5)).alias("hw"),
            ((F.col("c_custkey") % 5 + 1) * F.lit(0.5)).alias("hh"),
        )
        .repartition(4)
    )
    write_array(rows, uri)
    qx1, qy1, qx2, qy2 = _Q313_QUERY
    qwkb = make_wkb_polygon(
        [(qx1, qy1), (qx2, qy1), (qx2, qy2), (qx1, qy2)]
    )
    pre = agg_reader(
        spark, uri, spatial_wkb=qwkb.hex(), spatial_dims="cx,cy",
        spatial_pad=_Q313_PAD,
    ).load()
    return (
        pre.filter(
            (F.col("cx") - F.col("hw") < qx2)
            & (F.col("cx") + F.col("hw") > qx1)
            & (F.col("cy") - F.col("hh") < qy2)
            & (F.col("cy") + F.col("hh") > qy1)
        )
        .select("ckey")
        .orderBy("ckey")
    )


Q313_SQL = f"""
WITH rects AS (
  SELECT CAST(c_custkey AS BIGINT) AS ckey,
         (c_custkey * 37 % 1000) + 0.25 AS cx,
         (c_custkey * 73 % 1000) + 0.25 AS cy,
         (c_custkey % 7 + 1) * 0.5 AS hw,
         (c_custkey % 5 + 1) * 0.5 AS hh
  FROM customer WHERE c_custkey <= 4000)
SELECT ckey FROM rects
WHERE cx - hw < {_Q313_QUERY[2]} AND cx + hw > {_Q313_QUERY[0]}
  AND cy - hh < {_Q313_QUERY[3]} AND cy + hh > {_Q313_QUERY[1]}
ORDER BY ckey
"""

SPECS.append(
    QuerySpec(
        "q313_spatial_datasource",
        q313_spatial_datasource,
        Q313_SQL,
        "spatial pushdown through tiledb_agg read options "
        "(spatial_wkb/spatial_dims/spatial_pad -> padded-MBR dim "
        "ranges, split pruning) + exact overlap residual in plain SQL",
    )
)
