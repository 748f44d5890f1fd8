"""IVF (inverted-file) approximate nearest neighbor — the partition-pruned
scale path for embedding search, complementing the LSH variant
(functions/similarity.py).

Shape of the index at 100 TB:

- **train**: Lloyd k-means on a *sample* (training cost is independent of
  table size); centroids are tiny (k × dim floats) and live on the driver.
- **assign**: each vector's nearest-centroid id becomes its inverted-list
  id — a single map-only JVM expression with the centroids inlined
  (no join, no shuffle, no Python in the per-row path).
- **layout**: write the table partitioned by ``list_id`` so a search
  reads only ``nprobe`` of ``k`` partitions — partition pruning does to
  vector search exactly what dimension ranges do to array scans.
- **search**: pick the ``nprobe`` closest centroids on the driver (k·dim
  floats — trivially small), prune to those lists, brute-force cosine
  inside (functions/similarity.cosine_expr, exact-int arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiledb_mariadb_spark.functions.similarity import cosine_expr

Centroid = tuple[int, list[float]]  # (list_id, components)


def _vec_lit(v: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({float(x)} AS FLOAT)" for x in v) + ")"


def _sqdist_expr(a: str, b: str) -> str:
    """Squared L2 distance between two float-array exprs (JVM fold)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST((x - y) * (x - y) AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def argmin_list_expr(vec_col: str, centroids: list[Centroid]) -> str:
    """Nearest-centroid id as ONE map-side expression: a fold over an
    inline array of (list_id, distance) structs.  Ties break to the lower
    list_id (strict < in the fold keeps the first minimum)."""
    entries = ", ".join(
        f"struct(CAST({lid} AS INT) AS lid,"
        f" {_sqdist_expr(vec_col, _vec_lit(cv))} AS d)"
        for lid, cv in centroids
    )
    return (
        f"aggregate(array({entries}),"
        f" struct(CAST(-1 AS INT) AS lid, CAST('Infinity' AS DOUBLE) AS d),"
        f" (acc, s) -> IF(s.d < acc.d, s, acc)).lid"
    )


def assign_lists(
    df: DataFrame, centroids: list[Centroid], vec_col: str
) -> DataFrame:
    """Append ``list_id`` = nearest centroid; map-only, JVM-codegen'd."""
    return df.withColumn("list_id", F.expr(argmin_list_expr(vec_col, centroids)))


_LOCAL_TRAIN_MAX = 100_000  # sample rows that comfortably fit the driver


def train_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int, iters: int = 2
) -> list[Centroid]:
    """Deterministic Lloyd k-means: seeds = vectors of the k smallest ids
    (stable across runs), then ``iters`` assign/update rounds.  Train on a
    sample at scale — pass ``df.sample(...)``.

    The training SAMPLE is driver-sized by definition (FAISS practice:
    index training is a coordinator job; only the corpus-wide
    scan/assign/search is distributed), so when it fits under
    ``_LOCAL_TRAIN_MAX`` rows the Lloyd rounds run as one numpy collect
    instead of ``iters`` Spark rounds — each distributed round cost two
    shuffles plus codegen of a k·dim-literal argmin expression, ~5s of
    overhead to average 256 vectors.  Larger samples fall back to the
    distributed rounds.  Empty lists keep their previous centroid
    (standard Lloyd fix-up) on both paths.
    """
    n = df.count()
    if n <= _LOCAL_TRAIN_MAX:
        rows = (
            df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).collect()
        )
        import numpy as np  # noqa: PLC0415

        mat = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
        cents = mat[:k].copy()
        for _ in range(iters):
            d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            lab = d2.argmin(axis=1)
            for lid in range(len(cents)):
                members = mat[lab == lid]
                if len(members):
                    cents[lid] = members.mean(axis=0)
        return [
            (i, [float(np.float32(x)) for x in cv])
            for i, cv in enumerate(cents)
        ]
    seed_rows = (
        df.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
    )
    centroids: list[Centroid] = [
        (i, list(r[vec_col])) for i, r in enumerate(seed_rows)
    ]
    for _ in range(iters):
        assigned = assign_lists(df.select(id_col, vec_col), centroids, vec_col)
        means = (
            assigned.select("list_id", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("list_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "list_id",
                F.expr("transform(pm, s -> CAST(s.m AS FLOAT))").alias("cv"),
            )
            .collect()
        )
        updated = {r["list_id"]: list(r["cv"]) for r in means}
        centroids = [(lid, updated.get(lid, cv)) for lid, cv in centroids]
    return centroids


def probe_lists(
    centroids: list[Centroid], query_vec: list[float], nprobe: int
) -> list[int]:
    """The nprobe nearest list_ids to the query — O(k·dim) on the driver."""
    scored = sorted(
        (sum((x - y) ** 2 for x, y in zip(cv, query_vec)), lid)
        for lid, cv in centroids
    )
    return [lid for _, lid in scored[:nprobe]]


def ivf_search(
    indexed: DataFrame,
    centroids: list[Centroid],
    query_vec: list[float],
    vec_col: str,
    id_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Top-k cosine within the ``nprobe`` nearest inverted lists.  When
    ``indexed`` is stored partitioned by ``list_id`` the isin filter is
    partition pruning: only nprobe/len(centroids) of the data is read."""
    probes = probe_lists(centroids, query_vec, nprobe)
    return (
        indexed.filter(F.col("list_id").isin(probes))
        .select(
            F.col(id_col),
            F.expr(cosine_expr(vec_col, _vec_lit(query_vec))).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_search_batch(
    indexed: DataFrame,
    centroids: list[Centroid],
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    vec_col: str,
    id_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Many-query IVF search: each query probes only its ``nprobe``
    nearest inverted lists.  The query set is an eval/serving batch
    (small), so (qid, qvec, list_id) probe pairs BROADCAST against the
    list-partitioned index — the scan reads only the union of probed
    list partitions, each corpus row is scored only against the queries
    that probed its list (a bucket equi-join, not a cross join), and
    per-query top-k is the two-phase pattern from
    :func:`similarity.cosine_topk_batch`."""
    from pyspark.sql import Window  # noqa: PLC0415

    spark = indexed.sparkSession
    qrows = queries.select(qid_col, qvec_col).collect()
    probe_pairs = [
        (row[qid_col], row[qvec_col], lid)
        for row in qrows
        for lid in probe_lists(centroids, list(row[qvec_col]), nprobe)
    ]
    probes = spark.createDataFrame(
        probe_pairs, f"{qid_col} long, qv array<float>, list_id long"
    )
    scored = (
        indexed.join(F.broadcast(probes), "list_id")
        .select(
            F.col(qid_col),
            F.col(id_col),
            F.expr(cosine_expr(vec_col, "qv")).alias("cos"),
        )
        .withColumn("__pid", F.spark_partition_id())
    )
    order = [F.col("cos").desc(), F.col(id_col).asc()]
    partial = Window.partitionBy(qid_col, "__pid").orderBy(*order)
    survivors = (
        scored.withColumn("__rk", F.row_number().over(partial))
        .filter(F.col("__rk") <= k)
        .drop("__rk", "__pid")
    )
    final = Window.partitionBy(qid_col).orderBy(*order)
    return (
        survivors.withColumn("__rk", F.row_number().over(final))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def recall_at_k(approx_ids: list, exact_ids: list) -> float:
    """|approx ∩ exact| / k — the standard ANN quality metric."""
    if not exact_ids:
        return float("nan")
    return len(set(approx_ids) & set(exact_ids)) / len(exact_ids)


def write_ivf_index(indexed: DataFrame, path: str) -> None:
    """Persist partitioned by list_id → probe filters become partition
    pruning (only nprobe directories are ever listed/read)."""
    indexed.write.mode("overwrite").partitionBy("list_id").parquet(path)


def append_ivf_index(
    new_vectors: DataFrame, cents: list, vec_col: str, path: str
) -> None:
    """Incremental index maintenance: assign ONLY the new batch to the
    existing centroids and append its rows into the per-list partition
    directories — no retrain, no touch of resident lists (dynamic
    partition overwrite is not needed because parquet append adds files
    alongside; at 100 TB this is the rolling-ingest path and a periodic
    re-train/consolidate handles centroid drift, exactly like TileDB's
    fragment-consolidation rhythm)."""
    assign_lists(new_vectors, cents, vec_col).write.mode("append").partitionBy(
        "list_id"
    ).parquet(path)


def delete_ivf_index(deleted_ids: DataFrame, id_col: str, path: str) -> None:
    """Deletion-vector-style delete: append the ids to a `_deleted/`
    tombstone sidecar (underscore prefix → invisible to parquet data
    reads).  NO list rewrite — at 100 TB rewriting a list partition per
    delete batch is the wrong cost; searches subtract the tombstones with
    one broadcast anti-join (the sidecar is ids only, tiny), and
    :func:`compact_ivf_index` physically reclaims space later, touching
    only the lists that actually contain deletions."""
    import os  # noqa: PLC0415

    deleted_ids.select(F.col(id_col).alias("__deleted_id")).write.mode(
        "append"
    ).parquet(os.path.join(path, "_deleted"))


def live_ivf_index(spark, path: str) -> DataFrame:
    """The stored index minus tombstoned vectors (broadcast anti-join;
    no-op when no deletes exist)."""
    import os  # noqa: PLC0415

    stored = spark.read.parquet(path)
    dpath = os.path.join(path, "_deleted")
    if os.path.isdir(dpath):
        dead = (
            spark.read.parquet(dpath)
            .select(F.col("__deleted_id").alias("vec_id"))
            .distinct()
        )
        stored = stored.join(F.broadcast(dead), "vec_id", "left_anti")
    return stored


def compact_ivf_index(spark, path: str) -> int:
    """Physically drop tombstoned vectors: dynamic-partition-overwrite
    rewrites ONLY the list partitions that contain deletions (bounded by
    the tombstone set — untouched lists keep their files), then clears
    the sidecar.  Returns the number of rewritten lists."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    dpath = os.path.join(path, "_deleted")
    if not os.path.isdir(dpath):
        return 0
    stored = spark.read.parquet(path)
    dead = (
        spark.read.parquet(dpath)
        .select(F.col("__deleted_id").alias("vec_id"))
        .distinct()
    )
    affected = [
        r["list_id"]
        for r in stored.join(F.broadcast(dead), "vec_id", "left_semi")
        .select("list_id")
        .distinct()
        .collect()  # bounded by nlists
    ]
    if affected:
        live = (
            stored.filter(F.col("list_id").isin(affected))
            .join(F.broadcast(dead), "vec_id", "left_anti")
        )
        # Materialize the surviving rows to a SEPARATE directory first,
        # then swap the affected list_id partition dirs in: overwriting
        # the path the lazy `live` plan is still reading from would race
        # the scan against its own output (advisor finding).  Each list
        # swap is a rename, so a crash leaves every list either fully old
        # or fully new — never mixed.
        from uuid import uuid4  # noqa: PLC0415

        tmp = f"{path.rstrip('/')}_compact_{uuid4().hex[:8]}"
        try:
            live.write.partitionBy("list_id").parquet(tmp)
            for lid in affected:
                src = os.path.join(tmp, f"list_id={lid}")
                dst = os.path.join(path, f"list_id={lid}")
                old = dst + ".old"
                shutil.rmtree(old, ignore_errors=True)
                if os.path.isdir(dst):
                    os.rename(dst, old)
                if os.path.isdir(src):
                    os.rename(src, dst)
                # a fully-deleted list has no survivors: partition removed
                shutil.rmtree(old, ignore_errors=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dpath, ignore_errors=True)
    return len(affected)
