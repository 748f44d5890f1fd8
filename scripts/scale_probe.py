#!/usr/bin/env python
"""Scale-up probe: replicate the sf0.1 documents/embeddings tables Nx
(ids remapped so replicas are distinct rows) and time the flagship
corpus/ANN operators at 1x, 10x, 30x.

Purpose: empirical evidence for the 100 TB design claims — the ops that
promise sub-quadratic / shuffle-bounded behavior (exact dedup, in-row
MinHash + LSH banding, bucketed near-dup verify, IVF assign) should
scale ~linearly in rows here.  Replicated text means EVERY replica
group is an exact-dup cluster, so dedup outputs stay meaningful.

Writes replicas under .tmp/scale/<mult>x/ and prints one markdown table
(appended by hand to BASELINE.md / SCALING notes).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROOT = os.path.join(REPO, ".tmp", "scale")
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MULTS = [int(x) for x in (sys.argv[1:] or ["1", "10", "30"])]


def replicate(spark, mult: int) -> str:
    from pyspark.sql import functions as F

    out = os.path.join(ROOT, f"{mult}x")

    def _replicate_events():
        evs = spark.read.parquet(os.path.join(SRC, "events.parquet"))
        n_ev = evs.count()
        reps_ = spark.range(mult).withColumnRenamed("id", "rep")
        (
            evs.crossJoin(reps_)
            .select(
                (F.col("event_id") + F.col("rep") * n_ev).alias("event_id"),
                "ts",
                (F.col("user_id") + F.col("rep") * 100_000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(out, "events.parquet"))
        )

    if os.path.exists(os.path.join(out, "_DONE")):
        if not os.path.exists(os.path.join(out, "events.parquet")):
            _replicate_events()
        return out
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    embs = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    n_docs = docs.count()
    n_vecs = embs.count()
    reps = spark.range(mult).withColumnRenamed("id", "rep")
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "documents.parquet"))
    )
    (
        embs.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * n_vecs).alias("vec_id"),
            "embedding",
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )
    _replicate_events()
    open(os.path.join(out, "_DONE"), "w").write("ok")
    return out


def probe_ops(spark, sf_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from tiledb_mariadb_spark.functions import dedup as D
    from tiledb_mariadb_spark.functions import ivf as IVF
    from tiledb_mariadb_spark.functions import similarity as S

    timings: dict[str, float] = {}

    def clock(name: str, fn):
        t0 = time.time()
        n = fn()
        timings[name] = round(time.time() - t0, 2)
        print(f"  {name}: {timings[name]}s (result rows/val: {n})", flush=True)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    clock(
        "exact_dedup",
        lambda: D.exact_dedup_groups(docs, "doc_id", "text")
        .filter(F.col("n_copies") > 1)
        .count(),
    )
    clock(
        "inline_minhash",
        lambda: D.with_minhash_inline(docs, "text", ["doc_id"]).count(),
    )

    def lsh_pairs():
        sigs = D.with_minhash_inline(docs, "text", ["doc_id"])
        # replicas make every doc a dup cluster: count pairs, capped by
        # counting instead of collecting
        return D.lsh_candidate_pairs(sigs, "doc_id").count()

    clock("lsh_candidate_pairs", lsh_pairs)

    def ivf_assign():
        cents = IVF.train_centroids(embs.limit(50000), "vec_id", "embedding", k=16)
        return IVF.assign_lists(embs, cents, "embedding").groupBy("list_id").count().count()

    clock("ivf_train_assign", ivf_assign)

    def brute_topk():
        qv = embs.limit(1).select(F.col("embedding").alias("qv"))
        return (
            embs.crossJoin(F.broadcast(qv))
            .select(
                "vec_id", F.expr(S.dot_int_expr("embedding", "qv")).alias("score")
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(10)
            .count()
        )

    clock("cosine_topk", brute_topk)

    def ordinal_two_phase():
        from tiledb_mariadb_spark.functions.pipeline import stable_ordinal

        out = stable_ordinal(docs.select("doc_id"), ["doc_id"])
        n = out.agg(F.max("ordinal")).collect()[0][0]
        out.unpersist()
        return n

    def ordinal_window():
        from pyspark.sql.window import Window

        w = Window.orderBy("doc_id")
        return (
            docs.select("doc_id")
            .withColumn("ordinal", F.row_number().over(w))
            .agg(F.max("ordinal"))
            .collect()[0][0]
        )

    clock("ordinal_two_phase", ordinal_two_phase)
    clock("ordinal_global_window", ordinal_window)

    events_path = os.path.join(sf_dir, "events.parquet")
    if os.path.exists(events_path):
        ev = spark.read.parquet(events_path).select(
            "event_id",
            "user_id",
            "event_type",
            F.expr("unix_timestamp(CAST(ts AS TIMESTAMP))").alias("sec"),
        )

        def interval_overlap():
            a = ev.filter(F.col("event_type") == "error").select(
                F.col("event_id").alias("a_id"),
                F.col("sec").alias("a_s"),
                (F.col("sec") + 300).alias("a_e"),
            )
            b = ev.filter(F.col("event_type") == "signup").select(
                F.col("event_id").alias("b_id"),
                F.col("sec").alias("b_s"),
                (F.col("sec") + 300).alias("b_e"),
            )

            def binned(df, s, e):
                return df.withColumn(
                    "bucket",
                    F.explode(F.expr(f"sequence({s} DIV 3600, {e} DIV 3600)")),
                )

            return (
                binned(a, "a_s", "a_e")
                .join(binned(b, "b_s", "b_e"), "bucket")
                .filter(
                    (F.col("a_s") <= F.col("b_e"))
                    & (F.col("b_s") <= F.col("a_e"))
                    & (F.col("bucket") == F.expr("greatest(a_s, b_s) DIV 3600"))
                )
                .count()
            )

        clock("interval_overlap_join", interval_overlap)

        def twa_window():
            from pyspark.sql.window import Window

            w = Window.partitionBy("user_id").orderBy("sec", "event_id")
            return (
                ev.withColumn("nxt", F.lead("sec").over(w))
                .filter(F.col("nxt").isNotNull())
                .groupBy("user_id")
                .agg(F.sum(F.col("nxt") - F.col("sec")).alias("d"))
                .count()
            )

        clock("twa_user_window", twa_window)

        # the design claim under test: a CDC refresh with a FIXED-size
        # change batch must cost ~flat as the TABLE grows (pre/post
        # images are semi-join-bounded by the changed keys).  Setup
        # (table write, initial full refresh) happens OUTSIDE the clock —
        # only the incremental refresh is the measured op.
        import shutil

        from tiledb_mariadb_spark.catalog import Attr, Dim, TileTable
        from tiledb_mariadb_spark.operators.rollup import refresh_rollup_cdc

        uri_s = os.path.join(sf_dir, "_probe_cdc_src")
        uri_r = os.path.join(sf_dir, "_probe_cdc_roll")
        src = TileTable.create(
            spark, uri_s,
            dimensions=[Dim("event_id", "bigint")],
            attributes=[Attr("sec", "bigint"), Attr("user_id", "bigint")],
            overwrite=True, capacity=2_000_000,
        )
        roll = TileTable.create(
            spark, uri_r,
            dimensions=[Dim("h", "bigint")],
            attributes=[Attr("n", "bigint"), Attr("user_id", "bigint")],
            overwrite=True,
        )
        src.write(ev.select("event_id", "sec", "user_id"))
        kx = {"h": F.expr("sec div 3600")}
        sums = {"user_id": F.col("user_id")}
        refresh_rollup_cdc(roll, src, 0, 1, ["h"], sums, kx)
        # fixed 1000-coordinate change batch regardless of table size
        src.apply_changes(
            ev.limit(1000).select(
                "event_id", "sec",
                (F.col("user_id") + 7).alias("user_id"),
                F.lit("upsert").alias("__op"),
            )
        )
        clock(
            "cdc_rollup_fixed_batch",
            lambda: refresh_rollup_cdc(roll, src, 1, 2, ["h"], sums, kx),
        )
        shutil.rmtree(uri_s, ignore_errors=True)
        shutil.rmtree(uri_r, ignore_errors=True)

    def embedding_drift():
        from tiledb_mariadb_spark.functions.similarity import (
            _scaled_int_spark,
        )

        ex = embs.select(
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("j", "x"),
        )
        return (
            ex.groupBy("half", "j")
            .agg(F.sum(F.expr(_scaled_int_spark("x"))).alias("s"))
            .count()
        )

    clock("embedding_drift", embedding_drift)

    # O(split) claim check for the round-4 sub-fragment reader: a FIXED
    # 2000-cell DENSE range read from a native array whose size grows with
    # the multiplier should stay ~flat (only covering chunks decode).
    # Array build happens OUTSIDE the clock.
    import shutil  # noqa: PLC0415

    from tiledb_mariadb_spark.sources.tiledb_native import (
        NativeAttr,
        NativeDim,
        read_native_array_range_np,
    )
    from tiledb_mariadb_spark.sources.tiledb_native_write import (
        create_native_array,
        write_native_fragment,
    )

    n_docs = docs.count()
    uri = os.path.join(sf_dir, "_probe_native_arr")
    shutil.rmtree(uri, ignore_errors=True)
    n_cells = n_docs * 4
    create_native_array(
        uri,
        dims=[NativeDim("k", 1, 1, (1, n_cells), None)],
        attrs=[
            NativeAttr("v", 3, 1, False, None),
            NativeAttr("s", 12, 0xFFFFFFFF, False, None),
        ],
        compressor="zstd",
        array_type="DENSE",
    )
    write_native_fragment(
        uri,
        {
            "k": [0] * n_cells,
            "v": [i * 0.5 for i in range(n_cells)],
            "s": [f"w{i % 101}" for i in range(n_cells)],
        },
        ts=10,
    )
    mid = n_cells // 2

    def native_span_read():
        _names, cols = read_native_array_range_np(
            uri, ranges=[(mid, mid + 1999)]
        )
        assert len(cols["k"]) == 2000
        return len(cols["k"])

    clock("native_span_read_fixed_2k", native_span_read)
    shutil.rmtree(uri, ignore_errors=True)
    return timings


def main() -> None:
    from tiledb_mariadb_spark.session import get_spark

    spark = get_spark("scale-probe")
    rows = []
    for m in MULTS:
        print(f"--- {m}x ---", flush=True)
        d = replicate(spark, m)
        n = spark.read.parquet(os.path.join(d, "documents.parquet")).count()
        t = probe_ops(spark, d)
        rows.append((m, n, t))
    ops = list(rows[0][2])
    print("\n| mult | docs | " + " | ".join(ops) + " |")
    print("|" + "---|" * (len(ops) + 2))
    for m, n, t in rows:
        print(f"| {m}x | {n} | " + " | ".join(f"{t[o]}s" for o in ops) + " |")


if __name__ == "__main__":
    main()
