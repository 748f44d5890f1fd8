"""The benchmark workloads over MyTile's public surfaces.

``native_mixed`` interleaves two op streams in one session: Zipf reads
on a read-only, cache-sized array (:class:`PointRange`) and writes,
maintenance and verify reads on a second, live array
(:class:`IngestMaintain`).  ``sql_tpch`` runs parquet suite queries
through Spark alone.

Each workload is a seeded, closed-loop op stream with one client.  One
seed produces the arrays / tables, the op stream and the expected answers
(a numpy model for native ops, the suite's DuckDB oracle for
``sql_tpch``); the program only ever receives the generated inputs.

Op kinds follow a fixed repeating pattern (``CYCLE``) with seeded
parameters, so every run sees the same op mix and a short run still
samples every kind in the same proportion.

Traced ops additionally *replay* the op's planning and decoding in the
client process, outside the timed interval (and may take a snapshot
before it, also untimed): the SQL format plans inside a
Spark Python planner process the client cannot see into, so the per-layer
numbers come from calling the same public functions with the same
arguments here.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np

from perfbench.harness import Op
from perfbench.trace import median_ms

# per-layer metric -> unit; every traced run reports all of them (0 when
# the workload never enters that layer)
LAYER_METRICS = {
    "session.start_s": "s",
    "jvm_agg.build_s": "s",
    "spark_datasource.plan_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "spark.failed_tasks": "count",
    "tiledb_array.info_ms": "ms",
    "tiledb_array.split_weights_ms": "ms",
    "tiledb_array.condition_ned_ms": "ms",
    "tiledb_array.plan_splits_ms": "ms",
    "tiledb_array.splits_per_op": "count",
    "tiledb_native.fragments_kept_ratio": "ratio",
    "tiledb_native.tiles_kept_ratio": "ratio",
    "tiledb_native.rows_per_kept_cell": "ratio",
    "tiledb_native.read_range_ms": "ms",
    "tiledb_native.cells_decoded_per_s": "cells/s",
    "tiledb_native.count_ms": "ms",
    "tiledb_native_agg.agg_ms": "ms",
    "tiledb_native_agg.tiles_contained_ratio": "ratio",
    "tiledb_native_agg.cells_decoded": "count",
    "jvm_agg.query_ms": "ms",
    "tiledb_native_write.fragment_ms": "ms",
    "tiledb_array.write_array_ms": "ms",
    "tiledb_native_write.delete_ms": "ms",
    "tiledb_native_write.bytes_per_user_byte": "ratio",
    "tiledb_array.consolidate_ms": "ms",
    "tiledb_native_write.fragment_meta_ms": "ms",
    "tiledb_native_write.vacuum_ms": "ms",
    "tiledb_array.bytes_rewritten_per_user_byte": "ratio",
    "tiledb_array.fragments_visible_before": "count",
    "tiledb_array.fragments_visible_after": "count",
    "suite.q01_pricing_summary_ms": "ms",
    "suite.q12_count_distinct_ms": "ms",
    "suite.q16_setops_ms": "ms",
    "suite.q31_join_multi_ms": "ms",
    "suite.q51_window_running_ms": "ms",
    "suite.q100_volume_shipping_ms": "ms",
    "share.plan": "ratio",
    "share.decode": "ratio",
    "op.point_p50_ms": "ms",
    "op.range_p50_ms": "ms",
    "op.needle_p50_ms": "ms",
    "op.agg_p50_ms": "ms",
    "op.write_p50_ms": "ms",
    "op.ingest_rows_per_s": "rows/s",
    "op.maintain_p50_ms": "ms",
    "op.verify_p50_ms": "ms",
    "op.bytes_per_user_byte": "ratio",
    "op.failed_op_ratio": "ratio",
    "trace.overhead_ops_per_s": "ops/s",
    "trace.overhead_op_p50_ms": "ms",
    "trace.overhead_peak_rss_mb": "MB",
    "proc.driver_rss_mb": "MB",
    "proc.jvm_rss_mb": "MB",
    "proc.workers_rss_mb": "MB",
}

TS0 = 1_600_000_000_000  # fixed write-timestamp base (unix ms)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _p50(records, *kinds) -> float:
    lat = [r.latency_s * 1e3 for r in records if r.op.kind in kinds]
    return statistics.median(lat) if lat else 0.0


def _rate(records, *kinds) -> float:
    rs = [r for r in records if r.op.kind in kinds and r.ok]
    busy = sum(r.latency_s for r in rs)
    return sum(r.units for r in rs) / busy if busy else 0.0


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    CYCLE: tuple[str, ...] = ()

    def __init__(self, ctx, seed: int) -> None:
        self.ctx = ctx
        self.tracer = ctx.tracer
        self.seed = seed
        self.rng = np.random.default_rng(seed)

    @property
    def spark(self):
        return self.ctx.spark

    def prepare(self) -> None:
        """Generate inputs and build arrays / tables without Spark; runs
        while the session starts."""

    def setup(self) -> None:
        """Register the inputs with the session and warm first-query
        paths, before any timed op."""

    def warm_workers(self) -> None:
        """Run one wave of two tasks per core, importing the decoder
        stack, so every pooled Python worker has started before the
        first timed op instead of inside it."""
        def imports(batches):
            import tiledb_mariadb_spark.sources.tiledb_array  # noqa: F401, PLC0415
            import tiledb_mariadb_spark.sources.tiledb_native_write  # noqa: F401, PLC0415

            yield from batches

        n = self.ctx.cpus * 2
        self.spark.range(n, numPartitions=n).mapInPandas(
            imports, schema="id long").collect()

    def ops(self):
        i = 0
        while True:
            kind = self.CYCLE[i % len(self.CYCLE)]
            yield Op(i, kind, self.make_args(kind))
            i += 1

    def sql(self, text: str) -> list[tuple]:
        """Analyze + plan (pushFilters / partitions run here), then
        execute the same plan."""
        df = self.spark.sql(text)
        with self.tracer.span("spark_datasource.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("spark.execute"):
            return _rows(df)

    def units(self, op, result) -> float:
        return float(op.args.get("units", 0))

    def trace_before(self, op) -> None:
        """Per-layer snapshot taken just before a traced op is timed."""

    def trace(self, op, result) -> None:
        """Per-layer replay run after a traced op was timed and checked."""

    def final_check(self) -> bool:
        return True

    def layer_metrics(self, records) -> dict:
        t = self.tracer
        dur = t.durations()
        out = {}
        for span, metric in (
            ("spark_datasource.plan", "spark_datasource.plan_ms"),
            ("tiledb_array.info", "tiledb_array.info_ms"),
            ("tiledb_array.split_weights", "tiledb_array.split_weights_ms"),
            ("tiledb_array.condition_ned", "tiledb_array.condition_ned_ms"),
            ("tiledb_array.plan_splits", "tiledb_array.plan_splits_ms"),
            ("tiledb_native.read_range", "tiledb_native.read_range_ms"),
            ("tiledb_native.count", "tiledb_native.count_ms"),
            ("tiledb_native_agg.windowed_agg", "tiledb_native_agg.agg_ms"),
            ("jvm_agg.query", "jvm_agg.query_ms"),
            ("tiledb_native_write.fragment", "tiledb_native_write.fragment_ms"),
            ("tiledb_array.write_array", "tiledb_array.write_array_ms"),
            ("tiledb_native_write.delete", "tiledb_native_write.delete_ms"),
            ("tiledb_array.consolidate", "tiledb_array.consolidate_ms"),
            ("tiledb_native_write.fragment_meta",
             "tiledb_native_write.fragment_meta_ms"),
            ("tiledb_native_write.vacuum", "tiledb_native_write.vacuum_ms"),
        ):
            out[metric] = median_ms(dur.get(span, []))
        for name, values in t.samples.items():
            out[name] = statistics.mean(values)
        # share of traced op time spent planning (analysis, pushFilters,
        # partitions — which includes tiledb_array planning) vs decoding
        # (the in-process replay of the same splits through read_range)
        op_s = sum(sum(v) for k, v in dur.items() if k.startswith("op."))
        if op_s:
            out["share.plan"] = sum(dur.get("spark_datasource.plan", [])) / op_s
            out["share.decode"] = (
                sum(dur.get("tiledb_native.read_range", [])) / op_s
            )
        out.update(self.kind_metrics(records))
        return out

    def kind_metrics(self, records) -> dict:
        """The workload's per-op-kind metrics (``op.*``, ``suite.*``)."""
        return {}

    # -- replays (traced ops only) --------------------------------------

    def replay_read(self, uri: str, k_range, conditions, columns,
                    target_splits: int) -> None:
        """Re-run the SQL format's planning and each planned split's
        decode in this process, with spans around every layer call."""
        from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
            NativeDecoderBackend,
            plan_splits,
        )
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            explain_native_pruning,
        )

        t = self.tracer
        be = NativeDecoderBackend()
        dim_ranges = {"k": k_range} if k_range else {}
        with t.span("replay"):
            with t.span("tiledb_array.info"):
                info = be.info(uri)
            if conditions:
                with t.span("tiledb_array.condition_ned"):
                    box = be.condition_ned(uri, list(conditions))
                if box == []:
                    t.record("tiledb_array.splits_per_op", 0)
                    return
                if box is not None:
                    lo, hi = dim_ranges.get("k", (None, None))
                    blo, bhi = box[0]
                    dim_ranges["k"] = (
                        blo if lo is None else max(lo, blo),
                        bhi if hi is None else min(hi, bhi),
                    )
            with t.span("tiledb_array.split_weights"):
                weights = be.split_weights(uri)
            with t.span("tiledb_array.plan_splits"):
                splits = plan_splits(info, dim_ranges, target_splits,
                                     weights=weights)
            t.record("tiledb_array.splits_per_op", len(splits))
            ranges = [dim_ranges.get("k", (None, None))]
            with t.span("tiledb_native.explain_pruning"):
                rows = explain_native_pruning(uri, ranges, conditions or None)
            if rows:
                t.record("tiledb_native.fragments_kept_ratio",
                         sum(r["decision"] == "read" for r in rows) / len(rows))
            tot = sum(r["tiles_total"] or 0 for r in rows)
            kept = sum(r["tiles_kept"] or 0 for r in rows)
            if tot:
                t.record("tiledb_native.tiles_kept_ratio", kept / tot)
            kept_cells = sum(
                (r["cells"] or 0) * (r["tiles_kept"] or 0) / r["tiles_total"]
                for r in rows if r["tiles_total"]
            )
            n = 0
            t0 = time.perf_counter()
            with t.span("tiledb_native.read_range"):
                for s in splits:
                    n += len(be.read_range(uri, s, columns,
                                           conditions=conditions or None))
            dt = time.perf_counter() - t0
            if kept_cells:
                t.record("tiledb_native.rows_per_kept_cell", n / kept_cells)
                t.record("tiledb_native.cells_decoded_per_s", kept_cells / dt)


# --- native_mixed reads ---------------------------------------------------------


class PointRange(Workload):
    """Zipf-skewed point / narrow-range / needle / windowed-aggregate mix
    over a sparse array small enough for the decoder's per-worker caches:
    CELLS cells in FRAGMENTS range-disjoint fragments (FRAGMENTS <=
    _DIM_CACHE_MAX = 8; 8 fragments x 4 data files <= _WALK_CACHE_MAX =
    256)."""

    CELLS = 1_000_000
    FRAGMENTS = 8
    RANGE_CELLS = 1000
    CYCLE = ("point", "range", "point", "needle", "point", "agg",
             "point", "range", "needle_absent", "agg")

    def prepare(self) -> None:
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            NativeAttr,
            NativeDim,
        )
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            create_native_array,
            write_native_fragment,
        )

        rng = self.rng
        per = self.CELLS // self.FRAGMENTS
        span = per * 2
        keys = [np.sort(rng.choice(span, per, replace=False)) + f * span
                for f in range(self.FRAGMENTS)]
        self.K = np.concatenate(keys).astype(np.int64)
        self.V = rng.integers(0, 10**12, self.CELLS, dtype=np.int64)
        self.Q = rng.integers(0, 1000, self.CELLS, dtype=np.int32)
        self.X = rng.random(self.CELLS)
        self.uri = os.path.join(self.ctx.run_dir, "point_range")
        create_native_array(
            self.uri,
            [NativeDim("k", 1, 1, (0, 2**40), 4096)],
            [NativeAttr("v", 1, 1, False, None),
             NativeAttr("q", 0, 1, False, None),
             NativeAttr("x", 3, 1, False, None)],
            compressor="zstd", bloom_attrs=["v"],
        )
        for f in range(self.FRAGMENTS):
            sl = slice(f * per, (f + 1) * per)
            write_native_fragment(
                self.uri,
                {"k": self.K[sl], "v": self.V[sl], "q": self.Q[sl],
                 "x": self.X[sl]},
                ts=TS0 + f, version=19,
            )
        # Zipf popularity over a seeded permutation of the cells: hot
        # keys and hot range starts repeat, so caches see reuse
        self.hot = rng.permutation(self.CELLS)
        present = set(self.V.tolist())
        self.absent = [v for v in rng.integers(0, 10**12, 64).tolist()
                       if v not in present]

    def setup(self) -> None:
        from tiledb_mariadb_spark.sources.jvm_agg import (  # noqa: PLC0415
            agg_reader,
            register_tiledb_agg,
        )
        from tiledb_mariadb_spark.sources.spark_datasource import (  # noqa: PLC0415
            sql_table_from_array,
        )

        self.splits = self.ctx.cpus
        sql_table_from_array(self.spark, "pr", self.uri,
                             target_splits=self.splits)
        t0 = time.perf_counter()
        register_tiledb_agg(self.spark)
        self.ctx.layer["jvm_agg.build_s"] = time.perf_counter() - t0
        agg_reader(self.spark, self.uri).load().createOrReplaceTempView("pra")
        # warm both formats' first-query paths outside the timed loop
        self.sql(f"SELECT v FROM pr WHERE k = {int(self.K[0])}")
        self.sql(f"SELECT count(*) FROM pra WHERE k BETWEEN 0 AND "
                 f"{int(self.K[-1])}")

    def _zipf_index(self, limit: int) -> int:
        r = int(self.rng.zipf(1.3)) - 1
        return int(self.hot[r % self.CELLS]) % limit

    def make_args(self, kind: str) -> dict:
        rng = self.rng
        if kind == "point":
            if rng.random() < 0.1:  # absent coordinate: keys are gapped
                i = self._zipf_index(self.CELLS - 1)
                k = int(self.K[i]) + 1
                if k == int(self.K[i + 1]):
                    k = int(self.K[i])
            else:
                k = int(self.K[self._zipf_index(self.CELLS)])
            return {"k": k, "units": 1}
        if kind == "range":
            i = self._zipf_index(self.CELLS - self.RANGE_CELLS)
            return {"lo": int(self.K[i]),
                    "hi": int(self.K[i + self.RANGE_CELLS - 1]),
                    "units": self.RANGE_CELLS}
        if kind == "needle":
            i = self._zipf_index(self.CELLS)
            return {"v": int(self.V[i]), "units": 1}
        if kind == "needle_absent":
            return {"v": int(rng.choice(self.absent)), "units": 0}
        # agg: a wide window over 5-50% of the cells
        n = int(rng.integers(self.CELLS // 20, self.CELLS // 2))
        i = int(rng.integers(0, self.CELLS - n))
        return {"lo": int(self.K[i]), "hi": int(self.K[i + n - 1]),
                "units": n}

    def execute(self, op):
        a = op.args
        if op.kind == "point":
            return self.sql(f"SELECT k, v, q FROM pr WHERE k = {a['k']}")
        if op.kind == "range":
            return self.sql(
                f"SELECT k, v FROM pr WHERE k BETWEEN {a['lo']} AND {a['hi']}"
            )
        if op.kind in ("needle", "needle_absent"):
            return self.sql(f"SELECT k FROM pr WHERE v = {a['v']}")
        with self.tracer.span("jvm_agg.query"):
            return self.sql(
                "SELECT count(*) AS n, sum(q) AS sq, min(x) AS mn, "
                f"max(x) AS mx FROM pra WHERE k BETWEEN {a['lo']} AND "
                f"{a['hi']}"
            )

    def expected(self, op):
        a = op.args
        if op.kind == "point":
            i = int(np.searchsorted(self.K, a["k"]))
            if i < self.CELLS and self.K[i] == a["k"]:
                return [(a["k"], int(self.V[i]), int(self.Q[i]))]
            return []
        if op.kind in ("range", "agg"):
            lo = int(np.searchsorted(self.K, a["lo"]))
            hi = int(np.searchsorted(self.K, a["hi"], side="right"))
            if op.kind == "range":
                return list(zip(self.K[lo:hi].tolist(),
                                self.V[lo:hi].tolist()))
            return [(hi - lo, int(self.Q[lo:hi].sum(dtype=np.int64)),
                     float(self.X[lo:hi].min()), float(self.X[lo:hi].max()))]
        return [(k,) for k in self.K[self.V == a["v"]].tolist()]

    def check(self, op, result) -> bool:
        return sorted(result) == sorted(self.expected(op))

    def trace(self, op, result) -> None:
        a = op.args
        if op.kind == "point":
            self.replay_read(self.uri, (a["k"], a["k"]), [], ["k", "v", "q"],
                             self.splits)
        elif op.kind == "range":
            self.replay_read(self.uri, (a["lo"], a["hi"]), [], ["k", "v"],
                             self.splits)
        elif op.kind in ("needle", "needle_absent"):
            self.replay_read(self.uri, None, [("v", "=", a["v"])], ["k"],
                             self.splits)
        else:
            from tiledb_mariadb_spark.sources.tiledb_native_agg import (  # noqa: PLC0415
                windowed_agg_native,
            )

            t = self.tracer
            with t.span("replay"), t.span("tiledb_native_agg.windowed_agg"):
                res = windowed_agg_native(
                    self.uri, {"k": (a["lo"], a["hi"])}, fields=["q", "x"]
                )
            audit = (res or {}).get("audit") or {}
            if audit.get("tiles_total"):
                t.record("tiledb_native_agg.tiles_contained_ratio",
                         audit["tiles_contained"] / audit["tiles_total"])
            t.record("tiledb_native_agg.cells_decoded",
                     audit.get("cells_decoded", 0))

    def kind_metrics(self, records) -> dict:
        return {
            "op.point_p50_ms": _p50(records, "point"),
            "op.range_p50_ms": _p50(records, "range"),
            "op.needle_p50_ms": _p50(records, "needle", "needle_absent"),
            "op.agg_p50_ms": _p50(records, "agg"),
        }


# --- native_mixed writes --------------------------------------------------------


@contextmanager
def _instrumented(tracer, targets):
    """Temporarily wrap module functions with spans (traced ops only)."""
    saved = []
    try:
        for module, attr, span in targets:
            fn = getattr(module, attr)

            def wrapped(*a, _fn=fn, _span=span, **kw):
                with tracer.span(_span):
                    return _fn(*a, **kw)

            saved.append((module, attr, fn))
            setattr(module, attr, wrapped)
        yield
    finally:
        for module, attr, fn in saved:
            setattr(module, attr, fn)


class IngestMaintain(Workload):
    """Appends, overlapping upserts, DELETE WHERE commits, periodic
    maintain_array, and verify reads that must match the model — writes
    beside reads on one array whose fragment count rises and falls."""

    BASE_ROWS = 100_000
    APPEND_ROWS = 10_000
    UPSERT_ROWS = 10_000  # as large as an append: one write latency mode
    VERIFY_SPAN = 2_000
    USER_BYTES_PER_ROW = 8 + 8 + 4  # k int64, v int64, q int32
    # the two deletes (about a millisecond) and the verify and maintain
    # (seconds) sit at the two ends of native_mixed's latency order; the
    # median op is one of the 16 appends, upserts and reads between them,
    # each one Spark job
    CYCLE = ("append", "upsert", "delete", "append", "verify",
             "upsert", "append", "delete", "upsert", "maintain")

    def prepare(self) -> None:
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            NativeAttr,
            NativeDim,
        )
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            create_native_array,
            write_native_fragment,
        )

        self.dims = [NativeDim("k", 1, 1, (0, 2**40), 4096)]
        self.attrs = [NativeAttr("v", 1, 1, False, None),
                      NativeAttr("q", 0, 1, False, None)]
        self.uri = os.path.join(self.ctx.run_dir, "ingest")
        self.scratch = os.path.join(self.ctx.run_dir, "ingest_replay")
        for uri in (self.uri, self.scratch):
            create_native_array(uri, self.dims, self.attrs, compressor="zstd")
        n = self.BASE_ROWS
        self.V = self.rng.integers(0, 10**12, n, dtype=np.int64)
        self.Q = self.rng.integers(0, 100, n, dtype=np.int32)
        self.live = np.ones(n, dtype=bool)
        self.ts = TS0
        for part in np.array_split(np.arange(n), 4):
            write_native_fragment(
                self.uri, {"k": part.astype(np.int64), "v": self.V[part],
                           "q": self.Q[part]},
                ts=self._next_ts(), version=19,
            )

    def _register(self) -> None:
        """(Re-)register the SQL view: a registered view keeps the array
        domain it planned with at registration, so rows appended beyond
        it stay invisible until the view is registered again."""
        from tiledb_mariadb_spark.sources.spark_datasource import (  # noqa: PLC0415
            sql_table_from_array,
        )

        sql_table_from_array(self.spark, "ing", self.uri,
                             target_splits=self.splits)

    def setup(self) -> None:
        self.splits = self.ctx.cpus
        self._register()
        self.sql("SELECT count(*) FROM ing")
        # one warm write through the Spark path into the replay array
        self._write(self.scratch, self._batch(np.arange(10), 10), None)

    def _next_ts(self) -> int:
        # 1 s apart: consolidation may stamp a merged fragment a few ms
        # past its newest input, and an explicit-ts write must never land
        # inside a consolidated span
        self.ts += 1000
        return self.ts

    def _batch(self, keys, n):
        rng = self.rng
        return (keys.astype(np.int64),
                rng.integers(0, 10**12, n, dtype=np.int64),
                rng.integers(0, 100, n, dtype=np.int32))

    def _write(self, uri, batch, ts) -> None:
        import pandas as pd  # noqa: PLC0415

        from tiledb_mariadb_spark.sources.tiledb_array import write_array  # noqa: PLC0415

        k, v, q = batch
        df = self.spark.createDataFrame(pd.DataFrame({"k": k, "v": v, "q": q}))
        write_array(df, uri, ts=ts)

    def make_args(self, kind: str) -> dict:
        n = len(self.live)
        if kind == "append":
            keys = np.arange(n, n + self.APPEND_ROWS)
            return {"batch": self._batch(keys, self.APPEND_ROWS),
                    "units": self.APPEND_ROWS}
        if kind == "upsert":
            keys = np.sort(self.rng.choice(n, self.UPSERT_ROWS,
                                           replace=False))
            return {"batch": self._batch(keys, self.UPSERT_ROWS),
                    "units": self.UPSERT_ROWS}
        if kind == "delete":
            return {"q": int(self.rng.integers(0, 100))}
        if kind == "verify":
            lo = int(self.rng.integers(0, n - self.VERIFY_SPAN))
            return {"lo": lo, "hi": lo + self.VERIFY_SPAN - 1,
                    "units": self.VERIFY_SPAN}
        return {}

    def execute(self, op):
        from tiledb_mariadb_spark.sources import tiledb_array  # noqa: PLC0415

        a = op.args
        if op.kind in ("append", "upsert"):
            a["ts"] = self._next_ts()
            with self.tracer.span("tiledb_array.write_array"):
                self._write(self.uri, a["batch"], a["ts"])
            return None
        if op.kind == "delete":
            a["ts"] = self._next_ts()
            with self.tracer.span("tiledb_native_write.delete"):
                tiledb_array.NativeDecoderBackend().delete(
                    self.uri, [("q", "=", a["q"])], ts=a["ts"]
                )
            return None
        if op.kind == "verify":
            self._register()
            n = self.sql("SELECT count(*) FROM ing")[0][0]
            rows = self.sql(
                f"SELECT k, v, q FROM ing WHERE k BETWEEN {a['lo']} AND "
                f"{a['hi']}"
            )
            return n, rows
        if not self.tracer.enabled:
            return tiledb_array.maintain_array(self.spark, self.uri,
                                               target_splits=self.splits)
        from tiledb_mariadb_spark.sources import tiledb_native_write  # noqa: PLC0415

        with _instrumented(self.tracer, [
            (tiledb_array, "consolidate_array_incremental",
             "tiledb_array.consolidate"),
            (tiledb_native_write, "consolidate_fragment_meta",
             "tiledb_native_write.fragment_meta"),
            (tiledb_native_write, "vacuum_native_array",
             "tiledb_native_write.vacuum"),
        ]):
            return tiledb_array.maintain_array(self.spark, self.uri,
                                               target_splits=self.splits)

    def _fragments(self) -> dict[str, int]:
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            explain_native_pruning,
        )

        root = os.path.join(self.uri, "__fragments")
        return {r["fragment"]: _dir_bytes(os.path.join(root, r["fragment"]))
                for r in explain_native_pruning(self.uri)}

    def apply(self, op) -> None:
        """Advance the model past a successful write/delete op."""
        if op.kind in ("append", "upsert"):
            k, v, q = op.args["batch"]
            grow = int(k.max()) + 1 - len(self.live)
            if grow > 0:
                self.V = np.concatenate([self.V, np.zeros(grow, np.int64)])
                self.Q = np.concatenate([self.Q, np.zeros(grow, np.int32)])
                self.live = np.concatenate([self.live, np.zeros(grow, bool)])
            self.V[k], self.Q[k], self.live[k] = v, q, True
        elif op.kind == "delete":
            self.live &= self.Q != op.args["q"]

    def check(self, op, result) -> bool:
        if op.kind != "verify":
            self.apply(op)
            return True
        n, rows = result
        lo, hi = op.args["lo"], op.args["hi"]
        ks = np.nonzero(self.live[lo:hi + 1])[0] + lo
        want = list(zip(ks.tolist(), self.V[ks].tolist(), self.Q[ks].tolist()))
        return n == int(self.live.sum()) and sorted(rows) == want

    def trace_before(self, op) -> None:
        if op.kind == "maintain":
            self._before = self._fragments()
            self.tracer.record("tiledb_array.fragments_visible_before",
                               len(self._before))

    def trace(self, op, result) -> None:
        from tiledb_mariadb_spark.sources.tiledb_native import (  # noqa: PLC0415
            count_native_array,
        )
        from tiledb_mariadb_spark.sources.tiledb_native_write import (  # noqa: PLC0415
            write_native_fragment,
        )

        t = self.tracer
        a = op.args
        if op.kind == "maintain":
            after = self._fragments()
            t.record("tiledb_array.fragments_visible_after", len(after))
            rewritten = sum(b for f, b in after.items()
                            if f not in self._before)
            t.record("tiledb_array.bytes_rewritten_per_user_byte",
                     rewritten / max(1, int(self.live.sum())
                                     * self.USER_BYTES_PER_ROW))
        elif op.kind in ("append", "upsert"):
            k, v, q = a["batch"]
            before = _dir_bytes(self.scratch)
            with t.span("replay"), t.span("tiledb_native_write.fragment"):
                write_native_fragment(self.scratch, {"k": k, "v": v, "q": q},
                                      ts=a["ts"], version=19)
            t.record("tiledb_native_write.bytes_per_user_byte",
                     (_dir_bytes(self.scratch) - before)
                     / (len(k) * self.USER_BYTES_PER_ROW))
        elif op.kind == "verify":
            with t.span("replay"), t.span("tiledb_native.count"):
                count_native_array(self.uri)
            self.replay_read(self.uri, (a["lo"], a["hi"]), [],
                             ["k", "v", "q"], self.splits)

    def kind_metrics(self, records) -> dict:
        return {
            "op.write_p50_ms": _p50(records, "append", "upsert", "delete"),
            "op.ingest_rows_per_s": _rate(records, "append", "upsert"),
            "op.maintain_p50_ms": _p50(records, "maintain"),
            "op.verify_p50_ms": _p50(records, "verify"),
            "op.bytes_per_user_byte": self.bytes_per_user_byte,
        }

    def final_check(self) -> bool:
        """Whole final array state against the model, read in-process
        (outside any timed interval)."""
        from tiledb_mariadb_spark.sources.tiledb_array import (  # noqa: PLC0415
            NativeDecoderBackend,
        )

        got = NativeDecoderBackend().read_range(
            self.uri, [(None, None)], ["k", "v", "q"]
        )
        got = {c: got[c].to_numpy() for c in ("k", "v", "q")}
        ks = np.nonzero(self.live)[0]
        order = np.argsort(got["k"], kind="stable")
        self.bytes_per_user_byte = _dir_bytes(self.uri) / max(
            1, len(ks) * self.USER_BYTES_PER_ROW
        )
        return (
            np.array_equal(got["k"][order], ks)
            and np.array_equal(got["v"][order], self.V[ks])
            and np.array_equal(got["q"][order], self.Q[ks])
        )


# --- native_mixed ---------------------------------------------------------------


class NativeMixed(Workload):
    """PointRange's reads and IngestMaintain's writes, interleaved one
    for one in a single session: every native layer is entered in one
    run, and a read-side gain that costs writes or space shows here."""

    name = "native_mixed"

    def __init__(self, ctx, seed: int) -> None:
        super().__init__(ctx, seed)
        read_seed, write_seed = np.random.SeedSequence(seed).spawn(2)
        self.reads = PointRange(ctx, read_seed)
        self.writes = IngestMaintain(ctx, write_seed)
        self.CYCLE = tuple(k for pair in zip(self.reads.CYCLE,
                                             self.writes.CYCLE) for k in pair)
        self.owner = {**dict.fromkeys(self.reads.CYCLE, self.reads),
                      **dict.fromkeys(self.writes.CYCLE, self.writes)}

    def prepare(self) -> None:
        self.reads.prepare()
        self.writes.prepare()

    def setup(self) -> None:
        # independent warm-ups: the Python planner processes of one
        # overlap the Spark jobs of the others
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(self.warm_workers),
                      pool.submit(self.reads.setup),
                      pool.submit(self.writes.setup)]:
                f.result()

    def make_args(self, kind: str) -> dict:
        return self.owner[kind].make_args(kind)

    def execute(self, op):
        return self.owner[op.kind].execute(op)

    def check(self, op, result) -> bool:
        return self.owner[op.kind].check(op, result)

    def trace_before(self, op) -> None:
        self.owner[op.kind].trace_before(op)

    def trace(self, op, result) -> None:
        self.owner[op.kind].trace(op, result)

    def kind_metrics(self, records) -> dict:
        return {**self.reads.kind_metrics(records),
                **self.writes.kind_metrics(records)}

    def final_check(self) -> bool:
        return self.writes.final_check()


# --- sql_tpch -------------------------------------------------------------------


class SqlTpch(Workload):
    """Existing parquet suite queries at sf0.1 in a seeded order — the
    MariaDB-side executor delegated to Spark; no native layer runs."""

    name = "sql_tpch"
    SF = 0.1
    WARM_RUNS = 3
    CYCLE = ("q01_pricing_summary", "q12_count_distinct", "q16_setops",
             "q31_join_multi", "q51_window_running", "q100_volume_shipping")

    def prepare(self) -> None:
        import duckdb  # noqa: PLC0415

        from perfbench.tpch import TABLES, write_tables  # noqa: PLC0415
        from tiledb_mariadb_spark.plans.oracle import (  # noqa: PLC0415
            result_fingerprint,
        )
        from tiledb_mariadb_spark.suite import all_specs  # noqa: PLC0415

        self.sf_dir = os.path.join(self.ctx.run_dir, "tpch")
        write_tables(self.sf_dir, self.seed, self.SF)
        specs = all_specs()
        self.specs = {q: specs[q] for q in self.CYCLE}
        self.want = {}
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
            for q, spec in self.specs.items():
                cur = con.execute(spec.oracle)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                self.want[q] = (sorted(cols), len(rows),
                                result_fingerprint(cols, rows))
        finally:
            con.close()
        self._fingerprint = result_fingerprint

    def setup(self) -> None:
        # the first execution of each query compiles its generated code,
        # and the JIT keeps speeding it up over the next two: warm every
        # query WARM_RUNS times, side by side, as the cores are otherwise
        # idle here
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(
                lambda spec: spec.spark(self.spark, self.sf_dir).collect(),
                [s for _ in range(self.WARM_RUNS) for s in self.specs.values()],
            ))

    def ops(self):
        i = 0
        while True:
            for q in self.rng.permutation(self.CYCLE):
                yield Op(i, str(q))
                i += 1

    def execute(self, op):
        df = self.specs[op.kind].spark(self.spark, self.sf_dir)
        return list(df.columns), [tuple(r) for r in df.collect()]

    def check(self, op, result) -> bool:
        cols, rows = result
        return self.want[op.kind] == (
            sorted(cols), len(rows), self._fingerprint(cols, rows)
        )

    def kind_metrics(self, records) -> dict:
        return {f"suite.{q}_ms": _p50(records, q) for q in self.CYCLE}


WORKLOADS = {w.name: w for w in (NativeMixed, SqlTpch)}
