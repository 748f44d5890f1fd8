"""Run one workload: confined Spark session, closed op loop, metrics.

Everything a run writes lives under ``<checkout>/.perfbench/`` — the
per-run temp dir (arrays, parquet, Spark local dirs, the session's
warehouse, JVM temp files) is removed when the run ends; traced runs keep
their span dump under ``.perfbench/spans/``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
HEAP, YOUNG = "3g", "512m"  # JVM heap and its young generation
E2E_UNITS = {"setup_s": "s", "ops_per_s": "ops/s", "op_p50_ms": "ms",
             "peak_rss_mb": "MB"}


@dataclass
class Op:
    id: int
    kind: str
    args: dict = field(default_factory=dict)


@dataclass
class OpRecord:
    op: Op
    latency_s: float  # the op's call alone
    busy_s: float  # the op plus its answer check: one closed-loop turn
    ok: bool
    traced: bool = False
    error: str | None = None
    units: float = 0.0  # cells / rows the op moved, for per-second rates


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


# --- process-tree memory ---------------------------------------------------


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[str, int]]]:
    children: dict[int, list[int]] = defaultdict(list)
    info: dict[int, tuple[str, int]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        r = s.rfind(")")
        comm = s[s.find("(") + 1:r]
        rest = s[r + 2:].split()
        pid = int(d)
        children[int(rest[1])].append(pid)
        info[pid] = (comm, int(rest[21]) * page)
    return children, info


def tree_rss_mb(root: int) -> tuple[float, float, float]:
    """(driver, jvm, python workers) resident MB of ``root``'s tree: the
    JVM is the client process's ``java`` child, workers are everything below it."""
    children, info = _proc_table()
    driver = info.get(root, ("", 0))[1]
    jvm = workers = 0
    for c in children.get(root, []):
        comm, rss = info.get(c, ("", 0))
        if comm != "java":
            driver += rss
            continue
        jvm += rss
        stack = list(children.get(c, []))
        while stack:
            p = stack.pop()
            workers += info.get(p, ("", 0))[1]
            stack.extend(children.get(p, []))
    mb = 1024 * 1024
    return driver / mb, jvm / mb, workers / mb


class RssSampler:
    """Background sampler of the process tree's resident memory; keeps
    the peak of the total and of each part, and the peak total seen
    while ``phase`` was set to each value."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self.phase: str | None = None
        self.phase_peak: dict[str, float] = defaultdict(float)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        d, j, w = tree_rss_mb(os.getpid())
        for k, v in (("driver", d), ("jvm", j), ("workers", w),
                     ("total", d + j + w)):
            self.peak[k] = max(self.peak[k], v)
        if self.phase is not None:
            self.phase_peak[self.phase] = max(self.phase_peak[self.phase],
                                              d + j + w)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# --- session ---------------------------------------------------------------


def confine_environment(run_dir: str) -> None:
    """Point every scratch location of the session at ``run_dir`` and
    make the repo importable in Spark's Python workers.  Must run before
    the JVM starts."""
    cpus = cpu_count()
    want = int(os.environ.get("SPARK_GRAFT_CPUS", cpus))
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, min(want, cpus)))
    # 4 cores / 15 GB sized: every working set peaks well under 1 GB of
    # JVM heap, and the Python workers share the rest
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local

    from pyspark.sql import SparkSession  # noqa: PLC0415

    original = SparkSession.Builder.getOrCreate
    # a fixed heap and young generation: left adaptive, G1 grows eden by
    # GC timing and the JVM's resident size swings by a third run to run
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{HEAP} -Xmn{YOUNG}")

    def get_or_create(builder):
        # applied last, so it wins over get_spark's fixed warehouse path
        builder.config("spark.sql.warehouse.dir",
                       os.path.join(run_dir, "warehouse"))
        builder.config("spark.driver.extraJavaOptions", java_opts)
        builder.config("spark.ui.showConsoleProgress", "false")
        return original(builder)

    SparkSession.Builder.getOrCreate = get_or_create


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop the session, end its JVM and wait until the JVM and every
    process below it (Python workers, their subprocesses) have exited."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:  # a JVM this process did not launch
        return
    children, _ = _proc_table()
    tree, stack = [], [proc.pid]
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack.extend(children.get(pid, []))
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(map(_alive, tree)) and time.monotonic() < deadline:
        time.sleep(0.1)


@dataclass
class Context:
    spark: object
    run_dir: str
    cpus: int
    tracer: Tracer
    sampler: RssSampler | None = None
    layer: dict = field(default_factory=dict)  # per-layer metric values


# --- Spark per-op accounting ------------------------------------------------


def _wait_listener_bus(spark) -> None:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:  # noqa: BLE001 - best effort across Spark versions
        time.sleep(0.5)


def spark_group_metrics(spark, group: str) -> dict:
    """Jobs, tasks, executor run time, shuffle bytes and failed tasks of
    one job group, read from the status tracker and status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = {"jobs": len(jobs), "tasks": 0, "run_ms": 0.0, "shuffle": 0.0,
           "failed": 0}
    for s in stages:
        try:
            sd = store.lastStageAttempt(int(s))
        except Exception:  # noqa: BLE001 - a skipped stage has no attempt
            continue
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["failed"] += sd.numFailedTasks()
        out["run_ms"] += sd.executorRunTime()
        out["shuffle"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
    return out


# --- the run -----------------------------------------------------------------


def closed_loop(wl, ctx: Context, seconds: float, trace: bool):
    """One client: the next op is sent only after the previous one
    returned and was checked against the model.

    The loop stops only between whole cycles of the workload's op
    pattern (``CYCLE``), at the first cycle boundary after ``seconds``,
    so every run holds the same op mix.  With ``trace`` it runs at least
    two cycles and traces every other occurrence of each op kind,
    starting with the first occurrence for every other kind: the traced
    and untraced halves hold the same op mix, and warm-up falls on both
    alike.  A traced op runs in its own Spark job group; the workload's
    per-layer snapshot before it and replay after it run outside its
    timed interval.  The untraced half is the baseline the tracing
    overhead is measured against."""
    records: list[OpRecord] = []
    sc = ctx.spark.sparkContext if trace else None
    groups: list[str] = []
    per_cycle = len(wl.CYCLE)
    min_cycles = 2 if trace else 1
    seen: dict[str, int] = defaultdict(int)  # occurrences of each kind
    start = time.perf_counter()
    for op in wl.ops():
        if (op.id % per_cycle == 0 and op.id // per_cycle >= min_cycles
                and time.perf_counter() - start >= seconds):
            break
        traced = ctx.tracer.enabled = trace and (
            seen[op.kind] + wl.CYCLE.index(op.kind)) % 2 == 1
        seen[op.kind] += 1
        ctx.tracer.op = op.id
        if ctx.sampler is not None:
            ctx.sampler.phase = "traced" if traced else "untraced"
        if traced:
            wl.trace_before(op)
        error = result = None
        t0 = time.perf_counter()
        if traced:
            groups.append(f"perfbench-op-{op.id}")
            sc.setJobGroup(groups[-1], op.kind)
        try:
            with ctx.tracer.span(f"op.{op.kind}"):
                result = wl.execute(op)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            error = f"{type(e).__name__}: {e}"[:300]
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        t1 = time.perf_counter()
        ok = False
        if error is None:
            try:
                ok = wl.check(op, result)
            except Exception as e:  # noqa: BLE001 - malformed result
                error = f"check: {type(e).__name__}: {e}"[:300]
        t2 = time.perf_counter()
        if ok and traced:
            wl.trace(op, result)
        records.append(OpRecord(
            op=op, latency_s=t1 - t0, busy_s=t2 - t0, ok=ok, traced=traced,
            error=error, units=wl.units(op, result) if ok else 0.0,
        ))
        if not ok:
            print(f"perfbench: op {op.id} {op.kind} failed: "
                  f"{error or 'wrong answer'}", file=sys.stderr)
    ctx.tracer.enabled = False
    if ctx.sampler is not None:
        ctx.sampler.phase = None
    return records, groups


def _spark_layer(spark, groups: list[str]) -> dict:
    if not groups:
        return {}
    _wait_listener_bus(spark)
    per = [spark_group_metrics(spark, g) for g in groups]
    n = len(per)
    return {
        "spark.jobs_per_op": sum(p["jobs"] for p in per) / n,
        "spark.tasks_per_op": sum(p["tasks"] for p in per) / n,
        "spark.executor_run_ms": sum(p["run_ms"] for p in per) / n,
        "spark.shuffle_bytes": sum(p["shuffle"] for p in per) / n,
        "spark.failed_tasks": float(sum(p["failed"] for p in per)),
    }


def failed_op_ratio(records: list[OpRecord]) -> float:
    """Failed ops (exceptions and wrong answers) out of all attempted."""
    return sum(not r.ok for r in records) / len(records)


def op_metrics(records: list[OpRecord]) -> dict[str, float]:
    """The end-to-end metrics the op loop alone decides.  A run holds
    at most a few dozen ops, too few for a tail percentile with ten
    samples beyond it, so latency is reported as the median alone."""
    return {
        "ops_per_s": len(records) / sum(r.busy_s for r in records),
        "op_p50_ms": statistics.median(r.latency_s * 1e3 for r in records),
    }


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.workloads import LAYER_METRICS, WORKLOADS  # noqa: PLC0415

    t_start = time.perf_counter()
    os.makedirs(STATE_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{name}-", dir=STATE_DIR)
    sampler = RssSampler()
    spark = None
    try:
        confine_environment(run_dir)
        sampler.start()
        from tiledb_mariadb_spark.session import get_spark  # noqa: PLC0415

        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        ctx = Context(spark=None, run_dir=run_dir, cpus=cpus,
                      tracer=Tracer(enabled=False), sampler=sampler)
        wl = WORKLOADS[name](ctx, seed)
        # input generation needs no Spark: overlap it with session start
        with ThreadPoolExecutor(max_workers=1) as pool:
            prepared = pool.submit(wl.prepare)
            t0 = time.perf_counter()
            spark = ctx.spark = get_spark(f"perfbench-{name}")
            t1 = time.perf_counter()
            ctx.layer["session.start_s"] = t1 - t0
            prepared.result()
        t2 = time.perf_counter()
        wl.setup()  # registration + warm-up of every op path
        setup_s = time.perf_counter() - t_start
        print(f"perfbench: setup {setup_s:.2f}s (session {t1 - t0:.2f}s, "
              f"inputs ready +{t2 - t1:.2f}s, workload setup "
              f"{time.perf_counter() - t2:.2f}s)", file=sys.stderr)

        records, groups = closed_loop(wl, ctx, seconds, trace)
        correct = wl.final_check()
        if trace:
            ctx.layer.update(_spark_layer(spark, groups))
            ctx.layer.update(wl.layer_metrics(records))
            spans_dir = os.path.join(STATE_DIR, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(spans_dir, f"{name}-seed{seed}.json"))
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for r in records if not r.ok)
    if trace:
        # tracing overhead: the traced ops minus the untraced ones of the
        # same run, metric by metric
        base = op_metrics([r for r in records if not r.traced])
        with_trace = op_metrics([r for r in records if r.traced])
        layer = dict.fromkeys(LAYER_METRICS, 0.0)
        layer.update(ctx.layer)
        for k, v in with_trace.items():
            layer[f"trace.overhead_{k}"] = v - base[k]
        # no setup_s overhead: set-up runs untraced in both modes
        layer["trace.overhead_peak_rss_mb"] = (
            sampler.phase_peak["traced"] - sampler.phase_peak["untraced"])
        layer["op.failed_op_ratio"] = failed_op_ratio(records)
        layer["proc.driver_rss_mb"] = sampler.peak["driver"]
        layer["proc.jvm_rss_mb"] = sampler.peak["jvm"]
        layer["proc.workers_rss_mb"] = sampler.peak["workers"]
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in LAYER_METRICS.items()}
    else:
        e2e = {"setup_s": setup_s, **op_metrics(records),
               "peak_rss_mb": sampler.peak["total"]}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    kinds = defaultdict(list)
    for r in records:
        kinds[r.op.kind].append(r.latency_s * 1e3)
    print(
        f"perfbench: {name} seed={seed} ops={len(records)} failed={failed} "
        + " ".join(f"{k}:n={len(v)},p50={statistics.median(v):.1f}ms"
                   for k, v in sorted(kinds.items())),
        file=sys.stderr,
    )
    return {
        "correct": bool(correct) and failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }

