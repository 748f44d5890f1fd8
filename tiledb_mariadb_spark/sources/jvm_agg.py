"""The JVM ``tiledb_agg`` format, every batch read of an array: build +
registration.

It is a DataSource V2 provider because the group_by_handler behavior
(TileDB-MariaDB mytile/ha_mytile.cc:607-715) needs aggregate pushdown,
which the Python DataSource API cannot express (it has no
``SupportsPushDownAggregates`` hook).  This module compiles
``java/TileDBAggDataSource.java`` against the installed pyspark jars
(plain ``javac``, no build system) and loads it into the session with
``ADD JAR``, after which

    spark.read.format("tiledb_agg").option("path", uri)...

answers ungrouped COUNT(*) / MIN / MAX / SUM entirely from fragment
metadata (zero data tiles decoded — the decode-poison test corrupts
every data file and the aggregates still come back), falling back to an
honest bridge row-scan when the metadata trust rules cannot prove the
value.  The Java side sends every command to a resident
``tools/jvm_bridge.py serve`` process of this interpreter, pooled per
JVM, so a pushed aggregate costs one request, not an interpreter start.
Row scans go the same way (Arrow IPC batches): :func:`agg_reader` is the
one batch read of an array, and the SQL table names
``sql_table_from_array`` registers are views over it.

Small reads run in the driver with no Spark job.  The bridge's
``splits`` reply marks a plan ``local`` when it has no split, or one
split of at most ``_CELLS_PER_TASK`` estimated cells (the size one task
is planned for, so running it in the driver gives up no parallelism).
The scan is then a DSv2 ``LocalScan``, which Spark plans as a
``LocalTableScanExec``, and ``collect()`` reads the split through the
same ``rows`` request a task would make.  Pushed aggregates are local
scans too; :func:`register_tiledb_agg` adds the planner strategy that
keeps the projection Spark puts over them in the driver as well.  Every
request of one query reads the snapshot (``at``) its plan was made at.
:func:`scan_descriptions` shows what a scan pushed, which a local
scan's executed plan does not print.

The jar is built once per checkout, by the first caller that finds it
missing or older than the Java source; concurrent callers, threads or
processes, wait on a lock in the build directory and reuse that build.
"""

from __future__ import annotations

import fcntl
import os
import subprocess
import sys
import threading

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)
)))
_JAVA_SRC = os.path.join(_REPO, "java", "TileDBAggDataSource.java")
_SERVICE = "org.apache.spark.sql.sources.DataSourceRegister"


def _pyspark_jars() -> str:
    import pyspark  # noqa: PLC0415

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def _jar_fresh(jar_path: str) -> bool:
    return (
        os.path.isfile(jar_path)
        and os.path.getmtime(jar_path) >= os.path.getmtime(_JAVA_SRC)
    )


def ensure_agg_jar(build_dir: str | None = None) -> str:
    """Compile the shim into ``build/jvm/tiledb_agg.jar`` (cached by
    source mtime).  Builders serialize on an ``flock`` in the build
    directory and re-check the jar once they hold it, so concurrent
    first callers run ``javac`` once and never write ``classes`` while
    another packs it.  Needs a JDK (javac + jar) — raises RuntimeError
    with the compiler output otherwise."""
    build_dir = build_dir or os.path.join(_REPO, "build", "jvm")
    jar_path = os.path.join(build_dir, "tiledb_agg.jar")
    if _jar_fresh(jar_path):
        return jar_path
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if _jar_fresh(jar_path):  # built while this caller waited
            return jar_path
        classes = os.path.join(build_dir, "classes")
        os.makedirs(classes, exist_ok=True)
        meta = os.path.join(build_dir, "META-INF", "services")
        os.makedirs(meta, exist_ok=True)
        with open(os.path.join(meta, _SERVICE), "w") as f:
            f.write("TileDBAggDataSource\n")
        cp = os.path.join(_pyspark_jars(), "*")
        tmp_jar = jar_path + ".tmp"
        for argv in (
            ["javac", "-cp", cp, "-d", classes, _JAVA_SRC],
            ["jar", "cf", tmp_jar, "-C", classes, ".",
             "-C", build_dir, "META-INF"],
        ):
            r = subprocess.run(argv, capture_output=True, text=True)
            if r.returncode != 0:
                raise RuntimeError(
                    f"jvm_agg build failed ({argv[0]}): {r.stderr[:2000]}"
                )
        os.replace(tmp_jar, jar_path)  # readers never see a partial jar
    return jar_path


_REGISTERED: set = set()
_REGISTER_LOCK = threading.Lock()


def register_tiledb_agg(spark) -> None:
    """Compile if needed and ADD JAR into this session once (safe from
    concurrent threads), then let the calling thread resolve the
    format: ADD JAR makes the session's jar class loader the context
    class loader of the JVM thread that ran it only, and py4j gives
    every Python thread its own JVM thread.  Last, add the planner
    strategy that keeps a projection over a local scan (a pushed
    aggregate's aliases) in the driver to this session, once."""
    jar = ensure_agg_jar()
    key = (id(spark.sparkContext), jar)
    with _REGISTER_LOCK:
        if key not in _REGISTERED:
            spark.sql(f"ADD JAR 'file://{jar}'")
            _REGISTERED.add(key)
    spark._jvm.java.lang.Thread.currentThread().setContextClassLoader(
        spark._jsparkSession.sharedState().jarClassLoader()
    )
    spark._jvm.TileDBAggDataSource.installStrategy(spark._jsparkSession)


def scan_descriptions(df) -> list[str]:
    """``scan().description()`` of every DataSourceV2 scan relation in
    ``df``'s optimized plan.  A local scan's executed plan is a
    ``LocalTableScan`` that prints no scan description, so this is where
    pushed conditions, limits and aggregates stay visible.  Optimizing
    makes the scan's planning request, not its rows request."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.getClass().getSimpleName() == "DataSourceV2ScanRelation":
            out.append(node.scan().description())
    return out


def agg_reader(spark, uri: str, **options):
    """A DataFrameReader for ``format("tiledb_agg")`` preconfigured
    with this interpreter + repo (the Java side's resident bridges run
    them to reach the Python decoder)."""
    register_tiledb_agg(spark)
    r = (
        spark.read.format("tiledb_agg")
        .option("path", uri)
        .option("python", sys.executable)
        .option("pythonpath", _REPO)
    )
    for k, v in options.items():
        r = r.option(k, str(v))
    return r
