"""SparkSession configuration.

Two paths:
- ``configure(spark)`` — applied to an EXISTING session (the driver owns
  the SparkSession it passes to ``entry``/``queries``). All confs used
  here are runtime-settable SQL confs (probe-verified on PySpark 4.1.2).
- ``get_spark()`` — builds a session for tests/bench with the same confs
  plus local-mode sizing.

Scale posture: these confs are the local-mode projection of a cluster
config. At 100 TB the same knobs hold (AQE coalesce/skew-join do the
runtime sizing); only ``shuffle.partitions``' floor changes — AQE's
coalescing makes a high initial value safe on a big cluster, while the
advisory partition size keeps post-shuffle partitions executor-sized.

Python worker launcher (``use_worker_launcher``, run by ``get_spark``).
Spark puts three archives first on every Python worker's PYTHONPATH:
``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip`` and the
``spark-core_*.jar``. At the start of every task and every Python
data-source planning call (``schema()``, reader set-up), pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
and on CPython 3.11 that makes every zipimporter made from those
archives re-read its whole archive directory: about 0.25-0.3 s of CPU
per call, against a few ms of real work for a small ``txlogstream``
read, and one change-feed read pays it three times (schema, planning,
each read task). ``get_spark`` therefore sets ``SparkContext.pythonExec``
— which every UDF, ``mapInArrow`` and data source captures when it is
wrapped for the JVM — to ``worker_python.sh`` next to this file. That
script drops exactly the entries ``PythonUtils.sparkPythonPath()``
names from PYTHONPATH and then runs the same interpreter the session
would have used, so workers import that interpreter's installed
(unzipped) pyspark. Version guard: a one-time probe runs the launcher
as a worker would be run and switches only when the interpreter imports
an unzipped pyspark whose ``__version__`` equals the JVM's
``spark.version`` and none of the archives stay on its path; any
mismatch or probe failure keeps Spark's default. Local masters only:
the launcher and the probed interpreter are paths on the machine that
builds the session. Measured on a 4-core x86-64 host (CPython 3.11.7, Spark
4.1.2): a trivial Python data source read (load, then collect) 0.82 -> 0.37 s
and a 4-partition ``mapInArrow`` 0.50 -> 0.29 s (medians), and the
``table_ingest`` benchmark's change-feed read 1.01 -> 0.33 s (medians
of 10 runs); the probe itself adds about 0.35 s to ``get_spark``.

Generated-code cache (``spark.sql.codegen.cache.maxEntries`` in
``STATIC_CONFS``). Spark keeps every class it compiles for generated
code (whole-stage code, projections, orderings) in one per-JVM cache
keyed by the generated source, and evicts the least recently used
class once the cache is full; Spark's default size is 100. One pass of
the ``log_interactive`` benchmark (10 registry operators, 7 ``LogDB``
calls) needs about 210 distinct classes, so with the default every
class was evicted before its next use and every warm pass recompiled
139-186 of them, at 13-15 ms each, both on the driver while planning
and inside each stage's task (local mode shares the cache). Measured
working sets: 46 classes for ``table_ingest``, about 210 for
``log_interactive`` and 3651 for one sweep of the whole 373-operator
registry at sf0.01, which grew metaspace from 79 to 252 MB, about
48 KB per class; a second sweep compiled only 14, so the generated
source is deterministic and caching it pays off. 1024 entries hold five
times the interactive working set and bound the cache to about 50 MB
of metaspace, where an unbounded cache would grow with every distinct
query shape. Static conf: ``configure`` cannot set it, so sessions
built elsewhere keep 100. ``tools/codegen_working_set.py`` measures a
working set and whether the cache holds it.
"""

from __future__ import annotations

import json
import os
import subprocess

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to ANY session that touches the
# fixture tables. Determinism + correctness critical:
#  - UTC session TZ: fixture timestamps are naive-UTC; DuckDB agrees.
#  - nanosAsLong: events.ts is parquet timestamp[ns], which PySpark
#    4.1.2 hard-fails on otherwise (PARQUET_TYPE_ILLEGAL). sources/load
#    converts the resulting epoch-nanos long back to a timestamp.
#  - AQE on (default in 4.x, pinned here): runtime partition coalescing,
#    skew-join splitting, dynamic broadcast conversion.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / applyInPandas / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Static (SparkConf-only) confs for sessions WE build — get_spark and
# the profiling tools. Not runtime-settable, so configure() cannot
# apply them to a driver-owned session; none of them affect results.
STATIC_CONFS: dict[str, str] = {
    # r14 (guide §2.2/§7.3): thread dumps of the 32-core bench showed
    # 24/31 executor threads RUNNABLE inside FileChannelImpl.map0 —
    # BypassMergeSortShuffleWriter writes one file PER REDUCE PARTITION
    # per map task and then concatenates them with transferTo, which
    # mmaps every source file; 32 concurrent tasks × 64 reduce
    # partitions serialize on the kernel's per-process mmap lock
    # (stage profile: 135 s task wall, 18 s CPU, zero GC/fetch).
    # Lowering the bypass threshold routes R>8 shuffles through the
    # serialized sort writer: ONE output file per map task, no
    # per-partition concat. Measured: log_triangle_count 5.8→3.2 s,
    # sample_dedup_weights 6.3→3.6 s at 32c. Scale-correct, not a
    # local[32] trick: at production reduce-partition counts (>200)
    # the bypass writer never fires at all, and M×R intermediate-file
    # explosion is the documented reason sort-based shuffle exists —
    # this conf only changes the small-R regime, in the direction of
    # fewer, larger files (§2.2, §6).
    "spark.shuffle.sort.bypassMergeThreshold": "8",
    # Generated-code cache (module docstring): Spark's default of 100
    # classes is half the ~210 one log_interactive pass needs, so LRU
    # eviction made every warm query recompile its classes.
    "spark.sql.codegen.cache.maxEntries": "1024",
}


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the code generator has compiled in this JVM so far: one
    per generated-code cache miss."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable on this build — leave the session's value.
            pass
    return spark


def default_shuffle_partitions() -> int:
    """Initial shuffle partitions: ~2x cores locally; AQE coalesces down.

    On a real cluster this would be 2-3x total executor cores (or simply
    a high value like 2000 with AQE coalescing); the env var override is
    the bench hook.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    return max(8, 2 * cpus)


# Python worker launcher (module docstring): a POSIX sh script next to
# this file, configured through two worker environment variables.
WORKER_LAUNCHER = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "worker_python.sh"
)
_ENV_PYTHON = "LOGDB_WORKER_PYTHON"
_ENV_DROP = "LOGDB_WORKER_PYTHONPATH_DROP"
# Run through the launcher exactly as a worker would be: prints the
# pyspark the interpreter imports, where from, and the resolved
# interpreter the launcher should exec from then on.
_PROBE = (
    "import json, sys, pyspark; print(json.dumps([pyspark.__version__, "
    "pyspark.__file__, sys.executable, sys.path]))"
)


def spark_python_path(spark: SparkSession) -> str:
    """The archive entries Spark puts first on every Python worker's
    PYTHONPATH (pyspark.zip, py4j-*-src.zip, spark-core_*.jar)."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.api.python.PythonUtils.sparkPythonPath()


def worker_launcher(
    python_exec: str, spark_version: str, drop: str
) -> tuple[str, dict[str, str]]:
    """(pythonExec, worker env additions) for a session whose default
    worker interpreter is ``python_exec``: the launcher plus its two
    variables when the probe shows that interpreter, with the ``drop``
    entries gone from its path, imports an unzipped pyspark of exactly
    ``spark_version``; otherwise ``(python_exec, {})``, Spark's
    default. Any probe failure (non-zero exit, timeout, garbage output)
    keeps the default."""
    env_add = {_ENV_PYTHON: python_exec, _ENV_DROP: drop}
    dropped = [p for p in drop.split(os.pathsep) if p]
    env = {**os.environ, **env_add}
    env["PYTHONPATH"] = os.pathsep.join(
        dropped + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        out = subprocess.run(
            [WORKER_LAUNCHER, "-c", _PROBE],
            env=env,
            capture_output=True,
            text=True,
            timeout=60,
            check=True,
        )
        version, init_file, exe, path = json.loads(out.stdout.splitlines()[-1])
        usable = (
            version == spark_version
            and isinstance(exe, str)
            and exe != ""
            and os.path.isfile(init_file)
            and not set(dropped) & set(path)
        )
    except (OSError, subprocess.SubprocessError, ValueError, IndexError, TypeError):
        usable = False
    if not usable:
        return python_exec, {}
    return WORKER_LAUNCHER, {**env_add, _ENV_PYTHON: exe}


def use_worker_launcher(spark: SparkSession) -> None:
    """Point a local-mode session's Python workers at the launcher when
    ``worker_launcher``'s probe allows it. Must run before any UDF or
    data source is created: each captures ``pythonExec`` when it is
    wrapped for the JVM."""
    sc = spark.sparkContext
    # Already switched (getOrCreate returned this session), or the
    # launcher path and the probed interpreter, both local paths,
    # would not exist on a cluster's executors.
    if (
        sc.pythonExec == WORKER_LAUNCHER
        or os.name != "posix"
        or not sc.master.startswith("local")
    ):
        return
    sc.pythonExec, env_add = worker_launcher(
        sc.pythonExec, sc.version, spark_python_path(spark)
    )
    sc.environment.update(env_add)


def get_spark(app_name: str = "logdb-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(default_shuffle_partitions()))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Keep stdout clean: bench.py's contract is ONE JSON line on
        # stdout, and the JVM's console progress bar writes there.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in {**STATIC_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    use_worker_launcher(spark)
    return configure(spark)
