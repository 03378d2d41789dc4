"""Session set-up (plans/session.py). Sessions from ``get_spark``
launch their Python workers through ``plans/worker_python.sh``, which
drops Spark's zipped pyspark, py4j and spark-core archives from the
worker path, and only when a probe shows the worker interpreter's own
pyspark matches the JVM's version. Their generated-code cache holds
1024 classes, so a warm working set larger than Spark's default of 100
is not recompiled."""

from __future__ import annotations

import os
import stat

import pyspark.sql.functions as F

from logdb_spark.plans.session import (
    WORKER_LAUNCHER,
    codegen_compiles,
    spark_python_path,
    worker_launcher,
)
from logdb_spark.sources.load import load_table
from tests.conftest import SF_SMALL


def _worker_report(spark):
    """(sys.path, pyspark.__file__) as seen inside a mapInArrow task."""
    import pyarrow as pa

    def report(batches):
        import sys

        import pyspark

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"path": [sys.path], "init": [pyspark.__file__]}
            )

    rows = (
        spark.range(2)
        .repartition(2)
        .mapInArrow(report, "path array<string>, init string")
        .collect()
    )
    assert len(rows) == 2
    return rows[0]["path"], rows[0]["init"]


def test_get_spark_uses_worker_launcher(spark):
    assert spark.sparkContext.pythonExec == WORKER_LAUNCHER


def test_worker_path_holds_no_spark_archive(spark):
    archives = spark_python_path(spark).split(os.pathsep)
    assert any(a.endswith("pyspark.zip") for a in archives)
    path, _ = _worker_report(spark)
    assert not set(archives) & set(path)
    assert not any(p.endswith(("pyspark.zip", ".jar")) for p in path)


def test_worker_pyspark_is_not_zipped(spark):
    _, init = _worker_report(spark)
    # A module imported from an archive reports a path inside it
    # (``.../pyspark.zip/pyspark/__init__.py``), not a file on disk.
    assert ".zip" + os.sep not in init
    assert os.path.isfile(init)


def test_txlog_feed_rows_match_in_process_read(spark, tmp_path):
    """A txlogstream batch read (schema, planning and read tasks all on
    launcher-started workers) returns exactly the rows the same reader
    code yields when run in this process, in both feed modes."""
    import pyarrow as pa

    from logdb_spark.sources.txlogstream import (
        _feed_fields,
        _plan,
        _read_slice,
        register_txlogstream,
    )
    from logdb_spark.tablefmt import TxTable, write_grouped

    ev = (
        load_table(spark, SF_SMALL, "events")
        .withColumn("g", F.dayofmonth("ts") % 4)
        .select("event_id", "user_id", "event_type", "value", "g")
    )
    tx = TxTable(spark, str(tmp_path / "tbl"))
    tx.commit(write_grouped(ev.filter("user_id % 2 = 0"), tx.root, "c1", "event_id"))
    tx.commit(write_grouped(ev.filter("user_id % 2 = 1"), tx.root, "c2", "event_id"))

    register_txlogstream(spark)
    fields = _feed_fields(tx.root)
    for cdf in (False, True):
        reader = spark.read.format("txlogstream").option("path", tx.root)
        if cdf:
            reader = reader.option("mode", "cdf")
        feed = reader.load()
        got = sorted(tuple(r) for r in feed.collect())
        local = pa.Table.from_batches(
            [
                b
                for part in _plan(tx.root, 0, 2, cdf=cdf)
                for b in _read_slice(part, fields, cdf=cdf)
            ]
        )
        want = sorted(zip(*(local.column(c).to_pylist() for c in feed.columns)))
        assert len(got) == ev.count() and got == want


def _stub(tmp_path, name: str, body: str) -> str:
    """An executable sh script standing in for the worker interpreter:
    the probe runs it as ``<stub> -c <code>`` through the launcher."""
    path = tmp_path / name
    path.write_text("#!/bin/sh\n" + body)
    path.chmod(path.stat().st_mode | stat.S_IXUSR)
    return str(path)


def _report_stub(tmp_path, name: str, version: str) -> str:
    # Reports pyspark ``version`` loaded from the stub file itself, the
    # stub as sys.executable, and the PYTHONPATH it was started with
    # as sys.path.
    return _stub(
        tmp_path,
        name,
        f'printf \'["%s", "%s", "%s", ["%s"]]\\n\' "{version}" "$0" "$0" '
        '"$(printf %s "$PYTHONPATH" | sed \'s/:/", "/g\')"\n',
    )


def test_probe_accepts_matching_version_and_strips_archives(spark, tmp_path):
    stub = _report_stub(tmp_path, "py_same", spark.version)
    drop = spark_python_path(spark)
    exec_, env = worker_launcher(stub, spark.version, drop)
    assert exec_ == WORKER_LAUNCHER
    assert env == {
        "LOGDB_WORKER_PYTHON": stub,
        "LOGDB_WORKER_PYTHONPATH_DROP": drop,
    }


def test_probe_keeps_default_on_version_mismatch(spark, tmp_path):
    stub = _report_stub(tmp_path, "py_other", spark.version + ".dev0")
    assert worker_launcher(stub, spark.version, spark_python_path(spark)) == (
        stub,
        {},
    )


def test_probe_keeps_default_when_probe_fails(spark, tmp_path):
    drop = spark_python_path(spark)
    for name, body in [
        ("py_exit", "echo broken >&2\nexit 1\n"),
        ("py_garbage", "echo not-json\n"),
        ("py_short", 'echo \'["x"]\'\n'),
        ("py_types", f"echo '[\"{spark.version}\", [1], 2, 3]'\n"),
    ]:
        stub = _stub(tmp_path, name, body)
        assert worker_launcher(stub, spark.version, drop) == (stub, {})
    missing = str(tmp_path / "no_such_python")
    assert worker_launcher(missing, spark.version, drop) == (missing, {})


def test_codegen_cache_keeps_a_warm_working_set(spark):
    """60 distinct projections compile about 120 classes, more than
    Spark's default cache of 100 holds: with that default the second
    round recompiles most of them, with 1024 it compiles none."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    # The multiplier is inlined into the generated source, so every
    # projection needs classes of its own.
    exprs = [f"id * {i} + 7 AS x" for i in range(1000, 1060)]

    def compiles_per_round() -> int:
        before = codegen_compiles(spark)
        for expr in exprs:
            spark.range(10).selectExpr(expr).collect()
        return codegen_compiles(spark) - before

    assert compiles_per_round() >= len(exprs)
    assert compiles_per_round() == 0
