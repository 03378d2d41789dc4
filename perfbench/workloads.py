"""The benchmark's workloads.

Each workload runs a fixed list of operations once per *pass*; the
seed fixes the inputs, the call parameters and the order of the
operations within every pass. One client issues one operation at a
time (closed loop) against the session ``plans.session.get_spark``
builds on ``local[nproc]``.

* ``log_interactive`` — short mixed log, TPC-H and text-search
  queries: registry operators from ``operators.{logops,windows,sorts,
  filters,scans,aggs,analytics,joins,llm}`` plus the ``LogDB`` facade
  calls. Cost is fixed per-query overhead (plan building, eager
  validation jobs, job scheduling).
* ``table_ingest`` — micro-batch appends to a ``tablefmt.TxTable``
  with a read-after-write aggregate, a ``txlogstream`` change-feed read
  and ``maybe_checkpoint`` per batch, and periodic equality deletes so
  reads take the merge-on-read path.

Every operation is timed from the client: ``build`` is the call that
returns the DataFrame (plan building plus any eager actions), ``exec``
the action that runs it and brings the complete result to the client
(``toPandas``). The warm-up pass runs the same two steps through the
output checks (``tools.diffcheck.check_one`` for registry operators),
so it warms exactly the path the timed passes take; the checks never
run inside the timed window.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np
from spans import job_group

VOCAB_TERMS = ["join", "hash", "window", "stream", "vector", "merge", "query", "spark"]


class OracleClock:
    """DuckDB connection proxy that times the oracle side of a check,
    so set-up time can exclude the benchmark's own checking work."""

    def __init__(self, con) -> None:
        self.con = con
        self.seconds = 0.0

    def execute(self, sql: str):
        t0 = time.perf_counter()
        frame = self.con.execute(sql).df()
        self.seconds += time.perf_counter() - t0
        return _Frame(frame)

    def timed(self, fn):
        def inner(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0

        return inner


class _Frame:
    def __init__(self, frame) -> None:
        self._frame = frame

    def df(self):
        return self._frame


class Workload:
    """Shared pass bookkeeping: op latencies, failures, checks."""

    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_latencies: list[float] = []  # timed passes only

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"FAILED {what}", flush=True)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check {what}: {detail}")

    def rng(self, *key: int) -> np.random.Generator:
        return np.random.default_rng([self.ctx.seed, *key])

    def timed_op(self, layer: str, op_id: str, build) -> None:
        """Build one operation, then collect its result; a raise counts
        as a failed operation and the pass goes on."""
        tr, spark = self.tracer, self.spark
        tr.op = op_id
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(f"{layer}.build"), job_group(spark, tr, f"{layer}|build|{op_id}"):
                df = build()
            with tr.span(f"{layer}.exec"), job_group(spark, tr, f"{layer}|exec|{op_id}"):
                df.toPandas()
        except Exception:
            traceback.print_exc()
            self.fail(f"{op_id} raised")
            return
        finally:
            tr.op = None
        self.op_latencies.append(time.perf_counter() - t0)

    def final_checks(self) -> None:
        pass

    def extra_metrics(self) -> dict:
        return {}


# ---------------------------------------------------------------- queries


class LogInteractive(Workload):
    """Registry operators, each checked through tools.diffcheck, and
    LogDB facade calls with seeded parameters."""

    name = "log_interactive"
    OPERATORS = (
        "log_error_rate",
        "log_sessionize_gap",
        "win_rolling_zscore",
        "topk_per_group",
        "filter_like_regex",
        "scan_predicate_pushdown",
        "agg_pricing_summary",
        "sql_q3_shipping_priority",
        "join_asof_latest_event",
        "text_search_bm25",
    )
    # Facade calls whose result is compared across passes instead of
    # against DuckDB SQL.
    SELF_CHECKED = ("sessionize", "lifecycle", "search_ranked")

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from tools import diffcheck

        from logdb_spark.api import LogDB

        self.diffcheck = diffcheck
        self.oracle = OracleClock(diffcheck.oracle_connection(ctx.sf_dir))
        # check_one looks canon_frame up at call time: time it as oracle work.
        diffcheck.canon_frame = self.oracle.timed(diffcheck.canon_frame)

        self.db = LogDB(self.spark)
        sf = ctx.sf_dir
        self.db.ingest_parquet(os.path.join(sf, "events.parquet"), "events")
        self.db.ingest_parquet(os.path.join(sf, "documents.parquet"), "documents")
        self.params = self._params()
        self.first_results: dict[str, list] = {}

    def _params(self) -> dict:
        r = self.rng(0)
        day = int(r.integers(1, 24))
        span = int(r.integers(2, 7))
        return {
            "search": {
                "pattern": str(r.choice(["error", "sign(up)?", "purchase|click", "vi.w"])),
                "columns": ["event_type"],
                "since": f"2024-01-{day:02d}",
                "until": f"2024-01-{day + span:02d}",
            },
            "tail": {"n": int(r.integers(10, 51))},
            "histogram": {
                "bucket": str(r.choice(["30 minutes", "1 hour", "1 day"])),
                "by": "event_type",
            },
            "top": {"by": "user_id", "n": int(r.integers(5, 21))},
            "sessionize": {"gap": str(r.choice(["15 minutes", "30 minutes", "1 hour"]))},
            "lifecycle": {},
            "search_ranked": {
                "terms": [str(t) for t in r.choice(VOCAB_TERMS, 2, replace=False)],
                "k": int(r.integers(5, 21)),
                "id_col": "doc_id",
            },
        }

    def _facade_args(self, method: str) -> tuple[tuple, dict]:
        table = "documents" if method == "search_ranked" else "events"
        return (table,), dict(self.params[method])

    def operations(self) -> list[tuple]:
        """(layer, name, build, registry operator or None) per
        operation of one pass."""
        out = []
        for name in self.OPERATORS:
            op = self.ctx.ops[name]
            layer = "operators." + op.fn.__module__.rsplit(".", 1)[-1]
            out.append((layer, name, (lambda o=op: o.fn(self.spark, self.ctx.sf_dir)), op))
        for method in self.params:
            args, kwargs = self._facade_args(method)
            fn = getattr(self.db, method)
            out.append((f"api.{method}", method, (lambda f=fn, a=args, k=kwargs: f(*a, **k)), None))
        return out

    def _oracle_sql(self, method: str) -> str | None:
        p = self.params[method]
        if method == "search":
            return (
                "SELECT * FROM events WHERE ts >= TIMESTAMP '{since}' AND ts < TIMESTAMP '{until}' "
                "AND regexp_matches(event_type, '{pattern}')".format(**p)
            )
        if method == "tail":
            return f"SELECT * FROM events ORDER BY ts DESC LIMIT {p['n']}"
        if method == "histogram":
            return (
                f"SELECT time_bucket(INTERVAL '{p['bucket']}', ts) AS bucket, {p['by']}, "
                f"count(*) AS n FROM events GROUP BY ALL"
            )
        if method == "top":
            return (
                f"SELECT {p['by']}, count(*) AS value FROM events GROUP BY {p['by']} "
                f"ORDER BY value DESC, {p['by']} LIMIT {p['n']}"
            )
        return None

    def run_pass(self, index: int, timed: bool) -> None:
        ops = self.operations()
        order = self.rng(1, index).permutation(len(ops))
        for i in order:
            layer, name, build, op = ops[i]
            op_id = f"p{index}.{i}.{name}"
            if timed:
                self.timed_op(layer, op_id, build)
            else:
                self.check_operation(layer, name, op_id, build, op)

    def _canon(self, pdf) -> tuple:
        return self.oracle.timed(self.diffcheck.canon_frame)(pdf)

    def check_operation(self, layer, name, op_id, build, op) -> None:
        self.tracer.op = op_id
        try:
            with self.tracer.span(f"{layer}.check"):
                if op is not None:
                    ok, msg = self.diffcheck.check_one(self.spark, self.oracle, op, self.ctx.sf_dir)
                elif name in self.SELF_CHECKED:
                    self.first_results[name] = self._canon(build().toPandas())
                    ok, msg = True, ""
                else:
                    got = self._canon(build().toPandas())
                    want = self._canon(self.oracle.execute(self._oracle_sql(name)).df())
                    ok, msg = got == want, f"{len(got[1])} rows vs oracle {len(want[1])}"
        except Exception as exc:
            traceback.print_exc()
            ok, msg = False, f"{type(exc).__name__}: {exc}"
        self.tracer.op = None
        self.check(name, ok, msg)

    def final_checks(self) -> None:
        """Self-checked facade calls: a later pass must return exactly
        the first pass's result."""
        for name in self.SELF_CHECKED:
            args, kwargs = self._facade_args(name)
            try:
                got = self._canon(getattr(self.db, name)(*args, **kwargs).toPandas())
                ok = got == self.first_results.get(name)
            except Exception:
                traceback.print_exc()
                ok = False
            self.check(f"{name} repeat", ok, "result differs from the first pass")


# ----------------------------------------------------------------- ingest


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# The change-feed consumer reads keys and values. The full-row feed
# cannot be read here: Spark writes ``ts`` as INT96, the feed hands it
# on as Arrow timestamp[ns], and Spark rejects that type
# (UNSUPPORTED_ARROWTYPE).
FEED_COLUMNS = "event_id,user_id,event_type,value"


class TableIngest(Workload):
    """Seeded micro-batches of ``events`` appended to a fresh TxTable
    each pass. One operation is one micro-batch cycle."""

    name = "table_ingest"
    BATCHES = 3
    DELETE_EVERY = 2
    CHECKPOINT_INTERVAL = 2

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from pyspark.sql import functions as F

        from logdb_spark import tablefmt
        from logdb_spark.sources import txlogstream
        from logdb_spark.sources.load import load_table

        self.F, self.tablefmt, self.load_table = F, tablefmt, load_table
        txlogstream.register_txlogstream(self.spark)
        self.batch_dirs = ctx.batch_dirs
        self.stage_s: dict[str, list[float]] = {"commit": [], "read": [], "feed": []}
        self.write_amp: list[float] = []
        self.counters: dict[str, list[float]] = {
            "commit_conflicts": [],
            "live_files_count": [],
            "bytes_written": [],
            "log_versions": [],
            "feed_rows": [],
        }
        self.plain_bytes = ctx.plain_bytes
        self.tx = None

    def run_pass(self, index: int, timed: bool) -> None:
        tf, F = self.tablefmt, self.F
        root = os.path.join(self.ctx.work, "tables", f"pass{index}")
        if self.tx is not None:
            shutil.rmtree(self.tx.root, ignore_errors=True)
        self.tx = tx = tf.TxTable(self.spark, root)
        r = self.rng(2, index)
        live_rows = 0
        conflicts = 0
        feed_rows = 0
        for k, bdir in enumerate(self.batch_dirs):
            op_id = f"p{index}.{k}.cycle"
            self.tracer.op = op_id
            t0 = time.perf_counter()
            try:
                deleted = 0
                head = tx.latest_version()
                with self.tracer.span("bench.cycle"):
                    with self.tracer.span("bench.append"), job_group(
                        self.spark, self.tracer, f"tablefmt.write_grouped|exec|{op_id}"
                    ):
                        batch = self.load_table(self.spark, bdir, "events").withColumn(
                            "g", (F.hour("ts") / 6).cast("int")  # one file per quarter-day
                        )
                        adds = tf.write_grouped(batch, root, f"b{k:03d}", "event_id")
                        _, c = tx.commit(adds, meta={"batch": k})
                        conflicts += c
                    t1 = time.perf_counter()
                    live_rows += sum(a["rows"] for a in adds)
                    if (k + 1) % self.DELETE_EVERY == 0:
                        with job_group(self.spark, self.tracer, f"tablefmt.delete|exec|{op_id}"):
                            deleted = self._delete(tx, root, k, int(r.integers(0, 7)))
                        live_rows -= deleted
                    t2 = time.perf_counter()
                    with self.tracer.span("bench.read_after_write"), job_group(
                        self.spark, self.tracer, f"tablefmt.read|exec|{op_id}"
                    ):
                        got = tx.read().agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
                    t3 = time.perf_counter()
                    with self.tracer.span("sources.txlogstream.read"), job_group(
                        self.spark, self.tracer, f"sources.txlogstream|exec|{op_id}"
                    ):
                        feed = dict(
                            self.spark.read.format("txlogstream")
                            .option("path", root)
                            .option("mode", "cdf")
                            .option("from_version", head)
                            .option("columns", FEED_COLUMNS)
                            .load()
                            .groupBy("change_type")
                            .count()
                            .collect()
                        )
                    t4 = time.perf_counter()
                    with job_group(self.spark, self.tracer, f"tablefmt.checkpoint|exec|{op_id}"):
                        tx.maybe_checkpoint(self.CHECKPOINT_INTERVAL)
            except Exception:
                traceback.print_exc()
                self.attempted += 1
                self.fail(f"{op_id} raised")
                self.tracer.op = None
                continue
            self.tracer.op = None
            self.attempted += 1
            inserted = feed.get("insert", 0)
            feed_rows += inserted + feed.get("delete", 0)
            ok = got == live_rows and inserted == sum(a["rows"] for a in adds) and feed.get(
                "delete", 0
            ) == deleted
            if not ok:
                self.fail(
                    f"{op_id} output: snapshot {got} rows, expected {live_rows}; "
                    f"feed {feed}, committed {sum(a['rows'] for a in adds)} deleted {deleted}"
                )
            if timed:
                self.op_latencies.append(time.perf_counter() - t0)
                self.stage_s["commit"].append(t1 - t0)
                self.stage_s["read"].append(t3 - t2)
                self.stage_s["feed"].append(t4 - t3)
        if timed:
            self.write_amp.append(dir_bytes(root) / self.plain_bytes)
            c = self.counters
            c["commit_conflicts"].append(conflicts)
            c["live_files_count"].append(len(tx.live_files()))
            c["bytes_written"].append(dir_bytes(root))
            c["log_versions"].append(tx.latest_version())
            c["feed_rows"].append(feed_rows)
        else:
            self._check_checkpoint()

    def _delete(self, tx, root: str, k: int, residue: int) -> int:
        """Equality-delete the live events of one user residue class."""
        F = self.F
        keys = (
            tx.read()
            .filter(F.col("user_id") % 7 == residue)
            .select("event_id", F.lit(0).alias("g"))
        )
        dv = self.tablefmt.write_grouped(keys, root, f"del{k:03d}", "event_id")
        tx.commit(
            [{**a, "kind": "eq_delete", "key": "event_id"} for a in dv],
            meta={"batch": k, "protocol": tx.protocol_with("equality_deletes")},
        )
        return sum(a["rows"] for a in dv)

    def _check_checkpoint(self) -> None:
        tx = self.tx
        key = lambda e: e["path"]  # noqa: E731
        a = sorted(tx.live_files(), key=key)
        b = sorted(tx.live_files(use_checkpoint=False), key=key)
        self.check("live_files checkpoint == replay", a == b, f"{len(a)} vs {len(b)} files")

    def final_checks(self) -> None:
        self._check_checkpoint()

    def extra_metrics(self) -> dict:
        med = lambda xs: float(np.median(xs)) if xs else None  # noqa: E731
        return {
            "commit_p50_s": med(self.stage_s["commit"]),
            "read_after_write_p50_s": med(self.stage_s["read"]),
            "feed_p50_s": med(self.stage_s["feed"]),
            "write_amp": med(self.write_amp),
            **{f"tablefmt.{k}": med(v) for k, v in self.counters.items() if k != "feed_rows"},
            "sources.txlogstream.rows": med(self.counters["feed_rows"]),
        }


WORKLOADS = {w.name: w for w in (LogInteractive, TableIngest)}
