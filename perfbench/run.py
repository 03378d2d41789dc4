"""logdb-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload log_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` (perfbench/datagen.py), starts the program's own session
(``plans.session.get_spark`` on ``local[nproc]``), runs one untimed
warm-up pass that also checks every operation's output, then runs
complete passes until ``--seconds`` have elapsed (at least
``MIN_PASSES``), repeats the
cross-pass checks, and prints two JSON lines on stdout: a detail
record (seed, host contention, every metric with its unit, samples)
and, last, the result ``{"correct", "attempted", "failed",
"metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run that wraps the program's public entry points in spans,
enables the Spark event log, and reports the per-layer metrics; it
also writes ``perfbench/out/<workload>-seed<N>-spans.jsonl`` and the
per-layer self-time table ``...-selftime.txt``. See METRICS.md. Every
file the run writes stays under ``perfbench/``; its scratch area is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

# Scale factor of the generated tables (datagen.table_rows).
SCALE = {"log_interactive": 0.01, "table_ingest": 0.02}
OPERATOR_MODULES = ("logops", "aggs", "windows", "joins", "analytics", "scans", "filters", "sorts", "llm")
UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
    "failed_op_ratio": "ratio",
    "commit_p50_s": "s",
    "read_after_write_p50_s": "s",
    "feed_p50_s": "s",
    "write_amp": "ratio",
    "tablefmt.bytes_written": "B",
}
END_TO_END = ("setup_s", "pass_s", "op_p50_s", "peak_rss_mb")
# The timed window holds at least this many passes, so that the number
# of passes (and with it what the median of pass_s picks) stays the
# same across host speeds instead of flipping between one and two.
MIN_PASSES = 2


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None, help="table scale factor (default: per workload)")
    return ap.parse_args(argv)


def rss_by_process_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) per command name over this process
    and its descendants: the Python client, its JVM, Python workers."""
    from bench import _self_tree

    out: dict[str, float] = {}
    for pid in _self_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return out


def host_sample() -> dict:
    from bench import _cpu_ref_ms, _foreign_cpu_cores

    return {"cpu_ref_ms": _cpu_ref_ms(), "foreign_cpu_cores": _foreign_cpu_cores()}


def split_batches(data_dir: str, out_dir: str, n: int) -> tuple[list[str], int]:
    """Cut ``events`` into ``n`` equal time-ordered micro-batches, one
    parquet file each. Also returns the size of all batch rows as one
    plain parquet file (the write_amp base)."""
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    size = events.num_rows // n
    dirs = []
    for k in range(n):
        d = os.path.join(out_dir, f"b{k:03d}")
        os.makedirs(d)
        pq.write_table(events.slice(k * size, size), os.path.join(d, "events.parquet"))
        dirs.append(d)
    plain = os.path.join(out_dir, "plain.parquet")
    pq.write_table(events.slice(0, n * size), plain)
    return dirs, os.path.getsize(plain)


def instrument(tracer, hits: dict) -> None:
    """Traced run: wrap the public entry points of each layer. Runs
    before the registry imports the operator modules, which bind
    ``load_table`` at import time."""
    from logdb_spark import registry, tablefmt
    from logdb_spark.plans import session
    from logdb_spark.sources import load

    tracer.wrap(session, "get_spark", "plans.session.get_spark")
    tracer.wrap(registry, "all_operators", "registry.all_operators")
    real_load = load.load_table

    def load_table(spark, sf_dir, name):
        hits["calls"] += 1
        hits["hits"] += (sf_dir, name) in spark.__dict__.get("_logdb_table_cache", {})
        return real_load(spark, sf_dir, name)

    load.load_table = load_table
    tracer.wrap(load, "load_table", "sources.load.load_table")
    tracer.wrap(tablefmt, "write_grouped", "tablefmt.write_grouped")
    for method in ("commit", "maybe_checkpoint", "write_checkpoint", "live_files", "read"):
        tracer.wrap(tablefmt.TxTable, method, f"tablefmt.{method}")


def split_group(group: str) -> tuple[str, str, int]:
    """Job group ``<layer>|<phase>|p<pass>.<i>.<name>`` → (layer, phase, pass)."""
    layer, phase, op_id = group.split("|", 2)
    return layer, phase, int(op_id.split(".", 1)[0][1:])


def per_layer_metrics(wl, run: dict, evdir: str) -> tuple[dict, dict]:
    """(per-layer metrics, seconds per exercised layer) of the timed
    passes, from spans, job counts and the Spark event log."""
    from spans import read_event_log, task_metrics_by_group

    passes = len(run["pass_s"])
    per_pass = lambda x: x / passes  # noqa: E731
    timed = wl.tracer.self_times(since=run["t_window"])
    jobs: dict[tuple[str, str], int] = {}
    for group, n in run["job_counts"].items():
        layer, phase, p = split_group(group)
        if p >= 1:
            jobs[(layer, phase)] = jobs.get((layer, phase), 0) + n
    by_layer: dict[str, dict[str, float]] = {}
    for group, row in task_metrics_by_group(read_event_log(evdir)).items():
        if not group or split_group(group)[2] < 1:
            continue
        acc = by_layer.setdefault(split_group(group)[0], {})
        for k, v in row.items():
            acc[k] = acc.get(k, 0.0) + v
    total = {k: sum(r.get(k, 0.0) for r in by_layer.values()) for k in ("task_s", "gc_s", "sched_delay_s")}
    hits = run["load_hits"]
    extra = wl.extra_metrics()

    m: dict[str, tuple[float, str]] = {
        "plans.session.get_spark_s": (run["setup_spans"].get("plans.session.get_spark", 0.0), "s"),
        "registry.all_operators_s": (run["setup_spans"].get("registry.all_operators", 0.0), "s"),
        "sources.load.load_table_s": (per_pass(timed.get("sources.load.load_table", {}).get("total_s", 0.0)), "s"),
        "sources.load.calls": (per_pass(hits["calls"]), "count"),
        "sources.load.cache_hit_ratio": (hits["hits"] / hits["calls"] if hits["calls"] else 0.0, "ratio"),
        "api.build_jobs": (
            per_pass(sum(n for (layer, ph), n in jobs.items() if layer.startswith("api.") and ph == "build")),
            "count",
        ),
    }
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        row = by_layer.get(layer, {})
        m[f"{layer}.build_jobs"] = (per_pass(jobs.get((layer, "build"), 0)), "count")
        m[f"{layer}.exec_jobs"] = (per_pass(jobs.get((layer, "exec"), 0)), "count")
        m[f"{layer}.shuffle_bytes"] = (per_pass(row.get("shuffle_bytes", 0.0)), "B")
        m[f"{layer}.spill_bytes"] = (per_pass(row.get("spill_bytes", 0.0)), "B")
    for k in ("commit_conflicts", "live_files_count", "bytes_written", "log_versions"):
        m[f"tablefmt.{k}"] = (extra.get(f"tablefmt.{k}", 0.0), UNITS.get(f"tablefmt.{k}", "count"))
    m["sources.txlogstream.rows"] = (extra.get("sources.txlogstream.rows", 0.0), "count")
    m["spark.task_s"] = (per_pass(total["task_s"]), "s")
    m["spark.sched_delay_s"] = (per_pass(total["sched_delay_s"]), "s")
    m["spark.core_util"] = (total["task_s"] / (run["window_s"] * run["cores"]), "ratio")
    m["trace.pass_s"] = (statistics.median(run["pass_s"]), "s")

    # Seconds of the layers this workload calls. Not per-layer metrics
    # of BENCHMARK.json: a layer a workload never calls would report 0.
    seconds = {
        f"{name}_s": {"self": per_pass(r["self_s"]), "total": per_pass(r["total_s"]), "calls": per_pass(r["calls"])}
        for name, r in timed.items()
    }
    for layer, row in by_layer.items():
        for k in ("task_s", "gc_s"):
            seconds[f"{layer}.{k}"] = {"total": per_pass(row.get(k, 0.0))}
    # A few milliseconds per pass, counted in whole milliseconds: it can
    # read 0, so it stays out of BENCHMARK.json.
    seconds["spark.gc_s"] = {"total": per_pass(total["gc_s"])}
    return m, seconds


def write_trace_files(wl, run: dict, stem: str, t0: float) -> dict:
    """Span file and self-time table; returns the tracing overhead
    against the newest untraced run of this workload, if any."""
    from spans import format_table

    wl.tracer.write_spans(stem + "-spans.jsonl", t0)
    traced = statistics.median(run["pass_s"])
    base = _read_json(os.path.join(OUT, f"{wl.name}-untraced.json"))
    overhead = {}
    line = f"traced pass_s {traced:.4f}; no untraced run of {wl.name} recorded yet"
    if base:
        d = traced - base["pass_s"]
        overhead = {"trace_overhead_s": d, "trace_overhead_ratio": d / base["pass_s"],
                    "untraced_pass_s": base["pass_s"], "untraced_seed": base["seed"]}
        line = (f"traced pass_s {traced:.4f}, untraced pass_s {base['pass_s']:.4f} (seed {base['seed']}): "
                f"tracing overhead {d:+.4f} s ({d / base['pass_s']:+.1%})")
    with open(stem + "-selftime.txt", "w") as fh:
        fh.write(format_table(wl.tracer.self_times(since=run["t_window"]), len(run["pass_s"])))
        fh.write(f"\n\n{line}\n")
    return overhead


def _read_json(path: str):
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:  # gateway already gone
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_env(work: str, cores: int, trace: bool) -> str:
    """Keep every file Spark, the JVM and Python write under ``work``;
    the traced run also enables the Spark event log there."""
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    tmp, evdir = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{evdir}",
        ]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    import tempfile

    tempfile.tempdir = tmp
    return evdir


def measure(args, cores: int, work: str, evdir: str) -> tuple[dict, dict]:
    """Set up, warm up, run the timed window, check. Returns (detail,
    result)."""
    import datagen
    from spans import Tracer, jobs_in_group

    host_start = host_sample()
    t_gen = time.perf_counter()
    scale = args.scale if args.scale is not None else SCALE[args.workload]
    data_dir = os.path.join(work, "data")
    datagen.generate(data_dir, args.seed, scale)
    import workloads

    batch_dirs, plain_bytes = [], 0
    if args.workload == "table_ingest":
        batch_dirs, plain_bytes = split_batches(
            data_dir, os.path.join(work, "batches"), workloads.TableIngest.BATCHES
        )
    gen_s = time.perf_counter() - t_gen

    # ---- set-up: session, registry, inputs, warm-up pass -------------
    t_setup = time.perf_counter()
    tracer = Tracer(bool(args.trace))
    hits = {"calls": 0, "hits": 0}
    if args.trace:
        instrument(tracer, hits)
    from logdb_spark import registry
    from logdb_spark.plans import session

    spark = session.get_spark("logdb-perfbench")
    ctx = SimpleNamespace(
        spark=spark, ops=registry.all_operators(), sf_dir=data_dir, seed=args.seed, tracer=tracer,
        work=work, batch_dirs=batch_dirs, plain_bytes=plain_bytes,
    )
    wl = workloads.WORKLOADS[args.workload](ctx)
    wl.run_pass(0, timed=False)
    oracle_s = wl.oracle.seconds if hasattr(wl, "oracle") else 0.0
    setup_s = time.perf_counter() - t_setup - oracle_s
    run = {"setup_spans": {k: v["total_s"] for k, v in tracer.self_times().items()}, "cores": cores}

    # ---- timed window: complete passes until --seconds elapsed ------
    hits.update(calls=0, hits=0)
    run["t_window"] = t_window = time.perf_counter()
    run["pass_s"] = []
    p = 0
    while True:
        p += 1
        t0 = time.perf_counter()
        with tracer.span("bench.pass"):
            wl.run_pass(p, timed=True)
        run["pass_s"].append(time.perf_counter() - t0)
        if p >= MIN_PASSES and time.perf_counter() - t_window >= args.seconds:
            break
    run["window_s"] = time.perf_counter() - t_window
    rss = rss_by_process_mb()
    run["job_counts"] = {g: jobs_in_group(spark, g) for g in tracer.groups}
    run["load_hits"] = hits
    wl.final_checks()
    spark.stop()
    stop_jvm()

    lat = sorted(wl.op_latencies)
    values = {
        "setup_s": setup_s,
        "pass_s": statistics.median(run["pass_s"]),
        "op_p50_s": statistics.median(lat),
        "peak_rss_mb": sum(rss.values()),
        "failed_op_ratio": wl.failed / max(wl.attempted, 1),
        **wl.extra_metrics(),
    }
    # The highest percentile with at least ten samples beyond it.
    if len(lat) >= 100:
        values["op_p90_s"] = lat[int(0.9 * len(lat))]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "load_shape": f"closed loop, 1 client, local[{cores}], sf{scale}",
        "seconds": args.seconds,
        "pass_s_samples": run["pass_s"],
        "op_samples": len(lat),
        "gen_s": gen_s,
        "oracle_s": oracle_s,
        "rss_by_process_mb": rss,
        "failures": wl.failures,
        "host": {"start": host_start, "end": host_sample()},
        "metrics": {k: {"value": v, "unit": UNITS.get(k, "count")} for k, v in values.items()},
    }
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
    if args.trace:
        per_layer, seconds = per_layer_metrics(wl, run, evdir)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        detail["metrics"].update(metrics)
        detail["layer_seconds"] = seconds
        detail.update(write_trace_files(wl, run, stem, t_setup))
    else:
        metrics = {k: detail["metrics"][k] for k in END_TO_END}
        with open(os.path.join(OUT, f"{args.workload}-untraced.json"), "w") as fh:
            json.dump({"seed": args.seed, **{k: values[k] for k in END_TO_END}}, fh)
    with open(stem + f"-trace{args.trace}.json", "w") as fh:
        json.dump(detail, fh, indent=1)
    result = {"correct": wl.failed == 0, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}
    return detail, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "logdb_spark")):
        print(f"program source (logdb_spark/) not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # A termination signal unwinds through the finally below, which
    # stops the JVM and removes the scratch area.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(OUT, exist_ok=True)
    evdir = setup_env(work, cores, bool(args.trace))
    # Keep stdout to the two result lines: the JVM inherits fd 1.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        detail, result = measure(args, cores, work, evdir)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    os.write(real_stdout, (json.dumps(detail) + "\n" + json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
