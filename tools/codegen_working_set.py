"""Generated-code working set of registry operators.

Usage:
    python -m tools.codegen_working_set --sf DIR [name ...]   # default: all

Runs the named operators (default: the whole registry) twice, in the
same order, on a ``plans.session.get_spark`` session: each operator is
built and its result collected with ``toPandas``, as the benchmark and
``tools.diffcheck`` do. For each round it prints how many classes
Spark's code generator compiled, their mean compile time, and the JVM
metaspace in use afterwards. The first round shows the working set (the
classes the operators need) and its metaspace cost; the second shows
whether the generated-code cache (``spark.sql.codegen.cache.maxEntries``
in ``plans.session.STATIC_CONFS``) holds it: 0 compiles means every
class was still cached. Diagnostic only.
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback

from logdb_spark.plans.session import codegen_compiles, get_spark
from logdb_spark.registry import all_operators

MB = 1024 * 1024


def compile_seconds(spark) -> float:
    """Total time the code generator has spent compiling in this JVM."""
    jvm = spark.sparkContext._jvm
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return codegen.compileTime() / 1e9


def metaspace_bytes(spark) -> int:
    """Bytes in use in the JVM's Metaspace memory pool."""
    jvm = spark.sparkContext._jvm
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed()
    raise RuntimeError("this JVM has no Metaspace memory pool")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="fixture directory, e.g. an sf0.01 dir")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    ops = all_operators()
    names = args.names or sorted(ops)
    unknown = [n for n in names if n not in ops]
    if unknown:
        print(f"unknown operators: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("codegen-working-set")
    cache = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries", "100")
    print(
        f"{len(names)} operators, sf {args.sf}, cache maxEntries {cache}, "
        f"metaspace {metaspace_bytes(spark) / MB:.1f} MB at start"
    )
    failed: set[str] = set()
    for rnd in (1, 2):
        compiles, seconds = codegen_compiles(spark), compile_seconds(spark)
        t0 = time.perf_counter()
        for name in names:
            try:
                ops[name].fn(spark, args.sf).toPandas()
            except Exception:
                traceback.print_exc()
                failed.add(name)
        compiles = codegen_compiles(spark) - compiles
        seconds = compile_seconds(spark) - seconds
        mean_ms = 1000 * seconds / compiles if compiles else 0.0
        print(
            f"round {rnd}: {compiles} compiles, mean {mean_ms:.1f} ms, "
            f"metaspace {metaspace_bytes(spark) / MB:.1f} MB, "
            f"{time.perf_counter() - t0:.1f} s"
        )
    if failed:
        print("failed:", " ".join(sorted(failed)))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
