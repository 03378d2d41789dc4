#!/bin/sh
# Python worker launcher for sessions built by
# logdb_spark.plans.session.get_spark (see that module's docstring).
#
# Spark starts every Python worker as `<pythonExec> -m pyspark.daemon`
# (or `-m <planner module>`) with its own archives first on PYTHONPATH.
# This script drops the entries named in LOGDB_WORKER_PYTHONPATH_DROP
# (colon-separated: the zipped pyspark, py4j and spark-core archives)
# from PYTHONPATH, keeps every other entry in order, and then runs
# LOGDB_WORKER_PYTHON with the arguments Spark passed.
set -f
kept=
IFS=:
for entry in $PYTHONPATH; do
    case ":$LOGDB_WORKER_PYTHONPATH_DROP:" in
        *":$entry:"*) ;;
        *) kept="${kept:+$kept:}$entry" ;;
    esac
done
unset IFS
if [ -n "$kept" ]; then
    export PYTHONPATH="$kept"
else
    unset PYTHONPATH
fi
exec "${LOGDB_WORKER_PYTHON:?LOGDB_WORKER_PYTHON is not set}" "$@"
