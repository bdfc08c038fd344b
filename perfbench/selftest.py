"""Self-test of the benchmark's result check.

Runs two registry queries on Spark over the smallest generated table
set, checks their results against DuckDB, then corrupts one value of
one result and checks again: the failed fraction must rise from 0 to
1/2, and an execution that raised must count as failed too.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc

import run
from workloads import Workload

QUERIES = ("fold_profile", "dup_clusters")


def _corrupt(tbl: pa.Table) -> pa.Table:
    """Add 1 to the first value of the first numeric column."""
    for i, field in enumerate(tbl.schema):
        if pa.types.is_integer(field.type) or pa.types.is_floating(field.type):
            col = tbl.column(i).combine_chunks()
            bumped = pc.add(col.slice(0, 1), pa.scalar(1, field.type))
            fixed = pa.concat_arrays([bumped, col.slice(1)])
            return tbl.set_column(i, field, fixed)
    raise AssertionError("no numeric column to corrupt")


def main() -> int:
    wl = Workload(name="selftest", why="", queries=QUERIES, warmup=QUERIES[0])
    data_dir = run.prepare_data(wl)
    run_dir = os.path.join(run.WORK, "runs", f"selftest-{os.getpid()}")
    run.isolate(run_dir)
    import oracle
    from lofar_bf_pulsar_scripts_spark import registry
    from lofar_bf_pulsar_scripts_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest")
    try:
        record = [
            (name, 0.0, registry.queries()[name](spark, data_dir).toArrow(), None)
            for name in QUERIES
        ]
    finally:
        spark.stop()
        os.chdir(run.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    def failed_frac(rec):
        return len(oracle.check(rec, data_dir)) / len(rec)

    clean = failed_frac(record)
    name, dt, tbl, err = record[1]
    corrupted = failed_frac([record[0], (name, dt, _corrupt(tbl), err)])
    raised = failed_frac([record[0], (name, dt, None, "RuntimeError: injected")])
    print(f"failed_frac clean={clean} corrupted={corrupted} raised={raised}")
    ok = clean == 0.0 and corrupted == 0.5 and raised == 0.5
    print("selftest", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
