"""Benchmark: end-to-end and per-layer metrics of the registry queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run is one client running a closed loop on ``local[<cpus>]``:

1. *Inputs.* The workload's tables are generated from a fixed seed
   (``datagen``), 10x-replicated for ``pulsar_search_10x`` with
   ``tools/scale_probe.py``, and cached under ``perfbench/.work/data``.
   Generation is not part of any metric.
2. *Set-up*, repeated ``SETUPS`` times, each on a fresh session and a
   fresh store directory: ``session.get_spark``, one warm-up query, and
   cold builds of every at-rest store the workload reads.
   ``setup_s`` is the median.
3. *Timed loop.* Passes over the workload's queries, each pass in an
   order drawn from ``--seed``, until ``--seconds`` is used up and at
   least ``MIN_PASSES`` passes ran. Each query is the registry query
   function call (eager jobs), forcing the executed plan, and ``toArrow()``
   (execution plus the result, so every timed result can be checked
   without running the query again).
4. *Check*, untimed: every result of the loop is compared with the
   query's DuckDB oracle over the same files, with the comparison of
   ``tools/check_oracle.py``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, read from Spark's status stores (see ``tracer``), and
the spans and per-query detail go to ``perfbench/.work/traces``.

Every run gets private ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and JVM temp
directories under ``perfbench/.work/runs``, removed at the end, so
stores keyed under the temp dir are never shared between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from workloads import STORES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE = os.path.join(ROOT, "lofar_bf_pulsar_scripts_spark")

SETUPS = 3
# the first pass runs the queries' plans through code generation and
# JIT cold; with three or more passes the median is a warm pass
MIN_PASSES = 3
# the workloads' tables are tens of MB; a small heap keeps the JVM's
# footprint modest on a shared host
HEAP = "2g"


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _data_key(factor: int) -> str:
    """Cache key: generator sources and replication factor."""
    import hashlib

    h = hashlib.sha256()
    for path in (os.path.join(HERE, "datagen.py"), os.path.join(ROOT, "tools", "scale_probe.py")):
        with open(path, "rb") as fh:
            h.update(fh.read())
    src = h.hexdigest()[:10]
    return f"x{factor}-{src}"


def prepare_data(wl) -> str:
    import datagen

    base = datagen.build(os.path.join(WORK, "data", _data_key(1)))
    if wl.factor == 1:
        return base
    dst = os.path.join(WORK, "data", _data_key(wl.factor))
    if not os.path.exists(os.path.join(dst, "_COMPLETE")):
        shutil.rmtree(dst, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "scale_probe.py"), "build",
             "--src", base, "--dst", dst, "--factor", str(wl.factor),
             "--docs-mode", "realistic"],
            check=True, stdout=subprocess.DEVNULL, cwd=WORK,
        )
        open(os.path.join(dst, "_COMPLETE"), "w").close()
    return dst


def isolate(run_dir: str) -> None:
    """Private temp, shuffle and JVM temp directories for this run; the
    repo root on the Python path of this process and the Python workers."""
    for sub in ("tmp", "local", "jvm"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={os.path.join(run_dir, 'jvm')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process, in clock ticks."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Runner:
    def __init__(self, wl, data_dir, run_dir, tracer):
        from lofar_bf_pulsar_scripts_spark import registry

        self.wl = wl
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.tr = tracer
        self.query_fns = registry.queries()
        self.spark = None
        self.jvm_pid = None
        self.store_dir = None
        self.setup_times: list[float] = []
        self.layer_setup: dict[str, list[float]] = {}
        self.store_info: dict[str, tuple[int, int]] = {}

    # -- set-up ------------------------------------------------------
    def _note(self, key: str, value: float) -> None:
        self.layer_setup.setdefault(key, []).append(value)

    def setup(self, i: int) -> None:
        from lofar_bf_pulsar_scripts_spark.session import get_spark

        if self.spark is not None:
            self.tr.detach()
            self.spark.stop()
            self.spark = None
        self.store_dir = os.path.join(self.run_dir, "tmp", f"setup{i}")
        os.makedirs(self.store_dir)
        tempfile.tempdir = self.store_dir
        extra = None
        if self.tr.enabled:
            extra = {
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            }
        t0 = time.perf_counter()
        with self.tr.span("session.start"):
            self.spark = get_spark(app_name="perfbench", extra_conf=extra)
        t1 = time.perf_counter()
        self.tr.attach(self.spark)
        if self.jvm_pid is None:
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        t2 = time.perf_counter()
        with self.tr.span("session.warmup", "setup"):
            self.query_fns[self.wl.warmup](self.spark, self.data_dir).toArrow()
        t3 = time.perf_counter()
        store_s = 0.0
        for name in self.wl.stores:
            s0 = time.perf_counter()
            with self.tr.span(f"lake.build.{name}", f"lake.{name}"):
                path = STORES[name](self.spark, self.data_dir)
            dt = time.perf_counter() - s0
            store_s += dt
            self._note(f"lake.build_s.{name}", dt)
            self.store_info[name] = _du(path)
        self.setup_times.append((t1 - t0) + (t3 - t2) + store_s)
        self._note("session.start_s", t1 - t0)
        self._note("session.warmup_s", t3 - t2)

    # -- timed loop --------------------------------------------------
    def run_query(self, name: str, record: list) -> None:
        spark = self.spark
        t0 = time.perf_counter()
        err = tbl = None
        with self.tr.span(f"query.{name}"):
            try:
                with self.tr.span("registry.build", "registry.build"):
                    df = self.query_fns[name](spark, self.data_dir)
                with self.tr.span("catalyst.plan", "catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.tr.span("exec", "exec"):
                    tbl = df.toArrow()
            except Exception as exc:  # counted as failed, named in the report
                err = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        record.append((name, time.perf_counter() - t0, tbl, err))

    def timed_loop(self, seed: int, seconds: float):
        rng = random.Random(seed)
        streamed = self.tr.stream_counts()
        record: list = []
        passes: list[float] = []
        self.pass_cpu: list[float] = []
        h0 = _host_ticks()
        t_start = time.perf_counter()
        while True:
            order = list(self.wl.queries)
            rng.shuffle(order)
            p0 = time.perf_counter()
            c0 = _cpu_ticks(self.jvm_pid)
            for name in order:
                self.run_query(name, record)
            passes.append(time.perf_counter() - p0)
            self.pass_cpu.append((_cpu_ticks(self.jvm_pid) - c0) / os.sysconf("SC_CLK_TCK"))
            elapsed = time.perf_counter() - t_start
            if len(passes) >= MIN_PASSES and elapsed >= seconds:
                break
        window_s = time.perf_counter() - t_start
        h1 = _host_ticks()
        self.steal_frac = (h1[0] - h0[0]) / max(h1[1] - h0[1], 1)
        streamed = {
            k: v - streamed.get(k, 0.0) for k, v in self.tr.stream_counts().items()
        }
        return record, passes, window_s, streamed

    def close(self) -> float:
        """Stop Spark and the JVM; return the JVM's peak RSS in MB."""
        from pyspark import SparkContext

        peak = _vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0
        if self.spark is not None:
            self.tr.detach()
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        return peak


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(ENGINE) or not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        _die(f"engine sources not found next to {HERE}; run from a full checkout")

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    data_dir = prepare_data(wl)

    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    isolate(run_dir)
    import oracle
    from tracer import Tracer

    tr = Tracer(run_id, enabled=bool(args.trace))
    runner = Runner(wl, data_dir, run_dir, tr)
    try:
        for i in range(SETUPS):
            runner.setup(i)
        record, passes, window_s, streamed = runner.timed_loop(args.seed, args.seconds)
        src_bytes = sum(
            os.path.getsize(os.path.join(data_dir, f))
            for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
        store_bytes = _du(runner.store_dir)[0]
    finally:
        jvm_peak = runner.close()
        os.chdir(ROOT)
    py_peak = _vm_hwm_mb(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)

    failures = oracle.check(record, data_dir)
    attempted = len(record)
    # each query's median over the passes; the workload's queries differ
    # by design, so the median over all executions would only say which
    # query sits in the middle of the pooled sample
    per_query = {
        n: statistics.median(dt for m, dt, _, _ in record if m == n) for n in wl.queries
    }
    summary = {
        "workload": wl.name, "seed": args.seed, "passes": len(passes),
        "queries_per_pass": len(wl.queries), "timed_window_s": round(window_s, 3),
        "failed_frac": len(failures) / attempted,
        "failing": sorted({n for n, _, _ in failures}),
        "query_p50_n": len(per_query),
        "rss_mb": {"jvm": round(jvm_peak, 1), "python": round(py_peak, 1)},
        "setups_s": [round(t, 3) for t in runner.setup_times],
        "passes_s": [round(t, 3) for t in passes],
        "pass_jvm_cpu_s": [round(t, 2) for t in runner.pass_cpu],
        "host_steal_frac": round(runner.steal_frac, 3),
        "query_median_s": {n: round(t, 3) for n, t in per_query.items()},
    }
    print(json.dumps({"summary": summary, "failures": failures[:20]}))

    if args.trace:
        import layers

        metrics = layers.per_layer(runner, tr, passes, window_s, streamed, _cpus())
        metrics["mem.peak_rss_mb"] = (jvm_peak + py_peak, "MB")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.write(os.path.join(WORK, "traces", f"{run_id}.spans.jsonl"))
        with open(os.path.join(WORK, "traces", f"{run_id}.queries.json"), "w") as fh:
            json.dump({
                "summary": summary,
                "queries": [(n, dt, e) for n, dt, _, e in record],
                "metrics": metrics,
            }, fh, indent=1)
    else:
        metrics = {
            "setup_s": (statistics.median(runner.setup_times), "s"),
            "wall_s": (statistics.median(passes), "s"),
            "query_p50_s": (statistics.median(per_query.values()), "s"),
            "store_amp": ((src_bytes + store_bytes) / src_bytes, "ratio"),
        }
    out = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
