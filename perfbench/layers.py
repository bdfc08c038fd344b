"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. Set-up layers
(``session.*``, ``lake.*``) are medians over the run's set-ups; layers
of the timed loop are totals per pass over the workload's queries
(the run's total divided by its number of passes).
"""

from __future__ import annotations

import statistics

from workloads import STORES

QUERY_LAYERS = ("registry.build", "catalyst.plan", "exec")
LEAF_SPANS = ("session.start", "session.warmup", "registry.build", "catalyst.plan", "exec")

# (metric, unit); the order is the order of BENCHMARK.json's per_layer
METRICS = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("registry.build_s", "s"), ("registry.build_jobs", "count"),
    ("registry.build_tasks", "count"), ("registry.build_task_busy_s", "s"),
    ("catalyst.plan_s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_busy_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.core_idle_frac", "ratio"), ("exec.failed_tasks", "count"),
    ("exec.gc_s", "s"), ("mem.peak_rss_mb", "MB"),
    ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"),
    ("shuffle.fetch_wait_s", "s"), ("spill.disk_bytes", "B"),
    ("scan.input_bytes", "B"), ("scan.input_rows", "count"),
    ("udf.python_start_s", "s"), ("udf.python_init_s", "s"),
    ("udf.python_run_s", "s"), ("udf.bytes_to_python", "B"),
    ("stream.batches", "count"), ("stream.plan_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.commit_ms", "ms"),
    ("stream.wal_ms", "ms"), ("stream.state_rows", "count"),
] + [
    (f"lake.{m}.{s}", u)
    for s in STORES
    for m, u in (("build_s", "s"), ("build_jobs", "count"), ("store_bytes", "B"), ("files", "count"))
] + [
    ("trace.wall_s", "s"), ("trace.closure", "ratio"),
    ("trace.collect_s", "s"), ("trace.stages_missing", "count"),
]


def per_layer(runner, tr, passes, window_s, stream_counts, cpus) -> dict:
    n = len(passes)
    c = tr.counters
    dur = tr.durations()

    def q(layer, key):  # per-pass total of a timed-loop layer counter
        return c[layer][key] / n

    def all_q(key):
        return sum(c[layer][key] for layer in QUERY_LAYERS) / n

    def med(key):
        vals = runner.layer_setup.get(key)
        return statistics.median(vals) if vals else 0.0

    exec_s = dur.get("exec", 0.0) / n
    v = {
        "session.start_s": med("session.start_s"),
        "session.warmup_s": med("session.warmup_s"),
        "registry.build_s": dur.get("registry.build", 0.0) / n,
        "registry.build_jobs": q("registry.build", "jobs"),
        "registry.build_tasks": q("registry.build", "tasks"),
        "registry.build_task_busy_s": q("registry.build", "task_busy_s"),
        "catalyst.plan_s": dur.get("catalyst.plan", 0.0) / n,
        "exec.s": exec_s,
        "exec.jobs": q("exec", "jobs"),
        "exec.stages": q("exec", "stages"),
        "exec.tasks": q("exec", "tasks"),
        "exec.task_busy_s": q("exec", "task_busy_s"),
        "exec.task_cpu_s": q("exec", "task_cpu_s"),
        "exec.core_idle_frac": (
            1.0 - q("exec", "task_busy_s") / (exec_s * cpus) if exec_s else 0.0
        ),
        "exec.failed_tasks": all_q("failed_tasks"),
        "exec.gc_s": all_q("gc_s"),
        "shuffle.write_bytes": all_q("shuffle_write_bytes"),
        "shuffle.read_bytes": all_q("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": all_q("fetch_wait_s"),
        "spill.disk_bytes": all_q("spill_disk_bytes"),
        "scan.input_bytes": all_q("input_bytes"),
        "scan.input_rows": all_q("input_rows"),
        "udf.python_start_s": all_q("udf.python_start_s"),
        "udf.python_init_s": all_q("udf.python_init_s"),
        "udf.python_run_s": all_q("udf.python_run_s"),
        "udf.bytes_to_python": all_q("udf.bytes_to_python"),
    }
    for key in ("batches", "plan_ms", "add_batch_ms", "commit_ms", "wal_ms", "state_rows"):
        v[f"stream.{key}"] = stream_counts.get(f"stream.{key}", 0.0) / n
    setups = len(runner.setup_times)
    for s in STORES:
        size, files = runner.store_info.get(s, (0, 0))
        v[f"lake.build_s.{s}"] = med(f"lake.build_s.{s}")
        v[f"lake.build_jobs.{s}"] = c[f"lake.{s}"]["jobs"] / setups
        v[f"lake.store_bytes.{s}"] = float(size)
        v[f"lake.files.{s}"] = float(files)
    # closure: leaf-layer time over the traced run's wall (set-ups plus
    # the timed window), less the time spent reading Spark's stores
    leaves = sum(dur.get(name, 0.0) for name in LEAF_SPANS)
    leaves += sum(t for name, t in dur.items() if name.startswith("lake.build."))
    wall = sum(runner.setup_times) + window_s - tr.collect_s
    v["trace.wall_s"] = statistics.median(passes)
    v["trace.closure"] = leaves / wall
    v["trace.collect_s"] = tr.collect_s
    v["trace.stages_missing"] = float(tr.stages_missing)
    return {k: (float(v[k]), u) for k, u in METRICS if k in v}
