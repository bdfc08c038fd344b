"""Spans around the calls into each engine layer, plus Spark counters.

Everything here reads the program from outside, through public or
status-store APIs that work with ``spark.ui.enabled=false``:

* job and stage ids come from the DAG scheduler's id counters, read at
  span start and end, so every job created inside a span is attributed
  to it, whichever thread submitted it (streaming micro-batch jobs run
  on the stream's own thread and never carry the caller's job group);
* task metrics per stage come from
  ``sc.statusStore().lastStageAttempt(stageId)``;
* SQL metrics per execution (Python-worker times, bytes sent to
  Python) come from ``sharedState().statusStore().executionMetrics``;
* streaming micro-batch durations and state rows come from a
  ``StreamingQueryListener``.

A span is ``(name, start, end, parent, run_id)``; spans are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark stores SQL metric values as display strings such as "12 ms",
# "1.2 s", "390.6 KiB" or, for multi-task metrics,
# "total (min, med, max (stageId: taskId))\n1.2 s (...)".
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]+)?")

# SQL metric name -> per-layer counter (seconds or bytes).
_SQL_METRICS = {
    "time to start Python workers": "udf.python_start_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to run Python workers": "udf.python_run_s",
    "data sent to Python workers": "udf.bytes_to_python",
}

# Stage counter -> (StageData field, scale), summed into the layer.
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "task_busy_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_disk_bytes": ("diskBytesSpilled", 1),
}


def parse_sql_metric(text: str) -> float:
    """The total of one SQL metric display string, in seconds or bytes."""
    lines = text.strip().splitlines()
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.match(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class _StreamListener:
    """Collects micro-batch progress of every streaming query."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        counts = defaultdict(float)

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs
                counts["stream.batches"] += 1
                counts["stream.plan_ms"] += d.get("queryPlanning", 0)
                counts["stream.add_batch_ms"] += d.get("addBatch", 0)
                counts["stream.commit_ms"] += d.get("commitOffsets", 0)
                counts["stream.wal_ms"] += d.get("walCommit", 0)
                counts["stream.state_rows"] += sum(
                    op.numRowsTotal for op in p.stateOperators
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.counts = counts
        self.listener = Listener()


class Tracer:
    """Records spans and attributes Spark work to them.

    ``counters[layer][key]`` sums the Spark work of every span recorded
    for ``layer``; ``span_counts[span id]`` keeps the same numbers per
    span for the trace file. A disabled tracer records nothing, so the
    untraced run keeps the same code path at the cost of one generator
    per span.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        # (id, name, start, end, parent id, run_id)
        self.spans: list[tuple[int, str, float, float, int | None, str]] = []
        self.span_counts: dict[int, dict[str, float]] = {}
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.stages_missing = 0
        self.collect_s = 0.0
        self._stack: list[int] = []
        self._next_id = 0
        self._spark = None
        self._json = None
        self._stream: _StreamListener | None = None

    def attach(self, spark) -> None:
        """Bind to a (new) session; called after every session start."""
        self._spark = spark
        if self.enabled:
            # Spark's REST API serializer: one JSON string per status
            # object instead of one py4j round trip per field
            jvm = spark._jvm
            self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._json.registerModule(getattr(scala, "MODULE$"))
            self._stream = _StreamListener()
            spark.streams.addListener(self._stream.listener)

    def detach(self) -> None:
        if self._stream is not None:
            self._spark.streams.removeListener(self._stream.listener)
        self._stream = None
        self._spark = None

    def stream_counts(self) -> dict[str, float]:
        """Micro-batch totals seen so far on the current session."""
        if self._stream is None:
            return {}
        self._drain()
        return dict(self._stream.counts)

    # -- spans ------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str | None = None):
        """Time ``name``; with ``layer``, add the Spark work done inside
        the span to that layer's counters."""
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        marks = self._marks() if layer and self._spark is not None else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, name, start, end, parent, self.run_id))
            if marks is not None:
                self._collect(sid, layer, marks)
                self.collect_s += time.perf_counter() - end

    # -- Spark counters ---------------------------------------------
    def _marks(self):
        jsc = self._spark.sparkContext._jsc.sc()
        dag = jsc.dagScheduler()
        sql = self._spark._jsparkSession.sharedState().statusStore()
        return dag.nextJobId(), dag.nextStageId(), sql.executionsCount()

    def _drain(self) -> None:
        """Wait until queued listener events (stream progress, stage
        completion) have been delivered."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _collect(self, sid: int, layer: str, marks) -> None:
        self._drain()
        j0, s0, e0 = marks
        j1, s1, e1 = self._marks()
        c: dict[str, float] = defaultdict(float)
        c["jobs"] = j1 - j0
        c["stages"] = s1 - s0
        store = self._spark.sparkContext._jsc.sc().statusStore()
        as_json = self._json.writeValueAsString
        for stage in range(s0, s1):
            try:
                st = json.loads(as_json(store.lastStageAttempt(stage)))
            except Exception:  # evicted or never recorded
                self.stages_missing += 1
                continue
            for key, (field, scale) in _STAGE_FIELDS.items():
                c[key] += st[field] * scale
        if e1 > e0:
            sql = self._spark._jsparkSession.sharedState().statusStore()
            it = sql.executionsList(e0, e1 - e0).iterator()
            while it.hasNext():
                ex = it.next()
                values = json.loads(as_json(sql.executionMetrics(ex.executionId())))
                for pm in json.loads(as_json(ex.metrics())):
                    key = _SQL_METRICS.get(pm["name"])
                    value = values.get(str(pm["accumulatorId"]))
                    if key is not None and value is not None:
                        c[key] += parse_sql_metric(value)
        self.span_counts[sid] = dict(c)
        total = self.counters[layer]
        for k, v in c.items():
            total[k] += v

    # -- output -----------------------------------------------------
    def durations(self) -> dict[str, float]:
        """Total duration per span name."""
        out: dict[str, float] = defaultdict(float)
        for _, name, start, end, _, _ in self.spans:
            out[name] += end - start
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, start, end, parent, run_id in self.spans:
                row = {
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "run_id": run_id,
                }
                if sid in self.span_counts:
                    row["counts"] = self.span_counts[sid]
                fh.write(json.dumps(row) + "\n")
