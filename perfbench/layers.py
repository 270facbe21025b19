"""Spans and Spark status-store collectors for the traced benchmark run.

Everything here reads state Spark already keeps; nothing is changed
inside the package under test:

- job and stage metrics: each op runs under its own job group, read
  back through ``statusTracker().getJobIdsForGroup`` and the driver's
  ``AppStatusStore`` (``job``, ``lastStageAttempt``, ``taskSummary``);
- Catalyst phases: a ``QueryExecutionListener`` registered over py4j
  receives the write command's own ``QueryExecution`` and reads
  ``tracker().phases()`` (the read DataFrame's tracker only ever holds
  ``analysis`` after a noop write);
- Python-worker metrics: ``sharedState().statusStore().executionMetrics``
  for the SQL executions that ran the op's jobs, deduplicated by
  accumulator id (each AQE plan version lists the same metric again);
- micro-batches: a ``StreamingQueryListener`` collecting progress events;
- pins: the persistent RDDs left behind when an op ends.

Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql.streaming import StreamingQueryListener

_MB = 1024.0 * 1024.0

# SQL metric names of the Arrow/Python-worker boundary → layer metric
_PY_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "min": 60.0, "h": 3600.0, "B": 1 / _MB, "KiB": 1 / 1024.0, "MiB": 1.0,
    "GiB": 1024.0, "TiB": 1024.0 * 1024.0,
}


def _opt(value):
    """scala.Option → value or None."""
    return value.get() if value.isDefined() else None


def _jlist(jvm, seq) -> list:
    """A Scala Seq/Set as a Python list."""
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _epoch_s(date) -> float | None:
    return None if date is None else date.getTime() / 1000.0


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds or MiB.

    Formatted values look like ``"total (min, med, max ...)\\n1.2 s (...)"``
    or, for a single task, ``"512.0 B"``; plain counts have no unit.
    """
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-zµ]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class Tracer:
    """In-memory span recorder; `dump` writes the spans with self times."""

    spans: list[dict] = field(default_factory=list)

    def span(self, name: str, kind: str, start: float, end: float,
             parent: int | None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "parent": parent, "name": name,
            "kind": kind, "start": start, "end": end, **attrs,
        })
        return len(self.spans) - 1

    def open(self, name: str, kind: str, parent: int | None, **attrs) -> int:
        return self.span(name, kind, time.time(), float("nan"), parent, **attrs)

    def close(self, sid: int, **attrs) -> None:
        self.spans[sid]["end"] = time.time()
        self.spans[sid].update(attrs)

    def dump(self, path: str, **extra) -> None:
        """Write every span with `self_s`: its duration minus the part of
        that interval its children cover, plus `extra` top-level keys."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - covered
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.sink.append({
            "run_id": str(p.runId), "batch_id": p.batchId,
            "timestamp": p.timestamp, "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _phases(qe) -> dict[str, int]:
    phases = qe.tracker().phases()
    got = {}
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)  # scala.Some(PhaseSummary) or None
        if summary.isDefined():
            got[name] = summary.get().durationMs()
    return got


class _PhaseListener:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):
        self.sink.append(_phases(qe))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Collectors:
    """Reads Spark's own status stores for the ops of one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self.jsc = spark.sparkContext._jsc
        self.quantiles = spark.sparkContext._gateway.new_array(self.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0
        self.store = self.jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.progress: list[dict] = []
        self.phases: list[dict] = []
        self._executions_seen = 0
        self._stream_listener = _ProgressListener(self.progress)
        spark.streams.addListener(self._stream_listener)
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._phase_listener = _PhaseListener(self.phases)
        spark._jsparkSession.listenerManager().register(self._phase_listener)

    def close(self) -> None:
        self.drain()
        self.spark.streams.removeListener(self._stream_listener)
        self.spark._jsparkSession.listenerManager().unregister(self._phase_listener)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def jobs(self, group: str) -> list[dict]:
        """Per job of `group`: wall window and its stages' metrics."""
        out = []
        for jid in self.job_ids(group):
            job = self.store.job(jid)
            stages = []
            for sid in _jlist(self.jvm, job.stageIds()):
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage never ran
                    continue
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                stages.append(self._stage(st))
            out.append({
                "job_id": jid,
                "start": _epoch_s(_opt(job.submissionTime())),
                "end": _epoch_s(_opt(job.completionTime())),
                "stages": stages,
            })
        return out

    def _stage(self, st) -> dict:
        skew = 1.0
        summary = _opt(self.store.taskSummary(
            st.stageId(), st.attemptId(), self.quantiles))
        if summary is not None:
            med, mx = _jlist(self.jvm, summary.executorRunTime())
            skew = mx / med if med > 0 else 1.0
        return {
            "stage_id": st.stageId(),
            "start": _epoch_s(_opt(st.submissionTime())),
            "end": _epoch_s(_opt(st.completionTime())),
            "tasks": st.numTasks(),
            "run_s": st.executorRunTime() / 1000.0,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1000.0,
            "shuffle_write_mb": st.shuffleWriteBytes() / _MB,
            "shuffle_read_mb": st.shuffleReadBytes() / _MB,
            "fetch_wait_s": st.shuffleFetchWaitTime() / 1000.0,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB,
            "input_mb": st.inputBytes() / _MB,
            "input_rows": st.inputRecords(),
            "output_mb": st.outputBytes() / _MB,
            "output_rows": st.outputRecords(),
            "task_skew": skew,
        }

    def python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Python-worker metrics of the SQL executions that ran `job_ids`
        (only executions listed since the previous call are examined)."""
        totals = dict.fromkeys(_PY_METRICS.values(), 0.0)
        count = self.sql_store.executionsCount()
        if count == self._executions_seen:
            return totals
        fresh = _jlist(self.jvm, self.sql_store.executionsList(
            self._executions_seen, count - self._executions_seen))
        self._executions_seen = count
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        seen: set[int] = set()
        for ex in fresh:
            ex_jobs = {int(j) for j in conv.asJava(ex.jobs()).keySet()}
            if not ex_jobs & job_ids:
                continue
            values = conv.asJava(self.sql_store.executionMetrics(ex.executionId()))
            for m in _jlist(self.jvm, ex.metrics()):
                key = _PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen or acc not in values:
                    continue
                seen.add(acc)
                totals[key] += parse_sql_metric(values[acc])
        return totals

    def pins(self) -> tuple[int, float]:
        """Persistent RDDs still registered, and their cached size in MiB."""
        infos = self.jsc.sc().getRDDStorageInfo()  # a Java array
        n = len(self.jsc.getPersistentRDDs())
        mb = sum((i.memSize() + i.diskSize()) for i in infos) / _MB
        return n, mb

    @staticmethod
    def phases_of(df) -> dict[str, int]:
        """Catalyst phases recorded in a DataFrame's own QueryExecution."""
        return _phases(df._jdf.queryExecution())

    def take_phases(self) -> list[dict]:
        got, self.phases[:] = list(self.phases), []
        return got

    def take_progress(self) -> list[dict]:
        got, self.progress[:] = list(self.progress), []
        return got


# (name, unit, better, the end-to-end metric and workload it should move)
LAYER_METRICS = [
    ("session.start_s", "s", "lower", "setup_s, all workloads"),
    ("compose.wall_s", "s", "lower", "pass_s, query_p50_s on llm_curation"),
    ("compose.driver_s", "s", "lower", "pass_s, query_p50_s on llm_curation"),
    ("compose.job_s", "s", "lower", "pass_s, query_p50_s on llm_curation"),
    ("compose.jobs", "count", "lower", "pass_s on llm_curation"),
    ("compose.stages", "count", "lower", "pass_s on llm_curation"),
    ("compose.share", "ratio", "lower", "pass_s on llm_curation"),
    ("catalyst.analysis_ms", "ms", "lower", "query_p50_s on etl_pipeline (many short plans)"),
    ("catalyst.optimization_ms", "ms", "lower", "query_p50_s on etl_pipeline (many short plans)"),
    ("catalyst.planning_ms", "ms", "lower", "query_p50_s on etl_pipeline (many short plans)"),
    ("execute.wall_s", "s", "lower", "pass_s on llm_curation (q245), etl_pipeline"),
    ("executor.jobs", "count", "lower", "pass_s on llm_curation (q245), etl_pipeline"),
    ("executor.stages", "count", "lower", "pass_s on llm_curation (q245), etl_pipeline"),
    ("executor.tasks", "count", "lower", "pass_s on llm_curation (q245), etl_pipeline"),
    ("executor.run_s", "s", "lower", "pass_s on llm_curation (q245), etl_pipeline"),
    ("executor.cpu_s", "s", "lower", "pass_s on llm_curation (q245), etl_pipeline"),
    ("executor.gc_s", "s", "lower", "pass_s on etl_pipeline; query_tail_s on llm_curation"),
    ("executor.busy_frac", "ratio", "higher", "pass_s on llm_curation (q245), etl_pipeline"),
    ("executor.task_skew", "ratio", "lower", "query_tail_s on llm_curation (q245 hubs)"),
    ("shuffle.write_mb", "MB", "lower", "pass_s on llm_curation (q245), etl_pipeline (dedup); peak_rss_mb"),
    ("shuffle.read_mb", "MB", "lower", "pass_s on llm_curation (q245), etl_pipeline (dedup)"),
    ("shuffle.fetch_wait_s", "s", "lower", "pass_s on llm_curation, etl_pipeline"),
    ("shuffle.spill_mb", "MB", "lower", "pass_s on llm_curation, etl_pipeline; peak_rss_mb"),
    ("sources.input_mb", "MB", "lower", "pass_s on etl_pipeline (scans)"),
    ("sources.input_rows", "count", "lower", "pass_s on etl_pipeline (scans)"),
    ("sources.output_mb", "MB", "lower", "pass_s on etl_pipeline (writes)"),
    ("sources.output_rows", "count", "lower", "pass_s on etl_pipeline (writes)"),
    ("sources.files_written", "count", "lower", "pass_s on etl_pipeline (writes)"),
    ("sources.tap_write_s", "s", "lower", "pass_s on etl_pipeline (writes)"),
    ("python.start_s", "s", "lower", "cold_pass_s on etl_pipeline (q17)"),
    ("python.init_s", "s", "lower", "cold_pass_s on etl_pipeline (q17)"),
    ("python.run_s", "s", "lower", "pass_s on llm_curation (q185), etl_pipeline (q17)"),
    ("python.sent_mb", "MB", "lower", "pass_s on llm_curation (q185)"),
    ("python.recv_mb", "MB", "lower", "pass_s on llm_curation (q185)"),
    ("pipeline.step_s", "s", "lower", "pass_s on etl_pipeline"),
    ("pipeline.steps_run", "count", "lower", "pass_s on etl_pipeline"),
    ("pipeline.steps_skipped", "count", "higher", "pass_s on etl_pipeline"),
    ("pipeline.skip_check_s", "s", "lower", "pass_s on etl_pipeline"),
    ("streaming.batches", "count", "lower", "pass_s, query_tail_s on etl_pipeline"),
    ("streaming.trigger_ms", "ms", "lower", "pass_s, query_tail_s on etl_pipeline"),
    ("streaming.add_batch_ms", "ms", "lower", "pass_s, query_tail_s on etl_pipeline"),
    ("streaming.planning_ms", "ms", "lower", "pass_s, query_tail_s on etl_pipeline"),
    ("streaming.commit_ms", "ms", "lower", "pass_s, query_tail_s on etl_pipeline"),
    ("streaming.state_rows", "count", "lower", "peak_rss_mb on etl_pipeline"),
    ("storage.pinned_rdds", "count", "lower", "peak_rss_mb on llm_curation"),
    ("storage.pinned_mb", "MB", "lower", "peak_rss_mb on llm_curation"),
    ("trace.pass_s", "s", "lower", "pass_s in the traced run; minus the untraced pass_s = tracing overhead"),
]
