"""Per-layer measurement for traced runs.

Everything is recorded from the benchmark's side of the program's public
functions: wall-clock spans around each call, plus what Spark itself keeps —
the ``QueryPlanningTracker`` phases of a returned DataFrame, the status
store's stage records, and the progress events of every streaming query
(through a ``StreamingQueryListener``). The program is not instrumented.

Jobs and stages are attributed by id range: the DAG scheduler numbers both
in submission order and the benchmark runs one call at a time, so the ids
issued while a span is open belong to it. That includes the jobs a
streaming query's own thread submits, which a job group would miss.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

MB = 1024 * 1024


def span_keys(name: str) -> tuple[str, str | None]:
    """The (time, jobs) metric names of a span: ``plans.build`` gives
    ``plans.build_s`` and ``plans.build_jobs``, a slug span
    ``slug.<slug>.s`` and ``slug.<slug>.jobs``. The ``exec`` span (the
    action that runs a DataFrame) gives ``exec.s`` alone: ``exec.jobs``
    counts every job of the pass."""
    if name == "exec":
        return "exec.s", None
    if name.startswith("slug."):
        return name + ".s", name + ".jobs"
    return name + "_s", name + "_jobs"


class Tracer:
    """Collects spans and Spark-side counters for one run.

    With ``enabled=False`` every method returns at once, so untraced runs
    time the same code path.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self._listener = None
        self._pass = None       # totals of the pass being recorded
        self._passes = []       # one totals dict per finished pass

    def attach(self, spark) -> None:
        """Start listening on ``spark``; call once the session is up."""
        if not self.enabled:
            return
        self.spark = spark
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer._on_progress(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        spark.streams.addListener(self._listener)

    def detach(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- passes and spans ---------------------------------------------------

    def begin_pass(self) -> None:
        if not self.enabled:
            return
        self._drain()
        self._pass = defaultdict(float)
        self._first = self._next_ids()

    def end_pass(self, pass_s: float) -> None:
        """Close the pass. The status-store reads happen here, after the
        caller has stopped its timer."""
        if not self.enabled:
            return
        self._drain()
        first_job, first_stage = self._first
        next_job, next_stage = self._next_ids()
        stages = self._stages(first_stage, next_stage)
        p = self._pass
        p["pass_s"] = pass_s
        p["exec.jobs"] = next_job - first_job
        p["exec.stages"] = len(stages)
        p["exec.tasks"] = sum(s["numTasks"] for s in stages)
        p["exec.executor_run_s"] = sum(s["executorRunTime"] for s in stages) / 1e3
        p["exec.executor_cpu_s"] = sum(s["executorCpuTime"] for s in stages) / 1e9
        p["exec.gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1e3
        p["exec.shuffle_read_mb"] = sum(s["shuffleReadBytes"] for s in stages) / MB
        p["exec.shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in stages) / MB
        p["exec.spill_mb"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                 for s in stages) / MB
        self._passes.append(dict(p))
        self._pass = None

    @contextlib.contextmanager
    def span(self, *names: str):
        """Add the block's wall time, and the number of Spark jobs it
        started, to each named metric pair (see ``span_keys``)."""
        if not self.enabled:
            yield
            return
        job0 = self._next_ids()[0]
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            jobs = self._next_ids()[0] - job0
            for name in names:
                time_key, jobs_key = span_keys(name)
                self._pass[time_key] += dt
                if jobs_key:
                    self._pass[jobs_key] += jobs

    def planning(self, df) -> None:
        """Record the Catalyst phases of ``df``'s own query execution.

        This forces analysis, optimization and physical planning of ``df``
        before the action that runs it, and the action then plans its own
        write command again. The extra planning lands in the traced pass
        only and is part of the measured tracing overhead.
        """
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self._pass[f"catalyst.{kv._1()}_s"] += kv._2().durationMs() / 1e3

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self._pass[name] += value

    def passes(self) -> list[dict]:
        return self._passes

    # -- Spark side ---------------------------------------------------------

    def _on_progress(self, prog: dict) -> None:
        # runs on the listener's callback thread; it writes only the
        # streaming.* keys, and end_pass drains the bus before reading them
        p = self._pass
        if p is None:
            return
        d = prog.get("durationMs", {})
        p["streaming.batches"] += 1
        p["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        p["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        p["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        p["streaming.commit_offsets_s"] += d.get("commitOffsets", 0) / 1e3
        p["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        for op in prog.get("stateOperators", []):
            p["streaming.state_rows"] += op.get("numRowsTotal", 0)
            p["streaming.state_mb"] += op.get("memoryUsedBytes", 0) / MB

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60000)

    def _next_ids(self) -> tuple[int, int]:
        """The ids the DAG scheduler will give the next job and stage."""
        dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def _stages(self, lo: int, hi: int) -> list[dict]:
        """Status-store records of the stages with ids in [lo, hi),
        serialized in the JVM: one py4j round trip, not one per field."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        seq = sc._jsc.sc().statusStore().stageList(None, False, False,
                                                   no_quantiles, None)
        rows = json.loads(mapper.writeValueAsString(seq))
        return [r for r in rows if lo <= r["stageId"] < hi]


def dir_state(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            full = os.path.join(base, f)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, float]:
    """Files (count, MB) that are new or changed between two listings."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    return len(changed), sum(after[k][0] for k in changed) / MB
