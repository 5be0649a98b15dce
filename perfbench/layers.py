"""Per-layer tracing, measured from outside the program.

The traced run (``--trace 1``) wraps each batch op in three spans, each
under its own Spark job group:

- ``build``: the ``queries()[name](spark, sf_dir)`` call, i.e. the
  ``core``/``operators``/``functions``/``sources`` code that assembles
  the DataFrame, including the driver-side jobs some ops launch while
  building (memo fills, collects);
- ``plan``: forcing ``queryExecution().executedPlan()``;
- ``action``: ``toPandas()``.

Right after each op it reads Catalyst's phase tracker, the status store
(per stage: run, CPU and GC time, shuffle bytes, spill, failed tasks)
for every job of the op's groups, and the SQL metrics of the Python
operators in the final adaptive plan. The status store keeps only the
most recent ~1,000 jobs and stages, so nothing is read later. Streams
are traced from ``StreamingQuery.recentProgress`` and the stream's own
job group (its run id).

Every span and count is kept in memory and written to a JSON sidecar
when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time

MB = 1024.0 * 1024.0

#: SQL metrics of the Python/Arrow operators, by per-layer metric name
PYTHON_METRICS = {
    "python.boot_s": ("pythonBootTime", 1e-3),
    "python.init_s": ("pythonInitTime", 1e-3),
    "python.total_s": ("pythonTotalTime", 1e-3),
    "python.sent_mb": ("pythonDataSent", 1 / MB),
    "python.received_mb": ("pythonDataReceived", 1 / MB),
}

EXEC_KEYS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s",
    "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.task_failures",
)

STREAM_DURATIONS = {
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
}

SESSION_KEYS = ("session.cold_start_s", "session.start_s", "session.worker_pool_s",
                "session.stage_inputs_s")
OP_KEYS = (
    ("build.s", "build.jobs", "plan.s")
    + ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s")
    + ("exec.s",) + EXEC_KEYS + tuple(PYTHON_METRICS)
)
STREAM_KEYS = tuple(STREAM_DURATIONS) + (
    "streaming.state_commit_s", "streaming.state_rows_total",
    "streaming.state_rows_updated", "streaming.state_memory_mb",
    "streaming.rows_dropped_by_watermark", "streaming.batches",
)
#: the JVM's first replay of all streams (the untimed cold replay)
COLD_REPLAY = "streaming.cold_replay_s"
#: every per-layer metric a traced run reports, in report order
PER_LAYER = (
    SESSION_KEYS + OP_KEYS[:2] + ("build.jobs_cold",) + OP_KEYS[2:] + STREAM_KEYS
    + (COLD_REPLAY,)
    + ("trace.warm_pass_s", "trace.residual_ms")
)


def progress_dicts(query) -> list[dict]:
    """``recentProgress`` as plain dicts (objects on Spark 4, dicts before)."""
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def _scala_items(m):
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def _plan_nodes(plan):
    """Every node of a physical plan, descending into adaptive query
    stages, reused exchanges and cached relations."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def _parse_sql_metric(text: str) -> float:
    """A SQL metric as the SQL status store prints it (``"12.3 s"``, or
    ``"total (min, med, max ...)\n4.1 MiB (...)"``), in seconds or MB."""
    number, unit = text.split("\n")[-1].split()[:2]
    number = float(number.replace(",", ""))
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1 / MB,
             "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2}
    return number * scale[unit]


#: display names of the Python operators' SQL metrics in the status store
PYTHON_DISPLAY = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.ops: list[dict] = []
        self.streams: list[dict] = []
        self._n = 0

    # -- status store -------------------------------------------------
    def _stage(self, sid: int):
        jvm = self.sc._jvm
        try:
            data = self.store.stageAttempt(
                sid, 0, False, jvm.java.util.ArrayList(), False,
                self.sc._gateway.new_array(jvm.double, 0),
            )._1()
        except Exception:  # noqa: BLE001 - a stage that never ran has no entry
            return None
        return None if str(data.status().toString()) == "SKIPPED" else data

    def exec_counts(self, groups) -> dict:
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        tracker = self.sc.statusTracker()
        for group in groups:
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                out["exec.jobs"] += 1
                for sid in info.stageIds if info else ():
                    s = self._stage(sid)
                    if s is None:
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += s.numTasks()
                    out["exec.run_s"] += s.executorRunTime() / 1e3
                    out["exec.cpu_s"] += s.executorCpuTime() / 1e9
                    out["exec.gc_s"] += s.jvmGcTime() / 1e3
                    out["exec.shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                    out["exec.shuffle_read_mb"] += (
                        s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()) / MB
                    out["exec.spill_mb"] += (
                        s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
                    out["exec.task_failures"] += s.numFailedTasks()
        return out

    # -- batch ops ----------------------------------------------------
    def run_op(self, name: str, build):
        """Build, plan and collect one op under three job groups; returns
        the pandas result. Counts are read by :meth:`finish_op`."""
        self._n += 1
        gid = f"perfbench-{self._n}"
        t0 = time.perf_counter()
        self.sc.setJobGroup(f"{gid}.build", name)
        df = build()
        t1 = time.perf_counter()
        self.sc.setJobGroup(f"{gid}.plan", name)
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.perf_counter()
        self.sc.setJobGroup(f"{gid}.action", name)
        pdf = df.toPandas()
        t3 = time.perf_counter()
        self.sc._jsc.clearJobGroup()
        self._pending = (name, gid, qe, t1 - t0, t2 - t1, t3 - t2)
        return pdf

    def finish_op(self, phase: str, pass_no: int, wall_s: float) -> None:
        name, gid, qe, build_s, plan_s, action_s = self._pending
        tracker = self.sc.statusTracker()
        rec = {
            "op": name, "phase": phase, "pass": pass_no, "wall_s": wall_s,
            "build.s": build_s, "plan.s": plan_s, "exec.s": action_s,
            "build.jobs": len(tracker.getJobIdsForGroup(f"{gid}.build")),
        }
        phases = dict(_scala_items(qe.tracker().phases()))
        for key in ("analysis", "optimization", "planning"):
            ph = phases.get(key)
            rec[f"catalyst.{key}_s"] = ph.durationMs() / 1e3 if ph is not None else 0.0
        rec.update(self.exec_counts([f"{gid}.build", f"{gid}.plan", f"{gid}.action"]))
        py = dict.fromkeys(PYTHON_METRICS, 0.0)
        for node in _plan_nodes(qe.executedPlan()):
            if "Pandas" not in node.nodeName() and "Python" not in node.nodeName():
                continue
            metrics = dict(_scala_items(node.metrics()))
            for key, (metric, scale) in PYTHON_METRICS.items():
                if metric in metrics:
                    py[key] += metrics[metric].value() * scale
        rec.update(py)
        self.ops.append(rec)

    # -- streams ------------------------------------------------------
    def mark(self) -> int:
        """SQL executions so far; pass it to :meth:`finish_stream`."""
        return self.sql_store.executionsCount()

    def _python_since(self, mark: int) -> dict:
        """Python-operator SQL metrics of every SQL execution (one per
        micro-batch) started since ``mark``."""
        out = dict.fromkeys(PYTHON_METRICS, 0.0)
        count = self.sql_store.executionsCount()
        executions = self.sql_store.executionsList(mark, count - mark)
        for i in range(executions.size()):
            ex = executions.apply(i)
            metrics = ex.metrics()
            ids = {}
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() in PYTHON_DISPLAY:
                    ids[m.accumulatorId()] = PYTHON_DISPLAY[m.name()]
            if not ids:
                continue
            values = ex.metricValues()
            if values is None:
                values = self.sql_store.executionMetrics(ex.executionId())
            for acc, text in _scala_items(values):
                if acc in ids:
                    out[ids[acc]] += _parse_sql_metric(text)
        return out

    def finish_stream(self, name: str, phase: str, pass_no: int, query, build_s: float,
                      wall_s: float, mark: int) -> None:
        progress = progress_dicts(query)
        rec = {"stream": name, "phase": phase, "pass": pass_no, "wall_s": wall_s,
               "build.s": build_s}
        for key, dur in STREAM_DURATIONS.items():
            rec[key] = sum(p["durationMs"].get(dur, 0) for p in progress) / 1e3
        states = [so for p in progress for so in p.get("stateOperators", [])]
        last = progress[-1].get("stateOperators", []) if progress else []
        rec["streaming.state_commit_s"] = sum(so.get("commitTimeMs", 0) for so in states) / 1e3
        rec["streaming.state_rows_updated"] = sum(so.get("numRowsUpdated", 0) for so in states)
        rec["streaming.rows_dropped_by_watermark"] = sum(
            so.get("numRowsDroppedByWatermark", 0) for so in states)
        rec["streaming.state_rows_total"] = sum(so.get("numRowsTotal", 0) for so in last)
        rec["streaming.state_memory_mb"] = sum(so.get("memoryUsedBytes", 0) for so in last) / MB
        rec["streaming.batches"] = len(progress)
        rec.update(self.exec_counts([str(query.runId)]))
        rec.update(self._python_since(mark))
        self.streams.append(rec)

    # -- report -------------------------------------------------------
    def metrics(self, session: dict, passes: list[dict]) -> dict:
        """Per-layer metrics: each op or stream count summed per warm pass
        (or replay), then the median over the timed passes. ``passes`` is
        the run's per-pass log, indexed by pass number."""
        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update(session)
        records = self.ops or self.streams
        timed = sorted({r["pass"] for r in records if r["phase"] == "timed"})
        for metric in OP_KEYS + STREAM_KEYS:
            if metric in records[0]:
                out[metric] = statistics.median(
                    sum(r[metric] for r in records if r["pass"] == k) for k in timed)
        if self.ops:
            out["build.jobs_cold"] = sum(r["build.jobs"] for r in self.ops if r["phase"] == "cold")
            # each timed pass's own clock minus the spans of its ops:
            # what the spans miss (clearCache, the reads after each op)
            out["trace.residual_ms"] = 1e3 * statistics.median(
                passes[k]["clock_s"] - sum(r["build.s"] + r["plan.s"] + r["exec.s"]
                                           for r in self.ops if r["pass"] == k)
                for k in timed)
        else:
            out[COLD_REPLAY] = passes[0]["wall_s"]
        out["trace.warm_pass_s"] = statistics.median(passes[k]["wall_s"] for k in timed)
        return out

    def sidecar(self) -> dict:
        return {"ops": self.ops, "streams": self.streams}
