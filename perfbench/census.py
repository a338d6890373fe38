"""Per-layer tracing, taken from outside the engine.

``Tracer`` records spans around the calls the benchmark makes into the
package (name, start, end, parent, op id) and counters at the same
boundaries. With tracing on it also takes a Spark census of each op:

- jobs are attributed to an op by the range of job ids submitted while
  it ran (one client, sequential ops), which also catches streaming
  micro-batch jobs that run under their query's own job group;
- stage metrics (tasks, executor run/CPU/GC time, shuffle, spill,
  input/output bytes) come from the status store;
- Catalyst analysis/optimization/planning time comes from a
  ``QueryExecutionListener``: the noop write builds its own
  ``QueryExecution``, so the op's final action is the last one the
  listener sees;
- streaming ``durationMs`` comes from a ``StreamingQueryListener``.

With tracing off every call is a no-op, so end-to-end figures are
measured without it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STREAM_METRICS = {"streaming.add_batch_ms": "addBatch",
                  "streaming.query_planning_ms": "queryPlanning",
                  "streaming.wal_commit_ms": "walCommit",
                  "streaming.trigger_ms": "triggerExecution"}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counters: dict[str, float] = {}
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op: dict | None = None
        self._spark = None

    # -- spans and counters -------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op["op"] if self._op else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            key = f"{name}_ms"
            self.count(key, 1000 * (rec["end"] - rec["start"]))

    def count(self, name: str, value: float) -> None:
        if not self.enabled:
            return
        target = self._op["counters"] if self._op else self.counters
        target[name] = target.get(name, 0) + value

    @contextmanager
    def op(self, op_id: int, name: str):
        """One timed op. Census collection happens before the op's
        clock starts and after it stops; its cost is ``overhead_s``."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        lo = self._spark.begin() if self._spark else None
        self.overhead_s += time.perf_counter() - t0
        self._op = {"op": op_id, "name": name, "counters": {}}
        with self.span("op") as span:
            yield
        rec = self._op
        self._op = None
        t1 = time.perf_counter()
        if self._spark:
            rec["counters"].update(self._spark.end(
                lo, span["start"], span["end"]))
        self.overhead_s += time.perf_counter() - t1
        rec["counters"].pop("op_ms", None)
        rec["wall_ms"] = 1000 * (span["end"] - span["start"])
        self.ops.append(rec)

    def attach_spark(self, spark) -> None:
        if self.enabled:
            self._spark = SparkCensus(spark)

    # -- results ------------------------------------------------------

    def totals(self) -> dict[str, float]:
        out = dict(self.counters)
        for rec in self.ops:
            for k, v in rec["counters"].items():
                out[k] = out.get(k, 0) + v
        return out

    def overhead(self) -> float:
        """Seconds spent collecting the census and in listener
        callbacks: the work a traced run does that an untraced run
        does not."""
        return self.overhead_s + (self._spark.callback_s if self._spark
                                  else 0.0)

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the part covered by
        its child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child.get(s["id"], 0)
            out[s["name"]] = out.get(s["name"], 0) + 1000 * own
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops,
                       "self_ms": self.self_times(), **extra}, f)


class SparkCensus:
    """Reads the driver's status store through py4j. Every call made
    here runs outside an op's timed span."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        jvm = spark._jvm
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self.mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self.jvm = jvm
        self.callback_s = 0.0
        self.plans: list[dict] = []
        self.batches: list[dict] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._qe = _PlanListener(self)
        spark._jsparkSession.listenerManager().register(self._qe)
        self._stream = _stream_listener(self)
        spark.streams.addListener(self._stream)

    def drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def _jobs_after(self, lo: int) -> list[dict]:
        jobs = json.loads(self.mapper.writeValueAsString(
            self.store.jobsList(None)))
        return [j for j in jobs if j["jobId"] > lo]

    def begin(self) -> int:
        self.drain()
        self.plans.clear()
        self.batches.clear()
        ids = [j["jobId"] for j in self._jobs_after(-1)]
        return max(ids, default=-1)

    def end(self, lo: int, t_start: float, t_end: float) -> dict:
        self.drain()
        jobs = self._jobs_after(lo)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        if stage_ids:
            lst = self.jvm.java.util.ArrayList()
            for sid in stage_ids:
                try:
                    lst.add(self.store.lastStageAttempt(sid))
                except Py4JJavaError:
                    pass  # evicted past the status store's retention
            stages = json.loads(self.mapper.writeValueAsString(lst))
        ran = [s for s in stages if s.get("status") != "SKIPPED"]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(ran),
            "spark.tasks": sum(s["numTasks"] for s in ran),
            "spark.executor_run_ms": sum(s["executorRunTime"] for s in ran),
            "spark.executor_cpu_ms": sum(s["executorCpuTime"]
                                         for s in ran) / 1e6,
            "spark.gc_ms": sum(s["jvmGcTime"] for s in ran),
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"]
                                            for s in ran),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                             for s in ran),
            "spark.spill_bytes": sum(s["memoryBytesSpilled"]
                                     + s["diskBytesSpilled"] for s in ran),
            "spark.input_bytes": sum(s["inputBytes"] for s in ran),
            "spark.output_bytes": sum(s["outputBytes"] for s in ran),
            "spark.actions": len(self.plans),
            "spark.plan_ms": self.plans[-1]["plan_ms"] if self.plans else 0,
        }
        # driver gap: op wall time minus the union of its jobs' run
        # intervals (epoch ms, clipped to the op)
        wall_ms = 1000 * (t_end - t_start)
        epoch_end = time.time() * 1000 - 1000 * (time.perf_counter() - t_end)
        epoch_start = epoch_end - wall_ms
        spans = sorted((max(j["submissionTime"], epoch_start),
                        min(j.get("completionTime") or epoch_end, epoch_end))
                       for j in jobs if j.get("submissionTime"))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out["spark.driver_gap_ms"] = max(0.0, wall_ms - covered)
        out["streaming.batches"] = len(self.batches)
        for name, key in STREAM_METRICS.items():
            out[name] = sum(b.get(key, 0) for b in self.batches)
        return out


class _PlanListener:
    """``QueryExecutionListener`` implemented over py4j: records the
    Catalyst phase times of every action's ``QueryExecution``."""

    def __init__(self, census: SparkCensus):
        self.census = census

    def _record(self, func, qe):
        t0 = time.perf_counter()
        try:
            phases = qe.tracker().phases()
            it = phases.iterator()
            total, per = 0, {}
            while it.hasNext():
                kv = it.next()
                ms = kv._2().durationMs()
                per[kv._1()] = ms
                total += ms
            self.census.plans.append({"func": func, "plan_ms": total,
                                      "phases": per})
        finally:
            self.census.callback_s += time.perf_counter() - t0

    def onSuccess(self, func, qe, duration_ns):
        self._record(func, qe)

    def onFailure(self, func, qe, exc):
        self._record(func, qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _stream_listener(census: SparkCensus):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t0 = time.perf_counter()
            census.batches.append(dict(event.progress.durationMs))
            census.callback_s += time.perf_counter() - t0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the process py4j talks to)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and all
    its live descendants (the driver JVM, the Python worker daemon and
    its workers), each including the children it has reaped. Time the
    host steals from this machine's CPUs is not counted."""
    parent_of, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process has ended since listdir
            continue
        # fields after the parenthesised command name: ppid is the 2nd,
        # utime, stime, cutime and cstime the 12th to 15th
        rest = stat[stat.rindex(")") + 2:].split()
        parent_of[int(d)] = int(rest[1])
        ticks[int(d)] = sum(map(int, rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, ppid in parent_of.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")
