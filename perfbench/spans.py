"""Span tracer for the traced run: one span around every call into a layer's
public function, plus that call's Spark job and stage metrics.

The tracer wraps module attributes (and class methods) in place, so calls
made by the package itself (run_pipeline -> filters.apply_tag_filter, the
CLI -> SnapshotTable.write_snapshot) are traced as well as the benchmark's
own calls. `restore()` puts the originals back.

For every span:
  call_s   wall time of the Python call, minus time the tracer itself spent
           measuring child spans;
  jobs     Spark jobs launched inside the call (a job group is set around
           it; child spans' jobs count for their parents too);
  task_s / input_bytes / shuffle_bytes / spill_bytes / out_bytes
           summed stage metrics. For a call that returns a DataFrame they are
           the metrics of a noop-sink run of the output minus those of a
           noop-sink run of the DataFrame it was given; for any other call
           they are the metrics of the jobs the call launched, plus the
           `bytes` a writer reports writing from the Spark driver process;
  exec_s   noop-sink time of the output minus noop-sink time of the input
           (DataFrame-returning calls only; can be negative when the call
           pinned its input eagerly);
  rows_in / rows_out  row counts of those noop-sink runs.
A call that returns a Column (filters.filter_mask_native) is charged when
the next traced call receives a DataFrame: the noop time of that DataFrame
minus that of the last DataFrame a traced call returned.
"""

from __future__ import annotations

import itertools
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "out_bytes": ("outputBytes", 1),
}


class Span:
    __slots__ = ("id", "name", "parent", "workload", "iteration", "start",
                 "end", "probe_s", "jobs", "values")

    def __init__(self, sid, name, parent, workload, iteration):
        self.id, self.name, self.parent = sid, name, parent
        self.workload, self.iteration = workload, iteration
        self.start = time.perf_counter()
        self.end = None
        self.probe_s = 0.0
        self.jobs: list[int] = []  # its own and its descendants' Spark jobs
        self.values: dict[str, float] = {}

    def record(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "workload": self.workload, "iteration": self.iteration,
                "start": self.start, "end": self.end, **self.values}


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.iteration = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._noop: dict[int, tuple[DataFrame, dict]] = {}
        self._last_out: DataFrame | None = None
        self._pending_column: Span | None = None

    # -- instrumentation -----------------------------------------------------
    def instrument(self, targets) -> None:
        """targets: (owner, attribute, span name, spark_accounting)."""
        for owner, attr, name, spark_side in targets:
            fn = getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, spark_side))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def _wrap(self, fn, name: str, spark_side: bool):
        tracer = self

        def traced(*args, **kwargs):
            if tracer.iteration is None:
                return fn(*args, **kwargs)
            if not spark_side:
                return tracer._call_local(fn, name, args, kwargs)
            return tracer._call(fn, name, args, kwargs)

        return traced

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(next(self._ids), name, parent, self.workload, self.iteration)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        span.values["call_s"] = span.end - span.start - span.probe_s

    def _call_local(self, fn, name, args, kwargs):
        """A call that runs no Spark work: just a timed span."""
        span = self._open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(span)

    def _call(self, fn, name, args, kwargs):
        df_in = next((a for a in list(args) + list(kwargs.values())
                      if isinstance(a, DataFrame)), None)
        if df_in is not None and self._pending_column is not None:
            self._charge_column(df_in)
        parent_group = self._stack[-1].id if self._stack else None
        span = self._open(name)
        self.sc.setJobGroup(f"perfbench-{span.id}", name)
        try:
            out = fn(*args, **kwargs)
        finally:
            self._close(span)
            self._set_group(parent_group)
        t0 = time.perf_counter()
        self._account(span, df_in, out)
        self._charge_probe(time.perf_counter() - t0)
        return out

    def _set_group(self, span_id) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span_id}", "")

    def _charge_probe(self, seconds: float) -> None:
        """Time spent measuring is not the enclosing calls' own time."""
        for s in self._stack:
            s.probe_s += seconds

    # -- measurement -----------------------------------------------------------
    def _stage_totals(self, jobs) -> dict[str, float]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped (never attempted) or evicted
                    continue
                for key, (getter, scale) in STAGE_FIELDS.items():
                    tot[key] += getattr(sd, getter)() * scale
        return tot

    def _noop_run(self, df: DataFrame) -> dict:
        """Time one noop-sink run of `df` with a row count observed in the
        same pass; cached per DataFrame (the output of one call is usually
        the input of the next)."""
        hit = self._noop.get(id(df))
        if hit is not None and hit[0] is df:
            return hit[1]
        group = f"perfbench-probe-{next(self._ids)}"
        self.sc.setJobGroup(group, "noop probe")
        obs = Observation()
        t0 = time.perf_counter()
        (df.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        secs = time.perf_counter() - t0
        rows = obs.get["n"]
        self._set_group(self._stack[-1].id if self._stack else None)
        m = {"exec_s": secs, "rows": rows,
             **self._stage_totals(self.sc.statusTracker().getJobIdsForGroup(group))}
        self._noop[id(df)] = (df, m)
        return m

    def _account(self, span: Span, df_in, out) -> None:
        span.jobs = list(self.sc.statusTracker()
                         .getJobIdsForGroup(f"perfbench-{span.id}")) + [
            j for s in self.spans if s.parent == span.id for j in s.jobs]
        v = span.values
        v["jobs"] = len(span.jobs)
        if isinstance(out, DataFrame):
            after = self._noop_run(out)
            before = self._noop_run(df_in) if df_in is not None else None
            for key in ("exec_s", *STAGE_FIELDS):
                v[key] = after[key] - (before[key] if before else 0.0)
            v["rows_out"] = after["rows"]
            v["rows_in"] = before["rows"] if before else 0
            self._last_out = out
        else:
            v.update(self._stage_totals(span.jobs))
            if isinstance(out, dict) and "bytes" in out:
                v["out_bytes"] += float(out["bytes"])  # written outside Spark tasks
            if isinstance(out, Column):
                self._pending_column = span

    def _charge_column(self, df_in: DataFrame) -> None:
        span, self._pending_column = self._pending_column, None
        if self._last_out is None:
            return
        t0 = time.perf_counter()
        after, before = self._noop_run(df_in), self._noop_run(self._last_out)
        span.values["exec_s"] = after["exec_s"] - before["exec_s"]
        self._charge_probe(time.perf_counter() - t0)

    # -- output ------------------------------------------------------------------
    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: each value summed over the calls, plus the call
        durations (for latency percentiles)."""
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(s.name, {"durations": []})
            agg["durations"].append(s.values.get("call_s", 0.0))
            for k, val in s.values.items():
                agg[k] = agg.get(k, 0.0) + val
        return out
