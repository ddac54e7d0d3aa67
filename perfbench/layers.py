"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around calls into the
engine's layers: the public read methods of ``QuokkaContext`` and the
public functions of the three lake source modules are wrapped at
module-attribute level, every py4j round trip is counted, and each op's
Spark jobs are tagged with ``setJobDescription``. After the run, Spark's
uncompressed event log gives per-op execution, shuffle and Python-worker
numbers; the JVM's MXBeans and codegen counters are sampled around each
op; a ``StreamingQueryListener`` records micro-batch progress. Spans are
kept in memory and written out at the end.

``LAYER_METRICS`` lists every per-layer metric with the end-to-end metric
it should move and the workloads it should move on.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import re
import threading
import time
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

# name, unit, better, end-to-end metric it should move, workloads
LAYER_METRICS = [
    ("session.start_s", "s", "lower", "setup_s", "all"),
    ("session.first_job_s", "s", "lower", "setup_s", "all"),
    ("context.read_calls", "count/op", "lower", "query_p50_s ops_per_s",
     "tpch; ~0 on lakehouse"),
    ("context.read_s", "s/op", "lower", "query_p50_s ops_per_s",
     "tpch; ~0 on lakehouse"),
    ("datastream.build_s", "s/op", "lower", "query_p50_s",
     "tpch timeseries_llm"),
    ("driver.py4j_calls", "count/op", "lower", "query_p50_s",
     "tpch timeseries_llm"),
    ("driver.py4j_s", "s/op", "lower", "query_p50_s", "tpch timeseries_llm"),
    ("catalyst.plan_s", "s/op", "lower", "query_p50_s", "tpch lakehouse"),
    ("catalyst.plan_nodes", "count/op", "lower", "query_p50_s",
     "tpch lakehouse"),
    ("catalyst.scan_nodes", "count/op", "lower", "query_p50_s",
     "tpch lakehouse"),
    ("catalyst.exchanges", "count/op", "lower", "query_p50_s",
     "tpch lakehouse"),
    ("codegen.compile_s", "s/op", "lower", "setup_s query_p50_s", "tpch"),
    ("codegen.classes", "count/op", "lower", "setup_s query_p50_s", "tpch"),
    ("exec.wall_s", "s/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm; ~0 on lakehouse"),
    ("exec.jobs", "count/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.stages", "count/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.tasks", "count/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.task_run_s", "s/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.task_cpu_s", "s/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.core_util", "fraction", "higher", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.max_task_share", "fraction", "lower", "query_tail_s",
     "tpch timeseries_llm"),
    ("exec.shuffle_write_mb", "MB/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.shuffle_read_mb", "MB/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.spill_mb", "MB/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.peak_exec_mem_mb", "MB", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("exec.input_mb", "MB/op", "lower", "ops_per_s query_tail_s",
     "tpch timeseries_llm"),
    ("udf.boot_s", "s/op", "lower", "query_p50_s", "timeseries_llm; 0 on tpch"),
    ("udf.init_s", "s/op", "lower", "query_p50_s", "timeseries_llm; 0 on tpch"),
    ("udf.time_s", "s/op", "lower", "query_p50_s", "timeseries_llm; 0 on tpch"),
    ("udf.bytes_sent_mb", "MB/op", "lower", "query_p50_s",
     "timeseries_llm; 0 on tpch"),
    ("udf.bytes_recv_mb", "MB/op", "lower", "query_p50_s",
     "timeseries_llm; 0 on tpch"),
    ("udf.rows", "count/op", "lower", "query_p50_s",
     "timeseries_llm; 0 on tpch"),
    ("streaming.batches", "count/op", "lower", "query_tail_s",
     "timeseries_llm"),
    ("streaming.planning_ms", "ms/op", "lower", "query_tail_s",
     "timeseries_llm"),
    ("streaming.add_batch_ms", "ms/op", "lower", "query_tail_s",
     "timeseries_llm"),
    ("streaming.commit_ms", "ms/op", "lower", "query_tail_s",
     "timeseries_llm"),
    ("streaming.wal_ms", "ms/op", "lower", "query_tail_s", "timeseries_llm"),
    ("streaming.state_rows", "count/op", "lower", "query_tail_s",
     "timeseries_llm"),
    ("sources.read_build_s", "s/op", "lower",
     "query_p50_s query_tail_s ops_per_s", "lakehouse; 0 on tpch"),
    ("sources.write_s", "s/op", "lower", "query_p50_s query_tail_s ops_per_s",
     "lakehouse; 0 on tpch"),
    ("sources.log_files", "count", "lower", "query_p50_s query_tail_s",
     "lakehouse; 0 on tpch"),
    ("sources.scan_nodes", "count/op", "lower", "query_p50_s query_tail_s",
     "lakehouse; 0 on tpch"),
    ("sources.bytes_written_per_row", "B/row", "lower", "ops_per_s",
     "lakehouse; 0 on tpch"),
    ("jvm.gc_s", "s/op", "lower", "query_tail_s setup_s", "all"),
    ("jvm.jit_s", "s/op", "lower", "query_tail_s setup_s", "all"),
    ("jvm.rss_mb", "MB", "lower", "setup_s", "all"),
    ("trace.ops_per_s", "1/s", "higher", "ops_per_s", "all"),
    ("trace.untraced_ops_per_s", "1/s", "higher", "ops_per_s", "all"),
    ("trace.overhead_pct", "%", "lower", "ops_per_s", "all"),
]

SOURCE_MODULES = ("quokka_spark.sources.delta_local",
                  "quokka_spark.sources.iceberg_local",
                  "quokka_spark.sources.hudi_local")
LAKE_LOG_DIRS = ("_delta_log", "metadata", ".hoodie")
PY_METRICS = {  # Python-worker SQL metric name -> udf field
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "time to run Python workers": "time",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "recv",
}
MB = 1024.0 * 1024.0


class Tracer:
    """Spans and counters for one run. ``enabled`` switches recording on
    and off without unwrapping, so one process can time the same ops
    with and without tracing."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._undo: list = []
        self._main = threading.get_ident()
        self._internal = False
        self._op = None
        self.progress: list[dict] = []
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._jit_bean = mf.getCompilationMXBean()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions \
            .codegen.CodeGenerator
        self._compile_hist = jvm.org.apache.spark.metrics.source \
            .CodegenMetrics.METRIC_COMPILATION_TIME()

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        import importlib

        from py4j.java_gateway import GatewayClient

        from quokka_spark.context import QuokkaContext
        for name, fn in list(vars(QuokkaContext).items()):
            if name.startswith("read_") and inspect.isfunction(fn):
                self._wrap(QuokkaContext, name, "context." + name)
        for modname in SOURCE_MODULES:
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[1]
            for name, fn in list(vars(mod).items()):
                if (not name.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == modname):
                    self._wrap(mod, name, f"sources.{short}.{name}")
        self._wrap_py4j(GatewayClient)
        self._listener = _ProgressListener(self.progress)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.spark.streams.removeListener(self._listener)

    def _wrap(self, owner, attr: str, span_name: str) -> None:
        orig = getattr(owner, attr)
        layer = span_name.split(".", 1)[0]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # only the outermost call of a layer gets a span: a source
            # function calling another public one is one unit of work.
            # Calls from other threads count too: the streaming sink runs
            # its batch function on a callback thread while the op waits.
            if (not tracer.enabled or tracer._op is None
                    or tracer._inside(layer)):
                return orig(*args, **kwargs)
            with tracer.span(span_name):
                return orig(*args, **kwargs)
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _wrap_py4j(self, cls) -> None:
        orig = cls.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            op = tracer._op
            if (op is None or not tracer.enabled or tracer._internal
                    or threading.get_ident() != tracer._main):
                return orig(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                op["py4j_calls"] += 1
                op["py4j_s"] += time.perf_counter() - t0
        cls.send_command = send_command
        self._undo.append((cls, "send_command", orig))

    # -- spans --------------------------------------------------------------

    def _inside(self, layer: str) -> bool:
        return any(self.spans[i]["name"].split(".", 1)[0] == layer
                   for i in self._stack)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self._op is None:
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack
               else None, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _jvm_counters(self) -> tuple:
        self._internal = True
        try:
            gc_ms = sum(b.getCollectionTime() for b in self._gc_beans)
            return (gc_ms, self._jit_bean.getTotalCompilationTime(),
                    self._codegen.compileTime(), self._compile_hist.getCount())
        finally:
            self._internal = False

    @contextlib.contextmanager
    def op(self, index: int, op, workload: str, seed: int):
        """Root span of one op; tags its Spark jobs and samples the JVM
        counters around it."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        kind = op.kind
        tag = f"perfbench op={index} kind={kind}"
        before = self._jvm_counters()
        self._internal = True
        sc.setJobDescription(tag)
        self._internal = False
        rec = {"index": index, "kind": kind, "round": op.round,
               "workload": workload, "seed": seed, "tag": tag, "py4j_calls": 0, "py4j_s": 0.0,
               "wall_start": time.time(), "span": len(self.spans)}
        self._op = rec
        try:
            with self.span("op"):
                yield rec
        finally:
            self._op = None
            rec["wall_end"] = time.time()
            rec["span_end"] = len(self.spans)
            after = self._jvm_counters()
            self._internal = True
            sc.setJobDescription(None)
            self._internal = False
            rec["gc_s"] = (after[0] - before[0]) / 1e3
            rec["jit_s"] = (after[1] - before[1]) / 1e3
            rec["codegen_s"] = (after[2] - before[2]) / 1e9
            rec["codegen_classes"] = after[3] - before[3]
            self.ops.append(rec)

    def plan(self, df) -> None:
        """Force Catalyst to plan ``df`` (analysis, optimisation, physical
        planning) in its own span and count the plan's nodes."""
        if not self.enabled or self._op is None:
            return
        with self.span("catalyst.plan"):
            self._internal = True
            try:
                tree = df._jdf.queryExecution().executedPlan().treeString()
            finally:
                self._internal = False
        names = [m.group(1) for m in
                 (re.match(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)", line)
                  for line in tree.splitlines()) if m]
        self._op["plan_nodes"] = len(names)
        self._op["scan_nodes"] = sum(n.endswith("Scan") for n in names)
        self._op["exchanges"] = sum(n.endswith("Exchange") for n in names)

    def wait_for_progress(self, timeout: float = 5.0) -> None:
        """Streaming progress reaches Python asynchronously: wait until
        no new event has arrived for half a second."""
        end = time.monotonic() + timeout
        seen = -1
        while time.monotonic() < end and seen != len(self.progress):
            seen = len(self.progress)
            time.sleep(0.5)

    # -- results -----------------------------------------------------------

    def op_layers(self) -> list[dict]:
        """Per-op span rollup: phase durations and layer self times."""
        out = []
        for rec in self.ops:
            spans = self.spans[rec["span"]:rec["span_end"]]
            base = rec["span"]
            dur = [s["end"] - s["start"] for s in spans]
            child = [0.0] * len(spans)
            for i, s in enumerate(spans):
                if s["parent"] is not None and s["parent"] >= base:
                    child[s["parent"] - base] += dur[i]
            row = {k: v for k, v in rec.items()
                   if k not in ("span", "span_end")}
            row.update(build_s=0.0, build_self_s=0.0, plan_s=0.0,
                       exec_s=0.0, context_calls=0, context_s=0.0,
                       sources_s=0.0, sources_calls=0)
            for i, s in enumerate(spans):
                n = s["name"]
                if n == "build":
                    row["build_s"] += dur[i]
                    row["build_self_s"] += dur[i] - child[i]
                elif n == "catalyst.plan":
                    row["plan_s"] += dur[i]
                elif n == "exec":
                    row["exec_s"] += dur[i]
                elif n.startswith("context."):
                    row["context_calls"] += 1
                    row["context_s"] += dur[i] - child[i]
                elif n.startswith("sources."):
                    row["sources_calls"] += 1
                    row["sources_s"] += dur[i]
            row["op_s"] = dur[0] if spans else 0.0
            out.append(row)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops,
                       "progress": self.progress, **extra}, fh)


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list):
        self._sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs or {})
        self._sink.append({
            "name": p.name, "batch": p.batchId,
            "time": _epoch(p.timestamp),
            "planning_ms": d.get("queryPlanning", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "commit_ms": d.get("commitOffsets", 0),
            "wal_ms": d.get("walCommit", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ") \
        .replace(tzinfo=timezone.utc).timestamp()


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------

def read_event_log(log_dir: str, ops: list[dict], cores: int) -> None:
    """Fold Spark's event log into ``ops`` (the rows of
    ``Tracer.op_layers``) in place: each job belongs to the op whose tag
    is its description, or, for jobs run on other threads (streaming
    micro-batches), to the op whose wall window holds its submission."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")) +
                   glob.glob(os.path.join(log_dir, "local-*")),
                   key=lambda p: [int(x) for x in re.findall(r"\d+", p)])
    by_tag = {op["tag"]: op for op in ops}
    windows = [(op["wall_start"] * 1e3, op["wall_end"] * 1e3, op)
               for op in ops]
    for op in ops:
        op.update(jobs=0, stages=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0,
                  shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0,
                  peak_exec_mem_mb=0.0, input_mb=0.0, udf_boot_s=0.0,
                  udf_init_s=0.0, udf_time_s=0.0, udf_sent_mb=0.0,
                  udf_recv_mb=0.0, udf_rows=0, exec_wall_s=0.0,
                  max_task_share=None)
    stage_op: dict = {}
    job_op: dict = {}
    job_start: dict = {}
    intervals: dict = {}
    stage_tasks: dict = {}
    acc_kind: dict = {}   # accumulator id -> (udf field, metric type)

    def plan_metrics(node):
        names = {m["name"]: m for m in node.get("metrics", [])}
        if "data sent to Python workers" in names:
            for name, field in PY_METRICS.items():
                m = names.get(name)
                if m:
                    acc_kind[m["accumulatorId"]] = (field, m["metricType"])
            rows = names.get("number of output rows")
            if rows:
                acc_kind[rows["accumulatorId"]] = ("rows", "sum")
        for c in node.get("children", []):
            plan_metrics(c)

    def owner(tag, t_ms):
        if tag in by_tag:
            return by_tag[tag]
        for lo, hi, op in windows:
            if lo <= t_ms <= hi:
                return op
        return None

    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith("SparkListenerSQLExecutionStart") or \
                        ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(e.get("sparkPlanInfo", {}))
                elif ev == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description", "")
                    op = owner(desc, e["Submission Time"])
                    if op is not None:
                        job_op[e["Job ID"]] = op
                        job_start[e["Job ID"]] = e["Submission Time"]
                        op["jobs"] += 1
                        for s in e["Stage IDs"]:
                            stage_op[s] = op
                elif ev == "SparkListenerJobEnd":
                    op = job_op.get(e["Job ID"])
                    if op is not None:
                        intervals.setdefault(id(op), (op, []))[1].append(
                            (job_start[e["Job ID"]], e["Completion Time"]))
                elif ev == "SparkListenerStageCompleted":
                    op = stage_op.get(e["Stage Info"]["Stage ID"])
                    if op is not None:
                        op["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    op = stage_op.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if op is None or not tm:
                        continue
                    run_ms = tm["Executor Run Time"]
                    op["tasks"] += 1
                    op["task_run_s"] += run_ms / 1e3
                    op["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    sw = tm.get("Shuffle Write Metrics", {})
                    sr = tm.get("Shuffle Read Metrics", {})
                    op["shuffle_write_mb"] += sw.get("Shuffle Bytes Written",
                                                     0) / MB
                    op["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) +
                                              sr.get("Local Bytes Read", 0)) / MB
                    op["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                    op["peak_exec_mem_mb"] = max(
                        op["peak_exec_mem_mb"],
                        tm.get("Peak Execution Memory", 0) / MB)
                    op["input_mb"] += tm.get("Input Metrics", {}).get(
                        "Bytes Read", 0) / MB
                    key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
                    st = stage_tasks.setdefault(key, (op, []))
                    st[1].append(run_ms)
                    for acc in e["Task Info"].get("Accumulables", []):
                        kind = acc_kind.get(acc.get("ID"))
                        if kind is None or acc.get("Update") is None:
                            continue
                        field, mtype = kind
                        val = float(acc["Update"])
                        if field == "rows":
                            op["udf_rows"] += int(val)
                        elif field in ("sent", "recv"):
                            op[f"udf_{field}_mb"] += val / MB
                        else:
                            op[f"udf_{field}_s"] += val / (
                                1e9 if mtype == "nsTiming" else 1e3)
    for op, spans in intervals.values():
        op["exec_wall_s"] = _union(spans) / 1e3
    for op, runs in stage_tasks.values():
        total = sum(runs)
        if len(runs) > 1 and total > 0:
            share = max(runs) / total
            op["max_task_share"] = max(op["max_task_share"] or 0.0, share)
    for op in ops:
        wall = op["exec_wall_s"]
        op["core_util"] = op["task_run_s"] / (wall * cores) if wall else 0.0


def _union(intervals: list) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def attach_progress(ops: list[dict], progress: list[dict]) -> None:
    for op in ops:
        op.update(stream_batches=0, stream_planning_ms=0.0,
                  stream_add_batch_ms=0.0, stream_commit_ms=0.0,
                  stream_wal_ms=0.0, stream_state_rows=0)
    for p in progress:
        for op in ops:
            if op["wall_start"] - 0.01 <= p["time"] <= op["wall_end"]:
                op["stream_batches"] += 1
                for k in ("planning_ms", "add_batch_ms", "commit_ms",
                          "wal_ms"):
                    op["stream_" + k] += p[k]
                op["stream_state_rows"] = max(op["stream_state_rows"],
                                              p["state_rows"])
                break


def lake_log_files(paths) -> int:
    n = 0
    for root in paths:
        for d in LAKE_LOG_DIRS:
            for _, _, files in os.walk(os.path.join(root, d)):
                n += len(files)
    return n


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(base, f))
    return total


def rollup(ops: list[dict]) -> dict:
    """Workload-level per-layer metrics (per-op means unless the unit
    says otherwise) from the per-op rows."""
    if not ops:
        return {}
    n = len(ops)

    def mean(key):
        return sum(op.get(key) or 0.0 for op in ops) / n

    reads = [op for op in ops if op.get("sources_calls") and
             not op.get("writes")]
    writes = [op for op in ops if op.get("writes")]
    wall = sum(op["exec_wall_s"] for op in ops)
    shares = [op["max_task_share"] for op in ops
              if op.get("max_task_share") is not None]
    rows_written = sum(op.get("rows_written", 0) for op in writes)
    return {
        "context.read_calls": mean("context_calls"),
        "context.read_s": mean("context_s"),
        "datastream.build_s": mean("build_self_s"),
        "driver.py4j_calls": mean("py4j_calls"),
        "driver.py4j_s": mean("py4j_s"),
        "catalyst.plan_s": mean("plan_s"),
        "catalyst.plan_nodes": mean("plan_nodes"),
        "catalyst.scan_nodes": mean("scan_nodes"),
        "catalyst.exchanges": mean("exchanges"),
        "codegen.compile_s": mean("codegen_s"),
        "codegen.classes": mean("codegen_classes"),
        "exec.wall_s": mean("exec_wall_s"),
        "exec.jobs": mean("jobs"),
        "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"),
        "exec.task_run_s": mean("task_run_s"),
        "exec.task_cpu_s": mean("task_cpu_s"),
        "exec.core_util": (sum(op["task_run_s"] for op in ops) /
                           (wall * ops[0]["cores"]) if wall else 0.0),
        "exec.max_task_share": sum(shares) / len(shares) if shares else 0.0,
        "exec.shuffle_write_mb": mean("shuffle_write_mb"),
        "exec.shuffle_read_mb": mean("shuffle_read_mb"),
        "exec.spill_mb": mean("spill_mb"),
        "exec.peak_exec_mem_mb": max((op["peak_exec_mem_mb"] for op in ops),
                                     default=0.0),
        "exec.input_mb": mean("input_mb"),
        "udf.boot_s": mean("udf_boot_s"),
        "udf.init_s": mean("udf_init_s"),
        "udf.time_s": mean("udf_time_s"),
        "udf.bytes_sent_mb": mean("udf_sent_mb"),
        "udf.bytes_recv_mb": mean("udf_recv_mb"),
        "udf.rows": mean("udf_rows"),
        "streaming.batches": mean("stream_batches"),
        "streaming.planning_ms": mean("stream_planning_ms"),
        "streaming.add_batch_ms": mean("stream_add_batch_ms"),
        "streaming.commit_ms": mean("stream_commit_ms"),
        "streaming.wal_ms": mean("stream_wal_ms"),
        "streaming.state_rows": mean("stream_state_rows"),
        "sources.read_build_s": sum(op["sources_s"] for op in reads) / n,
        "sources.write_s": sum(op["sources_s"] for op in writes) / n,
        "sources.scan_nodes": sum(op.get("scan_nodes", 0)
                                  for op in reads) / n,
        "sources.bytes_written_per_row": (
            sum(op.get("bytes_written", 0) for op in writes) / rows_written
            if rows_written else 0.0),
        "jvm.gc_s": mean("gc_s"),
        "jvm.jit_s": mean("jit_s"),
    }
