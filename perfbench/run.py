#!/usr/bin/env python3
"""Closed-loop benchmark of quokka_spark: one client, one Spark session.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``tpch`` and
``lakehouse``; ``timeseries_llm`` runs too but is not in BENCHMARK.json.
The seed fixes the op order of every round and the lakehouse op
parameters and row values; the input tables are generated once per
checkout under ``.perfbench/data`` and never depend on the seed. A run is
a fixed number of ops: ``--seconds`` scales a fixed round count, never a
clock, so a faster engine does the same work.

Set-up (session start, first job, fixtures, one checked warm-up pass)
is timed as ``setup_s``; then the timed ops run back to back. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` every timed op runs twice, untraced and traced, and the
last line carries the per-layer metrics plus the tracing overhead. The
line before it is a JSON detail record (latency per op kind, errors,
set-up breakdown, host steal and load). ``--smoke`` runs three ops, for
the harness's own test.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("tpch", "timeseries_llm", "lakehouse")
SCALE = 0.01
# timed rounds per workload at the default run length; --seconds scales
# them. A tpch round is 22 ops (~13 s on 4 cores), a lakehouse round 11
# ops (~12 s); either way more than ten samples lie beyond the median.
ROUNDS = {"tpch": 1, "timeseries_llm": 1, "lakehouse": 2}
RUN_SECONDS = 20.0
SMOKE_OPS = 3
END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "query_p50_s": "s",
    "query_tail_s": "s", "driver_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def tail_latency(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    s = sorted(lat)
    if len(s) <= 10:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


class Runner:
    def __init__(self, args, root: str, out):
        self.args = args
        self.root = root
        self.out = out
        self.cores = len(os.sched_getaffinity(0))  # nproc
        self.attempted = 0
        self.failed = 0
        self.errors: list[dict] = []

    # -- environment --------------------------------------------------------

    def prepare(self):
        import data
        state = os.path.join(self.root, ".perfbench")
        t = time.perf_counter()
        self.data_dir = data.ensure(os.path.join(state, "data"), SCALE)
        # making the input tables (first run in a checkout) is not set-up
        self.data_s = time.perf_counter() - t
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=state)
        for d in ("tmp", "local", "events", "warehouse", "lake"):
            os.makedirs(os.path.join(self.tmp, d))
        tmpdir = os.path.join(self.tmp, "tmp")
        os.environ["TMPDIR"] = tmpdir
        tempfile.tempdir = tmpdir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_SF_DIR"] = self.data_dir
        # a small heap: the host is shared and the inputs are tiny
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        # Python UDF workers import quokka_spark from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p])
        if self.root not in sys.path:
            sys.path.insert(0, self.root)

    def conf(self) -> dict:
        c = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            # keep the JVM's temporary files in the checkout too
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(self.tmp, "tmp"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        }
        if self.args.trace:
            c.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + os.path.join(
                          self.tmp, "events"),
                      "spark.eventLog.compress": "false"})
        return c

    # -- ops ------------------------------------------------------------------

    def run_ops(self, spark, ops, tracer=None, traced=None, label=""):
        """Run ``ops`` back to back; ``traced[i]`` switches tracing on for
        op ``i``. Returns each op's latency (None when it failed) and the
        wall seconds of the whole pass. An op that raises or whose output
        is wrong counts as failed; the run goes on."""
        import layers as tr
        lat = []
        t_phase = time.perf_counter()
        for i, op in enumerate(ops):
            self.attempted += 1
            err = None
            dt = None
            op.prepare()
            if tracer is not None:
                tracer.enabled = traced[i]
            if tracer is not None and tracer.enabled and op.writes:
                before = sum(tr.dir_bytes(t) for t in op.tables)
            t0 = time.perf_counter()
            try:
                ctx = (tracer.op(i, op, self.args.workload, self.args.seed)
                       if tracer else nullcontext())
                with ctx as rec:
                    with tracer.span("build") if tracer else nullcontext():
                        df = op.build(spark)
                    if tracer and df is not None:
                        tracer.plan(df)
                    with tracer.span("exec") if tracer else nullcontext():
                        result = op.execute(df)
                dt = time.perf_counter() - t0
                if rec is not None:
                    rec.update(writes=op.writes, rows_written=op.rows_written,
                               latency_s=dt)
                    if op.writes:
                        rec["bytes_written"] = sum(
                            tr.dir_bytes(t) for t in op.tables) - before
                err = op.check(result)
                err = f"wrong output: {err}" if err else None
            except Exception as exc:  # noqa: BLE001 - one op must not end the run
                err = f"{type(exc).__name__}: {str(exc)[:400]}"
            if err:
                self.failed += 1
                self.errors.append({"phase": label, "op": op.kind,
                                    "error": err})
                print(f"[perfbench] {label} {op.kind}: {err}",
                      file=sys.stderr)
            lat.append(None if err else dt)
            # queries that persist intermediates must not starve the next
            spark.catalog.clearCache()
        if tracer is not None:
            tracer.enabled = False
        return lat, time.perf_counter() - t_phase

    # -- the run --------------------------------------------------------------

    def run(self):
        import bench
        import workloads
        from quokka_spark.session import build_spark

        args = self.args
        monitor = bench.StealMonitor(window=2.0).start()
        load_start = os.getloadavg()
        rng = random.Random(args.seed)
        wl = workloads.make(args.workload, self.data_dir,
                            os.path.join(self.tmp, "lake"))

        t = time.perf_counter()
        spark = build_spark(app_name="perfbench", cpus=self.cores,
                            extra_conf=self.conf())
        session_start = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark._jvm.java.lang.management.ManagementFactory \
            .getRuntimeMXBean().getPid()
        t = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        first_job = time.perf_counter() - t

        t = time.perf_counter()
        wl.setup(spark)
        fixtures = time.perf_counter() - t
        warm = wl.warmup_ops(rng)
        rounds = max(1, round(ROUNDS[args.workload] * args.seconds
                              / RUN_SECONDS))
        timed = wl.timed_ops(rng, rounds)
        if args.smoke:
            warm, timed = warm[:SMOKE_OPS], timed[:SMOKE_OPS]
        t = time.perf_counter()
        self.run_ops(spark, warm, label="warmup")
        warmup = time.perf_counter() - t
        setup_s = (time.perf_counter() - PROCESS_T0 - self.data_s
                   - getattr(wl, "oracle_s", 0.0))

        tracer = None
        untraced_ops_per_s = None
        if args.trace:
            import layers as tr
            tracer = tr.Tracer(spark)
            tracer.install()
            # every op runs twice back to back, untraced and traced, in
            # alternating order, so warm-up drift cancels out of the
            # tracing overhead
            pairs = [op for op in timed for _ in (0, 1)]
            flags = [(k % 2 == 1) != (k // 2 % 2 == 1)
                     for k in range(len(pairs))]
            both, wall = self.run_ops(spark, pairs, tracer, flags,
                                      label="timed")
            lat = [x for x, f in zip(both, flags) if f and x is not None]
            lat0 = [x for x, f in zip(both, flags)
                    if not f and x is not None]
            untraced_ops_per_s = len(lat0) / sum(lat0) if lat0 else 0.0
            tracer.wait_for_progress()
        else:
            # rounds run back to back, each timed on its own: throughput is
            # the median over rounds, so one disturbed round does not move it
            lat, round_rates, wall = [], [], 0.0
            by_kind: dict = {}
            for r in sorted({op.round for op in timed}):
                ops_r = [op for op in timed if op.round == r]
                lat_r, wall_r = self.run_ops(spark, ops_r, label="timed")
                done_r = [x for x in lat_r if x is not None]
                round_rates.append(len(done_r) / wall_r)
                wall += wall_r
                lat += done_r
                for op, x in zip(ops_r, lat_r):
                    by_kind.setdefault(op.kind, []).append(x)

        jvm_rss = _vm_hwm_mb(jvm_pid)
        lake_paths = _lake_tables(wl)
        if tracer:
            tracer.uninstall()
        _stop(spark)
        steal = monitor.stop()

        done = len(lat)
        tail, tail_pct = tail_latency(lat) if lat else (0.0, 100.0)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "rounds": rounds, "timed_ops": len(timed),
            "completed_ops": done, "scale_factor": SCALE,
            "jvm_rss_mb": jvm_rss,
            "cores": self.cores,
            "error_rate": self.failed / max(self.attempted, 1),
            "errors": self.errors[:20],
            "query_tail": {"percentile": round(tail_pct, 1),
                           "samples": done, "beyond": min(10, done)},
            "setup": {"session_start_s": session_start,
                      "first_job_s": first_job, "fixtures_s": fixtures,
                      "warmup_s": warmup, "timed_s": wall,
                      "oracle_s_excluded": getattr(wl, "oracle_s", 0.0)},
            "host": {"steal": steal, "loadavg_start": load_start,
                     "loadavg_end": os.getloadavg()},
        }
        if args.trace:
            metrics = self.layer_metrics(tracer, session_start, first_job,
                                         done / sum(lat) if done else 0.0,
                                         untraced_ops_per_s, lake_paths,
                                         jvm_rss, detail)
        else:
            detail["latency_by_kind"] = {
                k: [round(x, 4) if x is not None else None for x in v]
                for k, v in by_kind.items()}
            e2e = {
                "setup_s": setup_s,
                "ops_per_s": statistics.median(round_rates),
                # every op failed: zero latencies, and the run is incorrect
                "query_p50_s": statistics.median(lat) if lat else 0.0,
                "query_tail_s": tail,
                "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF)
                .ru_maxrss / 1024.0,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in e2e.items()}
        print(json.dumps({"detail": detail}), file=self.out)
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def layer_metrics(self, tracer, session_start, first_job, ops_per_s,
                      untraced_ops_per_s, lake_paths, jvm_rss,
                      detail) -> dict:
        import layers as tr
        ops = tracer.op_layers()
        for op in ops:
            op["cores"] = self.cores
        tr.read_event_log(os.path.join(self.tmp, "events"), ops, self.cores)
        tr.attach_progress(ops, tracer.progress)
        values = tr.rollup(ops)
        values.update({
            "session.start_s": session_start,
            "session.first_job_s": first_job,
            "sources.log_files": tr.lake_log_files(lake_paths),
            "jvm.rss_mb": jvm_rss,
            "trace.ops_per_s": ops_per_s,
            "trace.untraced_ops_per_s": untraced_ops_per_s,
            "trace.overhead_pct": 100.0 * (1.0 - ops_per_s /
                                           untraced_ops_per_s)
            if untraced_ops_per_s else 0.0,
        })
        kinds: dict = {}
        for op in ops:
            kinds.setdefault(op["kind"], []).append(op)
        detail["by_kind"] = {
            k: {m: round(v, 6) for m, v in tr.rollup(group).items() if v}
            for k, group in kinds.items()}
        detail["layer_map"] = {n: {"moves": mv, "on": on}
                               for n, _, _, mv, on in tr.LAYER_METRICS}
        tracer.dump(os.path.join(
            self.root, ".perfbench", "traces",
            f"{self.args.workload}-seed{self.args.seed}.json"),
            {"op_layers": ops})
        units = {n: u for n, u, *_ in tr.LAYER_METRICS}
        return {n: {"value": float(values.get(n, 0.0)), "unit": units[n]}
                for n, *_ in tr.LAYER_METRICS}


def _lake_tables(wl) -> list[str]:
    if not hasattr(wl, "cp"):
        return []
    return [wl.cp["path"], wl.delta.path, wl.ice.path, wl.hudi.path]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in ("quokka_spark/__init__.py", "__spark_entry__.py",
                           "bench.py", "tests/conftest.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the root of a quokka_spark checkout; "
              f"missing {', '.join(missing)}", file=sys.stderr)
        return 2
    # everything else that writes to stdout (the JVM, Spark, stray
    # prints) goes to stderr, so the result line is always the last one
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    runner = Runner(args, root, out)
    runner.prepare()
    try:
        result = runner.run()
    finally:
        shutil.rmtree(runner.tmp, ignore_errors=True)
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
