#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the FULL artifact JSON line first:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}
then the per-query timings again as standalone <=2 KB lines
{"final_queries": i, "n": N, "queries": {...}}, and LAST a compact
line {"final": true, "value": ..., "tpch": ..., "steal_during_mean":
...} so a tail-truncated capture (round 12's capture cut the head
TPC-H numbers) still carries the totals and the
steal-adjudication evidence standalone.

Each query executes fully via the noop sink (no driver-side collect in
the timing; execution + shuffles are measured, result transfer is not).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline set: the full TPC-H suite (the reference's own headline
# comparison, blog/release.md) + one per operator family, weighted
# toward the shuffle/join-heavy queries that dominate at scale
BENCH_QUERIES = [
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
    "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q12",
    "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q18",
    "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22",
    "op_count_distinct", "op_window_rank",
    "ts_tumbling", "ts_sliding", "ts_session", "ts_asof_join",
    "ts_asof_forward",
    "ts_cep_funnel", "ts_cep_quantified",
    "bench_asof_micro", "bench_wide_quantile",
    "text_tokens", "text_fingerprint", "text_quality",
    "dedup_exact", "dedup_minhash", "dedup_embedding", "sim_topk",
    "sim_topk_pushdown",
    "op_join_nonequi",
    "text_tfidf", "op_cap_per_key", "dedup_lines", "ml_logreg",
    "op_quantize", "op_zorder", "ts_ewma", "ts_vwap",
    "text_c4", "ml_bpe_encode", "ts_resample",
    # streaming replay gates: tumbling agg, bounded-state dedup, and
    # (since round 8) the stream-stream join — the 8-partition state
    # trim in _drain cut its fixed store-startup cost under 3s
    "stream_tumbling", "stream_dedup", "stream_join",
]

# lakehouse metadata-path entries (round 11): FIXED-scale fixtures
# (independent of SPARK_GRAFT_SF_DIR — commit/instant count is the
# axis, not row count), built untimed in a temp dir each run by
# lakehouse_suite(); the names land in "queries" so BENCH_rN tracks
# the rounds-8..10 metadata machinery round-over-round like any
# other query (previously only one-shot probe_commits.py runs and
# pytest wall-clocks watched this code — a metadata regression was
# invisible to the bench)
LAKEHOUSE_BENCH = [
    "lake_delta_snapshot_cp500",   # snapshot read through a checkpoint,
                                   # 500-commit table (auto-cp every 10)
    "lake_delta_cdf_100",          # read_delta_changes over 100 mixed
                                   # commits (90 appends + 10 upserts)
    "lake_delta_sink_50",          # 50 sink batches: txn handshake +
                                   # append commit per batch
    "lake_hudi_mor_snapshot",      # MoR merge scan: base + update +
                                   # delete log blocks over 20k rows
]


def run_suite(spark, registry, names, sf_dir,
              passes=(False, True, True, True)) -> tuple[dict, dict]:
    """Run the suite; returns (timings, errors). Separated from main()
    so the crash-isolation contract is testable without a subprocess.

    ``passes`` is the per-query schedule, run CONSECUTIVELY per query:
    False entries warm codegen/JIT/broadcast state (unrecorded), True
    entries record the per-query MIN (standard bench practice; at real
    scale one-time driver costs amortize to nothing, so steady state
    is the number comparable to a 100 TB run, and min-of-N suppresses
    GC/JIT noise that otherwise dominates at test scale). Back-to-back
    repetition matters: interleaving all queries per pass re-pollutes
    HotSpot call-site profiles between a query's own passes — measured
    +70% on the as-of micro-bench vs consecutive runs.

    Sub-second queries get TWO EXTRA measured passes (5 total): at
    0.2-0.5s a single JIT recompile or GC pause is a 1.2-1.4x phantom
    swing that survives even min-of-3 (seven false regressions
    adjudicated in round 7); min-of-5 on the cheap queries costs ~2s
    of suite wall-clock and kills the noise where it actually lives."""
    timings: dict = {}
    errors: dict = {}
    for name in names:
        fn = registry[name]
        schedule = list(passes)
        i = 0
        while i < len(schedule):
            measured = schedule[i]
            i += 1
            t0 = time.perf_counter()
            # per-query isolation: one broken query must never abort the
            # suite (round-3 lesson: a single analysis error in warmup
            # nulled the entire bench)
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                timings.pop(name, None)
                break
            if measured:
                t = round(time.perf_counter() - t0, 3)
                timings[name] = min(timings.get(name, t), t)
                if (i == len(schedule) and len(schedule) == len(passes)
                        and timings[name] < 1.5):
                    schedule += [True, True]
            # queries that persist intermediates (minhash shingles, q15
            # revenue) would otherwise accumulate cached blocks across
            # passes and starve execution memory for later queries
            spark.catalog.clearCache()
        # settle GC debt OUTSIDE the timed sections: heap garbage from
        # a heavy query otherwise lands as GC pauses inside the next
        # query's measurement (observed 2-4x inflation of light
        # queries that follow the dedup suite)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 - measurement aid only
            pass
    return timings, errors


def lakehouse_suite(spark) -> tuple[dict, dict]:
    """Build fixed-scale lakehouse fixtures (untimed) and time the
    metadata-heavy read/sink paths from LAKEHOUSE_BENCH. Fixture
    scale is pinned (500/100/50 commits, 20k rows) so the numbers
    compare across rounds regardless of $SPARK_GRAFT_SF_DIR; the
    fixtures reuse probe_commits.py's build recipes (the tier-3
    SCALE.md harness) so a regression here points at the same code
    path a probe re-run would. Returns (timings, errors) shaped like
    run_suite's."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    import quokka_spark.sources.delta_local as dl
    from quokka_spark.sources.delta_local import (read_delta_changes,
                                                  read_delta_local,
                                                  upsert_delta_local,
                                                  write_delta_local)
    from quokka_spark.sources.hudi_local import (read_hudi_local,
                                                 upsert_hudi_mor_local,
                                                 write_hudi_mor_local)

    root = tempfile.mkdtemp(prefix="qs_lakebench_")
    timings: dict = {}
    errors: dict = {}
    try:
        # shared seed file for metadata-only append commits (os.link
        # keeps fixture build off the Spark write path — the probe's
        # trick: what's being benched is the LOG, not parquet I/O)
        seed_dir = os.path.join(root, "seed")
        spark.range(100).selectExpr("id", "cast(id as double) AS v") \
            .coalesce(1).write.parquet(seed_dir)
        seed = [os.path.join(seed_dir, f) for f in os.listdir(seed_dir)
                if f.endswith(".parquet")][0]
        schema_json = spark.read.parquet(seed).schema.json()

        # -- fixture 1: 500-commit Delta table (auto-checkpoint every
        # 10 fires at the _commit chokepoint, so the snapshot read
        # goes checkpoint + <=10 trailing JSONs + 500-file scan)
        d500 = os.path.join(root, "delta500")
        os.makedirs(d500)
        for bid in range(500):
            data = os.path.join(d500, f"b-{bid:05d}.parquet")
            os.link(seed, data)
            actions = dl._meta_actions(schema_json) if bid == 0 else []
            actions.append(dl._add_action(d500, data))
            actions.append({"txn": {"appId": "bench", "version": bid,
                                    "lastUpdated": 0}})
            dl._commit(d500, bid, actions)

        # -- fixture 2: CDF-enabled table, 100 mixed commits on a
        # 2k-row base: 90 metadata appends + 10 real upserts (the
        # upserts exercise the cdc-file write + replay path, the
        # appends the insert-run coalescing path)
        dcdf = os.path.join(root, "deltacdf")
        os.makedirs(dcdf)
        dl._commit(dcdf, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": {"id": "lakebench-cdf", "format":
                          {"provider": "parquet", "options": {}},
                          "schemaString": schema_json,
                          "partitionColumns": [],
                          "configuration":
                          {"delta.enableChangeDataFeed": "true"},
                          "createdTime": 0}}])
        write_delta_local(
            spark.range(2000).selectExpr(
                "id", "cast(id as double) AS v").coalesce(4),
            dcdf, mode="append")
        ver = 1
        for bid in range(100):
            if bid % 10 == 0:
                upd = spark.range(bid * 7, bid * 7 + 5).selectExpr(
                    "id", f"cast(id as double) + {bid + 1}000 AS v")
                upsert_delta_local(spark, dcdf, upd.coalesce(1), ["id"])
            else:
                data = os.path.join(dcdf, f"a-{bid:05d}.parquet")
                os.link(seed, data)
                dl._commit(dcdf, ver + 1,
                           [dl._add_action(dcdf, data)])
            ver += 1

        # -- fixture 3: 20k-row MoR table with update + delete log
        # blocks (the merge scan has to join base files against both)
        mor = os.path.join(root, "hudimor")
        base = spark.range(20_000).selectExpr(
            "id", "cast(id as double) AS v",
            "cast(id % 97 as long) AS k")
        write_hudi_mor_local(base.repartition(4), mor, recordkey="id")
        upd = read_hudi_local(spark, mor).where("id % 10 = 0") \
            .withColumn("v", F.col("v") + 1000.0)
        upsert_hudi_mor_local(spark, mor, upd)
        dels = read_hudi_local(spark, mor).where("id % 7 = 0") \
            .select("id")
        upsert_hudi_mor_local(spark, mor, dels, delete=True)

        reg = {
            "lake_delta_snapshot_cp500":
                lambda s, _sf: read_delta_local(s, d500),
            "lake_delta_cdf_100":
                lambda s, _sf: read_delta_changes(s, dcdf, 0, ver),
            "lake_hudi_mor_snapshot":
                lambda s, _sf: read_hudi_local(s, mor),
        }
        timings, errors = run_suite(
            spark, reg,
            [n for n in LAKEHOUSE_BENCH if n in reg], root)

        # -- sink handshake: 50 batches of (last_txn_version probe +
        # append commit), fresh table per rep so every rep replays
        # the same 0..49 history; min-of-3. Not a DataFrame op, so
        # timed directly rather than through run_suite.
        def sink50(tbl):
            for bid in range(50):
                assert dl.last_txn_version(tbl, "bench") == \
                    (None if bid == 0 else bid - 1)
                data = os.path.join(tbl, f"b-{bid:05d}.parquet")
                os.link(seed, data)
                actions = dl._meta_actions(schema_json) \
                    if bid == 0 else []
                actions.append(dl._add_action(tbl, data))
                actions.append({"txn": {"appId": "bench",
                                        "version": bid,
                                        "lastUpdated": 0}})
                dl._commit(tbl, bid, actions)
        try:
            best = None
            for rep in range(3):
                tbl = os.path.join(root, f"sink-{rep}")
                os.makedirs(tbl)
                t0 = time.perf_counter()
                sink50(tbl)
                t = round(time.perf_counter() - t0, 3)
                best = t if best is None else min(best, t)
            timings["lake_delta_sink_50"] = best
        except Exception as exc:  # noqa: BLE001 - same isolation as run_suite
            errors["lake_delta_sink_50"] = \
                f"{type(exc).__name__}: {exc}"[:500]
    except Exception as exc:  # noqa: BLE001 - fixture build failed: mark
        # every not-yet-timed entry errored rather than abort the bench
        for n in LAKEHOUSE_BENCH:
            if n not in timings and n not in errors:
                errors[n] = f"fixture: {type(exc).__name__}: {exc}"[:500]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return timings, errors


def _read_steal_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate /proc/stat cpu
    line. steal is field 8 (user nice system idle iowait irq softirq
    STEAL guest guest_nice) — present since Linux 2.6.11; absent
    fields read as 0 on non-virtualized or non-Linux hosts."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _steal_pct(prev: tuple[int, int], cur: tuple[int, int]) -> float:
    """steal%% across one window from two (steal, total) samples —
    the ONE place the delta math lives (gate and monitor both use
    it, so they can never diverge)."""
    dt = cur[1] - prev[1]
    return round(100.0 * (cur[0] - prev[0]) / dt, 2) if dt > 0 else 0.0


def sample_steal(duration: float = 30.0,
                 window: float = 5.0) -> list[float]:
    """Per-window steal%% over ``duration`` wall seconds. Returns []
    when /proc/stat is unreadable (non-Linux)."""
    try:
        prev = _read_steal_ticks()
    except OSError:
        return []
    out = []
    end = time.monotonic() + duration - 1e-3
    while time.monotonic() < end:
        time.sleep(window)
        cur = _read_steal_ticks()
        out.append(_steal_pct(prev, cur))
        prev = cur
    return out


def _trace_summary(trace: list[float]) -> dict:
    return {
        "trace_pct": trace,
        "mean_pct": round(sum(trace) / len(trace), 3) if trace else 0.0,
        "max_window_pct": max(trace) if trace else 0.0,
    }


def steal_gate(max_attempts: int = 6, duration: float = 30.0,
               window: float = 5.0, mean_limit: float = 1.0,
               max_limit: float = 5.0) -> dict:
    """Gate the official run on a calm hypervisor-steal window
    (round-11 lesson: the recorded 54s artifact was a steal-window
    outlier — identical code ran 41s calm; one stolen vCPU stalls a
    32-task barrier, so wide many-task plans swing hardest). Sample
    ~30s of /proc/stat steal; proceed when the mean is <=1%% and no
    5-s window exceeds 5%%, else wait and retry (bounded — after
    ``max_attempts`` the bench RUNS anyway and the recorded gate
    marks itself exhausted, so adjudication is in-artifact)."""
    attempts = []
    for _ in range(max_attempts):
        trace = sample_steal(duration, window)
        if not trace:
            return {"passed": None, "reason": "steal unavailable "
                    "(/proc/stat unreadable)", "attempts": []}
        att = _trace_summary(trace)
        attempts.append(att)
        if att["mean_pct"] <= mean_limit \
                and att["max_window_pct"] <= max_limit:
            return {"passed": True, "mean_limit_pct": mean_limit,
                    "max_window_limit_pct": max_limit,
                    "attempts": attempts}
    return {"passed": False, "reason": "retries exhausted — bench ran "
            "anyway; adjudicate against steal_during",
            "mean_limit_pct": mean_limit,
            "max_window_limit_pct": max_limit, "attempts": attempts}


class StealMonitor:
    """Background 5-s steal sampler covering the WHOLE timed run, so
    BENCH_rN carries the during-run trace the round-11 adjudication
    had to reconstruct by hand in SCALE.md."""

    def __init__(self, window: float = 5.0):
        import threading
        self._window = window
        self._trace: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        try:
            prev = _read_steal_ticks()
        except OSError:
            return
        while not self._stop.wait(self._window):
            try:
                cur = _read_steal_ticks()
            except OSError:
                # one transient sampler error must not silently
                # truncate the whole during-run trace
                continue
            self._trace.append(_steal_pct(prev, cur))
            prev = cur

    def start(self) -> "StealMonitor":
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=self._window + 1.0)
        return _trace_summary(self._trace)


def calibration(spark, sf_dir: str | None = None) -> dict:
    """Fixed, repo-code-independent workloads timed min-of-3 per AXIS
    so cross-round BENCH files can be normalized for host drift
    (round-6 lesson: ~10% uniform machine slowdown masqueraded as a
    regression and cost a full A/B re-bench to disprove; round-9
    lesson: the old CPU-only combined number moved OPPOSITE to a real
    I/O/JVM-side drift and would have mis-normalized). Four axes:

    - ``cpu_codegen``: whole-stage-codegen arithmetic + hash-shuffle
      aggregate over synthetic spark.range input;
    - ``arrow_py``: an Arrow-batched Python (mapInPandas) pass —
      the python-worker/serialization axis;
    - ``file_io``: a full-column scan of the sf dir's lineitem
      parquet — the storage/page-cache/parquet-decode axis the
      CPU-only workload was blind to;
    - ``total``: their sum.

    Returns {axis: sec}. main() runs this BEFORE and AFTER the suite
    (calibration_pre/calibration_post in the JSON): a drift that
    appears mid-run shows as pre≠post instead of silently skewing
    half the queries. The ``legacy`` axis is the EXACT pre-round-10
    combined workload (cpu+arrow in ONE timed run, min-of-3) and
    feeds ``calibration_sec`` unchanged — a sum of per-axis mins
    would be systematically LOWER than the old combined min and
    silently bias every cross-round ratio."""
    def min3(fn) -> float:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            t = time.perf_counter() - t0
            best = t if best is None else min(best, t)
        return round(best, 3)

    axes = {}
    axes["cpu_codegen"] = min3(lambda: (
        spark.range(20_000_000)
        .selectExpr("id % 100000 AS k", "(id * 2654435761) % 997 AS v")
        .groupBy("k").agg({"v": "sum"})
        .write.format("noop").mode("overwrite").save()))
    axes["arrow_py"] = min3(lambda: (
        spark.range(2_000_000).repartition(CPUS)
        .selectExpr("id", "cast(id % 1000 as double) AS x")
        .mapInPandas(lambda it: it, "id long, x double")
        .write.format("noop").mode("overwrite").save()))
    li = os.path.join(sf_dir or SF_DIR, "lineitem.parquet")
    if os.path.exists(li):
        axes["file_io"] = min3(lambda: (
            spark.read.parquet(li)
            .write.format("noop").mode("overwrite").save()))
    axes["total"] = round(sum(axes.values()), 3)

    def legacy():
        (spark.range(20_000_000)
         .selectExpr("id % 100000 AS k", "(id * 2654435761) % 997 AS v")
         .groupBy("k").agg({"v": "sum"})
         .write.format("noop").mode("overwrite").save())
        (spark.range(2_000_000).repartition(CPUS)
         .selectExpr("id", "cast(id % 1000 as double) AS x")
         .mapInPandas(lambda it: it, "id long, x double")
         .write.format("noop").mode("overwrite").save())
    axes["legacy"] = min3(legacy)
    return axes


def _final_query_lines(timings: dict, max_bytes: int = 2000) -> list:
    """Chunk ``timings`` into standalone ``{"final_queries": i, "n": N,
    "queries": {...}}`` JSON lines of at most ``max_bytes`` bytes each.
    Ordering puts tpch_* LAST so a tail-truncated capture keeps the
    head-of-suite numbers that were cut in rounds 12 and 13; every line
    parses on its own and carries its chunk index + total count so the
    driver can detect a partial set."""
    items = sorted(timings.items(),
                   key=lambda kv: (kv[0].startswith("tpch_"), kv[0]))
    # size against the widest index and count a line can carry: there
    # are never more chunks than items
    widest = 10 ** len(str(max(len(items), 1))) - 1
    chunks: list[dict] = [{}]
    for k, v in items:
        trial = dict(chunks[-1])
        trial[k] = v
        if len(json.dumps({"final_queries": widest, "n": widest,
                           "queries": trial})) > max_bytes and chunks[-1]:
            chunks.append({k: v})
        else:
            chunks[-1] = trial
    return [json.dumps({"final_queries": i, "n": len(chunks), "queries": c})
            for i, c in enumerate(chunks)]


def main():
    from quokka_spark.session import build_spark
    import __spark_entry__ as entry_mod

    # steal-gate the official run (round-11 verdict #2); set
    # SPARK_GRAFT_STEAL_GATE=0 to skip while iterating locally
    gate = {"passed": None, "reason": "skipped via env", "attempts": []}
    if os.environ.get("SPARK_GRAFT_STEAL_GATE", "1") != "0":
        gate = steal_gate()
    monitor = StealMonitor().start()

    spark = build_spark(app_name="quokka_spark_bench", cpus=CPUS)

    # JVM/codegen warmup + python-UDF worker pool spin-up (one tiny
    # mapInPandas touches every executor thread once; without it the
    # first Arrow-UDF query pays ~6s of daemon startup)
    spark.range(1000).selectExpr("sum(id)").collect()
    (spark.range(CPUS * 4).repartition(CPUS)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())

    cal_pre = calibration(spark, SF_DIR)

    timings, errors = run_suite(spark, entry_mod.queries(),
                                BENCH_QUERIES, SF_DIR)

    lake_timings, lake_errors = lakehouse_suite(spark)
    timings.update(lake_timings)
    errors.update(lake_errors)

    cal_post = calibration(spark, SF_DIR)
    steal_during = monitor.stop()

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "quokka_spark headline suite runtime (sum of per-query sec, "
                  "TPC-H + time-series + LLM-data + lakehouse-metadata ops)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        # host-speed yardstick: divide per-query times by the ratio of
        # two rounds' calibration_sec before comparing across rounds;
        # per-axis pre/post numbers pin WHICH axis drifted (round-9
        # lesson: CPU-only calibration moved opposite to an I/O-side
        # drift) and whether it drifted MID-RUN (pre vs post)
        "calibration_sec": cal_pre["legacy"],
        "calibration_pre": cal_pre,
        "calibration_post": cal_post,
        # hypervisor-steal evidence, in-artifact (round-11 lesson: the
        # recorded 54s total was a steal-window outlier the builder's
        # own out-of-band /proc/stat trace disqualified): steal_gate
        # is the pre-run calm-window gate (mean<=1%, no 5s window >5%,
        # bounded retries), steal_during the 5-s trace spanning the
        # whole timed run — a regressed query under a spiky
        # steal_during is host noise, not code
        "steal_gate": gate,
        "steal_during": steal_during,
        # methodology (for cross-round adjudication): each query runs
        # 1 warmup + 3 measured passes back-to-back, +2 extra measured
        # passes when min < 1.5s; reported value is the per-query MIN
        "passes": "warmup + min-of-3 (min-of-5 when <1.5s)",
    }
    if errors:
        out["errors"] = errors
    # truncation-proofing: artifact captures keep only a TAIL of stdout
    # (BENCH_r12 and r13 lost the head TPC-H numbers, r14 its totals).
    # Print the full artifact FIRST, then the per-query timings as
    # small standalone JSON lines (<=2 KB each, TPC-H last), then the
    # compact totals line LAST — whatever tail survives parses
    # standalone and ends with the totals and adjudication evidence.
    print(json.dumps(out))
    for line in _final_query_lines(timings):
        print(line)
    print(json.dumps({
        "final": True,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "tpch": round(sum(v for k, v in timings.items()
                          if k.startswith("tpch_")), 3),
        "lake": round(sum(v for k, v in timings.items()
                          if k.startswith("lake_")
                          or k.startswith("stream_sink")
                          or k.startswith("stream_src")), 3),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "calibration_sec": cal_pre["legacy"],
        "steal_gate_mean": gate["attempts"][-1]["mean_pct"]
        if gate.get("attempts") else None,
        "steal_during_mean": steal_during.get("mean_pct"),
        "steal_during_max_window": steal_during.get("max_window_pct"),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
