"""Windowed aggregation over event-time columns.

Parity target: reference executors/ts_executors.py:12-288 + pyquokka/
windowtypes.py. The reference streams sorted batches and carries
incomplete windows as state; in Spark each window type is a one-liner
over the built-in event-time primitives — no state machinery needed in
batch mode, and the same shapes port to Structured Streaming by adding
``withWatermark``.

Window aggregation_dict values are SQL aggregate fragments over the
window's rows, e.g. ``{"avg_v": "avg(value)"}``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..memo import MISS, Memo
from ..sqldialect import duckdb_to_spark_sql
from ..windowtypes import (HoppingWindow, OnCompletionTrigger, OnEventTrigger,
                           SessionWindow, SlidingWindow, TumblingWindow, Trigger)

_UNIT_SECONDS = {
    "ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400,
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def to_seconds(size) -> float:
    """Accept a number of seconds or a polars-style duration ('5m', '1h')."""
    if isinstance(size, (int, float)):
        return float(size)
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*", str(size))
    assert m, f"cannot parse duration {size!r}"
    return float(m.group(1)) * _UNIT_SECONDS[m.group(2).lower()]


def epoch_us(col) -> "F.Column":
    """Event time as integer epoch microseconds, tolerant of
    TIMESTAMP_NTZ: pyspark 4 reads naive parquet timestamps as NTZ,
    which ``unix_micros`` rejects at analysis. Casting to TIMESTAMP
    first is an identity for LTZ inputs and resolves NTZ via the
    session timezone — pinned UTC in session.py — so the epoch value is
    stable and matches DuckDB's ``epoch_us`` of the naive value."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def _interval(seconds: float) -> str:
    if seconds == int(seconds):
        return f"{int(seconds)} seconds"
    return f"{seconds} seconds"


def _aggs(aggregation_dict: dict) -> list:
    return [F.expr(duckdb_to_spark_sql(sql)).alias(alias)
            for alias, sql in aggregation_dict.items()]


_ROUND_RE = re.compile(r"^\s*round\s*\((.*),\s*(\d+)\s*\)\s*$",
                       re.IGNORECASE | re.DOTALL)


_CORR_RE = re.compile(r"^\s*corr\s*\((.*)\)\s*$", re.I | re.S)


def _split_top_args(s: str) -> list:
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            depth += ch == "("
            depth -= ch == ")"
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts] if depth == 0 else []


def _over(sql: str, w) -> "F.Column":
    """Windowed form of an aggregate SQL fragment. ``round(agg, d)`` is
    peeled first — rounding is a post-step, not part of the window
    aggregate (``round(x,4) OVER w`` is not valid).

    ``corr(x, y)`` expands to try_divide(covar_samp, stddev·stddev):
    Spark 4's ANSI corr RAISES DIVIDE_BY_ZERO on single-row or
    zero-variance frames — routine in event-time windows — while the
    composite yields NULL, matching DuckDB corr (the dialect this
    surface promises)."""
    sql = duckdb_to_spark_sql(sql)

    def build(inner_sql: str) -> "F.Column":
        m2 = _CORR_RE.match(inner_sql)
        if m2:
            args = _split_top_args(m2.group(1))
            if len(args) == 2:
                x, y = args
                # pairwise deletion throughout: corr drops a row when
                # EITHER argument is null, so the stddevs must run over
                # pairwise-complete values too — stddev_samp over each
                # column's own non-nulls diverges from Spark's and
                # DuckDB's corr whenever nulls are asymmetric
                both = f"({x}) IS NOT NULL AND ({y}) IS NOT NULL"
                px = f"CASE WHEN {both} THEN ({x}) END"
                py = f"CASE WHEN {both} THEN ({y}) END"
                return F.try_divide(
                    F.expr(f"covar_samp({x}, {y})").over(w),
                    F.expr(f"stddev_samp({px})").over(w)
                    * F.expr(f"stddev_samp({py})").over(w))
        return F.expr(inner_sql).over(w)

    m = _ROUND_RE.match(sql)
    if m:
        inner, digits = m.group(1), int(m.group(2))
        return F.round(build(inner), digits)
    return build(sql)


_BUCKET_DECISIONS = Memo("windows.bucket_decisions", cap=512)


def choose_bucket(df: DataFrame, time_col: str, by: list,
                  size_before=None, parallelism: int | None = None):
    """Auto-select the time-bucketed plan for low-key-count streams.

    The plain per-key window/as-of plans give parallelism = #keys —
    perfect until the key count is small relative to the cluster (the
    reference's own 1.3B-row flagship has 101 symbols,
    blog/orderedstreams.md:51: 101-way parallel on a 1000-core
    cluster). One slim probe job (column-pruned scan of by + time:
    approx key count, time span) decides:

      keys >= 2 x defaultParallelism  ->  None (plain plan saturates)
      else  bucket = max(size_before, span / (4 x cores))
            -> keys x buckets ≈ >= 4 x cores tasks, halo/carry overhead
               bounded by the max() floor (halo copies <= 1 extra
               window-width of rows per bucket).

    Returns the bucket in SECONDS for timestamp columns, in native
    units for numeric event time, or None for "use the plain plan".
    The probe is one extra pass over two columns — worth it whenever
    the alternative is a near-serial stage; callers bypass it entirely
    by passing an explicit ``bucket`` (or ``bucket=None``). Decisions
    are memoized per (semantic plan, args), so re-running the same
    query in a session probes once."""
    cores = parallelism or df.sparkSession.sparkContext.defaultParallelism
    cache_key = None
    try:
        cache_key = (df.semanticHash(), time_col, tuple(by or []),
                     str(size_before), cores)
    except Exception:  # noqa: BLE001 — hash is best-effort (connect mode etc.)
        pass
    cached = _BUCKET_DECISIONS.get(cache_key)
    if cached is not MISS:
        return cached
    is_ts = "timestamp" in dict(df.dtypes)[time_col]
    tsnum = epoch_us(time_col) if is_ts else F.col(time_col)
    key = F.concat_ws("\x00", *[F.col(c).cast("string") for c in by]) \
        if by else F.lit("")
    # stage 1 (round-7, the choose_hot_keys treatment): a ~1% sample
    # decides both clear cases without the full pass. Many-key:
    # distinct(sample) lower-bounds distinct(full), so sampled keys >=
    # threshold (with 5% HLL-error headroom) PROVES the plain plan
    # saturates. Few-key: sampled keys under HALF the threshold
    # decides the bucketed plan with the sampled span (an undercounted
    # long tail of sub-sample-rate keys could make this a false
    # positive, but bucketing a many-key stream is hash-equal and its
    # halo overhead is floor-capped — a perf-only, bounded mistake;
    # the sampled span only narrows, which narrows the bucket and
    # raises parallelism). The ambiguous band [cores, 2.1*cores] and
    # sub-floor samples (unit-test-sized inputs, which therefore keep
    # exact decisions) take stage 2, the original exact probe.
    srow = (df.select(key.alias("__k__"), tsnum.alias("__t__"))
            .sample(fraction=_SAMPLE_FRACTION, seed=42)
            .agg(F.approx_count_distinct("__k__").alias("k"),
                 F.count(F.lit(1)).alias("n"),
                 F.min("__t__").alias("lo"),
                 F.max("__t__").alias("hi")).first())
    if srow and srow["n"] and srow["n"] >= _SAMPLE_FLOOR:
        decided = False
        result = None
        if srow["k"] >= 2 * cores * 1.05:
            decided = True
        elif srow["k"] < cores and srow["lo"] is not None:
            span = float(srow["hi"] - srow["lo"])
            floor = to_seconds(size_before) * (1_000_000 if is_ts else 1) \
                if size_before is not None else 1.0
            bucket = max(floor, span / (4 * cores), 1.0)
            result = bucket / 1_000_000 if is_ts else bucket
            decided = True
        if decided:
            last_bucket_probe.clear()
            last_bucket_probe.update(mode="sampled",
                                     rows_aggregated=int(srow["n"]))
            if cache_key is not None:
                _BUCKET_DECISIONS.put(cache_key, result)
            return result
    row = df.select(F.approx_count_distinct(key).alias("k"),
                    F.min(tsnum).alias("lo"),
                    F.max(tsnum).alias("hi")).first()
    last_bucket_probe.clear()
    last_bucket_probe.update(mode="exact", rows_aggregated=None)
    result = None
    if row and row["k"] is not None and row["lo"] is not None \
            and row["k"] < 2 * cores:
        span = float(row["hi"] - row["lo"])
        floor = to_seconds(size_before) * (1_000_000 if is_ts else 1) \
            if size_before is not None else 1.0
        bucket = max(floor, span / (4 * cores), 1.0)
        result = bucket / 1_000_000 if is_ts else bucket
    if cache_key is not None:
        _BUCKET_DECISIONS.put(cache_key, result)
    return result


_HOT_KEY_DECISIONS = Memo("windows.hot_key_decisions", cap=512)

# introspection for tests/diagnostics: how the LAST (uncached)
# choose_bucket probe decided
last_bucket_probe: dict = {}


def skew_key_expr(by: list) -> "F.Column":
    """The canonical composite-key string the skew machinery probes
    and splits on (NUL separator — outside any real key alphabet)."""
    return F.concat_ws("\x00", *[F.col(c).cast("string") for c in by])


# introspection for tests/diagnostics: how the LAST (uncached) probe
# decided — {"mode": "sampled"|"exact", "rows_aggregated": int|None}
last_hot_key_probe: dict = {}

# single-sourced sampling policy (shared with explain(skew=...)'s
# sampled_skew_share — tune in one place)
from ..plans.scaling import (SAMPLE_FLOOR as _SAMPLE_FLOOR,  # noqa: E402
                             SAMPLE_FRACTION as _SAMPLE_FRACTION)


def choose_hot_keys(df: DataFrame, time_col: str, by: list,
                    parallelism: int | None = None):
    """Per-key skew probe for the per-key Python/window plans — the
    complement of :func:`choose_bucket`, which only fires on GLOBAL
    key count: a stream with thousands of keys where one key holds
    90% of the rows passes the global test yet still serializes that
    key into one task.

    Two stages (round-6 verdict #4 — the exact probe was a full
    O(data) aggregation per novel plan). Stage 1 Bernoulli-samples
    ~1% of rows (fixed seed, so the semanticHash-cached decision is
    deterministic) and estimates the max per-key share; when the
    estimate clears the ``1 / (2 x cores)`` threshold by a 4-sigma
    binomial margin in either direction, the sample alone decides —
    the aggregation/shuffle input shrinks ~100x and the scan stays
    column-pruned. Only the ambiguous band (or a sample under
    ``_SAMPLE_FLOOR`` rows — e.g. unit-test fixtures, which therefore
    keep exact decisions) pays stage 2, the exact per-key count.
    A borderline key the sample misclassifies costs nothing in
    correctness: callers union a bucketed plan over the "hot" list
    with the plain plan for the rest, hash-equal for ANY split
    (test-pinned).

    Keys holding more than ``total / (2 x cores)`` rows are "hot" —
    by pigeonhole at most 2 x cores of them exist, so the collected
    list is driver-bounded. Returns ``(hot_key_strings, bucket)`` —
    the composite-key strings (see :func:`skew_key_expr`) and the
    time-bucket width (native units: seconds for timestamps, column
    units for numeric time) sized like choose_bucket's
    (span / (4 x cores)) so each hot key spreads over ≥ 4 x cores
    buckets — or ``([], None)`` when no key is pathological."""
    cores = parallelism or df.sparkSession.sparkContext.defaultParallelism
    cache_key = None
    try:
        cache_key = ("hot", df.semanticHash(), time_col,
                     tuple(by or []), cores)
    except Exception:  # noqa: BLE001 — hash is best-effort
        pass
    cached = _HOT_KEY_DECISIONS.get(cache_key)
    if cached is not MISS:
        return cached
    is_ts = "timestamp" in dict(df.dtypes)[time_col]
    tsnum = epoch_us(time_col) if is_ts else F.col(time_col)
    slim = df.select(skew_key_expr(by).alias("__k__"),
                     tsnum.alias("__t__"))
    tau = 1.0 / (2 * cores)

    result = None
    sampled = (slim.sample(fraction=_SAMPLE_FRACTION, seed=42)
               .groupBy("__k__")
               .agg(F.count(F.lit(1)).alias("__c__"),
                    F.min("__t__").alias("__lo__"),
                    F.max("__t__").alias("__hi__")))
    sampled.persist()
    try:
        st = sampled.agg(F.sum("__c__").alias("total"),
                         F.max("__c__").alias("mx"),
                         F.min("__lo__").alias("lo"),
                         F.max("__hi__").alias("hi")).first()
        n_s = int(st["total"] or 0)
        if n_s >= _SAMPLE_FLOOR:
            share = float(st["mx"]) / n_s
            margin = 4.0 * (tau * (1.0 - tau) / n_s) ** 0.5
            if share > tau + margin:
                hot = [r["__k__"] for r in
                       sampled.filter(F.col("__c__") > F.lit(tau * n_s))
                       .select("__k__").collect()]
                span = float(st["hi"] - st["lo"])
                bucket = max(1.0, span / (4 * cores))
                if is_ts:
                    bucket = bucket / 1_000_000
                result = (hot, bucket)
            elif share < tau - margin:
                result = ([], None)
        if result is not None:
            last_hot_key_probe.clear()
            last_hot_key_probe.update(mode="sampled", rows_aggregated=n_s)
    finally:
        sampled.unpersist()

    if result is None:  # ambiguous or tiny sample → exact probe
        counts = (slim.groupBy("__k__")
                  .agg(F.count(F.lit(1)).alias("__c__"),
                       F.min("__t__").alias("__lo__"),
                       F.max("__t__").alias("__hi__")))
        counts.persist()
        try:
            stats = counts.agg(F.sum("__c__").alias("total"),
                               F.max("__c__").alias("mx"),
                               F.min("__lo__").alias("lo"),
                               F.max("__hi__").alias("hi")).first()
            result = ([], None)
            # record the probe identity even for empty/zero-row inputs
            # — a stale entry from a previous call misattributes the
            # decision to the wrong probe
            last_hot_key_probe.clear()
            last_hot_key_probe.update(
                mode="exact",
                rows_aggregated=int(stats["total"] or 0) if stats else 0)
            if stats and stats["total"]:
                thresh = stats["total"] / (2 * cores)
                if stats["mx"] is not None and stats["mx"] > thresh:
                    hot = [r["__k__"] for r in
                           counts.filter(F.col("__c__") > thresh)
                           .select("__k__").collect()]
                    span = float(stats["hi"] - stats["lo"])
                    bucket = max(1.0, span / (4 * cores))
                    if is_ts:
                        bucket = bucket / 1_000_000
                    result = (hot, bucket)
        finally:
            counts.unpersist()

    if cache_key is not None:
        _HOT_KEY_DECISIONS.put(cache_key, result)
    return result


def windowed_transform(df: DataFrame, window, time_col: str, by,
                       trigger: Trigger | None = None,
                       keep: list | None = None) -> DataFrame:
    """Dispatch on window type (reference datastream.py:1650-1700).
    ``keep`` (sliding windows only): passthrough source columns
    carried into the output beside (by, time, aggs) — the per-event
    scoring shape (z-score: the row's own value next to its window's
    mean/std)."""
    by = [by] if isinstance(by, str) else list(by or [])
    trigger = trigger or OnCompletionTrigger()

    if isinstance(window, HoppingWindow):  # covers TumblingWindow
        if isinstance(trigger, OnCompletionTrigger):
            return hopping_window(df, time_col, by, window.size, window.hop,
                                  window.aggregation_dict)
        assert isinstance(window, TumblingWindow), \
            "OnEventTrigger only supported for tumbling windows (reference ts_executors.py:64-98)"
        return tumbling_window_running(df, time_col, by, window.size,
                                       window.aggregation_dict)
    if isinstance(window, SlidingWindow):
        bucket = getattr(window, "bucket", None)
        if bucket == "auto":
            bucket = choose_bucket(df, time_col, by,
                                   size_before=window.size_before)
            if bucket is None and by:
                # a hot key among many serializes the per-key sort —
                # split it onto the bucketed plan (choose_hot_keys)
                hot, hot_bucket = choose_hot_keys(df, time_col, by)
                if hot:
                    k = skew_key_expr(by)
                    sb = to_seconds(window.size_before)
                    cold = sliding_window(
                        df.filter(~k.isin(hot)), time_col, by,
                        window.size_before, window.aggregation_dict,
                        keep=keep)
                    hotw = sliding_window_bucketed(
                        df.filter(k.isin(hot)), time_col, by,
                        window.size_before, window.aggregation_dict,
                        max(float(hot_bucket), sb), keep=keep)
                    return cold.unionByName(hotw)
        if bucket is not None:
            return sliding_window_bucketed(df, time_col, by,
                                           window.size_before,
                                           window.aggregation_dict,
                                           bucket, keep=keep)
        return sliding_window(df, time_col, by, window.size_before,
                              window.aggregation_dict, keep=keep)
    if isinstance(window, SessionWindow):
        if isinstance(trigger, OnEventTrigger):
            raise NotImplementedError(
                "session window + OnEventTrigger (unsupported in reference too)")
        return session_window(df, time_col, by, window.timeout,
                              window.aggregation_dict)
    raise TypeError(f"unknown window type {type(window)}")


def hopping_window(df: DataFrame, time_col: str, by: list, size, hop,
                   aggregation_dict: dict) -> DataFrame:
    """Fixed (possibly overlapping) windows, one output row per complete
    window (reference ts_executors.py:12-98). ``F.window`` assigns each
    event to its window(s) map-side; the groupBy shuffles once on
    (by, window) — partial aggregation happens before the shuffle."""
    size_s, hop_s = to_seconds(size), to_seconds(hop)
    win = F.window(F.col(time_col), _interval(size_s), _interval(hop_s))
    out = (df.groupBy(*by, win.alias("__window__"))
           .agg(*_aggs(aggregation_dict)))
    return out.select(
        *by,
        F.col("__window__.start").alias("window_start"),
        F.col("__window__.end").alias("window_end"),
        *aggregation_dict.keys())


def tumbling_window_running(df: DataFrame, time_col: str, by: list, size,
                            aggregation_dict: dict) -> DataFrame:
    """Running aggregate emitted per event within its tumbling window
    (reference ts_executors.py:109-145: window-id assignment + RANGE
    UNBOUNDED PRECEDING). One shuffle on the by-key."""
    size_s = to_seconds(size)
    win_id = F.window(F.col(time_col), _interval(size_s)).getField("start")
    with_id = df.withColumn("__wid__", win_id)
    w = (W.partitionBy(*by, "__wid__")
         .orderBy(epoch_us(time_col))
         .rangeBetween(W.unboundedPreceding, 0))
    aggs = [_over(sql, w).alias(alias)
            for alias, sql in aggregation_dict.items()]
    return with_id.select(*by, time_col, *aggs)


def sliding_window_bucketed(df: DataFrame, time_col: str, by: list,
                            size_before, aggregation_dict: dict,
                            bucket, keep: list | None = None) -> DataFrame:
    """Overlap-chunk (halo) formulation of the trailing window for
    LOW-KEY-COUNT streams: the plain sliding window partitions by key
    only — one task per key. Here each row lands in its time bucket,
    and rows within ``size_before`` of a bucket's end are COPIED into
    the next bucket as halo rows (present for computation, never
    emitted), so every trailing frame is complete inside its own
    (key, bucket) partition — parallelism keys x buckets, ~2x the rows
    of one window-width shuffled twice at worst. Requires
    bucket >= size_before. Exact equality with the single-window plan
    is test-asserted."""
    size_us = int(to_seconds(size_before) * 1_000_000)
    width_us = int(to_seconds(bucket) * 1_000_000)
    assert width_us >= size_us, "bucket must be >= size_before"
    us = epoch_us(time_col)
    main = df.withColumn("__b__", F.floor(us / width_us)) \
             .withColumn("__halo__", F.lit(False))
    # F.pmod, not %: sign-preserving % silently drops halo rows for
    # pre-1970 (negative-epoch) timestamps
    halo = (df.filter(F.pmod(us, F.lit(width_us)) >= width_us - size_us)
            .withColumn("__b__", F.floor(us / width_us) + 1)
            .withColumn("__halo__", F.lit(True)))
    unioned = main.unionByName(halo)
    w = (W.partitionBy(*by, "__b__")
         .orderBy(epoch_us(time_col))
         .rangeBetween(-size_us, 0))
    aggs = [_over(sql, w).alias(alias)
            for alias, sql in aggregation_dict.items()]
    return (unioned.select(*by, time_col, *(keep or []),
                           F.col("__halo__"), *aggs)
            .filter(~F.col("__halo__")).drop("__halo__"))


def sliding_window(df: DataFrame, time_col: str, by: list, size_before,
                   aggregation_dict: dict,
                   keep: list | None = None) -> DataFrame:
    """Trailing window of ``size_before`` per event (reference
    ts_executors.py:147-194, polars groupby_rolling): range frame
    [-size_before, 0] over event-time seconds.

    Boundary semantics — intentional: the frame is CLOSED on the left
    ([t-size, t]), so an event exactly ``size_before`` old is included.
    This matches SQL RANGE BETWEEN ... PRECEDING (the DuckDB oracle) by
    design; polars groupby_rolling defaults to left-open (t-size, t].
    Callers needing polars semantics can pass size_before minus one
    microsecond."""
    # event-time in integer microseconds: rangeBetween requires integral
    # bounds, and µs-longs keep window membership exact (no fp rounding)
    size_us = int(to_seconds(size_before) * 1_000_000)
    w = (W.partitionBy(*by)
         .orderBy(epoch_us(time_col))
         .rangeBetween(-size_us, 0))
    aggs = [_over(sql, w).alias(alias)
            for alias, sql in aggregation_dict.items()]
    return df.select(*by, time_col, *(keep or []), *aggs)


def candlestick(df: DataFrame, time_col: str, by, price_col: str,
                volume_col: str | None = None, interval="1m",
                tiebreak: str | None = None) -> DataFrame:
    """OHLCV candlestick bars (reference apps/rottnest/candlestick.py
    builds 1-minute bars per symbol with polars head/tail/max/min/sum
    inside a per-date batch_func; here the same bars are one
    declarative plan over the whole stream).

    Returns (by…, candle_start, open, close, high, low, volume,
    n_ticks). ``open``/``close`` are the price at the first/last tick
    of the bar under the total order (time, tiebreak) — pass a unique
    ``tiebreak`` column (e.g. an event id) to make ties deterministic,
    which the oracle gate requires.

    Scale shape: one shuffle on (by, candle) for the row_number
    window; the groupBy that follows uses the same keys, so Catalyst
    reuses the exchange — parallelism is keys × bars, not keys (the
    low-key-count problem sliding windows have does not arise)."""
    by = [by] if isinstance(by, str) else list(by or [])
    size_s = to_seconds(interval)
    candle = F.window(F.col(time_col), _interval(size_s)).getField("start")
    staged = df.withColumn("__c__", candle)
    order_asc = [F.col(time_col).asc()] + \
        ([F.col(tiebreak).asc()] if tiebreak else [])
    order_desc = [F.col(time_col).desc()] + \
        ([F.col(tiebreak).desc()] if tiebreak else [])
    wa = W.partitionBy(*by, "__c__").orderBy(*order_asc)
    wd = W.partitionBy(*by, "__c__").orderBy(*order_desc)
    ranked = staged.select(
        *by, "__c__", F.col(price_col).alias("__p__"),
        (F.col(volume_col) if volume_col else F.lit(1)).alias("__v__"),
        F.row_number().over(wa).alias("__ra__"),
        F.row_number().over(wd).alias("__rd__"))
    return (ranked.groupBy(*by, "__c__")
            .agg(F.max(F.when(F.col("__ra__") == 1, F.col("__p__")))
                 .alias("open"),
                 F.max(F.when(F.col("__rd__") == 1, F.col("__p__")))
                 .alias("close"),
                 F.max("__p__").alias("high"), F.min("__p__").alias("low"),
                 F.sum("__v__").alias("volume"),
                 F.count(F.lit(1)).alias("n_ticks"))
            .withColumnRenamed("__c__", "candle_start"))


def session_window(df: DataFrame, time_col: str, by: list, timeout,
                   aggregation_dict: dict) -> DataFrame:
    """Gap-timeout sessions (reference ts_executors.py:197-288 builds
    sessions via cumsum of (ts - lag(ts)) > timeout; Spark's
    ``session_window`` implements exactly that, shuffle-once)."""
    gap = _interval(to_seconds(timeout))
    out = (df.groupBy(*by, F.session_window(F.col(time_col), gap).alias("__session__"))
           .agg(*_aggs(aggregation_dict)))
    return out.select(
        *by,
        F.col("__session__.start").alias("session_start"),
        F.col("__session__.end").alias("session_end"),
        *aggregation_dict.keys())


def ewma(df: DataFrame, time_col: str, by, value_col: str,
         alpha: float = 0.2, lookback: int = 50,
         out: str = "ewma", tiebreak: str | None = None) -> DataFrame:
    """Exponentially weighted moving average per key — the classic
    smoothing of the reference's finance domain (rottnest), truncated
    to the trailing ``lookback`` rows (weight beyond that is
    (1-α)^lookback ≈ 0 for any practical α):

        ewma_t = Σ_{i=0..n-1} α·(1-α)^i · x_{t-i}   (+ tail weight of
        the oldest row absorbing the remaining mass, so weights sum
        to 1 — the standard ``adjust=False`` recurrence unrolled).

    Formulation: collect the trailing values (newest-first) into the
    row's window array, then one JVM higher-order fold — weights are
    driver-computed exact literals, the fold order is the array order
    on BOTH engines, so results are engine-identical and the oracle
    replays them. One shuffle on the key; parallelism follows keys
    like the plain sliding window.

    DETERMINISM CONTRACT: results are engine-identical only when
    (time_col[, tiebreak]) is a UNIQUE ordering within each key. With
    duplicate timestamps and ``tiebreak=None``, collect_list's
    encounter order is partition-dependent, so reruns may fold equal-
    timestamp values in different order — pass ``tiebreak=`` (any
    unique column, e.g. the event id) whenever the time column can
    repeat within a key."""
    from pyspark.sql import Window
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    order = [F.col(time_col)] + ([F.col(tiebreak)] if tiebreak else [])
    groups = [by] if isinstance(by, str) else list(by)
    w = (Window.partitionBy(*groups).orderBy(*order)
         .rowsBetween(-(lookback - 1), 0))
    # newest-first weights w_i = a(1-a)^i; the LAST position of the
    # actual window absorbs the tail mass (1-a)^(n-1) — taken from a
    # precomputed literal array (CLOSED FORM, no engine-side summation)
    weights = [alpha * (1 - alpha) ** i for i in range(lookback)]
    tails = [(1 - alpha) ** i for i in range(lookback)]
    vals = F.reverse(F.collect_list(F.col(value_col).cast("double")).over(w))
    wlit = F.array(*[F.lit(float(x)) for x in weights])
    tlit = F.array(*[F.lit(float(x)) for x in tails])
    n = F.size(vals)
    adj = F.concat(F.slice(wlit, 1, n - 1),
                   F.array(F.element_at(tlit, n)))
    # strict LEFT fold (matched by list_reduce in the oracle): both
    # engines add the weighted terms in the identical order, so the
    # result is bit-identical before rounding — no midpoint hazards
    folded = F.aggregate(
        F.zip_with(vals, adj, lambda v, wt: v * wt),
        F.lit(0.0), lambda a, x: a + x)
    return df.withColumn(out, F.round(folded, 6))


def resample(df: "DataFrame", time_col: str, by, value_cols: list,
             every, method: str = "ffill", origin: float = 0.0
             ) -> "DataFrame":
    """Per-key resampling onto a regular time grid — the gap-fill /
    downsample verb of every time-series engine (extension op; the
    reference's windows aggregate but do not regularize).

    Grid: per key, ticks at ``origin + k·every`` (seconds) covering
    [ceil(min ts), floor(max ts)] — generated JVM-side with
    ``sequence`` + ``explode`` from one slim per-key min/max
    aggregate, so grid size is data-spread/every per key, never a
    driver loop. ``method``:

    - ``"ffill"``   — value at tick = latest observation ≤ tick
      (one backward as-of join, operators/asof.join_asof: a second
      shuffle on the key).
    - ``"linear"``  — linear interpolation between the neighboring
      observations (backward + forward as-of over the SAME union
      shape; ticks outside the observed range take the boundary
      value — the standard clamp).

    Numeric ``time_col`` (seconds) only — the batch gates' ts_sec
    shape; timestamps convert via ``unix_micros(...)/1e6`` first.
    Output: (by, tick, one column per value col) — exactly SQL-
    replayable (DuckDB ASOF JOIN oracle), hash-gated in
    __spark_entry__.ts_resample."""
    from .asof import join_asof
    every = float(to_seconds(every) if isinstance(every, str) else every)
    assert method in ("ffill", "linear"), method
    groups = [by] if isinstance(by, str) else list(by)
    from pyspark.sql.types import TimestampNTZType, TimestampType
    if isinstance(df.schema[time_col].dataType,
                  (TimestampType, TimestampNTZType)):
        # timestamp axis: convert to epoch seconds (ticks emit as
        # double epoch seconds; µs truncation matches read_parquet)
        df = df.withColumn(
            time_col,
            F.unix_micros(F.col(time_col).cast("timestamp")) / F.lit(1e6))
    bounds = df.groupBy(*groups).agg(
        F.min(time_col).alias("__mn__"), F.max(time_col).alias("__mx__"))
    first = (F.ceil((F.col("__mn__") - F.lit(origin)) / F.lit(every))
             .cast("long"))
    last = (F.floor((F.col("__mx__") - F.lit(origin)) / F.lit(every))
            .cast("long"))
    # a key whose span lies strictly between two ticks has
    # ceil(min) > floor(max); sequence(first, last) would then step
    # BACKWARD (default step -1) and emit two spurious out-of-range
    # ticks — such keys must emit zero rows (DuckDB's
    # generate_series(first, last) is empty there)
    grid = (bounds.select(*groups, first.alias("__f__"),
                          last.alias("__l__"))
            .filter(F.col("__l__") >= F.col("__f__"))
            .select(*groups,
                    F.explode(F.sequence(F.col("__f__"), F.col("__l__")))
                    .alias("__k__"))
            .select(*groups,
                    (F.lit(origin) + F.col("__k__") * F.lit(every))
                    .alias("tick")))
    obs = df.select(*groups, time_col, *value_cols)
    if method == "ffill":
        back = join_asof(grid, obs, "tick", time_col, groups, groups,
                         bucket=None)
        return back.select(*groups, "tick", *value_cols)
    # linear: BOTH neighbors from ONE union + window pass (the
    # direction="nearest" formulation — one shuffle, one sort; a
    # backward + forward as-of pair would re-sort the 10x-bigger
    # grid twice, measured 5.6 s vs 1.2 s at sf0.1)
    from pyspark.sql import Window
    gtag = grid.select(
        *groups, F.col("tick").alias("__t__"), F.lit(1).alias("__side__"),
        F.lit(None).cast("double").alias("__rt__"),
        *[F.lit(None).cast("double").alias(c) for c in value_cols])
    otag = obs.select(
        *groups, F.col(time_col).cast("double").alias("__t__"),
        F.lit(0).alias("__side__"),
        F.col(time_col).cast("double").alias("__rt__"),
        *[F.col(c).cast("double") for c in value_cols])
    u = gtag.unionByName(otag)
    # BOTH fills as O(n) RUNNING frames: Spark evaluates a
    # [current, unboundedFollowing] frame by rescanning to the
    # partition end for every row (O(n^2) — measured 5+ s on a 1M-row
    # grid); last-non-null over the REVERSED ordering is the same
    # forward fill at O(n). At equal __t__ the asc (t, side) order
    # puts the obs before the tick (backward sees it), and the desc
    # (t desc, side desc) order puts the tick first (forward excludes
    # it) — exactly the as-of tie convention.
    wb = Window.partitionBy(*groups) \
        .orderBy(F.col("__t__").asc(), F.col("__side__").asc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy(*groups) \
        .orderBy(F.col("__t__").desc(), F.col("__side__").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    payload = F.when(F.col("__side__") == 0,
                     F.struct(F.col("__rt__"),
                              *[F.col(c) for c in value_cols]))
    filled = u.select(
        *groups, "__t__", "__side__",
        F.last(payload, ignorenulls=True).over(wb).alias("__b__"),
        F.last(payload, ignorenulls=True).over(wf).alias("__f__"))
    ticks = filled.filter(F.col("__side__") == 1)
    t0 = F.col("__b__.__rt__")
    t1 = F.col("__f__.__rt__")
    # an obs at exactly the tick sorts BEFORE the tick row (side 0
    # first), so backward always sees it and frac collapses to 0
    frac = F.when(t1 == t0, F.lit(0.0)) \
        .otherwise((F.col("__t__") - t0) / (t1 - t0))
    out_cols = []
    for c in value_cols:
        b, f = F.col(f"__b__.{c}"), F.col(f"__f__.{c}")
        # clamp: missing side takes the present side's value
        interp = F.when(b.isNull(), f).when(f.isNull(), b) \
            .otherwise(b + (f - b) * frac)
        out_cols.append(interp.alias(c))
    return ticks.select(*groups, F.col("__t__").alias("tick"), *out_cols)
