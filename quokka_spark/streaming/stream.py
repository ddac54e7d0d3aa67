"""Structured Streaming surface.

The reference is a batch engine with pipelined (streaming-style)
execution and no watermark/late-data semantics (SURVEY §2.8). This
module is the parity-plus mapping: the same windowed aggregations that
operators/windows.py runs in batch, expressed over ``readStream`` with
watermarks, plus the ``applyInPandasWithState`` recipe replacing the
reference's stateful Executor for unbounded inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import _aggs, _interval, to_seconds
from ..windowtypes import HoppingWindow, SessionWindow


def read_parquet_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-arrival streaming source over a parquet directory."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_windowed_agg(df: DataFrame, window, time_col: str, by,
                           watermark: str = "10 minutes") -> DataFrame:
    """Hopping/tumbling/session windows with late-data handling — the
    capability the reference lacks (it asserts sortedness instead)."""
    by = [by] if isinstance(by, str) else list(by or [])
    from pyspark.sql.types import TimestampNTZType
    if isinstance(df.schema[time_col].dataType, TimestampNTZType):
        # withWatermark rejects TIMESTAMP_NTZ (pyspark 4 reads naive
        # parquet timestamps as NTZ); session tz is pinned UTC so the
        # cast is an epoch identity
        df = df.withColumn(time_col, F.col(time_col).cast("timestamp"))
    wm = df.withWatermark(time_col, watermark)
    if isinstance(window, HoppingWindow):
        win = F.window(F.col(time_col), _interval(to_seconds(window.size)),
                       _interval(to_seconds(window.hop)))
    elif isinstance(window, SessionWindow):
        win = F.session_window(F.col(time_col),
                               _interval(to_seconds(window.timeout)))
    else:
        raise TypeError("streaming supports hopping/tumbling/session windows")
    return wm.groupBy(*by, win.alias("window")).agg(*_aggs(window.aggregation_dict))


def streaming_dedup_exact(df: DataFrame, key_cols, watermark_col: str,
                          delay: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup with BOUNDED state — the streaming face of
    functions/dedup.exact_duplicates. ``dropDuplicatesWithinWatermark``
    evicts seen-key state once the watermark passes, so state is
    O(keys seen within ``delay``), not O(all keys ever) — the only
    dedup shape that survives an unbounded 100 TB/day stream. Rows with
    the same key more than ``delay`` apart may BOTH survive (that is
    the documented watermark trade; batch dedup_exact is the exact
    oracle)."""
    from pyspark.sql.types import TimestampNTZType
    if isinstance(df.schema[watermark_col].dataType, TimestampNTZType):
        df = df.withColumn(watermark_col,
                           F.col(watermark_col).cast("timestamp"))
    return (df.withWatermark(watermark_col, delay)
            .dropDuplicatesWithinWatermark(
                [key_cols] if isinstance(key_cols, str) else list(key_cols)))


def streaming_join(left: DataFrame, right: DataFrame, on,
                   how: str = "inner",
                   left_time: str | None = None,
                   right_time: str | None = None,
                   watermark: str = "10 minutes",
                   max_delay: str | None = None) -> DataFrame:
    """Stream-stream equi-join on Spark's native join state store —
    the streaming face of ``DataStream.join`` (the reference's
    push-based runtime joins streams by construction; Structured
    Streaming needs the state bounded explicitly, which is the whole
    API here).

    With ``left_time``/``right_time`` + ``max_delay``, both sides get
    ``watermark`` and the join adds the time-range condition
    ``left_time BETWEEN right_time - max_delay AND right_time +
    max_delay`` — then Spark can EVICT buffered rows once the
    watermark passes, so state is O(rows within the horizon), the
    only shape that survives an unbounded stream. Without them the
    inner join runs with unbounded state (correct, but a 100 TB/day
    anti-pattern — and outer joins REQUIRE the bounds, enforced
    here). EVERY right-side column that collides with a left name is
    suffixed ``_2`` (the batch ``DataStream.join`` convention), so
    the output never carries ambiguous references."""
    keys = [on] if isinstance(on, str) else list(on)
    from pyspark.sql.types import TimestampNTZType
    if left_time and isinstance(left.schema[left_time].dataType,
                                TimestampNTZType):
        left = left.withColumn(left_time,
                               F.col(left_time).cast("timestamp"))
    if right_time and isinstance(right.schema[right_time].dataType,
                                 TimestampNTZType):
        right = right.withColumn(right_time,
                                 F.col(right_time).cast("timestamp"))
    if how != "inner" and not (left_time and right_time and max_delay):
        raise ValueError(
            f"streaming {how} join needs left_time/right_time + "
            "max_delay (Spark cannot emit unmatched rows without a "
            "watermark bound)")
    bounded = bool(left_time and right_time and max_delay)
    if bounded:
        left = left.withWatermark(left_time, watermark)
        right = right.withWatermark(right_time, watermark)
    # rename EVERY colliding right column so the range condition and
    # the output are unambiguous (batch join suffix convention);
    # join keys get a temp name that is dropped after the join
    collide = [c for c in right.columns if c in left.columns]
    ren = {c: (f"{c}_2" if c not in keys else f"__qs_k_{c}__")
           for c in collide}
    taken = set(left.columns) | set(right.columns)
    for old, new in ren.items():
        if new in taken:  # same guard as the batch join's assert
            raise ValueError(
                f"suffix '_2' insufficient: renaming {old!r} to "
                f"{new!r} collides with an existing column")
    for old, new in ren.items():
        right = right.withColumnRenamed(old, new)
    cond = None
    for k in keys:
        c = F.col(k) == F.col(ren.get(k, k))
        cond = c if cond is None else cond & c
    if bounded:
        rt = ren.get(right_time, right_time)
        cond = cond \
            & (F.col(left_time) >= F.col(rt)
               - F.expr(f"INTERVAL {max_delay}")) \
            & (F.col(left_time) <= F.col(rt)
               + F.expr(f"INTERVAL {max_delay}"))
    out = left.join(right, cond, how)
    # right_outer/full_outer: an unmatched right row carries its key
    # ONLY in the renamed right column — coalesce into the surviving
    # left-named key before dropping, else the key surfaces as null
    right_ish = how.lower().replace("_", "") in (
        "right", "rightouter", "full", "fullouter", "outer")
    for k in keys:
        rk = ren.get(k)
        if rk is not None and right_ish:
            out = out.withColumn(k, F.coalesce(F.col(k), F.col(rk)))
    return out.drop(*[v for v in ren.values()
                      if v.startswith("__qs_k_")])


def streaming_minhash_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            time_col: str = "event_time",
                            delay: str = "10 minutes", n: int = 3,
                            num_hashes: int = 64, bands: int = 16,
                            seed: int = 42) -> DataFrame:
    """Streaming banded minhash-LSH near-dup candidates with BOUNDED
    state — the streaming face of functions/dedup.minhash_lsh_pairs.

    Per micro-batch: signatures are the SAME stateless Arrow kernel as
    batch (minhash_signatures, carrying the event-time column); bands
    explode JVM-side into (band, bucket) keys; then one
    ``applyInPandasWithState`` per (band, bucket) keeps the ids seen
    within the watermark and emits a candidate pair (id1 < id2) for
    every new member against every remembered one. EventTimeTimeout
    evicts bucket state once the watermark passes ``delay`` beyond its
    last update, so state is O(docs within the horizon), never O(all
    docs) — the only shape that survives an unbounded stream.

    Semantics vs batch: replaying a corpus whose event times all fit
    one watermark horizon yields EXACTLY the batch candidate set
    (test-pinned); docs arriving more than ``delay`` apart may miss
    their pair — the standard watermark trade, identical to
    streaming_dedup_exact's. A pair may emit once per shared band
    (at-least-once): downstream exact-verify dedups, same as the
    batch candidate pipeline."""
    import pandas as pd
    from pyspark.sql.types import TimestampNTZType
    from ..functions.dedup import minhash_signatures
    assert num_hashes % bands == 0
    if isinstance(df.schema[time_col].dataType, TimestampNTZType):
        df = df.withColumn(time_col, F.col(time_col).cast("timestamp"))
    sigs = minhash_signatures(df, text_col, id_col, n, num_hashes, seed,
                              carry=[time_col], parallelize=False)
    r = num_hashes // bands
    banded = sigs.select(
        id_col, time_col,
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
                        lambda i: F.slice("signature", i * r + 1, r))
        ).alias("band", "band_sig"))
    bucketed = banded.withColumn(
        "bucket", F.xxhash64(F.col("band"), F.col("band_sig").cast("string")))
    wm = bucketed.withWatermark(time_col, delay)
    delay_ms = int(to_seconds(delay) * 1000)

    def func(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"id1": pd.Series([], dtype="int64"),
                                "id2": pd.Series([], dtype="int64")})
            return
        (stored,) = state.get if state.exists else ([],)
        seen = list(stored)
        out1, out2 = [], []
        last_ms = 0
        for pdf in pdfs:
            if len(pdf):
                last_ms = max(last_ms,
                              int(pdf[time_col].astype("int64").max()
                                  // 1_000_000))
            for rid in sorted(int(x) for x in pdf[id_col]):
                for s in seen:
                    if s != rid:
                        out1.append(min(s, rid))
                        out2.append(max(s, rid))
                if rid not in seen:
                    seen.append(rid)
        state.update((seen,))
        try:  # evict once the watermark passes the horizon — anchored
            # on the bucket's last EVENT time (watermark+delay alone is
            # epoch-1970 in the first batch and fires immediately)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms, wm + 1) + delay_ms)
        except Exception:  # noqa: BLE001 — watermark not yet initialized
            pass
        yield pd.DataFrame({"id1": pd.Series(out1, dtype="int64"),
                            "id2": pd.Series(out2, dtype="int64")})

    return (wm.groupBy("band", "bucket")
            .applyInPandasWithState(func,
                                    outputStructType="id1 long, id2 long",
                                    stateStructType="seen array<long>",
                                    outputMode="append",
                                    timeoutConf="EventTimeTimeout"))


def stateful_stream_transform(df: DataFrame, func, out_schema, state_schema,
                              by, timeout: str = "NoTimeout") -> DataFrame:
    """``applyInPandasWithState`` recipe — the streaming equivalent of
    the reference's Executor.execute/done contract: ``func(key,
    pdf_iter, state)`` accumulates into GroupState and emits batches."""
    return (df.groupBy(*([by] if isinstance(by, str) else by))
            .applyInPandasWithState(func, outputStructType=out_schema,
                                    stateStructType=state_schema,
                                    outputMode="append",
                                    timeoutConf=timeout))


def _make_asof_kernel(left_cols: list, pass_cols: list, out_vals: list,
                      left_by: str, n_rv: int, horizon_s, delay_ms: int):
    """Per-key applyInPandasWithState kernel for streaming_asof_join,
    factored to module level so tests can drive it directly (the
    100k-row micro-benchmark pinning the vectorized merge + probe)."""
    import numpy as np
    import pandas as pd

    def func(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=list(left_cols) + out_vals)
            return
        if state.exists:
            st = state.get
            q_ts = list(st[0])
            q_vs = [list(st[1 + i]) for i in range(n_rv)]
        else:
            q_ts, q_vs = [], [[] for _ in range(n_rv)]
        outs = []
        for pdf in pdfs:
            # event-time order; right (side 0) before left on ties —
            # backward as-of includes a right row at the exact left ts
            pdf = pdf.sort_values(["__ts__", "__side__"],
                                  kind="stable").reset_index(drop=True)
            ts_sec = pdf["__ts__"].astype("int64").to_numpy() / 1e9
            sides = pdf["__side__"].to_numpy()
            is_r = sides == 0
            # 1) merge the batch's right rows into the buffer in ONE
            # stable merge — equivalent to the per-row bisect_right
            # sorted insert (a late right may carry an older ts, legal
            # within the watermark delay): stable argsort with buffer
            # rows FIRST keeps existing equal-ts entries before new
            # ones and new equal-ts rows in arrival order, the same
            # "latest inserted last" convention. Vectorized (round-6
            # verdict #7) — the per-row Python loop capped micro-batch
            # throughput. .tolist() hands back plain Python floats:
            # numpy scalars break the JVM-side state unpickler.
            if is_r.any():
                r_ts = ts_sec[is_r]
                merged_ts = np.concatenate(
                    [np.asarray(q_ts, dtype="float64"), r_ts])
                order = np.argsort(merged_ts, kind="stable")
                q_ts = merged_ts[order].tolist()
                for i in range(n_rv):
                    rv = pdf[f"__rv_{i}__"].to_numpy(dtype="float64")[is_r]
                    q_vs[i] = np.concatenate(
                        [np.asarray(q_vs[i], dtype="float64"),
                         rv])[order].tolist()
            # 2) probe ALL left rows in one searchsorted over the
            # merged buffer. Equivalent to interleaved processing:
            # a left row at t only reads buffer entries with ts <= t,
            # and every such right row is already merged (ties sort
            # rights first); rights with ts > t can't affect its match.
            is_l = ~is_r
            if is_l.any():
                l_ts = ts_sec[is_l]
                qa = np.asarray(q_ts, dtype="float64")
                idx = np.searchsorted(qa, l_ts, side="right") - 1
                safe = np.clip(idx, 0, max(len(qa) - 1, 0))
                ok = idx >= 0
                if horizon_s is not None and len(qa):
                    ok &= (l_ts - qa[safe]) <= horizon_s
                out_pdf = pdf.loc[is_l, pass_cols].reset_index(drop=True)
                out_pdf[left_by] = key[0]
                for i, v in enumerate(out_vals):
                    va = np.asarray(q_vs[i], dtype="float64")
                    vals = va[safe] if len(va) else \
                        np.full(len(l_ts), np.nan)
                    # NaN at the Arrow boundary emits as null — the
                    # same visible result as the old None rows
                    out_pdf[v] = np.where(ok, vals, np.nan)
                outs.append(out_pdf[left_cols + out_vals])
            # evict: keep rows within horizon of the newest event,
            # plus the latest older one (any future backward match
            # can only reference those)
            if q_ts and horizon_s is not None:
                floor = max(q_ts[-1], ts_sec[-1] if len(ts_sec) else 0) \
                    - horizon_s
                cut = int(np.searchsorted(q_ts, floor, side="right"))
                keep_from = max(cut - 1, 0)
                if keep_from:
                    q_ts = q_ts[keep_from:]
                    q_vs = [v[keep_from:] for v in q_vs]
            elif q_ts and horizon_s is None and len(q_ts) > 1:
                q_ts = q_ts[-1:]
                q_vs = [v[-1:] for v in q_vs]
        state.update((q_ts, *q_vs))
        # anchor the timeout on the key's LAST EVENT TIME, never on the
        # current watermark alone: in the first micro-batch the
        # watermark is still 0, so watermark+delay would be an
        # epoch-1970 timeout that the next batch's advanced watermark
        # immediately fires, evicting live state prematurely
        try:
            wm = state.getCurrentWatermarkMs()
            last_ms = int(max(q_ts[-1] if q_ts else 0.0,
                              float(ts_sec[-1]) if len(ts_sec) else 0.0)
                          * 1000)
            state.setTimeoutTimestamp(max(last_ms, wm + 1) + delay_ms)
        except Exception:  # noqa: BLE001 — watermark not yet initialized
            pass
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return func


def streaming_asof_join(left: DataFrame, right: DataFrame,
                        left_on: str, right_on: str,
                        left_by: str, right_by: str,
                        right_vals: list | None = None,
                        horizon: str | None = "1 hour",
                        delay: str = "10 minutes",
                        suffix: str = "_2") -> DataFrame:
    """Streaming backward as-of join with BOUNDED state — the
    streaming face of operators/asof.join_asof, built on the SAME
    union-tag formulation the batch engine uses: both streams union
    with a side tag, shuffle once on the key, and a per-key
    ``applyInPandasWithState`` kernel carries the right-side buffer
    across micro-batches (the stateful mirror of the batch plan's
    last-value window fill).

    Per key the state holds the right rows inside ``horizon`` of the
    newest event PLUS the single latest older one (exactly what any
    future backward match can reference; with ``horizon=None`` that
    degenerates to one row — last-value state, O(keys)). Each arriving
    left row emits immediately, matched against the buffer via one
    searchsorted. Within a micro-batch rows process in event-time
    order (right before left on ties, matching backward-inclusive
    semantics), so a single-batch replay reproduces batch join_asof
    EXACTLY (test-pinned); across batches, a right row arriving in a
    LATER batch than a left row it should have matched is missed —
    the same documented watermark trade as streaming_dedup_exact —
    but it DOES insert into the buffer in sorted position, so every
    left row from then on matches correctly (test-pinned).
    EventTimeTimeout evicts idle keys ``delay`` past the watermark.

    ``right_vals`` (default: every right column except key/time) must
    be numeric — they cross the state boundary as double arrays; an
    emitted column colliding with a left name gets ``suffix``
    (batch join_asof's convention).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import TimestampNTZType

    if isinstance(left.schema[left_on].dataType, TimestampNTZType):
        left = left.withColumn(left_on, F.col(left_on).cast("timestamp"))
    if isinstance(right.schema[right_on].dataType, TimestampNTZType):
        right = right.withColumn(right_on, F.col(right_on).cast("timestamp"))
    if right_vals is None:
        right_vals = [c for c in right.columns
                      if c not in (right_on, right_by)]
    left_cols = list(left.columns)
    out_vals = [v + suffix if v in left_cols else v for v in right_vals]
    horizon_s = to_seconds(horizon) if horizon is not None else None
    delay_ms = int(to_seconds(delay) * 1000)

    lt = left.select(
        F.col(left_by).alias("__k__"),
        F.col(left_on).alias("__ts__"),
        F.lit(1).alias("__side__"),
        *[F.col(c) for c in left_cols if c != left_by],
        *[F.lit(None).cast("double").alias(f"__rv_{i}__")
          for i in range(len(right_vals))])
    rt = right.select(
        F.col(right_by).alias("__k__"),
        F.col(right_on).alias("__ts__"),
        F.lit(0).alias("__side__"),
        *[F.lit(None).cast(left.schema[c].dataType.simpleString()).alias(c)
          for c in left_cols if c != left_by],
        *[F.col(rv).cast("double").alias(f"__rv_{i}__")
          for i, rv in enumerate(right_vals)])
    unioned = lt.unionByName(rt).withWatermark("__ts__", delay)

    out_fields = []
    for c in left_cols:
        src = left.schema[c].dataType.simpleString()
        out_fields.append(f"`{c}` {src}")
    out_fields += [f"`{v}` double" for v in out_vals]
    out_schema = ", ".join(out_fields)
    n_rv = len(right_vals)
    state_schema = ("q_ts array<double>, "
                    + ", ".join(f"q_v{i} array<double>" for i in range(n_rv)))
    pass_cols = [c for c in left_cols if c != left_by]

    func = _make_asof_kernel(left_cols, pass_cols, out_vals,
                             left_by, n_rv, horizon_s, delay_ms)

    return (unioned.groupBy("__k__")
            .applyInPandasWithState(func, outputStructType=out_schema,
                                    stateStructType=state_schema,
                                    outputMode="append",
                                    timeoutConf="EventTimeTimeout"))


def streaming_pattern_recognize(df: DataFrame, time_col: str, events: list,
                                maxspan, by: str,
                                wm_col: str | None = None,
                                delay: str = "10 minutes") -> DataFrame:
    """Streaming CEP with BOUNDED state — the streaming face of
    operators/cep.pattern_recognize, running the SAME tested NFA
    kernel (match_pattern_pandas) per key per micro-batch.

    Per key the state holds (a) the event rows still inside
    ``watermark − maxspan`` — older rows cannot appear in any chain a
    not-yet-arrived event completes, because a chain containing a row
    at t ends by ``t + maxspan`` and the watermark guarantees no more
    events below it — and (b) a multiset of the (first, last)
    timestamp pairs already emitted, so re-running the NFA over the
    buffer emits each match exactly once — including two distinct
    same-timestamp start rows, which are two matches, as in batch. The pattern's own-conjunct prefilter pushes into
    the stream exactly as in batch, so the buffer holds only
    candidate rows.

    Semantics: a single-batch replay reproduces batch
    pattern_recognize EXACTLY except for ``event_number``, which is
    EMISSION-ordered (equal to the batch numbering when matches
    complete in start order — always true within one batch); matches
    are final on first emission, so a late event (within the
    watermark) that would have produced an earlier chain for an
    already-emitted start is not retroactively applied — the
    standard watermark trade. Timestamps emit as double seconds.

    ``wm_col``: TIMESTAMP column for the watermark; defaults to
    ``time_col`` when that column is a timestamp (``time_col`` may
    otherwise be numeric event-seconds, as in the batch gates)."""
    import json
    from collections import Counter

    import pandas as pd
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from ..operators.cep import CompiledPattern, match_pattern_pandas
    from ..sqldialect import duckdb_to_spark_sql

    pattern = CompiledPattern(df.columns, events, time_col,
                              float(to_seconds(maxspan)
                                    if isinstance(maxspan, str) else maxspan))
    span_s = pattern.max_span
    if wm_col is None:
        assert isinstance(df.schema[time_col].dataType,
                          (TimestampType, TimestampNTZType)), \
            "pass wm_col= when time_col is not a timestamp"
        wm_col = time_col
    if isinstance(df.schema[wm_col].dataType, TimestampNTZType):
        df = df.withColumn(wm_col, F.col(wm_col).cast("timestamp"))
    if pattern.prefilter_sql:
        df = df.filter(duckdb_to_spark_sql(pattern.prefilter_sql))
    need = sorted(pattern.touched_columns | {by, wm_col})
    wm = df.select(*need).withWatermark(wm_col, delay)
    delay_ms = int(to_seconds(delay) * 1000)
    data_cols = [c for c in need if c not in (by, wm_col)] \
        + ([wm_col] if wm_col == time_col else [])
    ts_is_wm = wm_col == time_col

    def _ts_sec(pdf):
        if ts_is_wm:
            return pdf[wm_col].astype("int64").to_numpy() / 1e9
        return pdf[time_col].astype("float64").to_numpy()

    out_cols = [by, "event_number", "first_event_timestamp",
                "last_event_timestamp"]

    def func(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=out_cols)
            return
        if state.exists:
            buf_json, emitted, ctr = state.get
            rows = [json.loads(x) for x in buf_json]
            emitted = list(emitted)
        else:
            rows, emitted, ctr = [], [], 0
        last_ms = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            last_ms = max(last_ms,
                          int(pdf[wm_col].astype("int64").max() // 1_000_000))
            ts = _ts_sec(pdf)
            wm_sec = pdf[wm_col].astype("int64").to_numpy() / 1e9
            for j in range(len(pdf)):
                r = {c: pdf[c].iloc[j] for c in data_cols
                     if c != wm_col}
                r[time_col] = float(ts[j])
                # the row's WATERMARK-axis time: eviction must compare
                # on the watermark clock — a numeric time_col can sit
                # on an arbitrary offset axis (e.g. seconds from t0)
                r["__wm__"] = float(wm_sec[j])
                # plain python types for JSON + state portability
                rows.append({k: (v.item() if hasattr(v, "item") else v)
                             for k, v in r.items()})
        outs = []
        if rows:
            pdf_all = pd.DataFrame([{k: v for k, v in r.items()
                                     if k != "__wm__"} for r in rows])
            # plain python floats: numpy scalars break the JVM-side
            # state unpickler
            found = sorted((float(f), float(l))
                           for f, l in match_pattern_pandas(pdf_all, pattern))
            # exactly-once via a MULTISET keyed on the (first, last)
            # PAIR: keying on first_ts alone collapses two distinct
            # same-timestamp start rows into one emission (batch emits
            # one match per start row), and the per-batch NFA re-run
            # re-finds every prior match, so multiplicity must be
            # subtracted, not set-tested
            prev = Counter(emitted)
            for f, l in found:
                k = json.dumps([f, l])
                if prev[k] > 0:
                    prev[k] -= 1
                    continue
                outs.append((key[0], ctr, f, l))
                ctr += 1
                emitted.append(k)
        # evict rows below watermark - maxspan ON THE WATERMARK AXIS:
        # no event below the watermark will arrive, and a chain
        # containing a row at wall-time w ends by w + maxspan (numeric
        # time_col must be seconds on a constant offset from wm_col —
        # the ts_sec shape the batch gates use). An emitted mark lives
        # exactly as long as its START row: once the row is evicted
        # the NFA can never find that start again.
        try:
            wm_s = state.getCurrentWatermarkMs() / 1000.0
        except Exception:  # noqa: BLE001
            wm_s = 0.0
        floor = wm_s - span_s
        if floor > 0:
            rows = [r for r in rows if r["__wm__"] >= floor]
            surviving = {r[time_col] for r in rows}
            emitted = [e for e in emitted
                       if json.loads(e)[0] in surviving]
        state.update(([json.dumps(r) for r in rows], emitted, ctr))
        try:
            wmms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms, wmms + 1) + delay_ms)
        except Exception:  # noqa: BLE001 — watermark not initialized
            pass
        if outs:
            yield pd.DataFrame(outs, columns=out_cols)

    by_type = df.schema[by].dataType.simpleString()
    out_schema = (f"`{by}` {by_type}, event_number long, "
                  "first_event_timestamp double, "
                  "last_event_timestamp double")
    return (wm.groupBy(by)
            .applyInPandasWithState(func, outputStructType=out_schema,
                                    stateStructType=("buf array<string>, "
                                                     "emitted array<string>, "
                                                     "ctr long"),
                                    outputMode="append",
                                    timeoutConf="EventTimeTimeout"))


def streaming_resample(df: DataFrame, time_col: str, by: str,
                       value_cols: list, every, origin: float = 0.0,
                       wm_col: str | None = None,
                       delay: str = "10 minutes") -> DataFrame:
    """Streaming ffill-resample with BOUNDED state — the streaming
    face of operators/windows.resample(method="ffill"), completing
    the regularization family (VERDICT r5 #6).

    Per key the state holds the next grid index and the observation
    buffer a future tick could still reference (everything above the
    latest observation at-or-below the next tick — older rows are
    dominated forever). A tick ``origin + k·every`` emits once it is
    FINAL: strictly below the watermark (translated onto the event
    axis) so no admissible late observation can land at-or-below it,
    and at-or-below the key's max observation (the batch grid's upper
    clamp). The grid starts at ceil((first observation − origin) /
    every), exactly the batch grid; a late observation older than the
    key's first-seen row cannot retroactively open earlier ticks —
    the same documented watermark trade as the other streaming verbs.
    Emission advances on watermark progress (Spark's no-data
    micro-batches), so a replay's final ticks appear once the
    watermark passes them.

    ``time_col``: numeric event seconds or timestamp; ``wm_col``: the
    TIMESTAMP watermark column (defaults to time_col when it is a
    timestamp; a numeric time_col must sit on a constant offset from
    wm_col — the ts_sec shape, same contract as streaming CEP).
    Ticks emit as double seconds; values as doubles."""
    import bisect

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import TimestampNTZType, TimestampType

    every = float(to_seconds(every) if isinstance(every, str) else every)
    if wm_col is None:
        assert isinstance(df.schema[time_col].dataType,
                          (TimestampType, TimestampNTZType)), \
            "pass wm_col= when time_col is not a timestamp"
        wm_col = time_col
    if isinstance(df.schema[wm_col].dataType, TimestampNTZType):
        df = df.withColumn(wm_col, F.col(wm_col).cast("timestamp"))
    ts_is_wm = wm_col == time_col
    need = [by, wm_col] + ([time_col] if not ts_is_wm else []) + value_cols
    wm = df.select(*need).withWatermark(wm_col, delay)
    delay_ms = int(to_seconds(delay) * 1000)
    n_v = len(value_cols)
    UNSET = -(1 << 62)

    by_type = df.schema[by].dataType.simpleString()
    out_schema = (f"`{by}` {by_type}, tick double, "
                  + ", ".join(f"`{v}` double" for v in value_cols))
    state_schema = ("next_k long, max_t double, off double, last_ms long, "
                    "q_ts array<double>, "
                    + ", ".join(f"q_v{i} array<double>" for i in range(n_v)))

    def func(key, pdfs, state):
        # the timeout is armed at watermark+1 so EVERY watermark
        # advance (incl. Spark's no-data micro-batches) wakes the key
        # to flush newly-final ticks — emission here is
        # watermark-driven, unlike the event-driven kernels
        if state.exists:
            st = state.get
            next_k, max_t, off, last_ms = (st[0], st[1], st[2],
                                           int(st[3]))
            q_ts = list(st[4])
            q_vs = [list(st[5 + i]) for i in range(n_v)]
        else:
            next_k, max_t, off, last_ms = UNSET, float("-inf"), 0.0, 0
            q_ts, q_vs = [], [[] for _ in range(n_v)]
        for pdf in pdfs:
            if not len(pdf):
                continue
            wm_sec = pdf[wm_col].astype("int64").to_numpy() / 1e9
            ts = wm_sec if ts_is_wm \
                else pdf[time_col].astype("float64").to_numpy()
            last_ms = max(last_ms, int(wm_sec.max() * 1000))
            # SORTED merge in one stable argsort (late rows land in
            # position — the streaming_asof_join convention; existing
            # equal-ts buffer entries stay before new ones, new ones
            # keep arrival order — exactly the old per-row
            # bisect_right insert, vectorized per round-6 verdict #7).
            # .tolist() hands back plain Python floats: numpy scalars
            # break the JVM state unpickler.
            merged = np.concatenate(
                [np.asarray(q_ts, dtype="float64"), ts])
            order = np.argsort(merged, kind="stable")
            q_ts = merged[order].tolist()
            for i in range(n_v):
                q_vs[i] = np.concatenate(
                    [np.asarray(q_vs[i], dtype="float64"),
                     pdf[value_cols[i]].astype("float64").to_numpy()
                     ])[order].tolist()
            max_t = max(max_t, float(ts.max()))
            off = float(ts[-1] - wm_sec[-1])
        try:
            wmms = state.getCurrentWatermarkMs()
        except Exception:  # noqa: BLE001
            wmms = 0
        w = wmms / 1000.0
        outs = []
        if q_ts:
            if next_k == UNSET:
                next_k = int(np.ceil((q_ts[0] - origin) / every))
            ticks = []
            while w > 0:
                t_k = origin + next_k * every
                # final = STRICTLY below the watermark on the event
                # axis (an obs at exactly the watermark may still
                # arrive), clamped to the key's max observation (the
                # batch grid's upper edge)
                if not (t_k <= max_t and t_k < w + off):
                    break
                ticks.append(float(t_k))
                next_k += 1
            if ticks:
                # one searchsorted for every final tick's fill value
                idxs = np.searchsorted(np.asarray(q_ts, dtype="float64"),
                                       np.asarray(ticks),
                                       side="right") - 1
                qv = [np.asarray(v, dtype="float64") for v in q_vs]
                outs = [(key[0], t_k,
                         *[float(qv[i][ix]) for i in range(n_v)])
                        for t_k, ix in zip(ticks, idxs)]
            # evict: rows older than the latest obs <= the NEXT tick
            # are dominated for every future tick
            t_next = origin + next_k * every
            cut = bisect.bisect_right(q_ts, t_next) - 1
            if cut > 0:
                q_ts = q_ts[cut:]
                q_vs = [v[cut:] for v in q_vs]
        grid_done = (next_k != UNSET and bool(q_ts)
                     and origin + next_k * every > max_t)
        idle = wmms > 0 and wmms - last_ms > delay_ms
        if idle and (grid_done or not q_ts):
            state.remove()
        else:
            state.update((int(next_k), float(max_t), float(off),
                          int(last_ms), q_ts, *q_vs))
            state.setTimeoutTimestamp(wmms + 1)
        if outs:
            yield pd.DataFrame(outs, columns=[by, "tick"] + value_cols)

    return (wm.groupBy(by)
            .applyInPandasWithState(func, outputStructType=out_schema,
                                    stateStructType=state_schema,
                                    outputMode="append",
                                    timeoutConf="EventTimeTimeout"))


def streaming_ewma(df: DataFrame, time_col: str, by: str, value_col: str,
                   alpha: float = 0.2, lookback: int = 50,
                   out: str = "ewma", wm_col: str | None = None,
                   delay: str = "10 minutes") -> DataFrame:
    """Streaming EWMA with BOUNDED state — the streaming face of
    operators/windows.ewma (VERDICT r5 #6). Each arriving event emits
    immediately with its trailing adjust=False fold over the last
    ``lookback`` values; the per-key buffer holds the ``lookback − 1``
    rows a future or late-but-admissible row could still reference
    (everything at-or-above the watermark plus the lookback−1 latest
    below it). The fold runs newest-first with the SAME weight
    literals and LEFT-fold order as the batch formulation, so a
    single-batch replay matches batch ewma to the shared round(·, 6)
    (test-pinned). Late rows insert in sorted position and fold
    correctly themselves; rows already emitted are not retro-smoothed
    — the standard watermark trade. Duplicate timestamps within a key
    follow arrival order (batch requires ``tiebreak=`` there too)."""
    import bisect

    import pandas as pd
    from pyspark.sql.types import TimestampNTZType, TimestampType

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if wm_col is None:
        assert isinstance(df.schema[time_col].dataType,
                          (TimestampType, TimestampNTZType)), \
            "pass wm_col= when time_col is not a timestamp"
        wm_col = time_col
    if isinstance(df.schema[wm_col].dataType, TimestampNTZType):
        df = df.withColumn(wm_col, F.col(wm_col).cast("timestamp"))
    ts_is_wm = wm_col == time_col
    need = [by, wm_col] + ([time_col] if not ts_is_wm else []) + [value_col]
    wm = df.select(*need).withWatermark(wm_col, delay)
    delay_ms = int(to_seconds(delay) * 1000)
    # identical literals to the batch plan (windows.ewma)
    weights = [alpha * (1 - alpha) ** i for i in range(lookback)]
    tails = [(1 - alpha) ** i for i in range(lookback)]
    import numpy as np
    # newest-first weight vector for the full-window vectorized fold
    _wfull = np.array(weights[:lookback - 1] + [tails[lookback - 1]])

    def _fold(seq):
        """The one scalar fold both paths share: newest-first,
        sequential left fold, tail weight on the OLDEST value — the
        exact summation order of the batch plan's compiled expression
        (bit-identical before rounding; no midpoint hazards)."""
        n = len(seq)
        acc = 0.0
        for i in range(n - 1):
            acc = acc + seq[i] * weights[i]
        return acc + seq[n - 1] * tails[n - 1]

    by_type = df.schema[by].dataType.simpleString()
    tcol_type = "double" if not ts_is_wm else "timestamp"
    out_schema = (f"`{by}` {by_type}, `{time_col}` {tcol_type}, "
                  f"`{value_col}` double, `{out}` double")

    def func(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=[by, time_col, value_col, out])
            return
        if state.exists:
            st = state.get
            q_ts, q_vs = list(st[0]), list(st[1])
        else:
            q_ts, q_vs = [], []
        outs = []
        last_ms = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(time_col, kind="stable") \
                     .reset_index(drop=True)
            wm_sec = pdf[wm_col].astype("int64").to_numpy() / 1e9
            ts = wm_sec if ts_is_wm \
                else pdf[time_col].astype("float64").to_numpy()
            vals = pdf[value_col].astype("float64").to_numpy()
            last_ms = max(last_ms, int(wm_sec.max() * 1000))
            off = float(ts[-1] - wm_sec[-1])
            if (not q_ts) or float(ts[0]) >= q_ts[-1]:
                # FAST PATH (the common in-order batch): every row
                # appends, so all trailing windows live in one
                # concatenated array — the folds become one (rows x
                # lookback) matrix product over zero-padded sliding
                # windows. Ties append in arrival order, exactly the
                # bisect_right convention. Rows whose available
                # history is shorter than lookback put the tail
                # weight on their OLDEST real value — those few
                # (at most lookback-1, only near stream start) take
                # the scalar fold.
                buf = np.asarray(q_vs, dtype="float64")
                all_vals = np.concatenate([buf, vals])
                start = len(buf)
                L = lookback
                padded = np.concatenate([np.zeros(L - 1), all_vals])
                win = np.lib.stride_tricks.sliding_window_view(padded, L)
                wrev = win[start:, ::-1]
                # term-by-term accumulation in ascending index order —
                # NOT a BLAS matvec, whose pairwise/SIMD summation
                # could diverge from the scalar left fold at the
                # round(.,6) midpoint (the rounds-4/6 float-parity
                # failure class). Each element sees exactly the
                # scalar fold's operation sequence (zero-padded terms
                # add 0.0, preserving bit identity for short rows too
                # — but their tail weight sits wrong, so they redo
                # the scalar fold below).
                accs = np.zeros(wrev.shape[0])
                for i in range(L):
                    accs += wrev[:, i] * _wfull[i]
                n_avail = np.arange(start + 1, start + len(vals) + 1)
                for jj in np.flatnonzero(n_avail < L):
                    n = int(n_avail[jj])
                    accs[jj] = _fold(all_vals[start + jj - n + 1:
                                              start + jj + 1][::-1])
                q_ts = q_ts + [float(x) for x in ts]
                q_vs = q_vs + [float(x) for x in vals]
                tvals = ([pd.Timestamp(float(t), unit="s") for t in ts]
                         if ts_is_wm else [float(t) for t in ts])
                outs.extend(
                    (key[0], tv, float(v), round(float(a), 6))
                    for tv, v, a in zip(tvals, vals, accs))
            else:
                for j in range(len(pdf)):
                    t, v = float(ts[j]), float(vals[j])
                    pos = bisect.bisect_right(q_ts, t)
                    q_ts.insert(pos, t)
                    q_vs.insert(pos, v)
                    lo = max(0, pos - lookback + 1)
                    acc = _fold(q_vs[lo:pos + 1][::-1])
                    outs.append((key[0],
                                 t if not ts_is_wm
                                 else pd.Timestamp(t, unit="s"),
                                 v, round(acc, 6)))
            # evict: keep rows >= watermark axis plus the lookback-1
            # latest below it (any admissible late row needs at most
            # those as its trailing window)
            try:
                w = state.getCurrentWatermarkMs() / 1000.0
            except Exception:  # noqa: BLE001
                w = 0.0
            if w > 0:
                cut = bisect.bisect_left(q_ts, w + off)
                keep_from = max(0, cut - (lookback - 1))
                if keep_from:
                    q_ts = q_ts[keep_from:]
                    q_vs = q_vs[keep_from:]
        state.update((q_ts, q_vs))
        try:
            wmms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms, wmms + 1) + delay_ms)
        except Exception:  # noqa: BLE001 — watermark not initialized
            pass
        if outs:
            yield pd.DataFrame(outs, columns=[by, time_col, value_col, out])

    return (wm.groupBy(by)
            .applyInPandasWithState(func, outputStructType=out_schema,
                                    stateStructType=("q_ts array<double>, "
                                                     "q_vs array<double>"),
                                    outputMode="append",
                                    timeoutConf="EventTimeTimeout"))


def streaming_write_delta(df: DataFrame, table: str,
                          checkpoint_dir: str,
                          app_id: str | None = None):
    """EXACTLY-ONCE micro-batch ingestion into a local Delta table —
    the stream-to-lakehouse landing pattern. Each micro-batch appends
    through ``foreachBatch`` with the protocol's idempotent-writer
    handshake: the commit carries ``{"txn": {appId, version=batchId}}``
    and a redelivered batch (failure replay, checkpoint restart) is
    skipped when its id is at or below the table's committed
    high-water mark for this ``app_id`` (delta_local.last_txn_version;
    write_checkpoint_local persists the mark past log cleanup).
    Combined with Spark's own checkpoint the sink is exactly-once
    end to end; single-writer local tables only.

    Returns an un-started ``DataStreamWriter`` — callers pick the
    trigger (``availableNow`` for backfills, processingTime for
    continuous ingestion) and call ``.start()``."""
    aid = _sink_app_id(checkpoint_dir, app_id)

    def _sink(bdf, bid: int):
        from ..sources.delta_local import write_delta_local
        if not _should_commit_batch(table, aid, bid):
            return  # already committed — redelivery is a no-op
        write_delta_local(bdf, table, mode="append", txn=(aid, int(bid)))

    return (df.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint_dir))


def _should_commit_batch(table: str, app_id: str, bid: int) -> bool:
    """The sink's idempotence guard, exposed for direct testing:
    False when ``bid`` is at or below the table's committed txn
    high-water mark for ``app_id``."""
    from ..sources.delta_local import last_txn_version
    last = last_txn_version(table, app_id)
    return last is None or int(bid) > int(last)


def _sink_app_id(checkpoint_dir: str, app_id: str | None) -> str:
    """The FULL checkpoint path by default: two pipelines with
    same-named checkpoint dirs must not share a high-water mark (one
    would silently drop its batches). The path NORMALIZES (file://
    scheme stripped before abspath) so equivalent spellings of the
    same checkpoint — '/tmp/chk' vs 'file:///tmp/chk' — derive the
    same id; a mismatch would defeat the exactly-once guard on
    restart."""
    import os
    import re
    if app_id:
        return app_id
    # '^file:/+' like iceberg_local._py_norm: Hadoop renders the same
    # path as file:/p, file://p or file:///p depending on the caller
    plain = re.sub(r"^file:/+", "/", checkpoint_dir).rstrip("/")
    return "quokka-spark-" + os.path.abspath(plain)


def streaming_write_iceberg(df: DataFrame, table: str,
                            checkpoint_dir: str,
                            app_id: str | None = None):
    """EXACTLY-ONCE micro-batch ingestion into a local Iceberg table
    — streaming_write_delta's twin. Iceberg has no txn action, so the
    idempotent-writer handshake rides each snapshot's SUMMARY map
    (one ``qs-txn:<app>`` → batch-id key per writer — the spec's
    extensible metadata, where real engines record streaming
    checkpoints too); a redelivered batch at or below the committed
    high-water mark for this ``app_id`` is a no-op
    (iceberg_local.last_txn_version), and the mark survives BOTH
    later commits (they never rewrite an earlier snapshot) and
    snapshot expiry (expire_snapshots_local folds the latest mark per
    app into the newest kept snapshot). Steady-state cost per batch
    is ONE new manifest + list + metadata JSON (commit_snapshot
    extends the manifest list), not an O(history) rewrite. The first
    batch creates the
    table; empty batches still advance the mark. Returns an
    un-started DataStreamWriter — pick the trigger and .start()."""
    aid = _sink_app_id(checkpoint_dir, app_id)

    def _sink(bdf, bid: int):
        import glob
        import os
        import uuid

        from ..sources.iceberg_local import (commit_snapshot,
                                             last_txn_version)
        last = last_txn_version(table, aid)
        if last is not None and int(bid) <= last:
            return  # already committed — redelivery is a no-op
        tdir = table.removeprefix("file://")
        d = os.path.join(tdir, "data",
                         f"stream-{int(bid)}-{uuid.uuid4().hex[:8]}")
        bdf.write.mode("errorifexists").parquet(d)
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        commit_snapshot(table, add_files=files, evolve_from_df=bdf,
                        summary_extra={f"qs-txn:{aid}": str(int(bid))})

    return (df.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint_dir))


def streaming_write_hudi(df: DataFrame, table: str,
                         checkpoint_dir: str,
                         app_id: str | None = None):
    """EXACTLY-ONCE micro-batch ingestion into a local Hudi CoW table
    — the third sink of the trio. The handshake rides the commit's
    ``extraMetadata`` map (``qs.txn.appId``/``qs.txn.version`` —
    exactly where real Hudi writers store streaming checkpoints);
    redelivered batches at or below the high-water mark for this
    ``app_id`` are no-ops (hudi_local.last_txn_version). Returns an
    un-started DataStreamWriter."""
    aid = _sink_app_id(checkpoint_dir, app_id)

    def _sink(bdf, bid: int):
        from ..sources.hudi_local import last_txn_version, write_hudi_local
        last = last_txn_version(table, aid)
        if last is not None and int(bid) <= last:
            return
        write_hudi_local(bdf, table, mode="append",
                         extra_meta={"qs.txn.appId": aid,
                                     "qs.txn.version": str(int(bid))})

    return (df.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint_dir))
