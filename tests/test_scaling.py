"""plans/scaling helpers + the BASELINE.md wide-quantile target."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from conftest import SF_SMOKE


def test_salted_aggregate_matches_plain(spark, qc):
    from quokka_spark.plans.scaling import salted_aggregate
    ev = qc.read_parquet(f"{SF_SMOKE}/events.parquet").df
    salted = salted_aggregate(
        ev, ["event_type"],
        {"total": ("sum", "value"), "n": ("count", "value"),
         "mx": ("max", "value")},
        n_salts=8).toPandas().sort_values("event_type").reset_index(drop=True)
    plain = ev.groupBy("event_type").agg(
        F.sum("value").alias("total"), F.count("value").alias("n"),
        F.max("value").alias("mx")).toPandas() \
        .sort_values("event_type").reset_index(drop=True)
    assert np.allclose(salted["total"], plain["total"])
    assert (salted["n"] == plain["n"]).all()
    assert np.allclose(salted["mx"], plain["mx"])


def test_skew_report(spark, qc):
    from quokka_spark.plans.scaling import skew_report
    ev = qc.read_parquet(f"{SF_SMOKE}/events.parquet").df
    topk, ratio = skew_report(ev, "event_type")
    assert len(topk) == 5
    assert ratio >= 1.0


def test_co_partition_one_shuffle(spark, qc):
    """With broadcast off (the 100 TB fact-fact case), a join on
    co-partitioned inputs must reuse the two explicit hash exchanges —
    no third join-induced shuffle."""
    import contextlib, io
    from quokka_spark.plans.scaling import co_partition
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = qc.read_parquet(f"{SF_SMOKE}/orders.parquet").df
        li = qc.read_parquet(f"{SF_SMOKE}/lineitem.parquet").df
        l, r = co_partition(li, orders, "l_orderkey", "o_orderkey", 8)
        joined = l.join(r, l["l_orderkey"] == r["o_orderkey"])
        assert joined.count() == li.count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain(mode="simple")
        s = buf.getvalue()
        assert s.count("Exchange hashpartitioning") == 2, s
        assert "SortMergeJoin" in s or "ShuffledHashJoin" in s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_wide_approximate_quantile_completes(spark, qc):
    """BASELINE.md target 3: wide-column approximate quantiles must
    complete (the reference cites Spark approxQuantile 'crashing' at
    10k columns — blog/approxquant.md:19-31; our column-group batching
    is the mitigation). 200 columns here keeps test wall-clock sane
    while exercising the batching path (batch size 256 > 200 > one
    call)."""
    n_cols = 200
    rng = np.random.default_rng(0)
    pdf = pd.DataFrame(rng.standard_normal((2000, n_cols)),
                       columns=[f"c{i}" for i in range(n_cols)])
    ds = qc.from_pandas(pdf)
    res = ds.approximate_quantile([f"c{i}" for i in range(n_cols)],
                                  [0.25, 0.5, 0.75], relative_error=0.01)
    assert len(res) == n_cols
    med = np.array([res[f"c{i}"][1] for i in range(n_cols)])
    assert np.abs(med).max() < 0.2  # standard normal medians ≈ 0


def test_wide_quantile_10k_columns_completes(spark):
    """BASELINE.md row 4 at the PUBLISHED width (blog/approxquant.md:
    19-31 claims Spark 'always crashes' at 10k columns — the WIDTH is
    the published failure axis; the row count was already scaled from
    the blog's 1M and round 14 trims it 100k -> 10k to fit the
    suite's time budget, ~310 rows in each of 32 partitions; the
    sketch's rank-error contract is pinned separately
    by the accuracy tests in test_functions): 10k cols through the
    NumPy order-stat sketch, bounded
    per-partition memory (buffer caps at ~400 rows x 10k cols ~ 32 MB;
    summaries of S=200 order stats per column cross the shuffle). Data
    generated executor-side in Arrow batches — no driver-side wide
    frame; the generator draws TRANSPOSED (n_cols, m) so each pa.array
    wraps a contiguous row zero-copy instead of strided-copying 10k
    column slices per chunk (round-14 suite-runtime fix, and what
    keeps 32 concurrent tasks inside the Arrow allocator)."""
    from quokka_spark.operators.linalg import approximate_quantile_wide
    n_rows, n_cols = 10_000, 10_000
    cols = [f"c{i}" for i in range(n_cols)]

    def gen(it):
        import pyarrow as pa
        for batch in it:
            ids = batch.column("id").to_numpy()
            rng = np.random.default_rng(int(ids[0]) + 1)
            for s in range(0, len(ids), 250):
                m = min(250, len(ids) - s)
                x = rng.standard_normal((n_cols, m))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(x[j]) for j in range(n_cols)], names=cols)

    wide = (spark.range(0, n_rows, 1, 32)
            .mapInArrow(gen, schema=", ".join(f"{c} double" for c in cols)))
    res = approximate_quantile_wide(wide, cols, [0.5], accuracy=200) \
        .toPandas()
    assert len(res) == n_cols
    med = res["q0_5"].to_numpy()
    # completes-at-width sanity bound: standard-normal medians
    # concentrate near 0 (max-over-10k-columns sampling noise at 10k
    # rows ~ 4.3 sigma of 1.253/sqrt(10k) ~ 0.054 expected max, plus
    # ~0.006 rank error) — a sketch that mis-merges or mis-ranks
    # lands far outside 0.12; exact rank error is pinned elsewhere
    assert np.abs(med).max() < 0.12, np.abs(med).max()


def test_choose_bucket_low_vs_high_cardinality(spark, qc):
    """Auto plan selection (round-2/3 advice #1): a 4-key stream must
    opt into the bucketed plan with keys x buckets well above the core
    count; a high-cardinality stream must keep the plain per-key plan
    (keys already saturate the cluster)."""
    from quokka_spark.operators.windows import choose_bucket, epoch_us
    rng = np.random.default_rng(3)
    n = 20_000
    pdf = pd.DataFrame({
        "k": rng.integers(0, 4, n),
        "ts": pd.to_datetime(
            np.sort(rng.integers(0, 7 * 86400 * 1_000_000, n)), unit="us")
        .astype("datetime64[us]"),
        "v": rng.random(n)})
    few = spark.createDataFrame(pdf)
    cores = spark.sparkContext.defaultParallelism
    bucket = choose_bucket(few, "ts", ["k"], size_before="30m")
    assert bucket is not None
    assert bucket >= 1800  # never below size_before
    span = 7 * 86400
    n_buckets = span / bucket
    assert 4 * n_buckets >= cores, (bucket, cores)

    many = spark.createDataFrame(
        pdf.assign(k=np.arange(n)))  # every row its own key
    assert choose_bucket(many, "ts", ["k"], size_before="30m") is None


def test_sliding_auto_bucket_equals_forced_plain(spark, qc):
    """SlidingWindow default bucket="auto" must produce exactly the
    forced-plain result on a low-key-count stream (the case where auto
    switches to the halo plan)."""
    import __spark_entry__ as em
    from quokka_spark.windowtypes import SlidingWindow
    ev = em._ts(qc, SF_SMOKE, "events", sorted_by="ts")
    aggs = {"v": "round(avg(value), 4)"}
    auto = (ev.windowed_transform(SlidingWindow("30m", aggs), by="user_id")
            .df.toPandas().sort_values(["user_id", "ts"])
            .reset_index(drop=True))
    plain = (ev.windowed_transform(SlidingWindow("30m", aggs, bucket=None),
                                   by="user_id")
             .df.toPandas().sort_values(["user_id", "ts"])
             .reset_index(drop=True))
    assert len(auto) == len(plain)
    assert np.allclose(auto["v"], plain["v"])


def test_asof_auto_bucket_equals_forced_plain(spark, qc):
    """OrderedStream.join_asof default bucket="auto" must match the
    forced single-window plan."""
    import __spark_entry__ as em
    ev = em._ts(qc, SF_SMOKE, "events", sorted_by="ts")
    trades = ev.filter_sql("event_type = 'purchase'") \
        .select(["event_id", "ts", "user_id", "value"])
    quotes = ev.filter_sql("event_type = 'view'") \
        .select(["ts", "user_id", "value"])
    auto = trades.join_asof(quotes, on="ts", by="user_id") \
        .df.toPandas().sort_values("event_id").reset_index(drop=True)
    plain = trades.join_asof(quotes, on="ts", by="user_id", bucket=None) \
        .df.toPandas().sort_values("event_id").reset_index(drop=True)
    assert len(auto) == len(plain)
    assert np.allclose(auto["value_2"].fillna(-1), plain["value_2"].fillna(-1))


def test_zorder_clusters_both_dimensions(spark):
    """cluster_by_zorder must give every partition a tight bounding
    box on BOTH columns (the min/max pruning property), where a
    single-column sort leaves the other dimension at full span."""
    import pandas as pd
    from pyspark.sql import functions as F
    from quokka_spark.plans.scaling import cluster_by_zorder
    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        (F.floor(F.col("id") / 128)).alias("y"))

    def mean_spans(clustered):
        with_pid = clustered.withColumn("p", F.spark_partition_id())
        spans = (with_pid.groupBy("p")
                 .agg((F.max("x") - F.min("x")).alias("sx"),
                      (F.max("y") - F.min("y")).alias("sy"))
                 .toPandas())
        return spans["sx"].mean(), spans["sy"].mean()

    zx, zy = mean_spans(cluster_by_zorder(df, ["x", "y"], 16, bits=7))
    # single-column sort on x: y stays at full span inside partitions
    sx, sy = mean_spans(df.repartitionByRange(16, "x")
                        .sortWithinPartitions("x"))
    assert zx < 127 * 0.5 and zy < 127 * 0.5, (zx, zy)
    assert sy > 127 * 0.9                      # the baseline's failure
    assert zy < sy * 0.6                       # z-order beats it on y
    # the clustering is a pure layout op: no rows lost or changed
    assert cluster_by_zorder(df, ["x", "y"], 16, bits=7).count() == n


def test_write_parquet_zorder_files_have_tight_stats(spark, qc, tmp_path):
    """write_parquet(zorder=...) must produce files whose parquet
    min/max stats are tight on BOTH z-ordered columns — the read-side
    pruning property the layout pass exists for."""
    import glob
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from quokka_spark.datastream import DataStream
    n = 1 << 13
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.floor(F.col("id") / 64)).alias("y"))
    out = str(tmp_path / "zo")
    DataStream(qc, df).write_parquet(out, zorder=["x", "y"], zorder_files=8)
    spans = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.read_metadata(f)
        xs, ys = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                st = col.statistics
                (xs if name == "x" else ys).append((st.min, st.max))
        if xs and ys:
            spans.append((max(m for _, m in xs) - min(m for m, _ in xs),
                          max(m for _, m in ys) - min(m for m, _ in ys)))
    assert spans
    mean_x = sum(s[0] for s in spans) / len(spans)
    mean_y = sum(s[1] for s in spans) / len(spans)
    assert mean_x < 63 * 0.6 and mean_y < 127 * 0.6, (mean_x, mean_y)
    # rows survive the layout pass intact
    assert spark.read.parquet(out).count() == n


def test_zorder_fractional_double_columns(spark):
    """zorder_key over double columns whose range is fractional
    (span < 1 or non-integral): must not divide by a truncated-to-int
    span (the r4 ADVICE bug — int(0.65)-int(0.2) == 0 crashed with
    DIVIDE_BY_ZERO under ANSI; wider fractional spans silently wrapped
    the Morton key). Every normalized coordinate must stay inside
    [0, 2^bits - 1] and the key must be monotone-consistent."""
    from pyspark.sql import functions as F
    from quokka_spark.plans.scaling import zorder_key
    bits = 8
    top = (1 << bits) - 1
    rows = [(i, 0.2 + 0.45 * i / 99.0, -3.7 + 11.1 * i / 99.0)
            for i in range(100)]
    df = spark.createDataFrame(rows, "rid long, x double, y double")
    out = {r["rid"]: r["zkey"]
           for r in zorder_key(df, ["x", "y"], bits=bits).collect()}
    assert len(out) == 100
    # key must fit in 2*bits bits — no silent wrap
    assert all(0 <= z < (1 << (2 * bits)) for z in out.values())
    # exact parity with the clamped double-arithmetic reference
    mnx, mxx = 0.2, 0.2 + 0.45 * 99 / 99.0
    mny, mxy = -3.7, -3.7 + 11.1 * 99 / 99.0
    import math

    def norm(v, mn, mx):
        raw = int(math.floor((v - mn) * float(top) / (float(mx) - float(mn))))
        return min(max(raw, 0), top)

    for rid, x, y in rows:
        nx, ny = norm(x, mnx, mxx), norm(y, mny, mxy)
        z = 0
        for b in range(bits):
            z |= ((nx >> b) & 1) << (2 * b)
            z |= ((ny >> b) & 1) << (2 * b + 1)
        assert out[rid] == z, (rid, x, y, out[rid], z)


def test_write_bucketed_join_no_shuffle(spark, qc, tmp_path):
    """Two tables bucketed on the join key with the SAME bucket count
    must join with ZERO exchanges (broadcast off — the daily fact-fact
    join at 100 TB): both sides read pre-partitioned, which is the
    entire point of paying the bucketed write once."""
    import contextlib, io
    from quokka_spark.plans.scaling import write_bucketed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = qc.read_parquet(f"{SF_SMOKE}/orders.parquet").df \
                   .select("o_orderkey", "o_custkey")
        li = qc.read_parquet(f"{SF_SMOKE}/lineitem.parquet").df \
               .select("l_orderkey", "l_quantity")
        write_bucketed(li, "bkt_li", "l_orderkey", n_buckets=4,
                       sort_by="l_orderkey", path=str(tmp_path / "li"))
        write_bucketed(orders, "bkt_ord", "o_orderkey", n_buckets=4,
                       sort_by="o_orderkey", path=str(tmp_path / "ord"))
        l = spark.table("bkt_li")
        r = spark.table("bkt_ord")
        joined = l.join(r, l["l_orderkey"] == r["o_orderkey"])
        assert joined.count() == li.count()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain(mode="simple")
        s = buf.getvalue()
        assert "Exchange" not in s, s
        assert "SortMergeJoin" in s or "ShuffledHashJoin" in s, s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_li")
        spark.sql("DROP TABLE IF EXISTS bkt_ord")
