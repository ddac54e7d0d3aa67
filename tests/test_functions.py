"""Unit tests: SQL-dialect shim, vector_range_join, approx sketches."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from quokka_spark.sqldialect import duckdb_to_spark_sql, translate_time_format


def test_time_format_translation():
    assert translate_time_format("%Y-%m-%d") == "yyyy-MM-dd"
    assert translate_time_format("%H:%M:%S") == "HH:mm:ss"


def test_strftime_rewrite():
    out = duckdb_to_spark_sql("strftime(ts, '%Y-%m') as ym")
    assert out == "date_format(ts, 'yyyy-MM') as ym"


def test_strptime_rewrite():
    out = duckdb_to_spark_sql("strptime(s, '%Y-%m-%d')")
    assert out == "to_timestamp(s, 'yyyy-MM-dd')"


def test_json_extract_rewrite():
    assert duckdb_to_spark_sql("json_extract_string(props, 'k')") == \
        "get_json_object(props, '$.k')"
    assert duckdb_to_spark_sql("json_extract(props, '$.a.b')") == \
        "get_json_object(props, '$.a.b')"


def test_list_function_rewrites():
    assert duckdb_to_spark_sql("list_contains(xs, 1)") == "array_contains(xs, 1)"
    assert duckdb_to_spark_sql("len(xs)") == "length(xs)"


def test_dialect_passthrough_executes(spark, qc):
    """Transpiled DuckDB-dialect expressions actually run on Spark."""
    ev = qc.read_parquet(f"{SF_SMOKE}/events.parquet")
    out = ev.with_columns_sql(
        "strftime(ts, '%Y-%m') as ym, "
        "json_extract_string(props, 'k') as k_str")
    pdf = out.limit(5).collect()
    assert pdf["ym"].str.match(r"2024-\d\d").all()
    assert pdf["k_str"].str.isnumeric().all()


def test_vector_range_join(spark, qc):
    from quokka_spark.functions.similarity import vector_range_join
    emb = qc.read_parquet(f"{SF_SMOKE}/embeddings.parquet").df
    left = emb.filter(F.col("vec_id") < 100) \
        .withColumnRenamed("vec_id", "id1")
    right = emb.filter(F.col("vec_id") >= 100) \
        .withColumnRenamed("vec_id", "id2")
    got = vector_range_join(left, right, threshold=0.35,
                            n_planes=4, n_tables=32).toPandas()

    lp = left.select("id1", "embedding").toPandas()
    rp = right.select("id2", "embedding").toPandas()
    lm = np.stack(lp["embedding"]).astype(np.float64)
    rm = np.stack(rp["embedding"]).astype(np.float64)
    lm /= np.linalg.norm(lm, axis=1, keepdims=True)
    rm /= np.linalg.norm(rm, axis=1, keepdims=True)
    sims = lm @ rm.T
    li_, ri_ = np.nonzero(sims >= 0.35)
    expected = set(zip(lp["id1"].iloc[li_], rp["id2"].iloc[ri_]))
    got_pairs = set(zip(got["id1"], got["id2"]))
    assert expected, "fixture produced no range-join pairs"
    # exact precision (cosine filter is exact), approximate recall
    assert got_pairs <= expected
    assert len(got_pairs) / len(expected) >= 0.7


def test_approx_count_distinct_error(spark, qc):
    li = qc.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    approx = li.approx_count_distinct("l_partkey", rsd=0.02).collect() \
        .iloc[0, 0]
    exact = li.count_distinct("l_partkey").collect().iloc[0, 0]
    assert abs(approx - exact) / exact <= 0.05


def test_rest_source_shape(spark, qc):
    """REST source builds its plan lazily; without the requests lib the
    fetch raises only at execution."""
    ds = qc.read_rest_get("http://localhost:1/nope", [{"page": 1}])
    assert set(ds.schema) == {"params", "response", "status"}


def test_wide_quantile_accuracy(spark):
    """The bench_wide_quantile verdict gate is backed here: batched
    order-stat medians must land within the sketch's rank-error
    bound of the exact percentile."""
    import numpy as np
    from pyspark.sql import functions as F
    from quokka_spark.operators.linalg import approximate_quantile_wide
    cols = [(((F.col("id") * (i + 7)) % 10007) / 7.0).alias(f"c{i}")
            for i in range(8)]
    wide = spark.range(50_000).select(*cols)
    approx = approximate_quantile_wide(
        wide, [f"c{i}" for i in range(8)], [0.5], accuracy=1000).toPandas()
    exact = wide.agg(*[F.percentile(f"c{i}", F.lit(0.5)).alias(f"c{i}")
                       for i in range(8)]).toPandas()
    for _, row in approx.iterrows():
        e = exact[row["column"]].iloc[0]
        # values span [0, 10007/7]; 0.1% rank error on a ~uniform
        # distribution ≈ 0.1% of the range
        assert abs(row["q0_5"] - e) <= 10007 / 7.0 * 0.005, row["column"]


def test_kmeans_matches_numpy_reference(spark):
    """Distributed Lloyd's must equal a single-machine numpy run
    exactly (same deterministic init, same iteration count)."""
    import numpy as np
    from quokka_spark.operators.linalg import kmeans
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents, assign = kmeans(df, "embedding", "vec_id", k=4, iters=3)
    pdf = df.select("vec_id", "embedding").orderBy("vec_id").toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ref = x[:4].copy()
    for _ in range(3):
        d = ((x[:, None, :] - ref[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(4):
            if (a == c).any():
                ref[c] = x[a == c].mean(axis=0)
    assert np.allclose(cents, ref, atol=1e-9)
    got = assign.orderBy("vec_id").toPandas()["cluster"].to_numpy()
    d = ((x[:, None, :] - ref[None, :, :]) ** 2).sum(axis=2)
    assert (got == d.argmin(axis=1)).all()


def test_repartition_by_payload_size_balances_bytes(spark):
    """Skewed payloads (a few huge rows + many small) must spread so no
    partition exceeds ~target by more than the max single row."""
    import pandas as pd
    from pyspark.sql import functions as F
    from quokka_spark.functions.multimodal import repartition_by_payload_size
    big = [b"X" * 1_000_000] * 8          # 8 MB in 8 rows
    small = [b"y" * 1_000] * 2000         # 2 MB in 2000 rows
    pdf = pd.DataFrame({"doc_id": range(2008), "object": big + small})
    df = spark.createDataFrame(pdf).repartition(8)
    out = repartition_by_payload_size(df, "object", target_bytes=2_000_000)
    per_part = (out.withColumn("pid", F.spark_partition_id())
                .groupBy("pid").agg(F.sum(F.length("object")).alias("bytes"))
                .toPandas())
    total = per_part["bytes"].sum()
    assert total == 8 * 1_000_000 + 2000 * 1_000  # nothing lost
    n_bins = per_part["pid"].nunique()
    assert n_bins == 5  # ceil(10MB / 2MB)
    # LPT: every bin gets at most ceil(8/5)=2 huge rows -> <= ~2.5MB
    assert per_part["bytes"].max() <= 3_000_000, per_part
    assert per_part["bytes"].min() >= 1_000_000, per_part


def test_with_columns_schema_no_plan_time_job(spark, qc):
    """Supplying schema= for lambda columns must not trigger any Spark
    job during plan construction (round-1 advice: the sample-inference
    path ran limit(100).toPandas eagerly)."""
    sc = spark.sparkContext
    d = qc.read_parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .select(["l_orderkey", "l_quantity"])
    sc.setJobGroup("wc_schema_probe", "plan-build probe")
    try:
        d2 = d.with_columns(
            {"qty2": lambda b: b["l_quantity"] * 2.0},
            schema={"qty2": "double"})
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("wc_schema_probe")
    assert len(jobs) == 0, f"plan-build ran Spark jobs: {jobs}"
    pdf = d2.limit(20).collect()
    assert (pdf["qty2"] == pdf["l_quantity"] * 2.0).all()
    assert str(d2.df.schema["qty2"].dataType) == "DoubleType()"


def test_repartition_payload_leaves_no_cache_entry(spark):
    """Round-3 advice: repartition_by_payload_size persisted its ranked
    intermediate and never unpersisted, pinning payload copies in
    executor storage across calls. The pid snapshot now uses
    localCheckpoint (ContextCleaner-reclaimed); the cache manager must
    stay empty."""
    import pandas as pd
    from quokka_spark.functions.multimodal import repartition_by_payload_size
    pdf = pd.DataFrame({"doc_id": range(64), "object": [b"z" * 10_000] * 64})
    df = spark.createDataFrame(pdf).repartition(4)
    out = repartition_by_payload_size(df, "object", target_bytes=100_000)
    assert out.count() == 64
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), \
        "repartition_by_payload_size left a persisted DataFrame behind"


def test_embedding_lsh_null_vectors_yield_no_pairs(spark):
    """Round-3 advice: NULL vector elements folded to sign-bit 0 and
    could pair, while the oracle SQL yields NULL buckets (no pairs).
    Rows with NULL / short vectors must now drop out of the candidate
    join on both sides."""
    from quokka_spark.functions.dedup import embedding_near_pairs_lsh
    rows = [
        (1, [1.0] * 8),
        (2, [1.0] * 8),               # exact duplicate of 1 -> the only pair
        (3, [1.0] * 4 + [None] * 4),  # NULL elements
        (4, None),                    # NULL vector
        (5, [1.0] * 4),               # shorter than dim
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = embedding_near_pairs_lsh(df, threshold=0.9, bits_per_table=4,
                                   n_tables=2, dim=8).toPandas()
    assert set(zip(got["id1"], got["id2"])) == {(1, 2)}


def test_read_lance_fragment_scan_and_pushdown(spark, qc, tmp_path):
    """lancelike Python DataSource: one input partition per parquet
    fragment, comparison filters pushed into the fragment read, and
    vector_nn_join runs over the scan (the read_lance capability path,
    reference df.py:564-652)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(5)
    frags = []
    for i in range(3):
        n = 40
        frags.append(pd.DataFrame({
            "vec_id": np.arange(i * n, (i + 1) * n),
            "grp": rng.integers(0, 5, n),
            "vec": list(rng.standard_normal((n, 8)).round(3)),
        }))
        pq.write_table(pa.Table.from_pandas(frags[-1]),
                       str(tmp_path / f"frag-{i}.parquet"))
    ds = qc.read_lance(str(tmp_path), vec_column="vec")
    assert ds.df.rdd.getNumPartitions() == 3  # fragment parallelism
    all_pdf = pd.concat(frags, ignore_index=True)
    assert ds.df.count() == len(all_pdf)

    # default reader: filters evaluated Spark-side; the same relation
    # must keep producing ALL rows for later queries (pins the
    # relation-state leak the opt-in pushdown reader documents)
    got = ds.df.filter("grp = 2 and vec_id >= 40").toPandas()
    want = all_pdf[(all_pdf.grp == 2) & (all_pdf.vec_id >= 40)]
    assert set(got["vec_id"]) == set(want["vec_id"])
    assert ds.df.count() == len(all_pdf)

    # opt-in pushdown reader, load-scan-once: same filtered rows
    pushed = qc.read_lance(str(tmp_path), vec_column="vec", pushdown=True) \
        .df.filter("grp = 2 and vec_id >= 40").toPandas()
    assert set(pushed["vec_id"]) == set(want["vec_id"])

    # ANN over the scan: self is the most similar of the top-3
    probe = pd.DataFrame({"probe_id": [0], "vec": [all_pdf["vec"].iloc[7]]})
    nn = ds.vector_nn_join(probe, vec_column="vec", k=3).collect()
    assert len(nn) == 3
    best = nn.sort_values("cosine_sim", ascending=False).iloc[0]
    assert best["vec_id"] == 7


def test_epoch_ms_rewrite_ntz_safe(spark, qc):
    """epoch_ms transpiles with a cast so it runs on NTZ parquet
    timestamps (the round-3 environment reads naive parquet as NTZ)."""
    assert duckdb_to_spark_sql("epoch_ms(ts)") == \
        "unix_millis(cast(ts as timestamp))"
    ev = qc.read_parquet(f"{SF_SMOKE}/events.parquet")
    out = ev.with_columns({"ms": "epoch_ms(ts)"}).limit(3).collect()
    assert (out["ms"] > 1_500_000_000_000).all()  # epoch millis magnitude


def test_bench_harness_survives_broken_query(spark):
    """Round-3 lesson as a regression test: one raising query records an
    error and the rest of the suite still produces timings (BENCH_r03
    was nulled by a single analysis error in warmup)."""
    import bench

    def boom(spark_, sf_dir):
        raise RuntimeError("injected failure")

    registry = {
        "good": lambda s, d: s.range(100).selectExpr("id", "id * 2 as x"),
        "boom": boom,
        "also_good": lambda s, d: s.range(10).selectExpr("sum(id) as s"),
    }
    timings, errors = bench.run_suite(
        spark, registry, ["good", "boom", "also_good"], SF_SMOKE)
    assert set(timings) == {"good", "also_good"}
    assert list(errors) == ["boom"]
    assert "injected failure" in errors["boom"]


def test_bench_steal_instruments(monkeypatch):
    """Round-12 steal machinery (round-11 verdict #2): the window
    delta math, the gate's pass/retry/exhaust contract, and the
    during-run monitor all read from one tick source — driven here
    with injected tick sequences so the test is host-independent."""
    import bench

    assert bench._steal_pct((0, 0), (5, 100)) == 5.0
    assert bench._steal_pct((10, 100), (10, 100)) == 0.0   # no ticks

    # scripted /proc/stat: (steal, total) advancing per read
    def scripted(seq):
        it = iter(seq)
        return lambda: next(it)

    # calm host: one 2-window attempt, passes
    monkeypatch.setattr(bench, "_read_steal_ticks",
                        scripted([(0, 0), (1, 1000), (2, 2000)]))
    g = bench.steal_gate(max_attempts=3, duration=0.02, window=0.01)
    assert g["passed"] is True and len(g["attempts"]) == 1
    assert g["attempts"][0]["max_window_pct"] <= 0.1

    # stolen host: every attempt breaches, gate exhausts but the
    # bench still runs (passed=False is recorded, never raised)
    hot = [(i * 100, i * 1000) for i in range(40)]     # 10% steal
    monkeypatch.setattr(bench, "_read_steal_ticks", scripted(hot))
    g = bench.steal_gate(max_attempts=2, duration=0.02, window=0.01)
    assert g["passed"] is False and len(g["attempts"]) == 2
    assert all(a["mean_pct"] > 1.0 for a in g["attempts"])

    # unreadable /proc/stat (non-Linux): gate reports unavailable
    def boom():
        raise OSError("no /proc/stat")
    monkeypatch.setattr(bench, "_read_steal_ticks", boom)
    g = bench.steal_gate(max_attempts=2, duration=0.01, window=0.01)
    assert g["passed"] is None

    # the during-run monitor aggregates through the same math; the
    # tick source keeps flowing for the whole run (and one injected
    # transient OSError mid-run is skipped, not trace-truncating)
    ticks = [(0, 0), (50, 1000), OSError("blip"), (50, 2000),
             (50, 3000)]

    def flowing():
        t = ticks.pop(0) if ticks else (50, 1_000_000)
        if isinstance(t, Exception):
            raise t
        return t
    monkeypatch.setattr(bench, "_read_steal_ticks", flowing)
    import time as _t
    m = bench.StealMonitor(window=0.01).start()
    _t.sleep(0.08)
    out = m.stop()
    assert out["max_window_pct"] == 5.0        # the first hot window
    assert out["trace_pct"][0] == 5.0 and 0.0 in out["trace_pct"]


def test_bench_final_query_lines_contract():
    """Round-14 truncation-proofing (verdict-13 item #2): the per-query
    timings re-emit as standalone <=2 KB JSON lines that reassemble to
    the full dict, with tpch_* on the LAST line (a tail capture keeps
    the end of stdout, and rounds 12/13 both lost the TPC-H head)."""
    import json

    import bench

    timings = {f"q{i:03d}_{'x' * 40}": i * 0.111 for i in range(120)}
    timings.update({f"tpch_q{i}": 0.5 + i for i in range(1, 23)})
    lines = bench._final_query_lines(timings)
    assert len(lines) > 1                      # forced multi-chunk
    merged: dict = {}
    for ln in lines:
        d = json.loads(ln)                     # every line standalone
        assert len(ln) <= 2000
        assert d["n"] == len(lines)
        merged.update(d["queries"])
    assert merged == timings
    last = json.loads(lines[-1])["queries"]
    assert any(k.startswith("tpch_") for k in last)
    # empty timings still yields one parseable line
    d = json.loads(bench._final_query_lines({})[0])
    assert d["queries"] == {} and d["n"] == 1
    # multi-digit chunk indexes and counts (>=10 and >=100 chunks)
    # still fit: sizing must assume the widest index, not two digits
    for n_items, max_bytes in ((60, 130), (600, 120)):
        many = {f"q{i:04d}": 1.0 + i / 1000 for i in range(n_items)}
        lines = bench._final_query_lines(many, max_bytes=max_bytes)
        assert len(lines) >= 10
        assert all(len(ln) <= max_bytes for ln in lines)
        merged = {}
        for ln in lines:
            merged.update(json.loads(ln)["queries"])
        assert merged == many


def test_listing_threshold_scheme_aware(spark, monkeypatch):
    """Round-14 (verdict-13 #7): driver-side listing is raised ONLY
    for local input roots; remote schemes keep Spark's distributed-
    listing default (32) without needing an override, and the env
    knob stays as the explicit escape hatch."""
    from quokka_spark import session as qs_session

    monkeypatch.delenv("SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD",
                       raising=False)
    f = qs_session._listing_threshold
    assert f("/root/testdata/sf0.1") == 8192          # bare local path
    assert f("file:///warehouse/t") == 8192
    assert f(None) == 8192                            # unset = local
    assert f("C:/data/t") == 8192                     # drive letter
    assert f("s3a://bucket/warehouse") == 32          # object store
    assert f("hdfs://nn:9000/w") == 32
    assert f("abfss://c@a.dfs.example.net/w") == 32
    monkeypatch.setenv("SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD", "7")
    assert f("s3a://bucket/w") == 7                   # escape hatch
    # the tests' own session (local testdata root) carries the raised
    # threshold — the measured cp500 listing win stays wired
    assert spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold") == "8192"


def test_line_dedup_global_first_occurrence(spark):
    """Newline corpus: a boilerplate line survives only at its globally
    first (doc_id, pos); blank lines always survive; a doc whose every
    line is boilerplate comes back empty but present."""
    from quokka_spark.functions.dedup import line_dedup
    docs = spark.createDataFrame(
        [(1, "Cookie notice\nreal content A\n\nCookie Notice"),
         (2, "cookie notice\nreal content B"),
         (3, "  COOKIE NOTICE  ")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # doc 1: keeps line 0 (global first of the normalized dup), the
    # unique line, the blank line; drops its own pos-3 repeat
    assert out[1]["clean_text"] == "Cookie notice\nreal content A\n"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (3, 1)
    assert out[2]["clean_text"] == "real content B"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 1)
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_kept"], out[3]["n_dropped"]) == (0, 1)


def test_gopher_quality_pass_logic(spark):
    from quokka_spark.functions.text import gopher_quality_columns
    passing = " ".join(
        ["the quick brown fox jumps over that lazy dog with grace and"] * 5)
    docs = spark.createDataFrame(
        [(1, passing),            # 55 words, stopword-rich, all alpha
         (2, "too short to pass"),            # < 50 words
         (3, ""),                             # empty: ratios NULL, fails
         (4, " ".join(["####"] * 60))],       # symbols, no stopwords
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", *gopher_quality_columns("text")).collect()}
    assert rows[1]["gopher_pass"] is True
    assert rows[1]["n_words"] == 60 and rows[1]["stop_hits"] >= 4
    assert rows[2]["gopher_pass"] is False
    assert rows[3]["n_words"] == 0 and rows[3]["gopher_pass"] is False
    assert rows[3]["mean_word_len"] is None
    assert rows[4]["gopher_pass"] is False
    assert rows[4]["symbol_word_ratio"] > 1.0
    assert rows[4]["alpha_word_ratio"] == 0.0


def test_duplicated_spans_merges_overlaps(spark):
    """Two docs sharing a 6-word run: with n=4 the run yields three
    overlapping duplicated 4-grams that must merge into ONE maximal
    interval per doc; unique text yields no spans."""
    from quokka_spark.functions.dedup import duplicated_spans
    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, shared + " unique tail words here"),
         (2, "prefix words " + shared),
         (3, "totally different content with no repeats at all")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicated_spans(docs, n=4).collect()}
    assert set(out) == {1, 2}
    assert (out[1]["span_start"], out[1]["span_end"]) == (0, 6)
    assert (out[2]["span_start"], out[2]["span_end"]) == (2, 8)
    assert out[1]["n_dup_words"] == 6


def test_connected_components_two_clusters(spark):
    """A 4-chain and a 2-pair must resolve to two components labeled
    by their min node, converging via min-label propagation."""
    from quokka_spark.operators.graph import (connected_components,
                                              dedup_components)
    edges = spark.createDataFrame(
        [(3, 7), (7, 9), (9, 12), (20, 21)], "src long, dst long")
    comp = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    assert comp == {3: 3, 7: 3, 9: 3, 12: 3, 20: 20, 21: 20}
    canon = {r["doc_id"]: (r["canonical_id"], r["is_canonical"])
             for r in dedup_components(edges, id1="src",
                                       id2="dst").collect()}
    assert canon[12] == (3, False) and canon[3] == (3, True)
    assert canon[20] == (20, True) and canon[21] == (20, False)


def test_connected_components_string_ids(spark):
    """String node ids (e.g. phash_near_pairs' filename default) must
    work on BOTH the driver union-find fast path and the distributed
    min-label loop — the r4 ADVICE regression was a hardcoded
    'node long' schema on the fast path. Components label by the
    lexicographic-min id, matching F.min on strings."""
    from quokka_spark.operators.graph import (connected_components,
                                              dedup_components)
    edges = spark.createDataFrame(
        [("img_c.png", "img_a.png"), ("img_a.png", "img_b.png"),
         ("zz.png", "yy.png")], "src string, dst string")
    want = {"img_a.png": "img_a.png", "img_b.png": "img_a.png",
            "img_c.png": "img_a.png", "yy.png": "yy.png",
            "zz.png": "yy.png"}
    fast = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    assert fast == want
    dist = {r["node"]: r["component"]
            for r in connected_components(
                edges, driver_edge_limit=0).collect()}
    assert dist == want
    # the full phash-style pipeline shape: pairs -> canonical survivors
    canon = {r["doc_id"]: r["canonical_id"]
             for r in dedup_components(edges, id1="src",
                                       id2="dst").collect()}
    assert canon["img_c.png"] == "img_a.png" and canon["zz.png"] == "yy.png"


def test_split_by_hash_disjoint_exhaustive_stable(spark):
    from quokka_spark.functions.sampling import hash_sample, split_by_hash
    df = spark.range(10_000).withColumnRenamed("id", "doc_id")
    out = split_by_hash(df, "doc_id",
                        {"train": 0.8, "val": 0.1, "test": 0.1}).toPandas()
    counts = out["split"].value_counts()
    assert set(counts.index) == {"train", "val", "test"}
    assert counts.sum() == 10_000                       # exhaustive
    assert abs(counts["train"] - 8000) < 300            # ~binomial dev
    assert abs(counts["val"] - 1000) < 150
    # stability: re-running yields the identical assignment
    again = split_by_hash(df, "doc_id",
                          {"train": 0.8, "val": 0.1, "test": 0.1}).toPandas()
    assert (out.sort_values("doc_id")["split"].values
            == again.sort_values("doc_id")["split"].values).all()
    # independence: a different salt re-draws membership
    s1 = set(hash_sample(df, "doc_id", 0.25, salt="a")
             .toPandas()["doc_id"])
    s2 = set(hash_sample(df, "doc_id", 0.25, salt="b")
             .toPandas()["doc_id"])
    inter = len(s1 & s2) / 10_000
    assert 0.03 < inter < 0.10                          # ≈ 0.0625


def test_pii_detect_and_redact(spark):
    from quokka_spark.functions.text import pii_columns, redact_pii
    docs = spark.createDataFrame(
        [(1, "write to bob@x.com or 555-123-4567 from 10.0.0.1 thanks"),
         (2, "no pii whatsoever in this row"),
         (3, "two mails: a@b.io c.d@e-f.org and 192.168.0.255")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", *pii_columns("text"),
        redact_pii("text").alias("red")).collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"], rows[1]["n_ipv4"]) == (1, 1, 1)
    assert rows[1]["has_pii"] is True
    assert rows[1]["red"] == "write to <EMAIL> or <PHONE> from <IP> thanks"
    assert rows[2]["has_pii"] is False and rows[2]["red"] == rows[2]["red"]
    assert rows[3]["n_email"] == 2 and rows[3]["n_ipv4"] == 1
    assert "<EMAIL>" in rows[3]["red"] and "<IP>" in rows[3]["red"]


def test_gopher_repetition_logic(spark):
    """Hand-computed fractions on 'a b a b c' (space segments, 2-grams):
    4/5 repeated segments, 2/5 repeated chars, top 2-gram 'a b' covers
    4 of 5 non-space chars, dup 2-gram chars 2/5."""
    from quokka_spark.functions.text import gopher_repetition
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "all unique words here")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_repetition(
        docs, delimiter=" ", top_n=2, dup_n=2).collect()}
    r = out[1]
    assert r["dup_line_frac"] == 0.8
    assert r["dup_line_char_frac"] == 0.4
    assert r["top_2gram_char_frac"] == 0.8
    assert r["dup_2gram_char_frac"] == 0.4
    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["dup_2gram_char_frac"] == 0.0


def test_decontaminate_flags_ngram_overlap(spark):
    from quokka_spark.functions.dedup import decontaminate
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over fences"),
         (2, "completely unrelated text goes right here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps high")],
        "bid long, text string")
    out = {r["doc_id"]: r["contaminated"]
           for r in decontaminate(docs, bench, n=4).collect()}
    assert out == {1: True, 2: False}


def test_weighted_hash_sample_proportional_and_stable(spark):
    from pyspark.sql import functions as F
    from quokka_spark.functions.sampling import weighted_hash_sample
    df = spark.range(10_000).withColumnRenamed("id", "doc_id") \
        .withColumn("w", F.lit(0.3))
    kept = weighted_hash_sample(df, "doc_id", "w", salt="t").toPandas()
    assert abs(len(kept) - 3000) < 250
    again = weighted_hash_sample(df, "doc_id", "w", salt="t").toPandas()
    assert set(kept["doc_id"]) == set(again["doc_id"])   # deterministic
    none = weighted_hash_sample(
        df.withColumn("w", F.lit(0.0)), "doc_id", "w")
    assert none.count() == 0
    everything = weighted_hash_sample(
        df.withColumn("w", F.lit(1.0)), "doc_id", "w")
    assert everything.count() == 10_000
    # weights outside [0,1] clamp rather than misbehave
    clamped = weighted_hash_sample(
        df.withColumn("w", F.lit(7.5)), "doc_id", "w")
    assert clamped.count() == 10_000


def test_semantic_dedup_drops_near_identical(spark):
    from quokka_spark.functions.dedup import semantic_dedup
    rows = [(1, [1.0, 0.0]), (2, [0.999, 0.02]), (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = sorted(r["vec_id"] for r in semantic_dedup(
        emb, k=1, iters=1, threshold=0.9).collect())
    assert kept == [1, 3]          # 2 is the higher-id near-dup of 1


def test_candlestick_ohlcv_deterministic(spark):
    """Two bars for one symbol; open/close resolved by (ts, id) ties."""
    import datetime as dt
    from quokka_spark.operators.windows import candlestick
    t0 = dt.datetime(2024, 1, 1, 9, 30)
    rows = [
        (1, t0, "A", 10.0, 5), (2, t0, "A", 11.0, 3),     # tie on ts
        (3, t0 + dt.timedelta(seconds=30), "A", 9.0, 2),
        (4, t0 + dt.timedelta(minutes=1), "A", 20.0, 7),
    ]
    df = spark.createDataFrame(
        rows, "eid long, ts timestamp, sym string, price double, vol long")
    out = {r["candle_start"]: r for r in candlestick(
        df, "ts", "sym", "price", volume_col="vol", interval="1m",
        tiebreak="eid").collect()}
    b1 = out[t0]
    assert (b1["open"], b1["close"]) == (10.0, 9.0)   # eid 1 first, 3 last
    assert (b1["high"], b1["low"], b1["volume"], b1["n_ticks"]) == (11.0, 9.0, 10, 3)
    b2 = out[t0 + dt.timedelta(minutes=1)]
    assert (b2["open"], b2["close"], b2["volume"]) == (20.0, 20.0, 7)


def test_pivot_wide_counts(spark, qc):
    from quokka_spark.datastream import DataStream
    df = spark.createDataFrame(
        [("x", "a", 1.0), ("x", "b", 2.0), ("y", "a", 3.0), ("x", "a", 4.0)],
        "k string, p string, v double")
    out = DataStream(qc, df).pivot("k", "p", "v", agg_func="sum",
                                   values=["a", "b"]).df
    rows = {r["k"]: r for r in out.collect()}
    assert rows["x"]["a_sum"] == 5.0 and rows["x"]["b_sum"] == 2.0
    assert rows["y"]["a_sum"] == 3.0 and rows["y"]["b_sum"] is None


def test_matmul_coo_exact(spark):
    import numpy as np
    from quokka_spark.operators.linalg import matmul_coo
    rng = np.random.default_rng(3)
    A = rng.integers(-5, 6, size=(4, 3))
    B = rng.integers(-5, 6, size=(3, 5))
    a = spark.createDataFrame(
        [(i, k, int(A[i, k])) for i in range(4) for k in range(3)
         if A[i, k] != 0], "i long, k long, val long")
    b = spark.createDataFrame(
        [(k, j, int(B[k, j])) for k in range(3) for j in range(5)
         if B[k, j] != 0], "k long, j long, val long")
    C = A @ B
    got = {(r["i"], r["j"]): r["val"] for r in matmul_coo(a, b).collect()}
    for i in range(4):
        for j in range(5):
            assert got.get((i, j), 0) == C[i, j]


def test_chunk_documents_windows(spark):
    from quokka_spark.functions.text import chunk_documents
    words = " ".join(f"w{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, "   ")],
        "doc_id long, text string")
    out = chunk_documents(docs, max_words=10, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: step 6, starts 0,6,12,18 (24 > 25-4-1=20 stops at 18)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in c1] == [0, 1, 2, 3]
    assert c1[0]["chunk_text"].split() == [f"w{i}" for i in range(10)]
    assert c1[3]["n_words"] == 7                      # words 18..24
    assert by_doc[2][0]["chunk_text"] == "short doc"  # single chunk
    assert 3 not in by_doc                            # whitespace-only: none


def test_unigram_logprob_favors_common_tokens(spark):
    from quokka_spark.functions.text import unigram_logprob
    docs = spark.createDataFrame(
        [(1, "the the the the"), (2, "zyzzyva qwerty")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert out[1]["n_tokens"] == 4 and out[2]["n_tokens"] == 2
    # common-token doc scores LOWER mean negative logprob
    assert out[1]["mean_neg_logprob"] < out[2]["mean_neg_logprob"]


def test_pack_sequences_contiguous(spark):
    from pyspark.sql import functions as F
    from quokka_spark.functions.packing import pack_sequences
    df = spark.range(100).withColumnRenamed("id", "doc_id") \
        .withColumn("tok", F.lit(30))
    out = pack_sequences(df, "tok", "doc_id", budget=100).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    # doc d starts at 30d: pack floor(30d/100), offset 30d mod 100
    assert (out["pack_id"] == (30 * out["doc_id"]) // 100).all()
    assert (out["pack_offset"] == (30 * out["doc_id"]) % 100).all()
    # stable under different input partitioning
    again = pack_sequences(df.repartition(7), "tok", "doc_id",
                           budget=100).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert (out["pack_id"] == again["pack_id"]).all()


def test_bpe_token_columns(spark):
    from quokka_spark.functions.text import bpe_token_columns
    docs = spark.createDataFrame(
        [(1, "Hello, world! x2 x2"), (2, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", *bpe_token_columns("text")).collect()}
    # hello , world ! x 2 x 2  -> 8 tokens, 6 unique (x and 2 repeat)
    assert rows[1]["n_bpe_tokens"] == 8
    assert rows[1]["n_unique_bpe"] == 6
    assert rows[2]["n_bpe_tokens"] == 0


def test_stratified_hash_sample_rates_and_stability(spark):
    from quokka_spark.functions.sampling import stratified_hash_sample
    from pyspark.sql import functions as F
    df = spark.range(30_000).selectExpr(
        "id as doc_id",
        "CASE WHEN id % 3 = 0 THEN 'books' "
        "WHEN id % 3 = 1 THEN 'web' ELSE 'code' END as source")
    out = stratified_hash_sample(
        df, "doc_id", "source", {"books": 0.8, "web": 0.1},
        default=0.5, salt="s").toPandas()
    counts = out["source"].value_counts()
    assert abs(counts.get("books", 0) - 8000) < 350
    assert abs(counts.get("web", 0) - 1000) < 200
    assert abs(counts.get("code", 0) - 5000) < 350
    again = stratified_hash_sample(
        df, "doc_id", "source", {"books": 0.8, "web": 0.1},
        default=0.5, salt="s").toPandas()
    assert set(out["doc_id"]) == set(again["doc_id"])    # deterministic
    # a stratum at rate 0 is dropped entirely
    none = stratified_hash_sample(
        df, "doc_id", "source", {"books": 0.0}, default=1.0)
    assert none.filter(F.col("source") == "books").count() == 0
    assert none.count() == 20_000


def test_cap_per_key_exact_and_deterministic(spark):
    from quokka_spark.functions.sampling import cap_per_key
    df = spark.range(5_000).selectExpr(
        "id as doc_id", "cast(id % 7 as string) as source")
    out = cap_per_key(df, "source", "doc_id", 11, salt="c").toPandas()
    sizes = out.groupby("source").size()
    assert (sizes == 11).all() and len(sizes) == 7       # exactly k per key
    again = cap_per_key(df, "source", "doc_id", 11, salt="c").toPandas()
    assert set(out["doc_id"]) == set(again["doc_id"])    # deterministic
    # keys with fewer than k rows keep everything
    small = spark.range(3).selectExpr("id as doc_id", "'only' as source")
    assert cap_per_key(small, "source", "doc_id", 10).count() == 3
    # survivors are the hash-order minimum, independent of partitioning
    one_part = cap_per_key(df.coalesce(1), "source", "doc_id", 11,
                           salt="c").toPandas()
    assert set(out["doc_id"]) == set(one_part["doc_id"])


def test_tfidf_top_terms_hand_computed(spark):
    """3 docs: 'cat' appears in 1 doc (rare, high idf), 'the' in all 3
    (idf floor = 1.0 smooth). doc 1 = 'the the cat': tf(the)=2,
    tf(cat)=1; idf(the)=ln(4/4)+1=1 → score 2.0; idf(cat)=ln(4/2)+1
    → score ~1.693 — 'the' must outrank 'cat' despite rarity."""
    import math
    from quokka_spark.functions.text import tfidf_top_terms
    docs = spark.createDataFrame(
        [(1, "the the cat"), (2, "the dog"), (3, "the bird")],
        "doc_id long, text string")
    out = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf"])
           for r in tfidf_top_terms(docs, top_n=2).collect()}
    assert out[(1, 1)] == ("the", 2.0)
    assert out[(1, 2)][0] == "cat"
    assert abs(out[(1, 2)][1] - round(math.log(4 / 2) + 1, 6)) < 1e-9
    # ties broken by term ascending: doc 2 has dog/the at distinct
    # scores; bird < dog alphabetically is irrelevant here, but a
    # same-score pair must order by term
    tie = spark.createDataFrame([(9, "aa bb")], "doc_id long, text string")
    t = [r["term"] for r in tfidf_top_terms(tie, top_n=2)
         .orderBy("rank").collect()]
    assert t == ["aa", "bb"]


def test_logreg_learns_separable_data(spark):
    """1-d separable data: full-batch GD must reach perfect accuracy,
    and the distributed gradient must track a numpy reference of the
    identical recurrence to float tolerance."""
    import numpy as np
    from quokka_spark.operators.linalg import logreg_train, logreg_score
    xs = np.arange(200) / 200.0
    ys = (xs > 0.5).astype(float)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)], "x double, y double")
    w = logreg_train(df, ["x"], "y", lr=5.0, iters=60)
    scored = logreg_score(df, ["x"], w).toPandas()
    acc = ((scored["score"] >= 0.5) == (scored["y"] > 0.5)).mean()
    assert acc >= 0.99, (acc, w)
    # numpy reference of the same recurrence
    wr = np.zeros(2)
    X = np.column_stack([np.ones_like(xs), xs])
    for _ in range(60):
        r = 1.0 / (1.0 + np.exp(-(X @ wr))) - ys
        wr = wr - 5.0 * (X.T @ r) / len(xs)
    assert np.allclose(w, wr, atol=1e-9), (w, wr)
    # weight-shape validation
    import pytest
    with pytest.raises(ValueError):
        logreg_score(df, ["x"], [0.1])


def test_split_leakage_safe_keeps_clusters_together(spark):
    """Docs 1-2-3 chain into one cluster via pairs; 10-11 another; the
    cluster must share one split while isolated docs split freely."""
    from quokka_spark.functions.sampling import split_leakage_safe
    docs = spark.range(20).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 long, id2 long")
    out = split_leakage_safe(
        docs, "doc_id", pairs, {"train": 0.5, "test": 0.5},
        salt="x").toPandas().set_index("doc_id")["split"]
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11]
    assert len(out) == 20 and set(out.unique()) <= {"train", "test"}
    # determinism across re-runs
    again = split_leakage_safe(
        docs, "doc_id", pairs, {"train": 0.5, "test": 0.5},
        salt="x").toPandas().set_index("doc_id")["split"]
    assert (out.sort_index() == again.sort_index()).all()


def test_url_columns_and_blocklist_paths(spark):
    from pyspark.sql import functions as F
    from quokka_spark.functions.text import url_columns, flag_blocked_domains
    docs = spark.createDataFrame(
        [(1, "go to https://a.com/x and http://b.org:8080/y now"),
         (2, "no links at all"),
         (3, "dup https://a.com/1 https://a.com/2")],
        "doc_id long, text string")
    ext = docs.select("doc_id", *url_columns("text"))
    rows = {r["doc_id"]: r for r in ext.collect()}
    assert rows[1]["n_urls"] == 2 and rows[1]["domains"] == ["a.com", "b.org"]
    assert rows[2]["n_urls"] == 0 and rows[2]["main_domain"] is None
    assert rows[3]["domains"] == ["a.com"]          # distinct hosts
    # literal-list path (map-side)
    lit = {r["doc_id"]: r["blocked"] for r in flag_blocked_domains(
        ext, "doc_id", "domains", ["b.org"]).collect()}
    assert lit == {1: True, 2: False, 3: False}
    # DataFrame path must agree with the literal path
    bl = spark.createDataFrame([("b.org",)], "domain string")
    dfp = {r["doc_id"]: r["blocked"] for r in flag_blocked_domains(
        ext, "doc_id", "domains", bl).collect()}
    assert dfp == lit


def test_phash64_invariances_and_pairs(spark):
    """The pHash math: small noise and brightness shifts move ≤ a few
    bits; an unrelated image sits near 32. The distributed pair search
    (pigeonhole chunk buckets) finds exactly the duplicate groups."""
    import numpy as np
    from quokka_spark.functions.multimodal import phash64, phash_near_pairs
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (32, 32)).astype(float)
    h = phash64(img)
    noisy = phash64(np.clip(img + rng.normal(0, 4, (32, 32)), 0, 255))
    bright = phash64(np.clip(img * 1.1 + 10, 0, 255))
    other = phash64(rng.integers(0, 256, (32, 32)).astype(float))
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(h, noisy) <= 6 and ham(h, bright) <= 6
    assert ham(h, other) > 20
    # distributed: payloads 0..19 with dup groups {i, i+10}
    from pyspark.sql import functions as F
    df = spark.range(20).select(
        F.col("id").alias("fid"),
        F.concat(F.lit("P"), (F.col("id") % 10).cast("string"))
        .cast("binary").alias("object"))
    pairs = {(r["id1"], r["id2"]): r["hamming"]
             for r in phash_near_pairs(df, "object", "fid",
                                       max_hamming=6).collect()}
    assert pairs == {(i, i + 10): 0 for i in range(10)}


def test_hamming_near_pairs_uneven_chunks(spark):
    """64 bits over 7 chunks (max_hamming=6) — uneven widths must
    still satisfy the pigeonhole guarantee: EVERY pair within distance
    6 is found, none beyond."""
    from pyspark.sql import functions as F
    from quokka_spark.functions.dedup import hamming_near_pairs
    base = 0x123456789ABCDEF0
    rows = [(0, base)]
    # flip i lowest bits for i = 1..8
    for i in range(1, 9):
        rows.append((i, base ^ ((1 << i) - 1)))
    sigs = spark.createDataFrame(
        [(i, v - (1 << 64) if v >= 1 << 63 else v) for i, v in rows],
        "fid long, sig long")
    got = {(r["id1"], r["id2"]): r["hamming"]
           for r in hamming_near_pairs(sigs, "fid", "sig",
                                       max_hamming=6).collect()}
    # pair (0, i) has distance i; (i, j>i) has distance j - i
    expect = {}
    for i in range(9):
        for j in range(i + 1, 9):
            d = j - i if i > 0 else j
            if d <= 6:
                expect[(i, j)] = d
    assert got == expect


def test_quantize_roundtrip_and_ann_recall(spark):
    """int8 quantization: bounded reconstruction error (≤ scale/254 +
    float32 ulp), exact roundtrip of representable points, and ANN
    over DEQUANTIZED vectors reproduces ≥0.9 of exact brute-force
    top-5 neighbors on the real embeddings table."""
    from quokka_spark.functions.similarity import (
        brute_force_topk, dequantize_embeddings, quantize_embeddings)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q, scale = quantize_embeddings(emb, "embedding")
    assert scale > 0
    deq = dequantize_embeddings(q.drop("embedding"), "qvec", scale)
    # max reconstruction error bound: half a code step
    import numpy as np
    orig = {r["vec_id"]: np.array(r["embedding"])
            for r in emb.select("vec_id", "embedding").collect()}
    rec = {r["vec_id"]: np.array(r["embedding"])
           for r in deq.select("vec_id", "embedding").collect()}
    worst = max(np.abs(orig[i] - rec[i]).max() for i in orig)
    assert worst <= scale / 254 + 1e-4, worst
    # ANN recall on dequantized store
    probes = emb.limit(8).select(
        F.col("vec_id").alias("probe_id"), "embedding")
    exact = brute_force_topk(emb, probes, "embedding", k=5)
    approx = brute_force_topk(deq, probes, "embedding", k=5)
    ex = {(r["probe_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["probe_id"], r["vec_id"]) for r in approx.collect()}
    assert len(ex & ap) / len(ex) >= 0.9


def test_bigram_lm_orders_scrambled_text_worse(spark):
    """The word-order property unigram scoring cannot see: a document
    whose bigrams are common scores better than one with the same
    words in an unseen order."""
    from quokka_spark.functions.text import bigram_logprob
    corpus = [(i, "the quick brown fox jumps") for i in range(1, 9)]
    corpus.append((100, "fox the jumps quick brown"))   # scrambled
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r["doc_id"]: r["mean_neg_logprob"]
           for r in bigram_logprob(docs).collect()}
    assert out[100] > out[1]
    # single-token docs produce no bigram rows
    one = spark.createDataFrame([(1, "word"), (2, "a b")],
                                "doc_id long, text string")
    assert sorted(r["doc_id"] for r in bigram_logprob(one).collect()) == [2]


def test_hashed_tf_dense_matches_sparse_and_feeds_kmeans(spark):
    """Dense assembly must equal the sparse histogram; the vectors
    feed kmeans unchanged (the text→vector bridge), separating
    disjoint-vocabulary doc groups into distinct clusters."""
    from quokka_spark.functions.text import hashed_tf_vectors
    from quokka_spark.operators.linalg import kmeans
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(5)]
        + [(i, "one two three four five six") for i in range(5, 10)],
        "doc_id long, text string")
    dense = {r["doc_id"]: r["tfvec"]
             for r in hashed_tf_vectors(docs, dim=16).collect()}
    sparse = hashed_tf_vectors(docs, dim=16, dense=False).collect()
    rebuilt = {d: [0.0] * 16 for d in dense}
    for r in sparse:
        rebuilt[r["doc_id"]][r["bucket"]] = float(r["cnt"])
    assert rebuilt == {d: list(v) for d, v in dense.items()}
    vecs = hashed_tf_vectors(docs, dim=16)
    _, assign = kmeans(vecs, "tfvec", "doc_id", k=2, iters=3)
    groups = {r["doc_id"]: r["cluster"] for r in assign.collect()}
    first = {groups[i] for i in range(5)}
    second = {groups[i] for i in range(5, 10)}
    assert len(first) == 1 and len(second) == 1 and first != second


def test_cms_overestimate_and_merge(spark):
    """Count-Min guarantees: estimate >= true count always; with a
    roomy sketch the heavy keys estimate exactly; two partial sketches
    merged by re-aggregation equal the sketch of the union."""
    from pyspark.sql import functions as F
    from quokka_spark.functions.sketches import cms_build, cms_estimate
    # keys k0..k19, key i appears (i+1)*5 times
    rows = [(f"k{i}",) for i in range(20) for _ in range((i + 1) * 5)]
    df = spark.createDataFrame(rows, "k string")
    keys = spark.createDataFrame([(f"k{i}",) for i in range(20)],
                                 "k string")
    sk = cms_build(df, "k", depth=4, width=1024)
    est = {r["k"]: r["est"]
           for r in cms_estimate(sk, keys, "k", 4, 1024).collect()}
    true = {f"k{i}": (i + 1) * 5 for i in range(20)}
    assert all(est[k] >= true[k] for k in true)          # never under
    assert sum(est[k] == true[k] for k in true) >= 18    # roomy → exact
    # unseen key estimates 0 (empty cells)
    unseen = spark.createDataFrame([("nope",)], "k string")
    assert cms_estimate(sk, unseen, "k", 4, 1024).first()["est"] == 0
    # mergeability: sketch(a) ∪ sketch(b) re-agged == sketch(a+b)
    a, b = df.limit(300), spark.createDataFrame(rows[300:], "k string")
    merged = (cms_build(a, "k", 4, 1024)
              .unionByName(cms_build(b, "k", 4, 1024))
              .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")))
    est2 = {r["k"]: r["est"]
            for r in cms_estimate(merged, keys, "k", 4, 1024).collect()}
    assert est2 == est


def test_bpe_train_matches_reference_implementation(spark):
    """The distributed merge loop must reproduce the classic
    single-machine BPE (Sennrich get_stats + leftmost non-overlapping
    merge) exactly — same merge table, same final symbol sequences."""
    import re
    from collections import Counter
    from quokka_spark.functions.packing import bpe_train
    texts = ["low lower lowest low low", "new newer newest new",
             "wider wide widest low new", "low low lower new newest"]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")

    # pure-Python reference
    wc = Counter()
    for t in texts:
        for w in re.sub(r"\s+", " ", t.strip().lower()).split(" "):
            wc[w] += 1
    vocab = {w: list(w) + ["</w>"] for w in wc}
    ref_merges = []
    for _ in range(12):
        stats = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += wc[w]
        if not stats:
            break
        best = max(stats.items(),
                   key=lambda kv: (kv[1], [-ord(c) for c in kv[0][0]]))
        # deterministic tiebreak: count desc, pair asc — redo properly
        m = max(stats.values())
        best = sorted(p for p, c in stats.items() if c == m)[0]
        if stats[best] < 2:
            break
        ref_merges.append(best)
        a, b = best
        for w in vocab:
            syms, out, i = vocab[w], [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    merges, words = bpe_train(docs, num_merges=12)
    assert merges == ref_merges, (merges, ref_merges)
    got = {r["w"]: (list(r["symbols"]), r["count"])
           for r in words.collect()}
    assert got == {w: (vocab[w], wc[w]) for w in wc}


def test_bpe_distributed_path_equals_driver_path(spark):
    """Forcing driver_vocab_limit=0 exercises the fully distributed
    merge loop — it must produce the identical merge table and final
    vocabulary as the driver-side fast path."""
    from quokka_spark.functions.packing import bpe_train
    docs = spark.createDataFrame(
        [(1, "low lower lowest low low new newer newest"),
         (2, "wide wider widest low new lower")],
        "doc_id long, text string")
    m_fast, v_fast = bpe_train(docs, num_merges=6)
    m_dist, v_dist = bpe_train(docs, num_merges=6, driver_vocab_limit=0)
    assert m_fast == m_dist
    fast = {r["w"]: (list(r["symbols"]), r["count"])
            for r in v_fast.collect()}
    dist = {r["w"]: (list(r["symbols"]), r["count"])
            for r in v_dist.collect()}
    assert fast == dist


def test_exact_dedup_keep_best_semantics(spark):
    from quokka_spark.functions.dedup import exact_dedup_keep_best
    docs = spark.createDataFrame(
        [(1, "same text", 0.2), (2, "same text", 0.9),
         (3, "same text", 0.9),                     # tie → lower id
         (4, "other", 0.1)],
        "doc_id long, text string, q double")
    kept = sorted(r["doc_id"] for r in
                  exact_dedup_keep_best(docs, "q").collect())
    assert kept == [2, 4]


def test_exact_dedup_keep_best_null_scores_and_string_ids(spark):
    """r4 ADVICE regressions: (a) a duplicate group whose scores are
    all NULL must keep its min id, not vanish (max_by over all-NULL
    ordering structs dropped the whole group); (b) string ids must
    work (the old tie-break arithmetically negated the id)."""
    from quokka_spark.functions.dedup import exact_dedup_keep_best
    docs = spark.createDataFrame(
        [(1, "all null grp", None), (2, "all null grp", None),
         (3, "mixed grp", None), (4, "mixed grp", 0.5),
         (5, "solo", None)],
        "doc_id long, text string, q double")
    kept = sorted(r["doc_id"] for r in
                  exact_dedup_keep_best(docs, "q").collect())
    assert kept == [1, 4, 5]
    sdocs = spark.createDataFrame(
        [("b.txt", "dup", 0.3), ("a.txt", "dup", 0.3),
         ("c.txt", "dup", 0.9), ("z.txt", "uniq", 0.1)],
        "doc_id string, text string, q double")
    kept = sorted(r["doc_id"] for r in
                  exact_dedup_keep_best(sdocs, "q").collect())
    assert kept == ["c.txt", "z.txt"]


def test_new_ops_empty_and_degenerate_inputs(spark):
    """Empty/degenerate inputs must yield empty results, not crashes:
    the difference between an operator and a demo."""
    from pyspark.sql import functions as F
    from quokka_spark.functions.sketches import cms_build, cms_estimate
    from quokka_spark.functions.text import (bigram_logprob,
                                             hashed_tf_vectors,
                                             tfidf_top_terms)
    from quokka_spark.functions.sampling import cap_per_key
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert tfidf_top_terms(empty).count() == 0
    assert bigram_logprob(empty).count() == 0
    assert hashed_tf_vectors(empty).count() == 0
    assert cap_per_key(empty.withColumn("source", F.lit("x")),
                       "source", "doc_id", 3).count() == 0
    sk = cms_build(spark.createDataFrame([], "k string"), "k")
    assert sk.count() == 0
    probe = spark.createDataFrame([("a",)], "k string")
    assert cms_estimate(sk, probe, "k").first()["est"] == 0
    # whitespace-only documents vanish from token pipelines
    ws = spark.createDataFrame([(1, "   "), (2, "\t\n")],
                               "doc_id long, text string")
    assert tfidf_top_terms(ws).count() == 0
    assert bigram_logprob(ws).count() == 0


def test_text_ops_unicode_safe(spark):
    """CJK + emoji + combining marks through the token pipelines:
    counts follow whitespace segmentation, no mojibake crashes."""
    from quokka_spark.functions.text import (bigram_logprob,
                                             hashed_tf_vectors,
                                             tfidf_top_terms)
    docs = spark.createDataFrame(
        [(1, "的 是 了 的 是"), (2, "héllo wörld héllo"), (3, "🎉 🎉 ok")],
        "doc_id long, text string")
    tf = {(r["doc_id"], r["term"]): 1
          for r in tfidf_top_terms(docs, top_n=2).collect()}
    assert (1, "的") in tf or (1, "是") in tf
    assert {r["doc_id"] for r in bigram_logprob(docs).collect()} == {1, 2, 3}
    assert hashed_tf_vectors(docs, dim=8).count() == 3


def test_connected_components_distributed_equals_driver(spark):
    """Forcing driver_edge_limit=0 exercises the distributed min-label
    loop — identical labels to the union-find fast path."""
    from quokka_spark.operators.graph import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)],
        "src long, dst long")
    fast = {(r["node"], r["component"])
            for r in connected_components(edges).collect()}
    dist = {(r["node"], r["component"])
            for r in connected_components(
                edges, driver_edge_limit=0).collect()}
    assert fast == dist
    assert (1, 1) in fast and (3, 1) in fast and (12, 10) in fast


def test_pair_metrics_canonicalization_and_edges(spark):
    from quokka_spark.functions.dedup import pair_metrics
    pred = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 4), (5, 6)], "id1 long, id2 long")
    truth = spark.createDataFrame(
        [(1, 2), (4, 3), (7, 8)], "id1 long, id2 long")
    p, r, f1, n_pred, n_truth, n_hit = pair_metrics(pred, truth)
    # pred canonicalizes to {12, 34, 56}; truth {12, 34, 78}; hits 2
    assert (n_pred, n_truth, n_hit) == (3, 3, 2)
    assert abs(p - 2 / 3) < 1e-12 and abs(r - 2 / 3) < 1e-12
    assert abs(f1 - 2 / 3) < 1e-12
    empty = spark.createDataFrame([], "id1 long, id2 long")
    p2, r2, f2, *_ = pair_metrics(empty, truth)
    assert p2 is None and r2 == 0.0


def test_strip_accents_folds_and_passes_through(spark):
    from quokka_spark.functions.text import strip_accents
    docs = spark.createDataFrame(
        [(1, "café crème brûlée"), (2, "mañana ÊTRE Çà"),
         (3, "plain ascii stays"), (4, "mixed 的中文 é ok")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["t"]
           for r in docs.select("doc_id",
                                strip_accents("text").alias("t")).collect()}
    assert out[1] == "cafe creme brulee"
    assert out[2] == "manana ETRE Ca"
    assert out[3] == "plain ascii stays"
    assert out[4] == "mixed 的中文 e ok"     # CJK untouched


def test_bloom_no_false_negatives_and_low_fp(spark):
    from pyspark.sql import functions as F
    from quokka_spark.functions.sketches import bloom_build, bloom_contains
    inserted = spark.range(2000).select(
        F.concat(F.lit("in"), F.col("id").cast("string")).alias("k"))
    absent = spark.range(2000).select(
        F.concat(F.lit("out"), F.col("id").cast("string")).alias("k"))
    bloom = bloom_build(inserted, "k", n_hashes=5, width=1 << 15)
    got_in = bloom_contains(bloom, inserted, "k", 5, 1 << 15).toPandas()
    assert got_in["maybe_present"].all()            # NEVER a false negative
    got_out = bloom_contains(bloom, absent, "k", 5, 1 << 15).toPandas()
    fp = got_out["maybe_present"].mean()
    assert fp < 0.05, fp                            # k=5, n/m≈0.06 → tiny
    # mergeability: union of two half-blooms == bloom of the union
    a = bloom_build(inserted.limit(1000), "k", 5, 1 << 15)
    b_keys = spark.range(1000, 2000).select(
        F.concat(F.lit("in"), F.col("id").cast("string")).alias("k"))
    b = bloom_build(b_keys, "k", 5, 1 << 15)
    merged = a.unionByName(b).distinct()
    again = bloom_contains(merged, inserted, "k", 5, 1 << 15).toPandas()
    assert again["maybe_present"].all()


def test_incremental_dedup_equals_plain_anti_join(spark):
    """The bloom prefilter must be correctness-invisible: identical
    survivors to a plain fingerprint anti-join, including when the
    tiny width forces heavy false positives."""
    from pyspark.sql import functions as F
    from quokka_spark.functions.dedup import incremental_dedup
    from quokka_spark.functions.text import fingerprint
    new = spark.createDataFrame(
        [(i, f"text {i % 13}") for i in range(1, 200, 2)],
        "doc_id long, text string")
    seen = spark.createDataFrame(
        [(i, f"text {i % 5}") for i in range(0, 200, 2)],
        "doc_id long, text string")
    # width=64 → fp rate near 1: every key exact-verifies, result same
    for width in (64, 1 << 16):
        got = sorted(r["doc_id"] for r in
                     incremental_dedup(new, seen, width=width).collect())
        spec = sorted(r["doc_id"] for r in new.withColumn(
            "f", fingerprint("text")).join(
                seen.select(fingerprint("text").alias("f")).distinct(),
                "f", "left_anti").collect())
        assert got == spec, width


def test_weighted_sample_k_proportional_and_exact_size(spark):
    """A-ES properties: exactly k per group, deterministic, and heavy
    weights are strongly over-represented across salts."""
    from pyspark.sql import functions as F
    from quokka_spark.functions.sampling import weighted_sample_k
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("g"),
        F.when(F.col("id") % 7 == 0, 100.0).otherwise(1.0).alias("w"))
    out = weighted_sample_k(df, "doc_id", "w", 25, by="g",
                            salt="a").toPandas()
    assert (out.groupby("g").size() == 25).all()
    again = weighted_sample_k(df, "doc_id", "w", 25, by="g",
                              salt="a").toPandas()
    assert set(out["doc_id"]) == set(again["doc_id"])
    # heavy rows are ~14% of every group but should dominate the sample
    heavy_frac = (out["doc_id"] % 7 == 0).mean()
    assert heavy_frac > 0.6, heavy_frac
    # zero/NULL weights never sampled
    z = df.withColumn("w", F.when(F.col("doc_id") < 900,
                                  F.col("w")))  # 100 NULLs
    zo = weighted_sample_k(z, "doc_id", "w", 25, by="g").toPandas()
    assert (zo["doc_id"] < 900).all()


def test_containment_catches_quote_where_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment(sub in
    super) = 1.0 while symmetric jaccard stays far below a near-dup
    threshold — the asymmetric measure's reason to exist."""
    from quokka_spark.functions.dedup import (ngram_containment_pairs,
                                              ngram_jaccard_pairs)
    long_doc = " ".join(f"w{i}" for i in range(60))
    short_doc = " ".join(f"w{i}" for i in range(20, 30))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, "completely different words")],
        "doc_id long, text string")
    cont = {(r["id_sub"], r["id_super"]): r["containment"]
            for r in ngram_containment_pairs(docs, n=2,
                                             threshold=0.8).collect()}
    assert cont.get((2, 1)) == 1.0          # short contained in long
    assert (1, 2) not in cont               # long not contained in short
    jac = ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    assert not any({r["id1"], r["id2"]} == {1, 2} for r in jac)


def test_list_column_to_matrix_clean_and_dirty():
    """The shared Arrow→NumPy ingestion helper: clean rectangular
    batches reshape the flattened child buffer (no per-element Python
    objects); dirty rows — NULL vector, NULL element, ragged length,
    wrong dim — are dropped with their row indices reported."""
    import numpy as np
    import pyarrow as pa
    from quokka_spark.functions._arrow import list_column_to_matrix
    clean = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]],
                     pa.list_(pa.float64()))
    mat, idx = list_column_to_matrix(clean)
    assert mat.shape == (3, 2) and idx.tolist() == [0, 1, 2]
    assert np.allclose(mat, [[1, 2], [3, 4], [5, 6]])
    # dim mismatch against an expected width: all rows invalid
    mat, idx = list_column_to_matrix(clean, dim=3)
    assert mat.shape == (0, 3) and len(idx) == 0
    dirty = pa.array([[1.0, 2.0], None, [3.0, None], [4.0],
                      [7.0, 8.0]], pa.list_(pa.float64()))
    mat, idx = list_column_to_matrix(dirty, dim=2)
    assert idx.tolist() == [0, 4]
    assert np.allclose(mat, [[1, 2], [7, 8]])
    # empty column
    mat, idx = list_column_to_matrix(pa.array([], pa.list_(pa.float64())))
    assert mat.shape[0] == 0 and len(idx) == 0
    # sliced view of a list array must still reshape correctly
    mat, idx = list_column_to_matrix(clean.slice(1, 2))
    assert np.allclose(mat, [[3, 4], [5, 6]]) and idx.tolist() == [0, 1]


def test_similarity_kernels_drop_dirty_vectors(spark):
    """Every ANN kernel must survive a dirty vector stream (NULL
    vector, NULL element, ragged length) by dropping the invalid rows:
    a NULL embedding is never anyone's neighbor, and the kernel must
    not crash the whole batch over it."""
    import numpy as np
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)
    from quokka_spark.functions.similarity import (
        brute_force_topk, ivf_topk, lsh_bucket_topk, vector_range_join)
    rng = np.random.default_rng(7)
    dim = 8
    rows = []
    for i in range(64):
        rows.append((i, rng.standard_normal(dim).tolist()))
    rows.append((100, None))                        # NULL vector
    rows.append((101, [1.0, None] + [0.0] * (dim - 2)))  # NULL element
    rows.append((102, [1.0, 2.0]))                  # ragged length
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(DoubleType()))])
    df = spark.createDataFrame(rows, schema)
    clean = df.filter(F.col("vec_id") < 100)
    probes = clean.filter(F.col("vec_id") < 4)

    got = brute_force_topk(df, probes, "embedding", k=3).toPandas()
    want = brute_force_topk(clean, probes, "embedding", k=3).toPandas()
    key = lambda d: sorted(zip(d["probe_id"], d["vec_id"]))
    assert key(got) == key(want)
    assert not set(got["vec_id"]) & {100, 101, 102}

    got = ivf_topk(df, probes, "embedding", k=3,
                   n_cells=4, n_probe=4).toPandas()
    assert len(got) and not set(got["vec_id"]) & {100, 101, 102}

    got = lsh_bucket_topk(df, probes, "embedding", k=3,
                          n_planes=2, n_tables=8).toPandas()
    assert len(got) and not set(got["vec_id"]) & {100, 101, 102}

    rj = vector_range_join(df, df, left_vec="embedding",
                           right_vec="embedding", left_id="vec_id",
                           right_id="vec_id", threshold=0.0,
                           n_planes=1, n_tables=2, dim=dim).toPandas()
    assert len(rj)
    assert not (set(rj["id1"]) | set(rj["id2"])) & {100, 101, 102}


def test_rank_counts_wide_exact_and_nan_safe(spark):
    """rank_counts_wide must return EXACT lt/le counts per (column,
    threshold) and exclude NaN/NULL values on both sides — the
    verification kernel behind the bench_wide_quantile verdict."""
    import numpy as np
    from pyspark.sql import functions as F
    from quokka_spark.operators.linalg import rank_counts_wide
    pdf_rows = [(float(i), float(i % 5)) for i in range(100)]
    pdf_rows.append((None, 2.0))
    df = spark.createDataFrame(pdf_rows, "a double, b double")
    got = rank_counts_wide(df, ["a", "b"], {"a": [50.0, 0.0],
                                            "b": [2.0, 10.0]})
    assert got["a"][0] == [50, 0]        # lt: 50 values < 50; none < 0
    assert got["a"][1] == [51, 1]        # le: 51 <= 50 (incl 50); 1 <= 0
    assert got["b"][0] == [40, 101]      # 0s and 1s: 40 < 2; all 101 < 10
    assert got["b"][1] == [61, 101]      # + the 21 exact 2.0s (incl NULL-a row)


def test_pagerank_dangling_in_plan_no_driver_collects(spark):
    """Dangling-mass handling must be IN-PLAN (r4 review: the old
    formulation ran a driver collect per iteration that re-executed
    the rank lineage). Pinned two ways: (a) building the rank
    DataFrame with checkpointing disabled triggers only the 2-3 setup
    count jobs — zero per-iteration jobs; (b) the ranks match a dense
    NumPy PageRank with uniform dangling redistribution."""
    import numpy as np
    from quokka_spark.operators.graph import pagerank
    # dangling graph: 5 -> {0,1}, 0 -> 1, 2 -> 3; nodes 1, 3, 4?  (4
    # absent) — nodes 1 and 3 have no out-edges (dangling)
    edges = [(5, 0), (5, 1), (0, 1), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    tracker = spark.sparkContext.statusTracker()

    def max_job_id():
        # job ids increase monotonically; len() of the retained-job
        # list SHRINKS once the UI evicts old jobs in a long session
        return max(tracker.getJobIdsForGroup(), default=0)

    def build_jobs(iters):
        before = max_job_id()
        ranks = pagerank(df, iters=iters, checkpoint_every=1000)
        return ranks, max_job_id() - before

    build_jobs(1)                      # warm: AQE/persist first-run jobs
    _, jobs2 = build_jobs(2)
    _, jobs5 = build_jobs(5)
    # setup (persist counts) costs a fixed number of AQE jobs; adding
    # 3 iterations must add ZERO jobs at build time
    assert jobs5 == jobs2, \
        f"{jobs5} vs {jobs2} build jobs — a per-iteration driver " \
        f"collect is back"
    ranks_df = pagerank(df, iters=4, checkpoint_every=1000)
    got = {r["node"]: r["rank"] for r in ranks_df.collect()}

    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {v: [] for v in nodes}
    for s, d in edges:
        out[s].append(d)
    r = np.full(n, 1.0 / n)
    damping = 0.85
    for _ in range(4):
        nxt = np.full(n, (1.0 - damping) / n)
        mass = sum(r[idx[v]] for v in nodes if not out[v])
        for v in nodes:
            for d in out[v]:
                nxt[idx[d]] += damping * r[idx[v]] / len(out[v])
        nxt += damping * mass / n
        r = nxt
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-9   # mass conserved


def test_sample_by_token_budget_semantics(spark, qc):
    """Token-budget mixing: sampled sources land near their budget
    (hash draw is uniform), unlisted sources keep every row, a zero
    budget empties its source, and survivors are deterministic."""
    from quokka_spark.functions.sampling import sample_by_token_budget
    from quokka_spark.functions.text import token_count
    docs = qc.read_parquet(f"{SF_SMOKE}/documents.parquet").df
    tok = docs.groupBy("source").agg(
        F.sum(token_count("text")).alias("t")).toPandas().set_index("source")
    budget = int(tok.loc["src1", "t"] * 0.3)
    out = sample_by_token_budget(docs, {"src1": budget, "src2": 0},
                                 salt="tb")
    got = (out.groupBy("source").agg(F.sum(token_count("text")).alias("t"),
                                     F.count(F.lit(1)).alias("n"))
           .toPandas().set_index("source"))
    assert "src2" not in got.index                    # zero budget
    # ~30% of src1's tokens survive (hash variance at few hundred docs)
    frac = got.loc["src1", "t"] / tok.loc["src1", "t"]
    assert 0.15 < frac < 0.45, frac
    # unlisted sources: untouched
    others = [s for s in tok.index if s not in ("src1", "src2")]
    for s in others:
        full_n = docs.filter(F.col("source") == s).count()
        assert got.loc[s, "n"] == full_n, s
    # determinism: same survivors on rerun
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in sample_by_token_budget(
        docs, {"src1": budget, "src2": 0}, salt="tb")
        .select("doc_id").collect())
    assert a == b


def test_c4_filter_line_and_doc_rules(spark):
    from quokka_spark.functions.text import c4_filter_columns
    keepable = "This line has plenty of words and ends properly."
    docs = spark.createDataFrame(
        [(1, "\n".join([keepable, "short.", keepable.replace(".", ""),
                        "Please enable javascript to continue here now.",
                        keepable, keepable])),   # 3 kept of 6
         (2, keepable + " { code }"),            # brace policy trigger
         (3, "Lorem Ipsum dolor sit amet is boilerplate filler text."),
         (4, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", *c4_filter_columns("text")).collect()}
    r1 = rows[1]
    assert (r1["n_lines"], r1["n_kept"]) == (6, 3)
    # order-preserving rejoin of exactly the kept lines
    assert r1["clean_text"] == "\n".join([keepable] * 3)
    assert r1["c4_keep"] is True and r1["n_sentences"] == 3
    assert rows[2]["has_brace"] is True and rows[2]["c4_keep"] is False
    assert rows[3]["has_lorem"] is True and rows[3]["c4_keep"] is False
    r4 = rows[4]
    assert (r4["n_lines"], r4["n_kept"], r4["clean_text"]) == (1, 0, "")
    assert r4["c4_keep"] is False


def test_bpe_encode_reproduces_trained_vocab(spark):
    """Encoding each distinct corpus WORD with the trained merge table
    must reproduce bpe_train's own vocab segmentation exactly — the
    compiled replace-chain and the train-side Arrow kernel are the
    same algorithm."""
    from quokka_spark.functions.packing import bpe_train, bpe_encode
    from pyspark.sql import functions as F
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges, vocab = bpe_train(docs, "text", num_merges=25)
    words = vocab.withColumn("rid", F.monotonically_increasing_id()) \
                 .select(F.col("rid").alias("doc_id"),
                         F.col("w").alias("text"), "symbols")
    enc = bpe_encode(words, merges, text_col="text", id_col="doc_id")
    j = enc.join(words, "doc_id")
    assert j.filter(F.col("tokens") != F.col("symbols")).count() == 0
    assert j.count() == vocab.count() > 0


def test_bpe_encode_compiled_equals_kernel(spark):
    from quokka_spark.functions.packing import bpe_encode
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = [("e", "r"), ("t", "h"), ("th", "e</w>"), ("e", "</w>")]
    a = bpe_encode(docs, merges, compiled_limit=256).orderBy("doc_id").collect()
    b = bpe_encode(docs, merges, compiled_limit=0).orderBy("doc_id").collect()
    assert a == b and len(a) > 0


def test_bpe_encode_symbol_boundary_no_bleed(spark):
    """The delimiter-wrapped patterns must only match COMPLETE adjacent
    symbols. Regression for the space-separated formulation, where
    merge ('t','t') on symbols ['st','t'] falsely matched the tail of
    'st' ('s t t' contains 't t'), and overlap chains lost pairs."""
    from quokka_spark.functions.packing import bpe_encode
    import pytest
    docs = spark.createDataFrame(
        [(1, "stt"),     # ('s','t')->'st' first; then ['st','t'] must NOT
                         # fire ('t','t') across the symbol boundary
         (2, "tttt"),    # overlap chain: leftmost pairs -> ['tt','tt',..]
         (3, "")],
        "doc_id long, text string")
    merges = [("s", "t"), ("t", "t")]
    rows = {r["doc_id"]: r for r in
            bpe_encode(docs, merges).collect()}
    assert rows[1]["tokens"] == ["st", "t", "</w>"]
    assert rows[2]["tokens"] == ["tt", "tt", "</w>"]
    assert rows[3]["tokens"] == [] and rows[3]["n_tokens"] == 0
    with pytest.raises(ValueError):
        bpe_encode(docs, [("</w>", "t")]).collect()


def test_qualify_rewrites_to_subselect():
    out = duckdb_to_spark_sql(
        "select a, row_number() over (order by b) rk from t "
        "qualify rk <= 2 order by a limit 5")
    assert out.startswith("SELECT * FROM (")
    assert "WHERE rk <= 2 order by a limit 5" in out
    # nested/quoted occurrences are left alone (best-effort top-level)
    assert duckdb_to_spark_sql("select 'qualify' from t") == \
        "select 'qualify' from t"
    inner = "select * from (select 1 as x from t qualify x = 1) s"
    assert duckdb_to_spark_sql(inner) == inner


def test_canonicalize_url_rules(spark):
    from quokka_spark.functions.text import canonicalize_url
    cases = {
        "HTTPS://Example.COM/Path/?utm_source=x&q=1#frag":
            "https://example.com/Path?q=1",
        "http://a.com/p/?utm_campaign=z": "http://a.com/p",
        "http://a.com/p?q=1&utm_medium=m&r=2": "http://a.com/p?q=1&r=2",
        "http://A.com/": "http://a.com/",      # root slash stays
        "http://a.com/x/y/": "http://a.com/x/y",
        "http://a.com/?fbclid=abc": "http://a.com/",
        "http://a.com/p?utm_source=1&utm_medium=2": "http://a.com/p",
        "http://a.com/clean?q=1": "http://a.com/clean?q=1",  # untouched
    }
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], "i int, u string")
    got = {r["u"]: r["c"] for r in
           df.select("u", canonicalize_url("u").alias("c")).collect()}
    for u, want in cases.items():
        assert got[u] == want, (u, got[u], want)


def test_wide_quantile_rank_bounds_contain_exact_counts(spark):
    """rank_bounds=True (VERDICT r5 #5): the in-merge rank interval
    must be a TRUE bound — ltl <= exact count(<v) and
    leu >= exact count(<=v), verified against the independent
    rank_counts_wide re-scan — and tight enough for the verdict
    tolerance (within n/accuracy + partitions of exact)."""
    from quokka_spark.operators.linalg import (approximate_quantile_wide,
                                               rank_counts_wide)
    from pyspark.sql import functions as F
    n, acc, probs = 40_000, 500, [0.5, 0.99]
    cols = [(((F.col("id") * (i + 7)) % 10007) / 7.0).alias(f"c{i}")
            for i in range(20)]
    wide = spark.range(n).select(*cols)
    names = [f"c{i}" for i in range(20)]
    q = approximate_quantile_wide(wide, names, probs, accuracy=acc,
                                  rank_bounds=True).toPandas()
    apx = {r["column"]: [float(r["q0_5"]), float(r["q0_99"])]
           for _, r in q.iterrows()}
    exact = rank_counts_wide(wide, names, apx)
    slack = n / acc + 64   # merge-level + per-partition integer edges
    for _, r in q.iterrows():
        lt, le = exact[r["column"]]
        for pi, p in enumerate(["q0_5", "q0_99"]):
            assert r[f"ltl_{p}"] <= lt[pi] + 1e-9, (r["column"], p)
            assert r[f"leu_{p}"] >= le[pi] - 1e-9, (r["column"], p)
            assert lt[pi] - r[f"ltl_{p}"] <= slack, (r["column"], p)
            assert r[f"leu_{p}"] - le[pi] <= slack, (r["column"], p)


def test_read_lance_native_dispatch_via_injected_handle(spark, qc,
                                                        tmp_path):
    """VERDICT r5 #7: a native .lance path dispatches to the lance
    package's fragment scan (one partition per NATIVE fragment,
    same columns/filter surface). The package is absent in this
    container, so a fake handle is injected at the documented point —
    values, fragment parallelism, and the no-package gate are all
    asserted."""
    import pyarrow as pa

    # defined INSIDE the test so cloudpickle ships them BY VALUE to
    # the DataSource planning worker (tests/ is not on its sys.path)
    class FakeLanceFragment:
        def __init__(self, fragment_id, table):
            self.fragment_id = fragment_id
            self._table = table

        def to_table(self, columns=None, filter=None):  # noqa: A002
            t = self._table
            if filter is not None:
                t = t.filter(filter)
            if columns is not None:
                t = t.select(columns)
            return t

    class FakeLance:
        def __init__(self, tables):
            self._frags = [FakeLanceFragment(i, t)
                           for i, t in enumerate(tables)]
            self.schema = tables[0].schema

        def dataset(self, path):
            return self

        def get_fragments(self):
            return self._frags

        def get_fragment(self, fid):
            return self._frags[fid]

    t1 = pa.table({"doc_id": [1, 2], "vec": [[1.0, 0.0], [0.0, 1.0]]})
    t2 = pa.table({"doc_id": [3], "vec": [[0.5, 0.5]]})
    fake = FakeLance([t1, t2])
    native_dir = tmp_path / "emb.lance"
    native_dir.mkdir()
    ds = qc.read_lance(str(native_dir), vec_column="vec",
                       native_handle=fake)
    got = ds.df.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert list(got["doc_id"]) == [1, 2, 3]
    assert list(got["vec"][0]) == [1.0, 0.0]
    assert ds.df.rdd.getNumPartitions() == 2      # one per fragment

    # without the package (or an injected handle) the native layout is
    # GATED, never misread
    import pytest
    with pytest.raises(Exception, match="lance"):
        qc.read_lance(str(tmp_path / "other.lance"), vec_column="vec")


def test_lance_native_pushdown_reaches_injected_fragments(spark, qc,
                                                          tmp_path):
    """VERDICT r6 #8: with pushdown=True, an accepted comparison
    filter must arrive at the injected handle's fragment scan
    (to_table(filter=...)). Spark REMOVES its own Filter for filters
    pushFilters accepts, so this is end-to-end: if the reader dropped
    the filter on the way to the fragment, the violating rows below
    would leak into the result."""
    import pyarrow as pa

    class FakeLanceFragment:
        def __init__(self, fragment_id, table):
            self.fragment_id = fragment_id
            self._table = table

        def to_table(self, columns=None, filter=None):  # noqa: A002
            # loud vacuity guard: this test exists to pin that the
            # accepted filter ARRIVES here — Spark-side filtering
            # would otherwise mask a dropped pushdown
            assert filter is not None, \
                "pushed filter did not reach the fragment scan"
            t = self._table.filter(filter)
            if columns is not None:
                t = t.select(columns)
            return t

    class FakeLance:
        def __init__(self, tables):
            self._frags = [FakeLanceFragment(i, t)
                           for i, t in enumerate(tables)]
            self.schema = tables[0].schema

        def dataset(self, path):
            return self

        def get_fragments(self):
            return self._frags

        def get_fragment(self, fid):
            return self._frags[fid]

    t1 = pa.table({"doc_id": [1, 2], "vec": [[1.0, 0.0], [0.0, 1.0]]})
    t2 = pa.table({"doc_id": [3, 4], "vec": [[0.5, 0.5], [0.2, 0.8]]})
    native_dir = tmp_path / "push.lance"
    native_dir.mkdir()
    ds = qc.read_lance(str(native_dir), vec_column="vec", pushdown=True,
                       native_handle=FakeLance([t1, t2]))
    got = ds.df.filter("doc_id >= 2").toPandas()
    assert sorted(got["doc_id"]) == [2, 3, 4]
    assert all(len(v) == 2 for v in got["vec"])


def test_orc_roundtrip_and_pushdown(spark, qc, tmp_path):
    """read_orc/write_orc: values survive the roundtrip, the filter
    reaches the ORC scan (searchArgument/PushedFilters), and the
    projection prunes the read schema — the same plan contract as
    parquet."""
    import contextlib
    import io
    src = qc.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    dst = str(tmp_path / "li_orc")
    out = src.write_orc(dst, partition_by=["l_linestatus"])
    assert out.df.count() > 0  # filename stream
    back = qc.read_orc(dst)
    assert back.df.count() == src.df.count()
    a = src.df.agg(F.round(F.sum("l_extendedprice"), 2)).first()[0]
    b = back.df.agg(F.round(F.sum("l_extendedprice"), 2)).first()[0]
    assert a == b
    plan_df = back.filter_sql("l_quantity > 25").df \
        .select("l_orderkey", "l_quantity")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain(mode="formatted")
    s = buf.getvalue()
    assert "PushedFilters" in s and "l_quantity" in s.split("PushedFilters")[1].split("\n")[0], s
    assert "l_extendedprice" not in s.split("ReadSchema")[1].split("\n")[0]


def test_avro_roundtrip_types_and_nulls(spark, qc, tmp_path):
    """read_avro/write_avro without the spark-avro jar: primitives,
    date/timestamp logical types, array columns and nulls all survive
    a distributed multi-partition roundtrip through the pure-Python
    codec; unsupported shapes raise clear errors."""
    import datetime
    pdf = pd.DataFrame({
        "id": np.arange(100, dtype="int64"),
        "name": [f"n{i}" if i % 7 else None for i in range(100)],
        "score": [float(i) / 3 if i % 5 else None for i in range(100)],
        "flag": [bool(i % 2) for i in range(100)],
        "d": [datetime.date(2024, 1, 1 + (i % 28)) for i in range(100)],
        "ts": pd.to_datetime(np.arange(100) * 977, unit="s"),
        "vec": [[float(i), float(i) * 2] for i in range(100)],
    })
    df = spark.createDataFrame(pdf)
    dst = str(tmp_path / "avro_out")
    out = df.repartition(4)
    from quokka_spark.datastream import DataStream
    files = DataStream(qc, out).write_avro(dst)
    assert files.df.count() >= 1
    back = qc.read_avro(dst).df
    b = back.toPandas().sort_values("id").reset_index(drop=True)
    assert len(b) == 100
    assert list(b["id"]) == list(range(100))
    assert b["name"].isna().sum() == pdf["name"].isna().sum()
    assert np.allclose(b["score"].dropna(),
                       pdf["score"].dropna(), rtol=1e-12)
    assert list(b["flag"]) == list(pdf["flag"])
    assert list(b["d"]) == list(pdf["d"])
    assert (pd.to_datetime(b["ts"]).values
            == pdf["ts"].values).all()
    assert all(list(x) == y for x, y in zip(b["vec"], pdf["vec"]))
    # schema fidelity through the mapped Spark types
    dt = dict(back.dtypes)
    assert dt["d"] == "date" and dt["ts"] == "timestamp"
    assert dt["vec"] == "array<double>" and dt["id"] == "bigint"

    # unsupported write shape -> loud gate
    import pytest
    with pytest.raises(NotImplementedError, match="not supported"):
        DataStream(qc, spark.sql(
            "select map('a', 1) as m")).write_avro(str(tmp_path / "bad"))


def test_avro_nullable_long_keeps_precision(spark, qc, tmp_path):
    """A nullable long column holding values above 2^53 must survive
    the read exactly — from_records used to coerce a None-bearing int
    column to float64, silently rounding big longs (round-7 ADVICE).
    Built column-wise as pandas Int64 now."""
    from quokka_spark.datastream import DataStream
    big = (1 << 53) + 1          # not representable in float64
    df = spark.createDataFrame(
        [(1, big), (2, None), (3, big + 4)], "id long, v long")
    dst = str(tmp_path / "bigavro")
    DataStream(qc, df.coalesce(1)).write_avro(dst)
    back = {r["id"]: r["v"] for r in qc.read_avro(dst).df.collect()}
    assert back == {1: big, 2: None, 3: big + 4}


def test_avro_null_logicals_nesting_and_commit(spark, qc, tmp_path):
    """Review-pass regressions for the avro source: null dates and
    timestamps survive the from_records NaN coercion; array<date>
    converts elementwise; nested-record logical fields convert on
    read; bare enum/fixed schema strings gate loudly; a regular-file
    target is overwritten; overwrite discards stray files; schema
    inference is header-only."""
    import datetime

    import pytest
    from pyspark.sql import types as T

    from quokka_spark.datastream import DataStream
    from quokka_spark.sources.avro_lite import read_container_meta, \
        write_container
    from quokka_spark.sources.avro_source import _avro_to_spark_type

    pdf = pd.DataFrame({
        "id": np.arange(20, dtype="int64"),
        "d": [datetime.date(2024, 1, 1 + i) if i % 3 else None
              for i in range(20)],
        "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i)
               if i % 4 else None for i in range(20)],
        "ds": [[datetime.date(2024, 2, 1 + i), None] if i % 2 else None
               for i in range(20)],
    })
    sch = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ds", T.ArrayType(T.DateType())),
    ])
    df = spark.createDataFrame(pdf, schema=sch).repartition(3)
    dst = str(tmp_path / "avro_nulls")
    DataStream(qc, df).write_avro(dst)
    back = qc.read_avro(dst).df
    assert dict(back.dtypes) == {
        "id": "bigint", "d": "date", "ts": "timestamp",
        "ds": "array<date>"}
    b = back.toPandas().sort_values("id").reset_index(drop=True)
    assert list(b["d"].isna()) == list(pdf["d"].isna())
    assert list(b["d"].dropna()) == list(pdf["d"].dropna())
    assert list(b["ts"].isna()) == list(pdf["ts"].isna())
    assert (b["ts"].dropna().values == pdf["ts"].dropna().values).all()
    for got, want in zip(b["ds"], pdf["ds"]):
        if want is None:
            assert got is None or (isinstance(got, float) and got != got)
        else:
            assert list(got) == want

    # nested-record logical field converts on read (read-only shape)
    rec_sch = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": "long"},
        {"name": "info", "type": ["null", {
            "type": "record", "name": "info", "fields": [
                {"name": "when",
                 "type": ["null", {"type": "int", "logicalType": "date"}]},
                {"name": "n", "type": "long"}]}]},
    ]}
    nested = str(tmp_path / "nested.avro")
    write_container(nested, rec_sch, [
        {"id": 1, "info": {"when": 19723, "n": 5}},
        {"id": 2, "info": None},
        {"id": 3, "info": {"when": None, "n": 7}},
    ])
    nb = qc.read_avro(nested).df
    assert dict(nb.dtypes)["info"] == "struct<when:date,n:bigint>"
    rows = {r["id"]: r["info"] for r in nb.collect()}
    assert rows[1]["when"] == datetime.date(1970, 1, 1) \
        + datetime.timedelta(days=19723)
    assert rows[2] is None
    assert rows[3]["when"] is None and rows[3]["n"] == 7

    # bare enum/fixed schema strings (invalid Avro) gate loudly
    for bad in ("enum", "fixed"):
        with pytest.raises(NotImplementedError, match="not supported"):
            _avro_to_spark_type(bad, "f")

    # schema inference reads the header only
    meta = read_container_meta(nested)
    assert "row" in meta["avro.schema"]

    # regular-file target is overwritten, not FileExistsError
    filedst = str(tmp_path / "as_file.avro")
    with open(filedst, "w") as f:
        f.write("not avro")
    DataStream(qc, df.select("id")).write_avro(filedst)
    assert os.path.isdir(filedst)
    assert qc.read_avro(filedst).df.count() == 20

    # overwrite discards stray files in the target directory
    import shutil as _sh
    part = sorted(os.listdir(dst))[0]
    _sh.copy(os.path.join(dst, part), os.path.join(dst, "stray.avro"))
    DataStream(qc, df).write_avro(dst)
    assert not os.path.exists(os.path.join(dst, "stray.avro"))
    assert qc.read_avro(dst).df.count() == 20
    # and no staging residue next to the target
    assert not [p for p in os.listdir(tmp_path) if ".staging-" in p]


def test_explode_verb_inner_and_outer(spark, qc):
    """DataStream.explode: one row per array element; outer keeps
    null/empty arrays with a null element (LEFT JOIN UNNEST)."""
    ds = qc.from_pandas(__import__("pandas").DataFrame({
        "k": [1, 2, 3],
        "xs": [[10, 20], [], None]}))
    inner = ds.explode("xs").df.collect()
    assert sorted((r["k"], r["xs"]) for r in inner) == [(1, 10), (1, 20)]
    outer = ds.explode("xs", outer=True).df.collect()
    got = sorted(((r["k"], r["xs"]) for r in outer),
                 key=lambda t: (t[0], t[1] is None, t[1] or 0))
    assert got == [(1, 10), (1, 20), (2, None), (3, None)]
    # alias keeps the array column alongside
    al = ds.explode("xs", alias="x").df
    assert set(al.columns) == {"k", "xs", "x"}


def test_embedding_lsh_auto_bits_small_dim(spark):
    """Round-8 review pin: auto-sized bucket width is capped by the
    vector DIMENSION — dim-8 vectors at a corpus size that computes 9
    bits previously produced ZERO hash tables and a silent empty pair
    set. Planted near-identical pairs must still surface."""
    import numpy as np

    from quokka_spark.functions.dedup import embedding_near_pairs_lsh
    rng = np.random.default_rng(5)
    base = rng.normal(size=(300, 8)).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a planted near-dup for every 10th vector
        if i % 10 == 0:
            w = v + rng.normal(scale=0.01, size=8).astype("float32")
            rows.append((10_000 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # corpus bigger than 200 so auto-sizing kicks in; dim=8 caps it
    got = embedding_near_pairs_lsh(df, threshold=0.95).toPandas()
    planted = {(i, 10_000 + i) for i in range(0, 300, 10)}
    found = {(min(a, b), max(a, b))
             for a, b in zip(got["id1"], got["id2"])}
    assert planted <= found          # every planted pair surfaces
