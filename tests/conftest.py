import os
import sys
import uuid

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from quokka_spark.session import build_spark
    # TEST-scale shuffle-partition trim (round 14, suite-runtime fix —
    # verdict-13 item #1): the suite's bounded streaming replays pin
    # their state-partition count at first query start, and per-
    # partition state-store open/commit dominates their cost at test
    # scale; 8 -> 3 cut test_timeseries from 396 s to 326 s with all
    # 65 tests green, and the rest of the suite is KB-scale data where
    # exchange width is irrelevant. Executor parallelism is untouched
    # (master stays local[cpus]); engine kernels size their own
    # parallelism via ensure_parallelism. Production sizing guidance
    # lives in session.py — this trim is test-fixture policy, not an
    # engine default.
    s = build_spark(app_name="quokka_spark_tests",
                    cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                    extra_conf={"spark.sql.shuffle.partitions":
                                os.environ.get("SPARK_GRAFT_TEST_SHUFFLE",
                                               "3")})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def qc(spark):
    from quokka_spark import QuokkaContext
    return QuokkaContext(spark=spark)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical form: columns sorted by name, rows sorted
    by all columns, dtypes normalized."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    if len(df):
        df = df.sort_values(list(df.columns), na_position="first") \
               .reset_index(drop=True)
    return df


def jobs_run_by(spark, fn):
    """(fn(), ids of the Spark jobs it ran), counted by job group once
    the listener bus has delivered every job start."""
    sc = spark.sparkContext
    group = f"jobs_probe_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def assert_matches_oracle(spark, name: str, sf_dir: str, atol: float = 1e-9):
    import __spark_entry__ as entry_mod
    q = entry_mod.queries()[name]
    raw_sdf = q(spark, sf_dir).toPandas()
    sdf = canonicalize(raw_sdf)
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(sdf) >= 0
        return sdf, None
    con = duck_con(sf_dir)
    raw_odf = con.execute(sql).fetchdf()
    # driver hashes raw value representations: an int64 Spark column vs a
    # HUGEINT->float64 DuckDB column hash-mismatches even when values are
    # equal (the round-1 tpch_q12 failure). Catch int-vs-float kind drift
    # here before canonicalization normalizes it away.
    for c in raw_sdf.columns:
        if c not in raw_odf.columns:
            continue
        sk, ok = raw_sdf[c].dtype.kind, raw_odf[c].dtype.kind
        int_kinds, float_kinds = set("iu"), set("f")
        if (sk in int_kinds and ok in float_kinds) or \
                (sk in float_kinds and ok in int_kinds):
            raise AssertionError(
                f"{name}: column {c} dtype kind drift: spark={raw_sdf[c].dtype}"
                f" oracle={raw_odf[c].dtype} — would hash-mismatch in driver;"
                f" CAST the oracle (or Spark side) to align")
    odf = canonicalize(raw_odf)
    assert list(sdf.columns) == list(odf.columns), \
        f"{name}: columns {list(sdf.columns)} != {list(odf.columns)}"
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != {len(odf)}"
    for c in sdf.columns:
        a, b = sdf[c], odf[c]
        if pd.api.types.is_float_dtype(a):
            mism = np.asarray(~np.isclose(a.fillna(np.nan), b.fillna(np.nan),
                                          atol=atol, rtol=0, equal_nan=True))
        else:
            mism = np.asarray(~((a == b) | (a.isna() & b.isna())))
        if mism.any():
            i = int(np.nonzero(mism)[0][0])
            raise AssertionError(
                f"{name}: column {c} mismatch at row {i}: "
                f"spark={a.iloc[i]!r} oracle={b.iloc[i]!r} ({int(mism.sum())} total)")
    return sdf, odf
