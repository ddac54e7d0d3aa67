"""Pure-Python local Delta tables (sources/delta_local.py): log
replay, remove semantics, time travel, write/append/overwrite
roundtrips, and the gated unsupported shapes."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE


def test_delta_create_read_and_time_travel(spark, qc, tmp_path):
    li = os.path.join(SF_SMOKE, "lineitem.parquet")
    dup = str(tmp_path / "li_dup.parquet")
    os.symlink(li, dup)
    from quokka_spark.sources.delta_local import create_local_delta_table
    tbl = str(tmp_path / "tbl")
    create_local_delta_table(tbl, [[li], [li, dup]])
    n = spark.read.parquet(li).count()
    assert qc.read_delta(tbl, version=0).count() == n
    assert qc.read_delta(tbl).count() == 2 * n          # latest = doubled
    with pytest.raises(ValueError):
        qc.read_delta(tbl, version=7)


def test_delta_remove_action_drops_files(spark, qc, tmp_path):
    li = os.path.join(SF_SMOKE, "lineitem.parquet")
    ord_ = os.path.join(SF_SMOKE, "orders.parquet")
    from quokka_spark.sources.delta_local import create_local_delta_table
    tbl = str(tmp_path / "tbl")
    # v0: both files; v1: orders removed
    create_local_delta_table(tbl, [[li, ord_], [li]])
    n_li = spark.read.parquet(li).count()
    n_ord = spark.read.parquet(ord_).count()
    assert qc.read_delta(tbl, version=0).count() == n_li + n_ord
    assert qc.read_delta(tbl).count() == n_li


def test_delta_write_roundtrip_append_overwrite(spark, qc, tmp_path):
    tbl = str(tmp_path / "w")
    base = qc.read_parquet(os.path.join(SF_SMOKE, "region.parquet"))
    v0 = base.write_delta(tbl)
    assert v0 == 0
    got0 = qc.read_delta(tbl).collect()
    assert len(got0) == base.count()

    v1 = base.write_delta(tbl, mode="append")
    assert v1 == 1
    assert qc.read_delta(tbl).count() == 2 * base.count()
    # time travel back to the single copy
    assert qc.read_delta(tbl, version=0).count() == base.count()

    v2 = base.filter_sql("r_regionkey <= 1").write_delta(tbl,
                                                         mode="overwrite")
    assert v2 == 2
    assert qc.read_delta(tbl).count() == 2
    assert qc.read_delta(tbl, version=1).count() == 2 * base.count()


def test_delta_pushdown_reaches_scan(spark, qc, tmp_path):
    """The replayed file list feeds a NATIVE parquet scan: filters
    must reach the reader exactly as on raw parquet."""
    import contextlib
    import io
    tbl = str(tmp_path / "p")
    qc.read_parquet(os.path.join(SF_SMOKE, "orders.parquet")) \
        .write_delta(tbl)
    ds = qc.read_delta(tbl).filter_sql("o_orderkey < 100") \
        .select(["o_orderkey", "o_custkey"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ds.df.explain(mode="formatted")
    s = buf.getvalue()
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey" in s
    read_schema = [l for l in s.splitlines() if "ReadSchema" in l][0]
    assert "o_orderdate" not in read_schema


def test_delta_gated_unsupported_shapes(spark, qc, tmp_path):
    import json
    from quokka_spark.sources.delta_local import create_local_delta_table
    li = os.path.join(SF_SMOKE, "lineitem.parquet")
    tbl = str(tmp_path / "g")
    create_local_delta_table(tbl, [[li]])
    # an unknown DV storage type → clear gate, not wrong answers
    with open(os.path.join(tbl, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"add": {"path": li, "size": 1,
                                     "modificationTime": 0,
                                     "dataChange": True,
                                     "partitionValues": {},
                                     "deletionVector": {"storageType": "x"}}})
                 + "\n")
    with pytest.raises(NotImplementedError, match="storageType"):
        qc.read_delta(tbl).df.collect()


def test_delta_checkpoint_replay_and_log_cleanup(spark, qc, tmp_path):
    """Checkpoint parquet replay (VERDICT r5 #1): state reconstructs
    from the newest checkpoint ≤ target plus trailing JSON commits —
    including after the pre-checkpoint JSON commits are cleaned up,
    the shape every long-lived real-world Delta table has."""
    import json as _json
    from quokka_spark.sources.delta_local import (
        _commit, create_local_delta_table, write_checkpoint_local)
    li = os.path.join(SF_SMOKE, "lineitem.parquet")
    tbl = str(tmp_path / "cp")
    dup = str(tmp_path / "li_dup.parquet")
    os.symlink(os.path.abspath(li), dup)
    create_local_delta_table(tbl, [[li], [li, dup]])
    base = qc.read_delta(tbl).df.count()          # v1 = doubled
    single = qc.read_delta(tbl, version=0).df.count()
    assert base == 2 * single

    assert write_checkpoint_local(tbl) == 1
    log = os.path.join(tbl, "_delta_log")
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))
    # log cleanup: drop every JSON commit the checkpoint covers
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    # latest still reads — state comes entirely from the checkpoint
    assert qc.read_delta(tbl).df.count() == base
    # a JSON commit ON TOP of the checkpoint replays too (remove dup)
    _commit(tbl, 2, [{"remove": {"path": os.path.abspath(dup),
                                 "deletionTimestamp": 0,
                                 "dataChange": True}}])
    assert qc.read_delta(tbl).df.count() == single
    assert qc.read_delta(tbl, version=1).df.count() == base  # time travel
    # pre-checkpoint versions are genuinely gone → clear error
    with pytest.raises(ValueError, match="version 0 not in table"):
        qc.read_delta(tbl, version=0)


def test_delta_partitioned_write_read_roundtrip(spark, qc, tmp_path):
    """Partitioned tables (VERDICT r5 #1): partitionValues live in
    the log, join back as TYPED columns, survive escaping and nulls,
    and partition_filter prunes the file list before the scan."""
    from quokka_spark.sources.delta_local import write_delta_local
    rows = [(2023, "a", 1.0), (2023, "a/b c", 2.0), (2024, "a", 3.0),
            (2024, "a/b c", 4.0), (None, "a", 5.0)]
    df = spark.createDataFrame(rows, "year bigint, tag string, v double")
    tbl = str(tmp_path / "p")
    assert write_delta_local(df, tbl, partition_by=["year", "tag"]) == 0
    got = qc.read_delta(tbl).df
    assert [f.name for f in got.schema.fields] == ["year", "tag", "v"]
    assert dict(got.dtypes)["year"] == "bigint"   # typed, not string
    gp = got.toPandas().sort_values("v").reset_index(drop=True)
    assert list(gp["v"]) == [1.0, 2.0, 3.0, 4.0, 5.0]
    assert list(gp["tag"]) == ["a", "a/b c", "a", "a/b c", "a"]
    assert gp["year"].isna().tolist() == [False] * 4 + [True]
    # log-level pruning: only the matching files are scanned
    pruned = qc.read_delta(tbl, partition_filter="year = 2024").df
    assert sorted(r["v"] for r in pruned.collect()) == [3.0, 4.0]
    assert len(pruned.inputFiles()) < len(got.inputFiles())
    # empty partition selection → empty but correctly-typed result
    none = qc.read_delta(tbl, partition_filter="year = 1999").df
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == ["year", "tag", "v"]


def test_delta_partitioned_checkpoint_roundtrip(spark, qc, tmp_path):
    """partitionValues survive the checkpoint parquet (arrow map
    round-trip) — read after cleanup still yields typed columns."""
    from quokka_spark.sources.delta_local import (write_checkpoint_local,
                                                  write_delta_local)
    df = spark.createDataFrame([(2023, 1.0), (2024, 2.0)], "year int, v double")
    tbl = str(tmp_path / "pc")
    write_delta_local(df, tbl, partition_by="year")
    write_delta_local(df.withColumn("v", df.v * 10), tbl, partition_by="year")
    write_checkpoint_local(tbl)
    log = os.path.join(tbl, "_delta_log")
    for v in (0, 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = qc.read_delta(tbl).df.toPandas().sort_values("v")
    assert list(got["v"]) == [1.0, 2.0, 10.0, 20.0]
    assert list(got["year"]) == [2023, 2024, 2023, 2024]
    pruned = qc.read_delta(tbl, partition_filter="year = 2023").df
    assert sorted(r["v"] for r in pruned.collect()) == [1.0, 10.0]


def test_delta_not_a_table_error(spark, qc, tmp_path):
    with pytest.raises(FileNotFoundError, match="_delta_log"):
        qc.read_delta(str(tmp_path / "nope"))


def test_delta_upsert_merge_semantics(spark, qc, tmp_path):
    """Copy-on-write MERGE: matched keys replaced, unmatched rows
    survive, new keys appended — one atomic version; time travel sees
    the pre-upsert state; untouched files stay referenced as-is."""
    from quokka_spark.sources.delta_local import (list_versions,
                                                  upsert_delta_local)
    tbl = str(tmp_path / "u")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string")
    qc.from_pandas(base.toPandas()).write_delta(tbl)
    upd = spark.createDataFrame(
        [(3, "NEW3"), (7, "NEW7"), (42, "NEW42")], "k long, v string")
    v = upsert_delta_local(spark, tbl, upd, "k")
    assert v == 1 and list_versions(tbl) == [0, 1]
    got = {r["k"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert len(got) == 11
    assert got[3] == "NEW3" and got[7] == "NEW7" and got[42] == "NEW42"
    assert got[0] == "v0" and got[9] == "v9"
    # time travel: pre-upsert state intact
    before = {r["k"]: r["v"] for r in qc.read_delta(tbl, version=0).df.collect()}
    assert before[3] == "v3" and 42 not in before


def test_delta_upsert_append_only_when_no_match(spark, qc, tmp_path):
    from quokka_spark.sources.delta_local import upsert_delta_local
    tbl = str(tmp_path / "u2")
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    qc.from_pandas(base.toPandas()).write_delta(tbl)
    upd = spark.createDataFrame([(2, "b")], "k long, v string")
    upsert_delta_local(spark, tbl, upd, "k")
    got = {r["k"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: "a", 2: "b"}


def test_delta_replay_matches_simulation(tmp_path):
    """Property: for random version lists, the replayed live-file set
    equals a straightforward set simulation — no Spark needed, the
    replay is pure Python."""
    import random
    from quokka_spark.sources.delta_local import (_replay,
                                                  create_local_delta_table)
    rng = random.Random(7)
    pool = []
    for i in range(6):
        f = tmp_path / f"f{i}.parquet"
        f.write_bytes(b"x")  # size only; never scanned here
        pool.append(str(f))
    for trial in range(10):
        versions = [sorted(rng.sample(pool, rng.randint(0, len(pool))))
                    for _ in range(rng.randint(1, 5))]
        tbl = str(tmp_path / f"t{trial}")
        create_local_delta_table(tbl, versions)
        for v, expected in enumerate(versions):
            files, _, _, _ = _replay(tbl, v)
            assert sorted(files) == sorted(
                os.path.abspath(p) for p in expected), (trial, v)


def test_delta_checkpoint_deletion_vector_malformed_is_loud(
        spark, qc, tmp_path):
    """A MALFORMED DV add arriving via the CHECKPOINT path (missing
    pathOrInlineDv) must error loudly — never silently resurface
    deleted rows (round-6 ADVICE; DVs themselves are now supported,
    see test_delta_dv_checkpoint_compact_vacuum for the positive
    path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import create_local_delta_table
    li = os.path.join(SF_SMOKE, "lineitem.parquet")
    tbl = str(tmp_path / "cpdv")
    create_local_delta_table(tbl, [[li]])
    dv_t = pa.struct([("storageType", pa.string())])
    add_t = pa.struct([("path", pa.string()),
                       ("partitionValues", pa.map_(pa.string(), pa.string())),
                       ("size", pa.int64()), ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_()), ("deletionVector", dv_t)])
    rows = [{"add": {"path": li, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": False,
                     "deletionVector": {"storageType": "u"}}}]
    cp = os.path.join(tbl, "_delta_log", f"{0:020d}.checkpoint.parquet")
    pq.write_table(pa.Table.from_pylist(rows, pa.schema([("add", add_t)])), cp)
    with pytest.raises((KeyError, ValueError, NotImplementedError)):
        qc.read_delta(tbl)


def test_delta_column_mapping_gated(spark, qc, tmp_path):
    """delta.columnMapping.mode != 'none' means the parquet column
    names are physical ids, not the logical schema — must gate, not
    return wrongly-named columns (round-6 ADVICE)."""
    import json
    from quokka_spark.sources.delta_local import create_local_delta_table
    li = os.path.join(SF_SMOKE, "lineitem.parquet")
    tbl = str(tmp_path / "cm")
    create_local_delta_table(tbl, [[li]])
    v0 = os.path.join(tbl, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(ln) for ln in open(v0) if ln.strip()]
    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "name"}
    with open(v0, "w") as fh:
        for a in lines:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(NotImplementedError, match="columnMapping"):
        qc.read_delta(tbl)


def test_delta_all_null_partition_column_reads(spark, qc, tmp_path):
    """Every live file null for a partition column: the mapping frame
    must not depend on type inference (round-6 ADVICE — inference
    raises 'Some of types cannot be determined' on an all-None
    column)."""
    from quokka_spark.sources.delta_local import write_delta_local
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0)], "year int, v double")
    tbl = str(tmp_path / "allnull")
    write_delta_local(df, tbl, partition_by="year")
    got = qc.read_delta(tbl).df.toPandas().sort_values("v")
    assert list(got["v"]) == [1.0, 2.0]
    assert got["year"].isna().all()
    assert dict(qc.read_delta(tbl).df.dtypes)["year"] == "int"


# ----------------------------------------------------------------------
# stats-based data skipping (scan_filter, round 7)
# ----------------------------------------------------------------------

def test_delta_scan_filter_skips_files_on_stats(spark, qc, tmp_path):
    """write_delta_local records per-file footer stats; a scan_filter
    that a file's min/max refute skips the file entirely (inputFiles
    pin), and the kept file is row-filtered exactly."""
    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import write_delta_local
    tbl = str(tmp_path / "stbl")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2.0).alias("v"))
    write_delta_local(df.repartitionByRange(4, F.col("id")), tbl)
    got = qc.read_delta(tbl, scan_filter="id >= 900").df
    assert got.count() == 100
    assert sorted(r["id"] for r in got.collect()) == list(range(900, 1000))
    assert len(got.inputFiles()) == 1
    assert len(qc.read_delta(tbl).df.inputFiles()) == 4


def test_delta_scan_filter_unsupported_shape_rows_exact(spark, qc,
                                                        tmp_path):
    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import write_delta_local
    tbl = str(tmp_path / "stbl2")
    df = spark.range(0, 100)
    write_delta_local(df.repartitionByRange(2, F.col("id")), tbl)
    got = qc.read_delta(tbl, scan_filter="id = 5 OR id = 95").df
    assert sorted(r["id"] for r in got.collect()) == [5, 95]
    assert len(got.inputFiles()) == 2  # OR is not bounds-pruned


def test_delta_scan_filter_statless_table_row_filters(spark, qc,
                                                      tmp_path):
    """create_local_delta_table writes no stats — every file kept,
    row filter still exact."""
    import pandas as pd

    from quokka_spark.sources.delta_local import create_local_delta_table
    a = str(tmp_path / "a.parquet")
    pd.DataFrame({"id": range(10)}).to_parquet(a)
    tbl = str(tmp_path / "ntbl")
    create_local_delta_table(tbl, [[a]])
    got = qc.read_delta(tbl, scan_filter="id >= 8").df
    assert got.count() == 2


def test_delta_scan_filter_all_pruned_empty_typed(spark, qc, tmp_path):
    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import write_delta_local
    tbl = str(tmp_path / "etbl")
    write_delta_local(spark.range(0, 100), tbl)
    got = qc.read_delta(tbl, scan_filter="id > 100000").df
    assert got.count() == 0
    assert dict(got.dtypes)["id"] == "bigint"


def test_delta_scan_filter_survives_checkpoint(spark, qc, tmp_path):
    """Checkpoints must carry stats, or skipping would silently stop
    working on long-lived tables after log cleanup."""
    import os

    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import (write_checkpoint_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "ctbl")
    write_delta_local(
        spark.range(0, 1000).repartitionByRange(4, F.col("id")), tbl)
    write_checkpoint_local(tbl)
    os.remove(os.path.join(tbl, "_delta_log", f"{0:020d}.json"))
    got = qc.read_delta(tbl, scan_filter="id < 250").df
    assert got.count() == 250
    assert len(got.inputFiles()) == 1


def test_delta_scan_filter_with_dates_and_partitions(spark, qc,
                                                     tmp_path):
    """Date-typed stats (ISO strings in the JSON) compare against
    date literals; composes with partition_filter on a partitioned
    table."""
    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import write_delta_local
    tbl = str(tmp_path / "dtbl")
    df = spark.range(0, 100).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        (F.col("id") % 2).cast("string").alias("p"))
    write_delta_local(df.repartitionByRange(4, F.col("id")), tbl,
                      partition_by="p")
    got = qc.read_delta(tbl, partition_filter="p = '0'",
                        scan_filter="d >= date'2024-03-01'").df
    want = [i for i in range(100) if i % 2 == 0 and i >= 60]
    assert sorted(r["id"] for r in got.collect()) == want


# ----------------------------------------------------------------------
# maintenance: compaction + vacuum (round 7)
# ----------------------------------------------------------------------

def test_delta_compact_and_vacuum(spark, qc, tmp_path):
    """Compaction rewrites 8 small files into 1 (atomic swap, stats
    refreshed), time travel still sees the old layout, and vacuum
    then reclaims the orphaned small files."""
    import os

    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  vacuum_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "ctbl")
    write_delta_local(spark.range(0, 1000).repartition(8), tbl)
    assert len(qc.read_delta(tbl).df.inputFiles()) == 8
    v = compact_delta_local(spark, tbl, target_file_rows=10_000)
    df = qc.read_delta(tbl).df
    assert df.count() == 1000
    assert len(df.inputFiles()) == 1
    # pre-compaction version intact
    old = qc.read_delta(tbl, version=v - 1).df
    assert old.count() == 1000 and len(old.inputFiles()) == 8
    # stats on the compacted file still drive skipping semantics
    assert qc.read_delta(tbl, scan_filter="id < 10").df.count() == 10
    deleted = vacuum_delta_local(tbl, keep_last=1)
    assert deleted == 8
    assert qc.read_delta(tbl).df.count() == 1000


def test_delta_compact_partitioned_keeps_pruning(spark, qc, tmp_path):
    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "ptbl")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p"))
    write_delta_local(df.repartition(6), tbl, partition_by="p")
    n_before = len(qc.read_delta(tbl).df.inputFiles())
    compact_delta_local(spark, tbl, target_file_rows=10_000)
    got = qc.read_delta(tbl, partition_filter="p = '1'").df
    assert got.count() == 200
    assert len(got.inputFiles()) < n_before
    assert all(r["p"] == "1" for r in got.select("p").distinct().collect())


def test_delta_scan_filter_timestamp_stats_vs_date_literal(
        spark, qc, tmp_path):
    """A date literal against a TIMESTAMP column compares in datetime
    space (literal at midnight — Spark's own cast), never by
    truncating the stat string to a date: truncation lowered the max
    bound and `ts > date'...'` silently skipped files whose matching
    rows fall later that same day."""
    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import (_prune_by_stats,
                                                  write_delta_local)
    tbl = str(tmp_path / "tstbl")
    df = spark.createDataFrame(
        [("2024-02-01 10:00:00",), ("2024-02-15 10:00:00",),
         ("2024-03-01 23:00:00",)], "s string") \
        .select(F.to_timestamp("s").alias("ts"))
    # INT96 (Spark's default parquet timestamp) carries no footer
    # stats; real Delta writers use int64 micros, which do
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        write_delta_local(df.repartitionByRange(2, F.col("ts")), tbl)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    got = qc.read_delta(tbl, scan_filter="ts > date'2024-03-01'").df
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["ts"].hour == 23
    # pruning still active: the all-February file is skipped
    assert len(got.inputFiles()) == 1
    # the exact review scenario, pinned at the decision level: a file
    # whose max is 23:00 of the literal's day MUST be kept
    adds = [{"stats": {"numRecords": 1,
                       "minValues": {"ts": "2024-03-01T05:00:00"},
                       "maxValues": {"ts": "2024-03-01T23:00:00"}}},
            {"stats": {"numRecords": 1,
                       "minValues": {"ts": "2024-02-01T00:00:00"},
                       "maxValues": {"ts": "2024-02-15T10:00:00"}}}]
    pf, _ = _prune_by_stats(["match.parquet", "feb.parquet"], adds,
                            "ts > date'2024-03-01'")
    assert pf == ["match.parquet"]


def test_delta_partition_filter_validated_even_when_all_pruned(
        spark, qc, tmp_path):
    """A bogus partition_filter on an unpartitioned table errors even
    when scan_filter stats-prunes every file — regression: the
    empty-prune early return skipped the validation, so the error
    depended on the data distribution."""
    import pytest

    from quokka_spark.sources.delta_local import write_delta_local
    tbl = str(tmp_path / "vtbl")
    write_delta_local(spark.range(0, 100), tbl)
    with pytest.raises(ValueError, match="unpartitioned"):
        qc.read_delta(tbl, partition_filter="year = 2024",
                      scan_filter="id > 1000000")


def test_delta_schema_evolution_append_and_travel(spark, qc, tmp_path):
    """An appended frame with a NEW column commits a merged metaData
    (mergeSchema); the read scans with the LOG's schema, so the new
    column surfaces with nulls for pre-evolution files regardless of
    which file inference would have sampled. Time travel to the
    pre-evolution version sees the original schema; a type conflict
    on append is refused."""
    import pytest
    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import write_delta_local
    tbl = str(tmp_path / "evo")
    write_delta_local(spark.range(0, 3).select("id"), tbl)
    write_delta_local(
        spark.range(3, 6).select("id", (F.col("id") * 1.5).alias("score")),
        tbl)
    got = qc.read_delta(tbl).df
    assert got.columns == ["id", "score"]
    rows = {r["id"]: r["score"] for r in got.collect()}
    assert len(rows) == 6
    assert rows[1] is None and rows[4] == 6.0
    assert qc.read_delta(tbl, version=0).df.columns == ["id"]
    with pytest.raises(ValueError, match="conflicts"):
        write_delta_local(
            spark.range(0, 1).select(F.col("id").cast("string").alias("id")),
            tbl)
    # overwrite replaces the schema outright
    write_delta_local(spark.range(0, 2).select(
        F.col("id").cast("string").alias("id")), tbl, mode="overwrite")
    out = qc.read_delta(tbl).df
    assert dict(out.dtypes) == {"id": "string"} and out.count() == 2


def test_delta_upsert_after_schema_evolution_keeps_columns(
        spark, qc, tmp_path):
    """Upsert's survivor rewrite scans with the LOG schema — after
    evolution, a pre-evolution file's survivors are rewritten WITH
    the new column (null), never dropping it from the table."""
    from pyspark.sql import functions as F

    from quokka_spark.sources.delta_local import (upsert_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "ue")
    write_delta_local(spark.range(0, 3).select("id"), tbl)
    write_delta_local(
        spark.range(3, 6).select("id", (F.col("id") * 1.5).alias("score")),
        tbl)
    up = spark.createDataFrame([(1, 9.9)], "id long, score double")
    upsert_delta_local(spark, tbl, up, "id")
    got = qc.read_delta(tbl).df
    assert got.columns == ["id", "score"]
    rows = {r["id"]: r["score"] for r in got.collect()}
    assert len(rows) == 6
    assert rows[1] == 9.9 and rows[0] is None and rows[4] == 6.0


def test_delta_partitioned_append_inherits_partitioning(
        spark, qc, tmp_path):
    """Appending to a partitioned table WITHOUT partition_by inherits
    the table's partitioning (regression: the rows committed with
    empty partitionValues and read back null partition columns);
    a DIFFERENT partition_by is refused; overwrite may change the
    partitioning and the metaData records it."""
    import pytest

    from quokka_spark.sources.delta_local import write_delta_local
    tbl = str(tmp_path / "pin")
    df = spark.createDataFrame([(2023, 1.0), (2024, 2.0)],
                               "year bigint, v double")
    write_delta_local(df, tbl, partition_by="year")
    write_delta_local(
        spark.createDataFrame([(2025, 3.0)], "year bigint, v double"),
        tbl)  # no partition_by — must inherit
    got = qc.read_delta(tbl).df
    gp = {r["year"]: r["v"] for r in got.collect()}
    assert gp == {2023: 1.0, 2024: 2.0, 2025: 3.0}
    pruned = qc.read_delta(tbl, partition_filter="year = 2025").df
    assert [r["v"] for r in pruned.collect()] == [3.0]
    with pytest.raises(ValueError, match="differs from the table's"):
        write_delta_local(
            spark.createDataFrame([(1, 1.0)], "year bigint, v double"),
            tbl, partition_by="v")
    # overwrite drops the partitioning; metaData must follow or every
    # later read crashes joining back a gone partition column
    write_delta_local(spark.createDataFrame([(9, 9.0)],
                                            "year bigint, v double"),
                      tbl, mode="overwrite")
    out = qc.read_delta(tbl).df
    assert [(r["year"], r["v"]) for r in out.collect()] == [(9, 9.0)]
    with pytest.raises(ValueError, match="unpartitioned"):
        qc.read_delta(tbl, partition_filter="year = 9")


# ----------------------------------------------------------------------
# deletion vectors (round 7): pure-Python decode + scan anti-join
# ----------------------------------------------------------------------

def test_dv_codec_matches_hand_built_spec_bytes():
    """The roaring decode is pinned against BYTES CONSTRUCTED BY HAND
    from the public RoaringFormatSpec — not just the module's own
    encoder — so an encoder/decoder pair that is wrong the same way
    cannot pass."""
    import struct

    from quokka_spark.sources.dv import decode_rbm_array, encode_rbm_array
    # cookie 12347, one array container key=1 holding {1, 4}
    rb = struct.pack("<I", 12347) + struct.pack("<I", 1)
    rb += struct.pack("<HH", 1, 1)
    rb += struct.pack("<I", 16)          # offset from cookie start
    rb += struct.pack("<HH", 1, 4)
    data = struct.pack("<I", 1681511377) + struct.pack("<q", 1) \
        + struct.pack("<I", 0) + rb
    assert decode_rbm_array(data) == [65537, 65540]
    # cookie 12346 with a run container: runs (10, len-1=2) -> 10..12
    rb = struct.pack("<I", 12346) + b"\x01" + struct.pack("<HH", 0, 2)
    rb += struct.pack("<H", 1) + struct.pack("<HH", 10, 2)
    data = struct.pack("<I", 1681511377) + struct.pack("<q", 1) \
        + struct.pack("<I", 0) + rb
    assert decode_rbm_array(data) == [10, 11, 12]
    # encoder output decodes (array + bitmap + multi-key)
    vals = list(range(5000)) + [(7 << 32) + 3]
    assert decode_rbm_array(encode_rbm_array(vals)) == sorted(vals)


def test_dv_z85_spec_vector():
    from quokka_spark.sources.dv import z85_decode, z85_encode
    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(raw) == "HelloWorld"   # ZeroMQ RFC 32 vector
    assert z85_decode("HelloWorld") == raw


def test_delta_deletion_vectors_read_and_travel(spark, qc, tmp_path):
    """DV adds (file and inline storage) drop exactly the marked row
    positions; time travel to the pre-DV version restores them; a
    second delete MERGES with the file's existing DV."""
    from quokka_spark.sources.delta_local import (delete_rows_delta_local,
                                                  write_delta_local)
    from quokka_spark.sources.dv import inline_dv_descriptor
    tbl = str(tmp_path / "dvt")
    spark.range(0, 10).coalesce(1).write.parquet(str(tmp_path / "seed"))
    write_delta_local(
        spark.read.parquet(str(tmp_path / "seed")).coalesce(1), tbl)
    files = qc.read_delta(tbl).df.inputFiles()
    assert len(files) == 1
    f = files[0].removeprefix("file:")
    v1 = delete_rows_delta_local(tbl, {f: [0, 3]})
    got = sorted(r["id"] for r in qc.read_delta(tbl).df.collect())
    assert got == [1, 2] + list(range(4, 10))
    # merge: deleting more positions keeps the earlier ones deleted
    delete_rows_delta_local(tbl, {f: [7]})
    got = sorted(r["id"] for r in qc.read_delta(tbl).df.collect())
    assert got == [1, 2, 4, 5, 6, 8, 9]
    # pre-DV time travel
    assert qc.read_delta(tbl, version=v1 - 1).df.count() == 10
    # inline storage: hand-commit an inline descriptor over the
    # existing add (replacing the file DV)
    import json
    from quokka_spark.sources.delta_local import _commit, _replay
    _, _, keys, adds = _replay(tbl, None)
    a = dict(adds[0])
    a["deletionVector"] = inline_dv_descriptor([9])
    _commit(tbl, 3, [{"add": a}])
    got = sorted(r["id"] for r in qc.read_delta(tbl).df.collect())
    assert got == list(range(9))  # only position 9 deleted now


def test_delta_dv_checkpoint_compact_vacuum(spark, qc, tmp_path):
    """DVs survive the checkpoint parquet; compaction materializes
    them into a delete-free layout; vacuum reclaims superseded DV
    bins."""
    import glob
    import os as _os

    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  delete_rows_delta_local,
                                                  vacuum_delta_local,
                                                  write_checkpoint_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "dvc")
    write_delta_local(spark.range(0, 100).coalesce(1), tbl)
    f = qc.read_delta(tbl).df.inputFiles()[0].removeprefix("file:")
    delete_rows_delta_local(tbl, {f: list(range(0, 50))})
    cp = write_checkpoint_local(tbl)
    _os.remove(_os.path.join(tbl, "_delta_log", f"{0:020d}.json"))
    _os.remove(_os.path.join(tbl, "_delta_log", f"{1:020d}.json"))
    got = qc.read_delta(tbl).df
    assert got.count() == 50
    assert sorted(r["id"] for r in got.collect()) == list(range(50, 100))
    compact_delta_local(spark, tbl, target_file_rows=1000)
    assert qc.read_delta(tbl).df.count() == 50
    vacuum_delta_local(tbl, keep_last=1)
    # superseded DV bin reclaimed with the old data file
    assert not glob.glob(_os.path.join(tbl, "_dv", "*.bin"))
    assert qc.read_delta(tbl).df.count() == 50


def test_delta_dv_upsert_does_not_resurrect(spark, qc, tmp_path):
    """Upsert's survivor rewrite reads THROUGH the DVs — rewritten
    files must not resurrect DV-deleted rows."""
    from quokka_spark.sources.delta_local import (delete_rows_delta_local,
                                                  upsert_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "dvu")
    write_delta_local(spark.range(0, 10).coalesce(1), tbl)
    f = qc.read_delta(tbl).df.inputFiles()[0].removeprefix("file:")
    delete_rows_delta_local(tbl, {f: [2]})          # id=2 deleted
    up = spark.createDataFrame([(5,)], "id long")   # rewrite the file
    upsert_delta_local(spark, tbl, up, "id")
    got = sorted(r["id"] for r in qc.read_delta(tbl).df.collect())
    assert got == [0, 1, 3, 4, 5, 6, 7, 8, 9]       # 2 stays deleted


def test_delta_foreign_dv_update_commit_any_action_order(
        spark, qc, tmp_path):
    """A spec-compliant FOREIGN writer may serialize a DV-update
    commit with the add (new DV) BEFORE the remove (old DV) of the
    same path — reconciliation is per-commit, not per-line (round-7
    ADVICE, medium). Applied in file order that popped the fresh add
    and silently dropped the whole file."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit, _replay,
                                                  write_delta_local)
    from quokka_spark.sources.dv import inline_dv_descriptor
    tbl = str(tmp_path / "ooo")
    write_delta_local(spark.range(0, 10).coalesce(1), tbl)
    _, _, keys, adds = _replay(tbl, None)
    assert len(keys) == 1
    new_add = dict(adds[0])
    new_add["deletionVector"] = inline_dv_descriptor([4])
    # ADD FIRST, REMOVE SECOND — the foreign serialization order
    _commit(tbl, 1, [
        {"add": new_add},
        {"remove": {"path": keys[0], "deletionTimestamp": 0,
                     "dataChange": True}}])
    got = sorted(r["id"] for r in qc.read_delta(tbl).df.collect())
    assert got == [0, 1, 2, 3, 5, 6, 7, 8, 9]


def test_delta_compaction_commits_data_change_false(spark, qc, tmp_path):
    """OPTIMIZE rearranges rows without changing data: BOTH the
    removes and the adds of the compaction commit must carry
    dataChange=false, else a spec-compliant incremental consumer
    re-reads the compacted rows as fresh appends (round-7 ADVICE)."""
    import json as _json
    import os as _os

    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "dcf")
    write_delta_local(spark.range(0, 100).repartition(4), tbl)
    v = compact_delta_local(spark, tbl, target_file_rows=1000)
    path = _os.path.join(tbl, "_delta_log", f"{v:020d}.json")
    acts = [_json.loads(ln) for ln in open(path) if ln.strip()]
    file_acts = [a for a in acts if "add" in a or "remove" in a]
    assert file_acts, "compaction commit carries no file actions?"
    for a in file_acts:
        body = a.get("add") or a.get("remove")
        assert body["dataChange"] is False, a
    assert qc.read_delta(tbl).df.count() == 100


def test_delta_dv_decode_never_runs_on_driver(spark, qc, tmp_path,
                                              monkeypatch):
    """The SCAN must ship DV *descriptors* and decode positions in
    executor tasks (round-7 verdict: driver-side decode is O(deleted
    rows) driver memory — the last 100x scale-killer). Pin: poison
    dv_row_indexes in the DRIVER process; the read still succeeds
    because the mapInPandas workers import their own unpatched
    module — if the driver ever decodes again, this test explodes."""
    from quokka_spark.sources import dv as dv_mod
    from quokka_spark.sources.delta_local import (delete_rows_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "dvx")
    write_delta_local(spark.range(0, 20).coalesce(1), tbl)
    f = qc.read_delta(tbl).df.inputFiles()[0].removeprefix("file:")
    delete_rows_delta_local(tbl, {f: [0, 5, 19]})

    def boom(*a, **k):
        raise AssertionError("DV positions decoded on the DRIVER")

    monkeypatch.setattr(dv_mod, "dv_row_indexes", boom)
    got = sorted(r["id"] for r in qc.read_delta(tbl).df.collect())
    assert got == sorted(set(range(20)) - {0, 5, 19})


def test_delta_dv_many_deleted_rows(spark, qc, tmp_path):
    """A wide delete wave (120k positions across 4 files) reads back
    exactly — the distributed-decode path at a cardinality where a
    broadcast of every position would already be silly."""
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (delete_rows_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "dvbig")
    write_delta_local(spark.range(0, 240_000).repartition(4), tbl)
    deletes = {}
    for uri in qc.read_delta(tbl).df.inputFiles():
        f = uri.removeprefix("file:")
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        deletes[f] = [i for i, v in enumerate(ids) if v % 2 == 0]
    delete_rows_delta_local(tbl, deletes)
    out = qc.read_delta(tbl).df
    assert out.count() == 120_000
    assert out.filter("id % 2 = 0").count() == 0
    agg = out.agg(F.sum("id").alias("s")).collect()[0]["s"]
    assert agg == sum(v for v in range(240_000) if v % 2)


def test_delta_dv_with_column_mapping(spark, qc, tmp_path):
    """DV + columnMapping.mode=name COMPOSED (round-7 verdict task):
    the anti-join keys on the physical scan's file/row-index while
    stats skipping translates logical->physical keys — both features
    on one table must still read exactly."""
    import json as _json

    from quokka_spark.sources.delta_local import _commit
    from quokka_spark.sources.dv import inline_dv_descriptor
    f1, f2 = str(tmp_path / "f1.parquet"), str(tmp_path / "f2.parquet")
    pd.DataFrame({"col-a1": [1, 2, 3],
                  "col-b2": [1.0, 2.0, 3.0]}).to_parquet(f1)
    pd.DataFrame({"col-a1": [100, 200],
                  "col-b2": [10.0, 20.0]}).to_parquet(f2)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a1",
                      "delta.columnMapping.id": 1}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b2",
                      "delta.columnMapping.id": 2}}]}
    tbl = str(tmp_path / "cmdv")
    import os as _os
    _os.makedirs(tbl)

    def add(p, mn, mx, n, dv=None):
        a = {"path": p, "partitionValues": {}, "size": 1,
             "modificationTime": 0, "dataChange": True,
             "stats": _json.dumps({"numRecords": n,
                                   "minValues": {"col-a1": mn},
                                   "maxValues": {"col-a1": mx}})}
        if dv:
            a["deletionVector"] = dv
        return {"add": a}
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping",
                                         "deletionVectors"],
                      "writerFeatures": ["columnMapping",
                                         "deletionVectors"]}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "2"},
                      "createdTime": 0}},
        add(f1, 1, 3, 3, dv=inline_dv_descriptor([0])),   # drops id=1
        add(f2, 100, 200, 2, dv=inline_dv_descriptor([1]))])  # 200
    got = qc.read_delta(tbl).df
    assert got.columns == ["id", "v"]
    assert {r["id"]: r["v"] for r in got.collect()} == \
        {2: 2.0, 3: 3.0, 100: 10.0}
    # stats skipping still prunes by the TRANSLATED physical key,
    # and the surviving file still applies its DV
    pruned = qc.read_delta(tbl, scan_filter="id >= 100").df
    assert sorted(r["id"] for r in pruned.collect()) == [100]
    assert len(pruned.inputFiles()) == 1


# ----------------------------------------------------------------------
# streaming ingestion: exactly-once Delta sink (round 7)
# ----------------------------------------------------------------------

def test_streaming_write_delta_exactly_once(spark, qc, tmp_path):
    """foreachBatch sink with the txn handshake: a restarted stream
    with the same checkpoint appends only NEW batches; a redelivered
    batch id is a committed no-op; the txn high-water mark survives a
    checkpoint + log cleanup."""
    import os as _os

    from quokka_spark.sources.delta_local import (last_txn_version,
                                                  write_checkpoint_local)
    from quokka_spark.streaming.stream import streaming_write_delta
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    tbl = str(tmp_path / "sink")
    sch = "id long, v double"
    spark.createDataFrame([(1, 1.0), (2, 2.0)], sch) \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], sch).schema).parquet(src)
    w = streaming_write_delta(stream, tbl, chk, app_id="t")
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert sorted(r["id"] for r in qc.read_delta(tbl).df.collect()) == [1, 2]
    b0 = last_txn_version(tbl, "t")
    assert b0 is not None
    # restart with the SAME checkpoint after more data arrives
    spark.createDataFrame([(3, 3.0)], sch).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], sch).schema).parquet(src)
    q = streaming_write_delta(stream, tbl, chk, app_id="t") \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert sorted(r["id"] for r in qc.read_delta(tbl).df.collect()) == \
        [1, 2, 3]
    # drive the sink's REAL guard with a redelivered batch id: it
    # must refuse, and must accept the next fresh id
    from quokka_spark.sources.delta_local import list_versions
    from quokka_spark.streaming.stream import _should_commit_batch
    nv = len(list_versions(tbl))
    last = last_txn_version(tbl, "t")
    assert last is not None and last >= 0   # batch 0 committed
    assert _should_commit_batch(tbl, "t", 0) is False
    assert _should_commit_batch(tbl, "t", last) is False
    assert _should_commit_batch(tbl, "t", last + 1) is True
    assert len(list_versions(tbl)) == nv
    assert sorted(r["id"] for r in qc.read_delta(tbl).df.collect()) == \
        [1, 2, 3]
    # txn mark survives checkpoint + log cleanup
    cp = write_checkpoint_local(tbl)
    for v in list_versions(tbl):
        p = _os.path.join(tbl, "_delta_log", f"{v:020d}.json")
        if v <= cp and _os.path.exists(p):
            _os.remove(p)
    assert last_txn_version(tbl, "t") == last


def test_dv_codec_property_roundtrip():
    """Property sweep: any set of row indexes survives the portable
    RoaringBitmapArray encode→decode, across container-type and
    32-bit-key boundaries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from quokka_spark.sources.dv import decode_rbm_array, encode_rbm_array

    @given(st.sets(
        st.one_of(
            st.integers(min_value=0, max_value=2**16 + 8),   # container edge
            st.integers(min_value=2**32 - 4, max_value=2**32 + 4),  # key edge
            st.integers(min_value=0, max_value=2**40)),
        max_size=300))
    @settings(deadline=None)
    def check(vals):
        assert decode_rbm_array(encode_rbm_array(vals)) == sorted(vals)

    check()


def test_delta_column_mapping_name_mode(spark, qc, tmp_path):
    """columnMapping.mode=name: parquet columns carry PHYSICAL names;
    the scan reads them via the schema's physicalName metadata and
    renames to the logical schema; stats skipping translates the
    filter's logical column to the physical stats key (id mode
    prunes per file since round 13 —
    test_delta_id_mode_stats_skipping)."""
    import json as _json

    from quokka_spark.sources.delta_local import _commit
    f1, f2 = str(tmp_path / "f1.parquet"), str(tmp_path / "f2.parquet")
    pd.DataFrame({"col-a1": [1, 2, 3],
                  "col-b2": [1.0, 2.0, 3.0]}).to_parquet(f1)
    pd.DataFrame({"col-a1": [100, 200],
                  "col-b2": [10.0, 20.0]}).to_parquet(f2)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a1",
                      "delta.columnMapping.id": 1}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b2",
                      "delta.columnMapping.id": 2}}]}
    tbl = str(tmp_path / "cm")
    import os as _os
    _os.makedirs(tbl)

    def add(p, mn, mx, n):
        return {"add": {"path": p, "partitionValues": {}, "size": 1,
                        "modificationTime": 0, "dataChange": True,
                        "stats": _json.dumps({
                            "numRecords": n,
                            "minValues": {"col-a1": mn},
                            "maxValues": {"col-a1": mx}})}}
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "2"},
                      "createdTime": 0}},
        add(f1, 1, 3, 3), add(f2, 100, 200, 2)])
    got = qc.read_delta(tbl).df
    assert got.columns == ["id", "v"]
    rows = {r["id"]: r["v"] for r in got.collect()}
    assert rows == {1: 1.0, 2: 2.0, 3: 3.0, 100: 10.0, 200: 20.0}
    # stats skipping translates logical -> physical stats keys
    pruned = qc.read_delta(tbl, scan_filter="id >= 100").df
    assert sorted(r["id"] for r in pruned.collect()) == [100, 200]
    assert len(pruned.inputFiles()) == 1
    # id mode resolves via parquet field ids — THESE files carry
    # none, so the scan refuses loudly instead of guessing by name
    # (full id-mode reads: test_delta_id_mode_reads_by_field_id)
    with open(_os.path.join(tbl, "_delta_log", f"{1:020d}.json"),
              "w") as fh:
        schema_id = {"type": "struct", "fields": [
            dict(f, metadata={**f["metadata"],
                              "delta.columnMapping.id": i + 1})
            for i, f in enumerate(schema["fields"])]}
        meta2 = {"id": "t", "format": {"provider": "parquet",
                                       "options": {}},
                 "schemaString": _json.dumps(schema_id),
                 "partitionColumns": [],
                 "configuration": {"delta.columnMapping.mode": "id"},
                 "createdTime": 0}
        fh.write(_json.dumps({"metaData": meta2}) + "\n")
    with pytest.raises(ValueError, match="field id"):
        qc.read_delta(tbl).df.collect()


def test_delta_dv_protocol_upgrade_folds_legacy_features(
        spark, qc, tmp_path):
    """The first DV commit's protocol upgrade to reader 3 / writer 7
    folds features IMPLIED by the previous legacy versions (reader 2
    -> columnMapping): at table-features protocol only listed
    features are honored, so dropping one would make external
    readers stop honoring it."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit, _protocol_state,
                                                  delete_rows_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "pf")
    write_delta_local(spark.range(0, 5).coalesce(1), tbl)
    _commit(tbl, 1, [{"protocol": {"minReaderVersion": 2,
                                   "minWriterVersion": 5}}])
    f = qc.read_delta(tbl).df.inputFiles()[0].removeprefix("file:")
    delete_rows_delta_local(tbl, {f: [0]})
    proto = _protocol_state(tbl)
    assert proto["minReaderVersion"] == 3
    assert set(proto["readerFeatures"]) >= {"columnMapping",
                                            "deletionVectors"}
    assert set(proto["writerFeatures"]) >= {"columnMapping",
                                            "deletionVectors",
                                            "appendOnly"}


def test_last_txn_version_gap_is_loud_missing_table_is_none(
        spark, qc, tmp_path):
    """A gapped log raises from last_txn_version (an under-reported
    mark would double-commit); only a not-yet-existing table maps to
    None."""
    import os as _os

    import pytest as _pytest

    from quokka_spark.sources.delta_local import (last_txn_version,
                                                  write_delta_local)
    assert last_txn_version(str(tmp_path / "nope"), "a") is None
    tbl = str(tmp_path / "g")
    write_delta_local(spark.range(2).coalesce(1), tbl)
    write_delta_local(spark.range(2).coalesce(1), tbl, txn=("a", 7))
    write_delta_local(spark.range(2).coalesce(1), tbl)
    assert last_txn_version(tbl, "a") == 7
    _os.remove(_os.path.join(tbl, "_delta_log", f"{1:020d}.json"))
    with _pytest.raises(FileNotFoundError, match="txn state"):
        last_txn_version(tbl, "a")


def test_txn_state_incremental_fold(spark, tmp_path, monkeypatch):
    """Round 14 (guide §1.2): the sink handshake's txn-state replay is
    incremental — a second probe folds only the NEW commits instead of
    re-reading the whole history — while the loud-gap contract and
    table recreation stay exact (cache keyed on the folded commit's
    stat signature; any gap or checkpoint bypasses the cache)."""
    import shutil as _shutil

    from quokka_spark.sources import delta_local as dl

    tbl = str(tmp_path / "t")
    for bid in range(10):
        dl.write_delta_local(spark.range(2).coalesce(1), tbl,
                             mode="append", txn=("s", bid))
    assert dl.last_txn_version(tbl, "s") == 9

    folds = []
    orig = dl._fold_txn_commit

    def counted(table, v, txns):
        folds.append(v)
        return orig(table, v, txns)

    monkeypatch.setattr(dl, "_fold_txn_commit", counted)
    dl.write_delta_local(spark.range(2).coalesce(1), tbl,
                         mode="append", txn=("s", 10))
    assert dl.last_txn_version(tbl, "s") == 10
    assert folds == [10], folds          # only the new commit folded
    # repeat probe with no new commits: zero folds
    folds.clear()
    assert dl.last_txn_version(tbl, "s") == 10
    assert folds == []
    # recreation at the same path invalidates (stat signature guard)
    _shutil.rmtree(tbl)
    for bid in range(3):
        dl.write_delta_local(spark.range(2).coalesce(1), tbl,
                             mode="append", txn=("s", bid + 100))
    assert dl.last_txn_version(tbl, "s") == 102


# ----------------------------------------------------------------------
# columnMapping: id-mode reads + name-mode writes (round 8)
# ----------------------------------------------------------------------

def _id_mode_table(tmp_path, file_specs, conf_extra=None):
    """Build an id-mapped table whose files carry parquet FIELD IDS:
    file_specs = [(filename, {field_id: (parquet_col_name, values)}
    [, stats_dict])]. Logical schema: id->1 (long), v->2 (double).
    ``conf_extra`` merges into the table configuration (e.g. CDF
    enablement); an optional third spec element lands as the add
    action's stats JSON (keys = THAT file's physical names)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import _commit
    tbl = str(tmp_path / "idtbl")
    os.makedirs(tbl, exist_ok=True)
    adds = []
    for spec in file_specs:
        fname, cols = spec[0], spec[1]
        stats = spec[2] if len(spec) > 2 else None
        fields, arrays = [], []
        for fid, (pname, vals) in sorted(cols.items()):
            typ = pa.int64() if isinstance(vals[0], int) else pa.float64()
            fields.append(pa.field(
                pname, typ, metadata={b"PARQUET:field_id": str(fid).encode()}))
            arrays.append(pa.array(vals, type=typ))
        p = str(tmp_path / fname)
        pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)), p)
        act = {"add": {"path": p, "partitionValues": {}, "size": 1,
                       "modificationTime": 0, "dataChange": True}}
        if stats is not None:
            act["add"]["stats"] = _json.dumps(stats)
        adds.append(act)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "whatever-1"}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "whatever-2"}}]}
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": [],
                      "configuration": dict(
                          {"delta.columnMapping.mode": "id",
                           "delta.columnMapping.maxColumnId": "2"},
                          **(conf_extra or {})),
                      "createdTime": 0}}] + adds)
    return tbl


def test_delta_id_mode_reads_by_field_id(spark, qc, tmp_path):
    """id mode resolves columns by PARQUET FIELD ID, not name: two
    files whose physical names disagree (and one whose name order is
    swapped) read back as one logical table."""
    tbl = _id_mode_table(tmp_path, [
        ("a.parquet", {1: ("c_one", [1, 2]), 2: ("c_two", [1.0, 2.0])}),
        ("b.parquet", {1: ("renamed", [3]), 2: ("other", [30.0])}),
        # name-swapped file: ids point the OPPOSITE way names suggest
        ("c.parquet", {1: ("v", [4]), 2: ("id", [40.0])}),
    ])
    got = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 30.0, 4: 40.0}
    # scan_filter applies row-level (these adds carry no stats, so
    # per-file pruning keeps everything)
    f = qc.read_delta(tbl, scan_filter="id >= 3").df
    assert sorted(r["id"] for r in f.collect()) == [3, 4]


def test_delta_id_mode_layout_cache(spark, qc, tmp_path, monkeypatch):
    """Repeat id-mode scans pay ZERO driver footer reads (round-9):
    the resolved field-id layout memoizes per session keyed by
    (path, mtime, size), so only the first scan touches footers —
    and an overwritten file (new mtime/size) re-resolves."""
    import pyarrow.parquet as pq

    import quokka_spark.sources.delta_local as dl
    tbl = _id_mode_table(tmp_path, [
        ("ca.parquet", {1: ("c_one", [1, 2]), 2: ("c_two", [1.0, 2.0])}),
        ("cb.parquet", {1: ("other", [3]), 2: ("more", [30.0])}),
    ])
    assert {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()} \
        == {1: 1.0, 2: 2.0, 3: 30.0}
    calls = []
    real = pq.read_schema

    def counted(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(pq, "read_schema", counted)
    assert {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()} \
        == {1: 1.0, 2: 2.0, 3: 30.0}
    assert calls == []                     # the pin under test


def test_delta_id_mode_missing_field_id_refuses(spark, qc, tmp_path):
    """A file without parquet field ids cannot be resolved — loud
    gate, never a name-based guess."""
    import pyarrow.parquet as pq
    tbl = _id_mode_table(
        tmp_path, [("a.parquet", {1: ("x", [1]), 2: ("y", [1.0])})])
    # strip the ids: rebuild the schema without FIELD-level metadata
    # (schema.remove_metadata() would only drop schema-level metadata)
    import pyarrow as pa
    p = str(tmp_path / "a.parquet")
    t = pq.read_table(p)
    bare = pa.schema([pa.field(f.name, f.type) for f in t.schema])
    pq.write_table(t.cast(bare), p)
    with pytest.raises(ValueError, match="field id"):
        qc.read_delta(tbl).df.collect()


def test_delta_id_mode_write_roundtrip(spark, qc, tmp_path):
    """id-mode WRITES (round 9): appended files land under the
    schema's physical names WITH parquet field ids stamped (via the
    native writer's parquet.field.id column metadata), so the id-mode
    scan resolves them like any other file; compaction rewrites
    id-mode tables with field ids stamped too."""
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  write_delta_local)
    tbl = _id_mode_table(
        tmp_path, [("a.parquet", {1: ("x", [1]), 2: ("y", [1.0])})])
    write_delta_local(spark.createDataFrame([(9, 9.0)],
                                            "id long, v double")
                      .coalesce(1), tbl, mode="append")
    got = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 1.0, 9: 9.0}
    # the new file carries physical names + field ids
    newf = [f.removeprefix("file:") for f in
            qc.read_delta(tbl).df.inputFiles()
            if "a.parquet" not in f]
    assert newf
    sch = pq.read_schema(newf[0])
    ids = {f.name: (f.metadata or {}).get(b"PARQUET:field_id")
           for f in sch}
    assert ids == {"whatever-1": b"1", "whatever-2": b"2"}
    # overwrite flows through the same mapped path
    write_delta_local(spark.createDataFrame([(5, 0.5)],
                                            "id long, v double")
                      .coalesce(1), tbl, mode="overwrite")
    assert {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()} \
        == {5: 0.5}
    # time travel still sees the appended state
    assert {r["id"] for r in qc.read_delta(tbl, version=1).df.collect()} \
        == {1, 9}
    # compaction rewrites id-mode tables WITH field ids (round 9)
    write_delta_local(spark.createDataFrame([(6, 0.6)],
                                            "id long, v double")
                      .coalesce(1), tbl, mode="append")
    compact_delta_local(spark, tbl, target_file_rows=1000)
    assert {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()} \
        == {5: 0.5, 6: 0.6}
    live = [f.removeprefix("file:")
            for f in qc.read_delta(tbl).df.inputFiles()]
    assert len(live) == 1
    ids2 = {f.name: (f.metadata or {}).get(b"PARQUET:field_id")
            for f in pq.read_schema(live[0])}
    assert ids2 == {"whatever-1": b"1", "whatever-2": b"2"}


def test_delta_mapped_schema_evolution(spark, qc, tmp_path):
    """Schema evolution on mapped tables (round 9): a batch with a
    NEW column assigns it a fresh physicalName + columnMapping.id,
    bumps maxColumnId, and older files null-fill — in BOTH mapping
    modes. The assigned physical name is opaque (col-<uuid>), never
    the logical name."""
    import json as _json

    from quokka_spark.sources.delta_local import (_replay,
                                                  write_delta_local)
    from pyspark.sql.types import StructType

    # ---- id mode -----------------------------------------------------
    tbl = _id_mode_table(
        tmp_path, [("a.parquet", {1: ("x", [1, 2]), 2: ("y", [1.0, 2.0])})])
    write_delta_local(
        spark.createDataFrame([(9, 9.0, "new")],
                              "id long, v double, tag string")
        .coalesce(1), tbl, mode="append")
    _, meta, _, _ = _replay(tbl, None)
    sch = StructType.fromJson(_json.loads(meta["schemaString"]))
    tagf = [f for f in sch.fields if f.name == "tag"][0]
    assert tagf.metadata["delta.columnMapping.id"] == 3
    assert tagf.metadata["delta.columnMapping.physicalName"] \
        .startswith("col-")
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "3"
    rows = {r["id"]: (r["v"], r["tag"])
            for r in qc.read_delta(tbl).df.collect()}
    assert rows == {1: (1.0, None), 2: (2.0, None), 9: (9.0, "new")}
    # a second evolution keeps counting upward
    write_delta_local(
        spark.createDataFrame([(7, 7.0, "t", 5)],
                              "id long, v double, tag string, n long")
        .coalesce(1), tbl, mode="append")
    _, meta2, _, _ = _replay(tbl, None)
    assert meta2["configuration"]["delta.columnMapping.maxColumnId"] == "4"
    assert {r["id"]: r["n"] for r in qc.read_delta(tbl).df.collect()} \
        == {1: None, 2: None, 9: None, 7: 5}

    # ---- name mode ---------------------------------------------------
    import os as _os

    from quokka_spark.sources.delta_local import _commit
    f1 = str(tmp_path / "nm.parquet")
    pd.DataFrame({"col-a1": [1, 2], "col-b2": [1.0, 2.0]}).to_parquet(f1)
    nschema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a1",
                      "delta.columnMapping.id": 1}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b2",
                      "delta.columnMapping.id": 2}}]}
    ntbl = str(tmp_path / "nmt")
    _os.makedirs(ntbl)
    _commit(ntbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(nschema),
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "2"},
                      "createdTime": 0}},
        {"add": {"path": f1, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}])
    write_delta_local(
        spark.createDataFrame([(3, 3.0, "x")],
                              "id long, v double, tag string")
        .coalesce(1), ntbl, mode="append")
    rows = {r["id"]: r["tag"] for r in qc.read_delta(ntbl).df.collect()}
    assert rows == {1: None, 2: None, 3: "x"}
    _, nmeta, _, _ = _replay(ntbl, None)
    nsch = StructType.fromJson(_json.loads(nmeta["schemaString"]))
    ntag = [f for f in nsch.fields if f.name == "tag"][0]
    assert ntag.metadata["delta.columnMapping.physicalName"] != "tag"
    # type conflict on an EXISTING column still refuses on append
    with pytest.raises(ValueError, match="conflicts"):
        write_delta_local(
            spark.createDataFrame([("s", 1.0)], "id string, v double"),
            ntbl, mode="append")
    # ... but an OVERWRITE retypes the mapped schema field in place
    # (same physicalName/id) — round-9 review pin: keeping the old
    # type would leave the table unreadable after a successful write
    write_delta_local(
        spark.createDataFrame([("s1", 1.0)], "id string, v double")
        .coalesce(1), ntbl, mode="overwrite")
    got = qc.read_delta(ntbl).df
    assert dict(got.dtypes)["id"] == "string"
    assert [r["id"] for r in got.collect()] == ["s1"]
    _, m3, _, _ = _replay(ntbl, None)
    s3 = StructType.fromJson(_json.loads(m3["schemaString"]))
    idf = [f for f in s3.fields if f.name == "id"][0]
    assert idf.metadata["delta.columnMapping.physicalName"] == "col-a1"


def test_delta_cm_name_write_roundtrip_and_compact(spark, qc, tmp_path):
    """Appends to a name-mapped table write PHYSICAL column names and
    physical-keyed stats; compaction rewrites mapped tables without
    losing the mapping; a schema-changing batch refuses."""
    import json as _json

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit, _footer_stats,
                                                  compact_delta_local,
                                                  write_delta_local)
    f1 = str(tmp_path / "f1.parquet")
    pd.DataFrame({"col-a1": [1, 2], "col-b2": [1.0, 2.0]}).to_parquet(f1)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a1",
                      "delta.columnMapping.id": 1}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b2",
                      "delta.columnMapping.id": 2}}]}
    tbl = str(tmp_path / "cmw")
    os.makedirs(tbl)
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "2"},
                      "createdTime": 0}},
        {"add": {"path": f1, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "stats": _footer_stats(f1)}}])
    write_delta_local(
        spark.createDataFrame([(3, 30.0), (4, 40.0)],
                              "id long, v double").coalesce(1),
        tbl, mode="append")
    got = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 30.0, 4: 40.0}
    # the new files carry PHYSICAL names + physical-keyed stats
    from quokka_spark.sources.delta_local import _replay
    files, _, _, adds = _replay(tbl, None)
    new = [(f, a) for f, a in zip(files, adds) if f != f1]
    assert new
    for f, a in new:
        assert set(pq.read_schema(f).names) == {"col-a1", "col-b2"}
        st = _json.loads(a["stats"])
        assert "col-a1" in st["minValues"] and "id" not in st["minValues"]
    # physical-keyed stats skip correctly through the logical filter
    pruned = qc.read_delta(tbl, scan_filter="id >= 3").df
    assert sorted(r["id"] for r in pruned.collect()) == [3, 4]
    assert all(f != f1 for f in pruned.inputFiles())
    # a schema-changing batch now EVOLVES the mapped schema instead
    # of refusing (round 9) — pinned in
    # test_delta_mapped_schema_evolution; here only the unchanged-
    # schema path is exercised so the compaction expectations hold
    # compaction keeps the mapping
    compact_delta_local(spark, tbl, target_file_rows=100)
    got = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 30.0, 4: 40.0}
    files2, _, _, _ = _replay(tbl, None)
    assert len(files2) == 1
    assert set(pq.read_schema(files2[0]).names) == {"col-a1", "col-b2"}


def test_delta_cm_partitioned_name_mode_roundtrip(spark, qc, tmp_path):
    """Round 9: PARTITIONED name-mapped tables read, append, prune
    and compact — hive directories and partitionValues key by the
    PHYSICAL partition-column name per the protocol; the scan rejoins
    them as typed LOGICAL columns."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit,
                                                  _replay,
                                                  compact_delta_local,
                                                  write_delta_local)
    schema = {"type": "struct", "fields": [
        {"name": "p", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-p1",
                      "delta.columnMapping.id": 1}},
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a2",
                      "delta.columnMapping.id": 2}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b3",
                      "delta.columnMapping.id": 3}}]}
    tbl = str(tmp_path / "pcm")
    os.makedirs(tbl)
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": ["p"],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "3"},
                      "createdTime": 0}}])
    write_delta_local(
        spark.createDataFrame([("A", 1, 1.0), ("A", 2, 2.0),
                               ("B", 3, 3.0)],
                              "p string, id long, v double").coalesce(1),
        tbl, mode="append")
    # partitionValues key by the PHYSICAL name
    _, _, _, adds = _replay(tbl, None)
    assert all(set(a["partitionValues"]) == {"col-p1"} for a in adds)
    got = {r["id"]: (r["p"], r["v"])
           for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: ("A", 1.0), 2: ("A", 2.0), 3: ("B", 3.0)}
    # log-level pruning on the LOGICAL partition column
    pruned = qc.read_delta(tbl, partition_filter="p = 'B'").df
    assert [(r["id"], r["p"]) for r in pruned.collect()] == [(3, "B")]
    assert len(pruned.inputFiles()) == 1
    # compaction keeps the mapped+partitioned layout
    compact_delta_local(spark, tbl, target_file_rows=100)
    got2 = {r["id"]: (r["p"], r["v"])
            for r in qc.read_delta(tbl).df.collect()}
    assert got2 == got
    pruned2 = qc.read_delta(tbl, partition_filter="p = 'A'").df
    assert sorted(r["id"] for r in pruned2.collect()) == [1, 2]


def test_delta_cm_partitioned_id_mode_roundtrip(spark, qc, tmp_path):
    """Round 10: PARTITIONED id-mapped tables read, append, prune,
    compact and upsert — partition columns never live in the data
    files, so they key partitionValues by the SCHEMA's physicalName
    (stable across files) while DATA columns keep resolving per file
    by parquet field id."""
    import json as _json

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit, _replay,
                                                  compact_delta_local,
                                                  upsert_delta_local,
                                                  write_delta_local)
    schema = {"type": "struct", "fields": [
        {"name": "p", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-p1",
                      "delta.columnMapping.id": 1}},
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a2",
                      "delta.columnMapping.id": 2}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b3",
                      "delta.columnMapping.id": 3}}]}
    tbl = str(tmp_path / "pid")
    os.makedirs(tbl)
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": ["p"],
                      "configuration": {
                          "delta.columnMapping.mode": "id",
                          "delta.columnMapping.maxColumnId": "3"},
                      "createdTime": 0}}])
    write_delta_local(
        spark.createDataFrame([("A", 1, 1.0), ("A", 2, 2.0),
                               ("B", 3, 3.0)],
                              "p string, id long, v double").coalesce(1),
        tbl, mode="append")
    # partitionValues key by the schema physicalName; data files
    # carry FIELD IDS for the data columns only
    _, _, _, adds = _replay(tbl, None)
    assert all(set(a["partitionValues"]) == {"col-p1"} for a in adds)
    got = {r["id"]: (r["p"], r["v"])
           for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: ("A", 1.0), 2: ("A", 2.0), 3: ("B", 3.0)}
    f0 = [f.removeprefix("file:")
          for f in qc.read_delta(tbl).df.inputFiles()][0]
    ids = {f.name: (f.metadata or {}).get(b"PARQUET:field_id")
           for f in pq.read_schema(f0)}
    assert ids == {"col-a2": b"2", "col-b3": b"3"}
    # log-level pruning on the LOGICAL partition column
    pruned = qc.read_delta(tbl, partition_filter="p = 'B'").df
    assert [(r["id"], r["p"]) for r in pruned.collect()] == [(3, "B")]
    assert len(pruned.inputFiles()) == 1
    # id-mode MERGE upsert on the partitioned table (round 10)
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([("A", 2, 22.0), ("B", 9, 9.0)],
                              "p string, id long, v double"), ["id"])
    got2 = {r["id"]: (r["p"], r["v"])
            for r in qc.read_delta(tbl).df.collect()}
    assert got2 == {1: ("A", 1.0), 2: ("A", 22.0), 3: ("B", 3.0),
                    9: ("B", 9.0)}
    # compaction keeps the mapped+partitioned layout with field ids
    compact_delta_local(spark, tbl, target_file_rows=100)
    got3 = {r["id"]: (r["p"], r["v"])
            for r in qc.read_delta(tbl).df.collect()}
    assert got3 == got2
    pruned2 = qc.read_delta(tbl, partition_filter="p = 'A'").df
    assert sorted(r["id"] for r in pruned2.collect()) == [1, 2]
    f1 = [f.removeprefix("file:") for f in pruned2.inputFiles()][0]
    ids2 = {f.name: (f.metadata or {}).get(b"PARQUET:field_id")
            for f in pq.read_schema(f1)}
    assert ids2 == {"col-a2": b"2", "col-b3": b"3"}


def test_delta_id_mode_upsert_heterogeneous_files(spark, qc, tmp_path):
    """Round 10: id-mode upsert where live files DISAGREE on physical
    names (the exact case the old gate cited): the survivor scan
    resolves each file by its field ids, the matched file is
    rewritten without the key, the other file stays referenced, and
    the rewrite carries the schema's physical names + field ids."""
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_replay,
                                                  upsert_delta_local)
    tbl = _id_mode_table(tmp_path, [
        ("a.parquet", {1: ("x", [1, 2]), 2: ("y", [1.0, 2.0])}),
        ("b.parquet", {1: ("renamed_x", [3]), 2: ("renamed_y", [3.0])})])
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(2, 22.0), (9, 9.0)], "id long, v double"),
        ["id"])
    got = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 1.0, 2: 22.0, 3: 3.0, 9: 9.0}
    # untouched file b stays referenced as-is; a.parquet was rewritten
    files, _, keys, _ = _replay(tbl, None)
    assert any("b.parquet" in f for f in files)
    assert not any("a.parquet" in f for f in files)
    rewritten = [f for f in files if "b.parquet" not in f]
    for f in rewritten:
        ids = {fd.name: (fd.metadata or {}).get(b"PARQUET:field_id")
               for fd in pq.read_schema(f)}
        assert ids == {"whatever-1": b"1", "whatever-2": b"2"}
    # time travel still shows the pre-upsert state
    assert {r["id"]: r["v"]
            for r in qc.read_delta(tbl, version=0).df.collect()} == \
        {1: 1.0, 2: 2.0, 3: 3.0}


def test_delta_cm_upsert_name_mode(spark, qc, tmp_path):
    """Round 9: MERGE upsert on NAME-mapped tables — plain and
    PARTITIONED — scans physical, matches logical, rewrites physical;
    the change feed pairs the update with logical columns."""
    import json as _json

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit, _replay,
                                                  upsert_delta_local,
                                                  write_delta_local)

    def mk(name, pcols, fields):
        tbl = str(tmp_path / name)
        os.makedirs(tbl)
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "t", "format": {"provider": "parquet",
                                                "options": {}},
                          "schemaString": _json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": pcols,
                          "configuration": {
                              "delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "9"},
                          "createdTime": 0}}])
        return tbl

    def fld(name, typ, phys, fid):
        return {"name": name, "type": typ, "nullable": True,
                "metadata": {"delta.columnMapping.physicalName": phys,
                             "delta.columnMapping.id": fid}}

    # ---- plain name-mode ----------------------------------------------
    tbl = mk("cmu", [], [fld("id", "long", "c-1", 1),
                         fld("v", "double", "c-2", 2)])
    write_delta_local(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
        .coalesce(1), tbl, mode="append")
    ver = upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(2, 99.0), (7, 7.0)],
                              "id long, v double"), "id")
    assert {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()} \
        == {1: 1.0, 2: 99.0, 7: 7.0}
    # rewritten + appended files carry PHYSICAL names
    for u in qc.read_delta(tbl).df.inputFiles():
        assert set(pq.read_schema(u.removeprefix("file:")).names) \
            == {"c-1", "c-2"}
    # the change feed pairs the update with LOGICAL columns
    ch = sorted((r["_change_type"], r["id"], r["v"]) for r in
                qc.read_delta_changes(tbl, ver, ver).df.collect())
    assert ch == [("insert", 7, 7.0),
                  ("update_postimage", 2, 99.0),
                  ("update_preimage", 2, 2.0)]

    # ---- partitioned + name-mode --------------------------------------
    ptbl = mk("cmup", ["p"], [fld("p", "string", "c-p1", 1),
                              fld("id", "long", "c-a2", 2),
                              fld("v", "double", "c-b3", 3)])
    write_delta_local(
        spark.createDataFrame([("a", 1, 1.0), ("a", 2, 2.0),
                               ("b", 3, 3.0)],
                              "p string, id long, v double")
        .coalesce(1), ptbl, mode="append")
    upsert_delta_local(
        spark, ptbl,
        spark.createDataFrame([("a", 2, 99.0), ("z", 9, 9.0)],
                              "p string, id long, v double"), "id")
    got = {r["id"]: (r["p"], r["v"])
           for r in qc.read_delta(ptbl).df.collect()}
    assert got == {1: ("a", 1.0), 2: ("a", 99.0), 3: ("b", 3.0),
                   9: ("z", 9.0)}
    # every add keys partitionValues by the PHYSICAL name
    _, _, _, adds = _replay(ptbl, None)
    assert all(set(a["partitionValues"]) == {"c-p1"} for a in adds)
    # pruning still routes on the logical partition column
    pr = qc.read_delta(ptbl, partition_filter="p = 'z'").df
    assert [(r["id"], r["v"]) for r in pr.collect()] == [(9, 9.0)]


def test_delta_cm_review_regressions(spark, qc, tmp_path):
    """Round-8 review pins (updated round 10 — id-mode upserts now
    WORK, see test_delta_id_mode_upsert_heterogeneous_files): an
    OVERWRITE without partition_by on a partitioned name-mapped table
    refuses instead of committing unpartitioned files under
    partition-declaring metadata."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit,
                                                  upsert_delta_local,
                                                  write_delta_local)
    tbl = _id_mode_table(
        tmp_path, [("a.parquet", {1: ("x", [1]), 2: ("y", [1.0])})])
    upsert_delta_local(spark, tbl,
                       spark.createDataFrame([(1, 9.0)],
                                             "id long, v double"),
                       "id")
    assert {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()} \
        == {1: 9.0}
    # partitioned + name-mapped: overwrite without partition_by gates
    f1 = str(tmp_path / "p1.parquet")
    pd.DataFrame({"col-b2": [1.0]}).to_parquet(f1)
    schema = {"type": "struct", "fields": [
        {"name": "p", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a1",
                      "delta.columnMapping.id": 1}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b2",
                      "delta.columnMapping.id": 2}}]}
    ptbl = str(tmp_path / "pcm")
    os.makedirs(ptbl)
    _commit(ptbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": ["p"],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "2"},
                      "createdTime": 0}},
        {"add": {"path": f1, "partitionValues": {"col-a1": "A"},
                 "size": 1, "modificationTime": 0, "dataChange": True}}])
    with pytest.raises(NotImplementedError,
                       match="changing the partitioning"):
        write_delta_local(
            spark.createDataFrame([("B", 2.0)], "p string, v double"),
            ptbl, mode="overwrite")


# ----------------------------------------------------------------------
# incremental / CDF-style reads (round 8)
# ----------------------------------------------------------------------

def test_delta_changes_inserts_deletes_dv_and_compaction(spark, qc,
                                                         tmp_path):
    """read_delta_changes over a full lifecycle: v0 bulk insert, v1
    append, v2 DV delete (delta positions only), v3 compaction
    (dataChange=false — NO changes), v4 overwrite (delete-all +
    insert). Every slice of the version range reproduces exactly the
    change rows the log implies."""
    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  delete_rows_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "cdf")
    write_delta_local(spark.range(0, 10).coalesce(1), tbl)            # v0
    write_delta_local(spark.range(10, 15).coalesce(1), tbl,
                      mode="append")                                  # v1
    import pyarrow.parquet as pq
    # pick the v0 file (the one holding ids 2 and 7) — inputFiles()
    # order is not deterministic
    f = ids = None
    for p in qc.read_delta(tbl).df.inputFiles():
        cand = p.removeprefix("file:")
        vals = pq.read_table(cand, columns=["id"]).column("id").to_pylist()
        if 2 in vals:
            f, ids = cand, vals
            break
    delete_rows_delta_local(
        tbl, {f: [i for i, v in enumerate(ids) if v in (2, 7)]})      # v2
    compact_delta_local(spark, tbl, target_file_rows=1000)            # v3
    write_delta_local(spark.range(100, 103).coalesce(1), tbl,
                      mode="overwrite")                               # v4

    def rows(a, b=None):
        return sorted(
            (r["_commit_version"], r["_change_type"], r["id"])
            for r in qc.read_delta_changes(tbl, a, b).df.collect())

    assert rows(0, 0) == [(0, "insert", i) for i in range(10)]
    assert rows(1, 1) == [(1, "insert", i) for i in range(10, 15)]
    # v2: ONLY the newly deleted positions
    assert rows(2, 2) == [(2, "delete", 2), (2, "delete", 7)]
    # v3 compaction: dataChange=false -> zero change rows
    assert rows(3, 3) == []
    # v4 overwrite: deletes the live rows (2 and 7 already gone),
    # inserts the new ones
    assert rows(4, 4) == sorted(
        [(4, "delete", i) for i in range(15) if i not in (2, 7)]
        + [(4, "insert", i) for i in (100, 101, 102)])
    # a multi-version slice unions exactly
    assert rows(1, 3) == rows(1, 1) + rows(2, 2)
    got = qc.read_delta_changes(tbl, 0).df
    assert got.columns == ["id", "_change_type", "_commit_version"]
    # missing version in the range errors loudly
    with pytest.raises(ValueError, match="from_version"):
        qc.read_delta_changes(tbl, 4, 2)


def test_delta_changes_review_regressions(spark, qc, tmp_path,
                                          monkeypatch):
    """Round-8 review pins: (1) DV-delta change rows survive a
    RELATIVE table path (the semi-join key is absolute); (2) a
    version whose JSON commit was cleaned up after checkpointing
    refuses with a loud ValueError, not a FileNotFoundError
    mid-replay."""
    import os as _os

    from quokka_spark.sources.delta_local import (delete_rows_delta_local,
                                                  write_checkpoint_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "dtbl")
    write_delta_local(spark.range(0, 6).coalesce(1), tbl)
    f = qc.read_delta(tbl).df.inputFiles()[0].removeprefix("file:")
    delete_rows_delta_local(tbl, {f: [2]})
    # a NON-NORMALIZED table path: absolute, so the old code passed
    # it through un-abspath'd and the semi-join key never matched the
    # scan's normalized file paths — silently empty change stream
    _os.makedirs(str(tmp_path / "x"), exist_ok=True)
    alias = str(tmp_path / "x" / ".." / "dtbl")
    got = sorted((r["_commit_version"], r["_change_type"], r["id"])
                 for r in qc.read_delta_changes(alias, 1, 1)
                 .df.collect())
    assert got == [(1, "delete", 2)]
    # (2) checkpoint then clean the JSON commits at/below it
    tbl2 = str(tmp_path / "chk")
    write_delta_local(spark.range(3).coalesce(1), tbl2)
    write_delta_local(spark.range(3, 6).coalesce(1), tbl2, mode="append")
    write_checkpoint_local(tbl2)
    for v in (0, 1):
        _os.unlink(_os.path.join(tbl2, "_delta_log", f"{v:020d}.json"))
    with pytest.raises(ValueError, match="no JSON commit"):
        qc.read_delta_changes(tbl2, 0)


def test_delta_timestamp_time_travel(spark, qc, tmp_path):
    """timestampAsOf (round 9): resolve a timestamp to the LATEST
    version committed at-or-before it — commit file mtime by
    default, commitInfo.timestamp when the writer recorded one
    (upserts do)."""
    import os as _os

    from quokka_spark.sources.delta_local import (upsert_delta_local,
                                                  version_at_timestamp,
                                                  write_delta_local)
    tbl = str(tmp_path / "ts")
    write_delta_local(spark.range(0, 3).coalesce(1), tbl)
    write_delta_local(spark.range(10, 12).coalesce(1), tbl,
                      mode="append")
    log = _os.path.join(tbl, "_delta_log")
    _os.utime(_os.path.join(log, f"{0:020d}.json"), (1_000_000,) * 2)
    _os.utime(_os.path.join(log, f"{1:020d}.json"), (2_000_000,) * 2)
    # between the commits → v0; at/after v1 → v1 (epoch MS inputs)
    assert version_at_timestamp(tbl, 1_500_000_000) == 0
    assert version_at_timestamp(tbl, 2_000_000_000) == 1
    got = qc.read_delta(tbl, timestamp_as_of=1_500_000_000).df
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2]
    # ISO-string input (UTC): 1970-01-12 ≈ 1e9 ms
    assert sorted(r["id"] for r in qc.read_delta(
        tbl, timestamp_as_of="1970-01-18T00:00:00+00:00")
        .df.collect()) == [0, 1, 2]
    with pytest.raises(ValueError, match="before"):
        version_at_timestamp(tbl, 999)
    with pytest.raises(ValueError, match="not both"):
        qc.read_delta(tbl, version=0, timestamp_as_of=1)
    # commitInfo timestamp (stamped by upserts) beats file mtime
    from quokka_spark.sources.delta_local import _commit_info
    upsert_delta_local(spark, tbl,
                       spark.createDataFrame([(0,)], "id long"), "id")
    _os.utime(_os.path.join(log, f"{2:020d}.json"), (3,) * 2)
    ci_ts = int(_commit_info(tbl, 2)["timestamp"])
    assert version_at_timestamp(tbl, ci_ts) == 2
    # after the LATEST commit refuses, matching the jar (a huge
    # value is usually a seconds-vs-ms units typo)
    with pytest.raises(ValueError, match="after"):
        version_at_timestamp(tbl, ci_ts + 60_000)


@pytest.mark.parametrize("schema", [
    "id long, v double", "id long, m map<string,int>, v double"],
    ids=["plain", "map"])
def test_delta_changes_upsert_pairs_updates(spark, qc, tmp_path, schema):
    """Round 9: an upsert commit (keyColumns stamped in commitInfo's
    operationParameters) surfaces as PAIRED update_preimage/
    update_postimage rows for changed keys and plain inserts for new
    keys — byte-identical survivor re-transmissions cancel entirely
    (exceptAll), so the rewrite artifact never reaches consumers.
    The ``map`` input pins the pairing's NULL-key salt to hashable
    columns: xxhash64 rejects a MAP column with HASH_MAP_TYPE."""
    from quokka_spark.sources.delta_local import (upsert_delta_local,
                                                  write_delta_local)

    def batch(pairs):
        return spark.createDataFrame(
            [(i, {"v": int(x)}, x) if "map<" in schema else (i, x)
             for i, x in pairs], schema)

    tbl = str(tmp_path / "updt")
    write_delta_local(batch([(1, 10.0), (2, 20.0), (3, 30.0)])
                      .coalesce(1), tbl)
    v = upsert_delta_local(spark, tbl, batch([(2, 99.0), (7, 70.0)]),
                           "id")
    ch = qc.read_delta_changes(tbl, v, v).df.collect()
    rows = sorted((r["_change_type"], r["id"], r["v"]) for r in ch)
    assert rows == [("insert", 7, 70.0),
                    ("update_postimage", 2, 99.0),
                    ("update_preimage", 2, 20.0)]
    # the earlier versions keep their plain decomposition
    v0 = qc.read_delta_changes(tbl, 0, 0).df.collect()
    assert sorted(r["id"] for r in v0) == [1, 2, 3]
    assert {r["_change_type"] for r in v0} == {"insert"}
    # an upsert that changes NOTHING (same values) emits no rows
    v2 = upsert_delta_local(spark, tbl, batch([(3, 30.0)]), "id")
    assert qc.read_delta_changes(tbl, v2, v2).df.count() == 0


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_delta_changes_upsert_null_keys_stay_delete_insert(
        spark, qc, tmp_path, fmt):
    """Round 13 (optimization): the single-window CDC pairing must
    keep NULL merge-key rows as delete/insert — the pre-round-13
    semi/anti equi-joins were null-rejecting, and MERGE ON key never
    matches NULL either, while an unguarded window partition groups
    NULL keys together. A real writer cannot produce a
    non-cancelling NULL-key preimage (survivors rewrite
    byte-identical and cancel; an Iceberg upsert never matches a
    NULL key), so the MERGE commit is forged directly: Delta from
    remove+add+commitInfo actions, Iceberg from position deletes of
    both rows plus the rewritten file under a merge-keys summary.
    Both readers share one pairing pass (sources/changes.py)."""
    import glob
    import json
    import time
    from quokka_spark.sources.delta_local import (_add_action,
                                                  _commit,
                                                  _commit_parsed,
                                                  _footer_stats,
                                                  write_delta_local)
    from quokka_spark.sources.iceberg_local import (
        commit_snapshot, create_local_iceberg_table)

    def staged(name, v):
        # one parquet file holding (NULL, v), (2, v)
        sdir = str(tmp_path / f"{name}stage")
        spark.createDataFrame([(None, v), (2, v)],
                              "id long, v double").coalesce(1) \
            .write.parquet(sdir)
        return glob.glob(os.path.join(sdir, "*.parquet"))[0]

    tbl = str(tmp_path / "nullkey")
    if fmt == "iceberg":
        a = staged("a", 20.0)
        create_local_iceberg_table(
            tbl, [[a]], schema_fields=[(1, "id", "long"),
                                       (2, "v", "double")])
        pos = str(tmp_path / "pos.parquet")
        spark.createDataFrame([(a, 0), (a, 1)],
                              "file_path string, pos long") \
            .toPandas().to_parquet(pos)
        sid = commit_snapshot(tbl, [staged("b", 99.0)], [pos],
                              summary_extra={"merge-keys":
                                             json.dumps(["id"])})
        ch = qc.read_iceberg_changes(tbl, sid, sid).df.collect()
    else:
        write_delta_local(
            spark.createDataFrame([(None, 20.0), (2, 20.0)],
                                  "id long, v double").coalesce(1), tbl)
        adds0, _, _, _, _ = _commit_parsed(tbl, 0)
        (apath,) = adds0
        # the "rewritten" file: both rows changed, so NOTHING cancels
        # and the NULL-key preimage survives into the pairing
        bdst = os.path.join(tbl, "part-b.parquet")
        os.replace(staged("b", 99.0), bdst)
        ts = int(time.time() * 1000)
        _commit(tbl, 1, [
            {"commitInfo": {"timestamp": ts, "operation": "MERGE",
                            "operationParameters":
                            {"keyColumns": json.dumps(["id"])}}},
            {"remove": {"path": apath, "deletionTimestamp": ts,
                        "dataChange": True}},
            _add_action(tbl, bdst, None, stats=_footer_stats(bdst)),
        ])
        ch = qc.read_delta_changes(tbl, 1, 1).df.collect()
    rows = sorted(((r["_change_type"], r["id"], r["v"]) for r in ch),
                  key=lambda t: (t[0], t[1] is None, t[1] or 0))
    assert rows == [("delete", None, 20.0),
                    ("insert", None, 99.0),
                    ("update_postimage", 2, 99.0),
                    ("update_preimage", 2, 20.0)]


def test_delta_upsert_partitioned_table(spark, qc, tmp_path):
    """Round 9: MERGE-style upsert on a PARTITIONED table — the live
    scan rejoins log partition values for the key match, only files
    containing matched keys rewrite, survivors and the new batch
    re-partition under the table's partitionColumns, and the change
    feed pairs the updates."""
    from quokka_spark.sources.delta_local import (_replay,
                                                  upsert_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "pup")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "c", 4.0)],
        "id long, cat string, v double")
    write_delta_local(df.repartition(1), tbl, partition_by="cat")
    pre_files = set(qc.read_delta(tbl).df.inputFiles())
    v = upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(2, "a", 99.0), (9, "z", 9.0)],
                              "id long, cat string, v double"), "id")
    got = {r["id"]: (r["cat"], r["v"])
           for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: ("a", 1.0), 2: ("a", 99.0), 3: ("b", 3.0),
                   4: ("c", 4.0), 9: ("z", 9.0)}
    # untouched partitions keep their files (only cat=a rewrote)
    post_files = set(qc.read_delta(tbl).df.inputFiles())
    untouched = {f for f in pre_files
                 if "cat=b" in f or "cat=c" in f}
    assert untouched and untouched <= post_files
    # every add carries partitionValues (rewrite + append alike)
    _, _, _, adds = _replay(tbl, None)
    assert all(set(a["partitionValues"]) == {"cat"} for a in adds)
    # partition pruning still routes after the upsert
    pr = qc.read_delta(tbl, partition_filter="cat = 'z'").df
    assert [(r["id"], r["v"]) for r in pr.collect()] == [(9, 9.0)]
    # the change feed pairs the update and rejoins partition values
    ch = qc.read_delta_changes(tbl, v, v).df.collect()
    rows = sorted((r["_change_type"], r["id"], r["cat"], r["v"])
                  for r in ch)
    assert rows == [("insert", 9, "z", 9.0),
                    ("update_postimage", 2, "a", 99.0),
                    ("update_preimage", 2, "a", 2.0)]
    # time travel still sees the pre-upsert state
    old = {r["id"]: r["v"]
           for r in qc.read_delta(tbl, version=0).df.collect()}
    assert old == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}


def test_delta_changes_partitioned_table(spark, qc, tmp_path):
    """Round 9: the change feed on a PARTITIONED table rejoins
    partition values as typed logical columns on every part — plain
    inserts, remove-derived deletes, and DV-delta deletes — so
    change rows carry the full schema."""
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (delete_rows_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "pch")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "id long, cat string, v double")
    write_delta_local(df.coalesce(1), tbl, partition_by="cat")
    write_delta_local(
        spark.createDataFrame([(9, "b", 9.0)],
                              "id long, cat string, v double")
        .coalesce(1), tbl, mode="append")                        # v1
    # v2: DV-delete id=1 (sits in the cat=a file)
    f = [u.removeprefix("file:") for u in
         qc.read_delta(tbl).df.inputFiles()]
    target = next(p for p in f
                  if 1 in pq.read_table(p, columns=["id"])
                  .column("id").to_pylist())
    pos = pq.read_table(target, columns=["id"]) \
        .column("id").to_pylist().index(1)
    delete_rows_delta_local(tbl, {target: [pos]})
    # v3: overwrite (removes everything, adds one row)
    write_delta_local(
        spark.createDataFrame([(100, "z", 0.5)],
                              "id long, cat string, v double")
        .coalesce(1), tbl, mode="overwrite")
    ch = qc.read_delta_changes(tbl, 0).df
    assert set(ch.columns) == {"id", "cat", "v", "_change_type",
                               "_commit_version"}
    rows = sorted((r["_commit_version"], r["_change_type"], r["id"],
                   r["cat"]) for r in ch.collect())
    assert rows == sorted(
        [(0, "insert", 1, "a"), (0, "insert", 2, "a"),
         (0, "insert", 3, "b"),
         (1, "insert", 9, "b"),
         (2, "delete", 1, "a"),                     # DV delta
         # v3 overwrite: pre-commit SURVIVORS of removed files delete
         (3, "delete", 2, "a"), (3, "delete", 3, "b"),
         (3, "delete", 9, "b"),
         (3, "insert", 100, "z")])


def test_delta_changes_column_mapping_name_mode(spark, qc, tmp_path):
    """Round 9: the change feed on a name-mapped table translates
    physical→logical on every part — appends, DV-delta deletes, and
    the PARTITIONED+mapped combination (partitionValues keyed by the
    physical name); id mode refuses."""
    import json as _json

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit,
                                                  delete_rows_delta_local,
                                                  write_delta_local)

    def mk(name, pcols, extra_field=None):
        fields = [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-a1",
                          "delta.columnMapping.id": 1}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-b2",
                          "delta.columnMapping.id": 2}}]
        if extra_field:
            fields.append(extra_field)
        tbl = str(tmp_path / name)
        os.makedirs(tbl)
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "t", "format": {"provider": "parquet",
                                                "options": {}},
                          "schemaString": _json.dumps(
                              {"type": "struct", "fields": fields}),
                          "partitionColumns": pcols,
                          "configuration": {
                              "delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "9"},
                          "createdTime": 0}}])
        return tbl

    # plain name-mode: append (v1), DV delete (v2)
    tbl = mk("cmch", [])
    write_delta_local(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
        .coalesce(1), tbl, mode="append")
    f = qc.read_delta(tbl).df.inputFiles()[0].removeprefix("file:")
    ids = pq.read_table(f).column("col-a1").to_pylist()
    delete_rows_delta_local(tbl, {f: [ids.index(2)]})
    ch = qc.read_delta_changes(tbl, 1).df
    assert set(ch.columns) == {"id", "v", "_change_type",
                               "_commit_version"}
    rows = sorted((r["_commit_version"], r["_change_type"], r["id"],
                   r["v"]) for r in ch.collect())
    assert rows == [(1, "insert", 1, 1.0), (1, "insert", 2, 2.0),
                    (2, "delete", 2, 2.0)]
    # partitioned + mapped: partition values come back logical
    ptbl = mk("cmchp", ["p"], extra_field={
        "name": "p", "type": "string", "nullable": True,
        "metadata": {"delta.columnMapping.physicalName": "col-p3",
                     "delta.columnMapping.id": 3}})
    write_delta_local(
        spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "b")],
                              "id long, v double, p string")
        .coalesce(1), ptbl, mode="append")
    ch2 = qc.read_delta_changes(ptbl, 1).df
    got = sorted((r["id"], r["p"]) for r in ch2.collect())
    assert got == [(1, "a"), (2, "b")]


def test_delta_changes_id_mode(spark, qc, tmp_path):
    """Round 10: the change feed on an ID-mapped table resolves data
    columns per file by parquet FIELD IDS (heterogeneous physical
    layouts — the exact case name-mode translation can't express),
    DV-delta deletes semi-join raw per-file-resolved rows, and upsert
    commits pair update_pre/postimage — all surfacing LOGICAL names."""
    import json as _json

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit,
                                                  delete_rows_delta_local,
                                                  upsert_delta_local,
                                                  write_delta_local)

    # v0: meta + two files whose PHYSICAL names disagree
    tbl = _id_mode_table(tmp_path, [
        ("cdfa.parquet", {1: ("x", [1, 2]), 2: ("y", [1.0, 2.0])}),
        ("cdfb.parquet", {1: ("zz", [3]), 2: ("ww", [3.0])})])
    # v1: DV delete of id=2 (row index 1 of cdfa.parquet)
    delete_rows_delta_local(tbl, {str(tmp_path / "cdfa.parquet"): [1]})
    # v2: MERGE upsert — update id=1, insert id=9
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(1, 11.0), (9, 9.0)], "id long, v double"),
        ["id"])
    ch = qc.read_delta_changes(tbl, 0).df
    assert set(ch.columns) == {"id", "v", "_change_type",
                               "_commit_version"}
    rows = sorted((r["_commit_version"], r["_change_type"], r["id"],
                   r["v"]) for r in ch.collect())
    assert rows == [
        (0, "insert", 1, 1.0), (0, "insert", 2, 2.0),
        (0, "insert", 3, 3.0),
        (1, "delete", 2, 2.0),
        (2, "insert", 9, 9.0),
        (2, "update_postimage", 1, 11.0),
        (2, "update_preimage", 1, 1.0)]
    # partitioned + id-mapped: partition values come back LOGICAL
    schema = {"type": "struct", "fields": [
        {"name": "p", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-p1",
                      "delta.columnMapping.id": 1}},
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a2",
                      "delta.columnMapping.id": 2}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b3",
                      "delta.columnMapping.id": 3}}]}
    ptbl = str(tmp_path / "pidch")
    os.makedirs(ptbl)
    _commit(ptbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": ["p"],
                      "configuration": {
                          "delta.columnMapping.mode": "id",
                          "delta.columnMapping.maxColumnId": "3"},
                      "createdTime": 0}}])
    write_delta_local(
        spark.createDataFrame([("A", 1, 1.0), ("B", 2, 2.0)],
                              "p string, id long, v double").coalesce(1),
        ptbl, mode="append")
    upsert_delta_local(
        spark, ptbl,
        spark.createDataFrame([("B", 2, 22.0)],
                              "p string, id long, v double"), ["id"])
    ch2 = qc.read_delta_changes(ptbl, 1).df
    got = sorted((r["_commit_version"], r["_change_type"], r["id"],
                  r["p"], r["v"]) for r in ch2.collect())
    assert got == [
        (1, "insert", 1, "A", 1.0), (1, "insert", 2, "B", 2.0),
        (2, "update_postimage", 2, "B", 22.0),
        (2, "update_preimage", 2, "B", 2.0)]
    # data files still carry field ids for DATA columns only
    f0 = [f.removeprefix("file:")
          for f in qc.read_delta(ptbl).df.inputFiles()][0]
    ids = {f.name: (f.metadata or {}).get(b"PARQUET:field_id")
           for f in pq.read_schema(f0)}
    assert ids == {"col-a2": b"2", "col-b3": b"3"}


def test_delta_changes_cdc_actions(spark, qc, tmp_path):
    """Round 10 CDF-writer interop: an upsert on a table with
    delta.enableChangeDataFeed=true writes Change Data Files under
    _change_data/ plus protocol ``cdc`` actions, read_delta_changes
    serves that commit FROM them (authoritative — equal to the twin
    non-CDF table's reconstruction, which holds because every update
    here CHANGES values: a no-op re-apply pairs pre/postimage in cdc,
    like the jar, while byte-identical rows cancel in the log-only
    reconstruction), batch reads ignore cdc actions, and vacuum keeps
    the kept versions' cdc files."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit,
                                                  upsert_delta_local,
                                                  vacuum_delta_local,
                                                  write_delta_local)

    def mk(name, cdf):
        tbl = str(tmp_path / name)
        os.makedirs(tbl)
        conf = {"delta.enableChangeDataFeed": "true"} if cdf else {}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": {"id": "t", "format": {"provider": "parquet",
                                                "options": {}},
                          "schemaString": _json.dumps(
                              {"type": "struct", "fields": [
                                  {"name": "id", "type": "long",
                                   "nullable": True, "metadata": {}},
                                  {"name": "v", "type": "double",
                                   "nullable": True, "metadata": {}}]}),
                          "partitionColumns": [],
                          "configuration": conf, "createdTime": 0}}])
        write_delta_local(
            spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)],
                                  "id long, v double").coalesce(1),
            tbl, mode="append")
        upsert_delta_local(
            spark, tbl,
            spark.createDataFrame([(2, 22.0), (9, 9.0)],
                                  "id long, v double"), ["id"])
        return tbl

    cdf_tbl = mk("cdc_on", True)
    plain_tbl = mk("cdc_off", False)
    # the cdc commit carries cdc actions and the plain one does not
    with open(os.path.join(cdf_tbl, "_delta_log",
                           f"{2:020d}.json")) as fh:
        acts = [_json.loads(ln) for ln in fh if ln.strip()]
    cdc_acts = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc_acts and all(not a["dataChange"] for a in cdc_acts)
    assert all(a["path"].startswith("_change_data/")
               for a in cdc_acts)
    # the change feed reads the cdc FILES for that commit …
    ch = qc.read_delta_changes(cdf_tbl, 2, 2).df
    assert all("_change_data" in f for f in ch.inputFiles())
    rows = sorted((r["_change_type"], r["id"], r["v"])
                  for r in ch.collect())
    assert rows == [("insert", 9, 9.0),
                    ("update_postimage", 2, 22.0),
                    ("update_preimage", 2, 2.0)]
    # … and equals the twin table's reconstruction exactly
    plain = sorted((r["_change_type"], r["id"], r["v"])
                   for r in qc.read_delta_changes(plain_tbl, 2, 2)
                   .df.collect())
    assert rows == plain
    # a range MIXING cdc and reconstructed commits works
    both = sorted((r["_commit_version"], r["_change_type"], r["id"])
                  for r in qc.read_delta_changes(cdf_tbl, 1).df.collect())
    assert both == [(1, "insert", 1), (1, "insert", 2),
                    (1, "insert", 3), (2, "insert", 9),
                    (2, "update_postimage", 2),
                    (2, "update_preimage", 2)]
    # batch reads ignore cdc actions entirely
    got = {r["id"]: r["v"] for r in qc.read_delta(cdf_tbl).df.collect()}
    assert got == {1: 1.0, 2: 22.0, 3: 3.0, 9: 9.0}
    # DV deletes on the CDF table also emit cdc (round 10): v3
    # deletes id=3 on both tables — the CDF one serves the change
    # from its change file, equal to the twin's DV-diff
    # reconstruction
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import delete_rows_delta_local

    def del3(tbl):
        for uri in qc.read_delta(tbl).df.inputFiles():
            f = uri.removeprefix("file:")
            ids = pq.read_table(f, columns=["id"]) \
                .column("id").to_pylist()
            if 3 in ids:
                delete_rows_delta_local(tbl, {f: [ids.index(3)]},
                                        spark=spark)
                return
        raise AssertionError("id 3 not found")

    del3(cdf_tbl)
    del3(plain_tbl)
    chd = qc.read_delta_changes(cdf_tbl, 3, 3).df
    assert all("_change_data" in f for f in chd.inputFiles())
    dd = sorted((r["_change_type"], r["id"], r["v"])
                for r in chd.collect())
    assert dd == [("delete", 3, 3.0)]
    assert dd == sorted((r["_change_type"], r["id"], r["v"])
                        for r in qc.read_delta_changes(plain_tbl, 3, 3)
                        .df.collect())
    assert {r["id"] for r in qc.read_delta(cdf_tbl).df.collect()} == \
        {1, 2, 9}
    # vacuum keeps the kept version's cdc files (the v3 change read
    # stays serviceable even after superseded files reclaim)
    vacuum_delta_local(cdf_tbl, keep_last=1)
    rows2 = sorted((r["_change_type"], r["id"], r["v"])
                   for r in qc.read_delta_changes(cdf_tbl, 3, 3)
                   .df.collect())
    assert rows2 == dd


def test_delta_changes_cdc_actions_foreign_and_mapped(spark, qc,
                                                      tmp_path):
    """cdc actions are AUTHORITATIVE: a foreign-shaped commit whose
    cdc file disagrees with what add/remove reconstruction would say
    serves ONLY the cdc rows (no double count); partitioned +
    name-mapped cdc files translate physical→logical and rejoin
    partition values from the cdc actions' partitionValues."""
    import json as _json

    import pandas as pd

    from quokka_spark.sources.delta_local import (_commit,
                                                  upsert_delta_local,
                                                  write_delta_local)
    # (a) foreign: v1 adds a file AND declares a cdc file carrying a
    # single delete row — reconstruction would call the add an insert
    tbl = str(tmp_path / "foreign")
    os.makedirs(os.path.join(tbl, "_change_data"))
    f1 = str(tmp_path / "d1.parquet")
    pd.DataFrame({"id": [5, 6]}).to_parquet(f1)
    cf = os.path.join(tbl, "_change_data", "c1.parquet")
    pd.DataFrame({"id": [99], "_change_type": ["delete"]}
                 ).to_parquet(cf)
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(
                          {"type": "struct", "fields": [
                              {"name": "id", "type": "long",
                               "nullable": True, "metadata": {}}]}),
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 0}}])
    _commit(tbl, 1, [
        {"add": {"path": f1, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"cdc": {"path": "_change_data/c1.parquet",
                 "partitionValues": {}, "size": 1,
                 "dataChange": False}}])
    ch = qc.read_delta_changes(tbl, 1).df
    assert [(r["_change_type"], r["id"]) for r in ch.collect()] == \
        [("delete", 99)]
    # the batch read still sees the added file
    assert sorted(r["id"] for r in qc.read_delta(tbl).df.collect()) \
        == [5, 6]
    # (b) partitioned + name-mapped CDF table end-to-end
    ptbl = str(tmp_path / "cdcpm")
    os.makedirs(ptbl)
    fields = [
        {"name": "p", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-p1",
                      "delta.columnMapping.id": 1}},
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a2",
                      "delta.columnMapping.id": 2}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b3",
                      "delta.columnMapping.id": 3}}]
    _commit(ptbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(
                          {"type": "struct", "fields": fields}),
                      "partitionColumns": ["p"],
                      "configuration": {
                          "delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "9",
                          "delta.enableChangeDataFeed": "true"},
                      "createdTime": 0}}])
    write_delta_local(
        spark.createDataFrame([("A", 1, 1.0), ("B", 2, 2.0)],
                              "p string, id long, v double").coalesce(1),
        ptbl, mode="append")
    upsert_delta_local(
        spark, ptbl,
        spark.createDataFrame([("B", 2, 22.0), ("A", 7, 7.0)],
                              "p string, id long, v double"), ["id"])
    ch2 = qc.read_delta_changes(ptbl, 2, 2).df
    assert all("_change_data" in f for f in ch2.inputFiles())
    got = sorted((r["_change_type"], r["id"], r["p"], r["v"])
                 for r in ch2.collect())
    assert got == [("insert", 7, "A", 7.0),
                   ("update_postimage", 2, "B", 22.0),
                   ("update_preimage", 2, "B", 2.0)]
    # cdc files carry PHYSICAL data-column names + literal
    # _change_type; partitionValues key by the physical name
    with open(os.path.join(ptbl, "_delta_log",
                           f"{2:020d}.json")) as fh:
        acts = [_json.loads(ln) for ln in fh if ln.strip()]
    cdc_acts = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc_acts
    assert all(set(a["partitionValues"]) == {"col-p1"}
               for a in cdc_acts)
    import pyarrow.parquet as pq
    names = set(pq.read_schema(
        os.path.join(ptbl, cdc_acts[0]["path"])).names)
    assert "_change_type" in names and "col-a2" in names \
        and "col-b3" in names
    # (c) id-mapped + CDF: the upsert's change files stamp FIELD IDS
    # on data columns (literal _change_type carries none) and the
    # cdc read resolves them per file
    itbl = str(tmp_path / "cdcid")
    os.makedirs(itbl)
    ifields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-a1",
                      "delta.columnMapping.id": 1}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b2",
                      "delta.columnMapping.id": 2}}]
    _commit(itbl, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": _json.dumps(
                          {"type": "struct", "fields": ifields}),
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "id",
                          "delta.columnMapping.maxColumnId": "2",
                          "delta.enableChangeDataFeed": "true"},
                      "createdTime": 0}}])
    write_delta_local(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
        .coalesce(1), itbl, mode="append")
    upsert_delta_local(
        spark, itbl,
        spark.createDataFrame([(2, 22.0)], "id long, v double"), ["id"])
    ch3 = qc.read_delta_changes(itbl, 2, 2).df
    assert all("_change_data" in f for f in ch3.inputFiles())
    assert sorted((r["_change_type"], r["id"], r["v"])
                  for r in ch3.collect()) == \
        [("update_postimage", 2, 22.0), ("update_preimage", 2, 2.0)]
    with open(os.path.join(itbl, "_delta_log",
                           f"{2:020d}.json")) as fh:
        iacts = [_json.loads(ln) for ln in fh if ln.strip()]
    icdc = [a["cdc"] for a in iacts if "cdc" in a]
    assert icdc
    ids = {f.name: (f.metadata or {}).get(b"PARQUET:field_id")
           for f in pq.read_schema(
               os.path.join(itbl, icdc[0]["path"]))}
    assert ids["col-a1"] == b"1" and ids["col-b2"] == b"2"
    assert ids["_change_type"] is None


def test_delta_id_mode_dv_delete_cdc(spark, qc, tmp_path):
    """DV deletes on a CDF-enabled id-mode table emit cdc (round 11,
    the last CDF gap): two files whose PHYSICAL names disagree (the
    case id mode exists for) each lose a row; the change feed serves
    the deletes from the change files, the pre-image values prove
    each deleted file was resolved by its OWN field-id layout, and
    the change files themselves land under the CURRENT schema's
    physicalName with field ids stamped (the id-mode upsert
    convention, so jar CDF readers resolve them). A second delete
    overlapping already-deleted positions emits cdc for the NEWLY
    deleted rows only."""
    import json as _json

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import delete_rows_delta_local
    tbl = _id_mode_table(tmp_path, [
        ("fa.parquet", {1: ("alpha", [1, 2]), 2: ("beta", [1.0, 2.0])}),
        ("fb.parquet", {1: ("x_id", [3, 4]), 2: ("x_v", [3.0, 4.0])}),
    ], conf_extra={"delta.enableChangeDataFeed": "true"})
    fa, fb = str(tmp_path / "fa.parquet"), str(tmp_path / "fb.parquet")
    v1 = delete_rows_delta_local(tbl, {fa: [0], fb: [1]}, spark=spark)
    # snapshot hides the deleted rows
    assert sorted(r["id"] for r in qc.read_delta(tbl).df.collect()) \
        == [2, 3]
    # change feed serves the deletes FROM change files, with the
    # pre-image values of BOTH differently-named files
    ch = qc.read_delta_changes(tbl, v1, v1).df
    assert all("_change_data" in f for f in ch.inputFiles())
    assert sorted((r["_change_type"], r["id"], r["v"])
                  for r in ch.collect()) == \
        [("delete", 1, 1.0), ("delete", 4, 4.0)]
    # the change files stamp the schema's physicalName + field ids
    with open(os.path.join(tbl, "_delta_log",
                           f"{v1:020d}.json")) as fh:
        acts = [_json.loads(ln) for ln in fh if ln.strip()]
    cdc_acts = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc_acts and all(not a["dataChange"] for a in cdc_acts)
    ids = {f.name: (f.metadata or {}).get(b"PARQUET:field_id")
           for f in pq.read_schema(
               os.path.join(tbl, cdc_acts[0]["path"]))}
    assert ids["whatever-1"] == b"1" and ids["whatever-2"] == b"2"
    assert ids["_change_type"] is None
    # overlapping re-delete: cdc only for the newly deleted position
    v2 = delete_rows_delta_local(tbl, {fa: [0, 1]}, spark=spark)
    ch2 = qc.read_delta_changes(tbl, v2, v2).df
    assert sorted((r["_change_type"], r["id"], r["v"])
                  for r in ch2.collect()) == [("delete", 2, 2.0)]
    assert sorted(r["id"] for r in qc.read_delta(tbl).df.collect()) \
        == [3]


def test_delta_changes_timestamp_bounds(spark, qc, tmp_path):
    """CDF timestamp bounds (round 10, the jar's startingTimestamp/
    endingTimestamp): from_timestamp resolves to the EARLIEST commit
    at-or-after, to_timestamp to the LATEST at-or-before; mixing both
    kinds of the same bound refuses; a start past the newest commit
    refuses instead of serving an empty stream."""
    import os as _os

    from quokka_spark.sources.delta_local import write_delta_local
    tbl = str(tmp_path / "tsb")
    for i in range(3):
        write_delta_local(
            spark.createDataFrame([(i, float(i))], "id long, v double")
            .coalesce(1), tbl, mode="append")
    log = _os.path.join(tbl, "_delta_log")
    for v, mt in ((0, 1_000_000), (1, 2_000_000), (2, 3_000_000)):
        _os.utime(_os.path.join(log, f"{v:020d}.json"), (mt,) * 2)
    ch = qc.read_delta_changes(tbl, from_timestamp=1_500_000_000,
                               to_timestamp=2_500_000_000).df
    assert [(r["_commit_version"], r["id"]) for r in ch.collect()] \
        == [(1, 1)]
    ch2 = qc.read_delta_changes(tbl, from_timestamp=1_000_000_000).df
    assert sorted(r["id"] for r in ch2.collect()) == [0, 1, 2]
    with pytest.raises(ValueError, match="exactly one"):
        qc.read_delta_changes(tbl)
    with pytest.raises(ValueError, match="exactly one"):
        qc.read_delta_changes(tbl, 1, from_timestamp=1)
    with pytest.raises(ValueError, match="at most one"):
        qc.read_delta_changes(tbl, 1, to_version=2,
                              to_timestamp=2_500_000_000)
    with pytest.raises(ValueError, match="after the table's latest"):
        qc.read_delta_changes(tbl, from_timestamp=9_000_000_000)
    # the END bound clamps at the newest commit ("changes up to now")
    ch3 = qc.read_delta_changes(tbl, 1,
                                to_timestamp=9_000_000_000).df
    assert sorted(r["id"] for r in ch3.collect()) == [1, 2]


def test_delta_checkpoint_candidates_fall_back(spark, qc, tmp_path):
    """Same-version checkpoint files group into independent
    CANDIDATES (round 11, advisor finding): a classic checkpoint and
    an abandoned v2 attempt (sidecar never written) are both
    spec-legal at one version — the read must serve the complete
    candidate instead of concatenating (double-absorbing actions) or
    failing on the incomplete one. Reverse direction too: a corrupt
    classic falls back to a complete v2 sibling; all-broken still
    refuses loudly."""
    import json as _json

    from quokka_spark.sources.delta_local import (write_checkpoint_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "cands")
    write_delta_local(
        spark.createDataFrame([(1, 1.0), (2, 2.0)],
                              "id long, v double").coalesce(1), tbl)
    write_delta_local(
        spark.createDataFrame([(3, 3.0)], "id long, v double")
        .coalesce(1), tbl, mode="append")
    cpv = write_checkpoint_local(tbl)
    log = os.path.join(tbl, "_delta_log")
    classic = os.path.join(log, f"{cpv:020d}.checkpoint.parquet")
    assert os.path.exists(classic)
    # drop the covered JSON commits so the checkpoint is load-bearing
    for v in range(cpv + 1):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    # abandoned v2 attempt at the SAME version: top-level pointing at
    # a sidecar that was never written
    with open(os.path.join(
            log, f"{cpv:020d}.checkpoint.abandoned0.json"), "w") as fh:
        fh.write(_json.dumps({"checkpointMetadata": {"version": cpv}})
                 + "\n")
        fh.write(_json.dumps({"sidecar": {
            "path": "never-written.parquet", "sizeInBytes": 1,
            "modificationTime": 0}}) + "\n")
    got = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}
    # corrupt the classic: the read falls back… to nothing complete
    # here (the v2 sibling is still broken) → loud aggregate error
    with open(classic, "wb") as fh:
        fh.write(b"not parquet")
    with pytest.raises(Exception, match="candidate"):
        qc.read_delta(tbl)

    # an INCOMPLETE multipart set as the version's only checkpoint
    # must not brick a table whose JSON history still exists (review
    # finding: the spec says ignore incomplete checkpoints)
    tbl2 = str(tmp_path / "cands2")
    write_delta_local(
        spark.createDataFrame([(1, 1.0)], "id long, v double")
        .coalesce(1), tbl2)
    write_delta_local(
        spark.createDataFrame([(2, 2.0)], "id long, v double")
        .coalesce(1), tbl2, mode="append", txn=("app", 3))
    cpv2 = write_checkpoint_local(tbl2)
    log2 = os.path.join(tbl2, "_delta_log")
    classic2 = os.path.join(log2, f"{cpv2:020d}.checkpoint.parquet")
    # part 1 of a declared 2-part set, part 2 never written
    os.rename(classic2, os.path.join(
        log2, f"{cpv2:020d}.checkpoint.0000000001.0000000002.parquet"))
    assert {r["id"] for r in qc.read_delta(tbl2).df.collect()} \
        == {1, 2}
    from quokka_spark.sources.delta_local import last_txn_version
    assert last_txn_version(tbl2, "app") == 3   # JSON-replay fallback
    # appends still work (protocol lookup falls back too)
    write_delta_local(
        spark.createDataFrame([(3, 3.0)], "id long, v double")
        .coalesce(1), tbl2, mode="append")
    assert {r["id"] for r in qc.read_delta(tbl2).df.collect()} \
        == {1, 2, 3}

    # a sibling that CARRIES txn marks wins over a txn-less foreign
    # classic at the same version (review finding: the demote/refuse
    # branch used to shadow it)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (
        _replay, write_v2_checkpoint_local)
    tbl3 = str(tmp_path / "cands3")
    write_delta_local(
        spark.createDataFrame([(1, 1.0)], "id long, v double")
        .coalesce(1), tbl3)
    write_delta_local(
        spark.createDataFrame([(2, 2.0)], "id long, v double")
        .coalesce(1), tbl3, mode="append", txn=("app", 11))
    cpv3 = write_v2_checkpoint_local(tbl3)        # v2: txn inline
    _, meta3, keys3, adds3 = _replay(tbl3, cpv3)
    log3 = os.path.join(tbl3, "_delta_log")
    # foreign classic at the SAME version, NO txn column
    pq.write_table(pa.Table.from_pylist(
        [{"add": {"path": k, "size": int(a["size"]),
                  "modificationTime": 0, "dataChange": True}}
         for k, a in zip(keys3, adds3)]
        + [{"metaData": meta3}]),
        os.path.join(log3, f"{cpv3:020d}.checkpoint.parquet"))
    for v in range(cpv3 + 1):
        os.unlink(os.path.join(log3, f"{v:020d}.json"))
    assert last_txn_version(tbl3, "app") == 11


def test_delta_v2_checkpoint_reads(spark, qc, tmp_path):
    """V2 checkpoints (round 10 — protocol 'V2 Checkpoint Spec'):
    (a) write_v2_checkpoint_local produces the real layout — a
    protocol-upgrade commit declaring v2Checkpoint, a top-level
    <v>.checkpoint.<uuid>.json with checkpointMetadata/protocol/
    metaData/txn + sidecar pointer, add actions in a _sidecars/
    parquet — and the table reads end-to-end after the covered JSON
    commits are cleaned (state, protocol, txn sink marks); (b) a
    FOREIGN parquet-flavor top-level reads too; a missing sidecar
    refuses; later appends keep working."""
    import glob as _glob
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (
        _replay, last_txn_version, write_delta_local,
        write_v2_checkpoint_local)

    # (a) the library writer, end to end
    tbl = str(tmp_path / "v2ck_lib")
    write_delta_local(
        spark.createDataFrame([(1, 1.0), (2, 2.0)],
                              "id long, v double").coalesce(1), tbl)
    write_delta_local(
        spark.createDataFrame([(3, 3.0)], "id long, v double")
        .coalesce(1), tbl, mode="append", txn=("app", 7))
    cpv = write_v2_checkpoint_local(tbl)
    assert cpv == 2                     # the protocol-upgrade commit
    log = os.path.join(tbl, "_delta_log")
    tops = _glob.glob(os.path.join(log, "*.checkpoint.*.json"))
    assert len(tops) == 1
    with open(tops[0]) as fh:
        acts = [_json.loads(ln) for ln in fh if ln.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert any("checkpointMetadata" in a for a in acts)
    for v in range(cpv + 1):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    got = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}
    assert {r["id"] for r in
            qc.read_delta(tbl, version=cpv).df.collect()} == {1, 2, 3}
    assert last_txn_version(tbl, "app") == 7
    # appends keep working (classic checkpoints stay legal on
    # v2Checkpoint tables)
    write_delta_local(
        spark.createDataFrame([(9, 9.0)], "id long, v double")
        .coalesce(1), tbl, mode="append")
    assert {r["id"] for r in qc.read_delta(tbl).df.collect()} \
        == {1, 2, 3, 9}
    # a missing sidecar refuses instead of serving partial state
    sc = _glob.glob(os.path.join(log, "_sidecars", "*.parquet"))[0]
    os.unlink(sc)
    with pytest.raises(FileNotFoundError, match="sidecar"):
        qc.read_delta(tbl, version=cpv)

    # (b) a FOREIGN parquet-flavor top-level (hand-built)
    tbl2 = str(tmp_path / "v2ck_foreign")
    write_delta_local(
        spark.createDataFrame([(1, 1.0), (2, 2.0)],
                              "id long, v double").coalesce(1), tbl2)
    write_delta_local(
        spark.createDataFrame([(3, 3.0)], "id long, v double")
        .coalesce(1), tbl2, mode="append", txn=("app", 7))
    _, meta, keys, adds = _replay(tbl2, 1)
    log2 = os.path.join(tbl2, "_delta_log")
    sdir = os.path.join(log2, "_sidecars")
    os.makedirs(sdir)
    sname = "sc-1.parquet"
    pq.write_table(pa.Table.from_pylist(
        [{"add": {"path": k, "size": int(a["size"]),
                  "modificationTime": 0, "dataChange": True,
                  "stats": a.get("stats")}}
         for k, a in zip(keys, adds)]), os.path.join(sdir, sname))
    proto2 = {"minReaderVersion": 3, "minWriterVersion": 7,
              "readerFeatures": ["v2Checkpoint"],
              "writerFeatures": ["v2Checkpoint", "appendOnly",
                                 "invariants"]}
    pmeta = dict(meta)
    pmeta["configuration"] = {"qs.fixture": "1"}
    pmeta["format"] = {"provider": "parquet", "options": {"qs": "1"}}
    blank = {"protocol": None, "metaData": None, "txn": None,
             "sidecar": None}
    pq.write_table(pa.Table.from_pylist([
        {**blank, "protocol": proto2},
        {**blank, "metaData": pmeta},
        {**blank, "txn": {"appId": "app", "version": 7}},
        {**blank, "sidecar": {
            "path": sname,
            "sizeInBytes": os.path.getsize(
                os.path.join(sdir, sname)),
            "modificationTime": 0}}]),
        os.path.join(log2, f"{1:020d}.checkpoint.def-456.parquet"))
    for v in (0, 1):
        os.unlink(os.path.join(log2, f"{v:020d}.json"))
    got2 = {r["id"]: r["v"] for r in qc.read_delta(tbl2).df.collect()}
    assert got2 == {1: 1.0, 2: 2.0, 3: 3.0}
    assert last_txn_version(tbl2, "app") == 7


def test_delta_history(spark, qc, tmp_path):
    """qc.delta_history — DESCRIBE HISTORY: version, commit
    timestamp, operation (+parameters) per version; MERGE commits
    carry their keyColumns, bare appends a null operation."""
    import json as _json

    from quokka_spark.sources.delta_local import (upsert_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "hist")
    write_delta_local(
        spark.createDataFrame([(1, 1.0)], "id long, v double")
        .coalesce(1), tbl)
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(1, 2.0)], "id long, v double"), ["id"])
    h = {r["version"]: r for r in qc.delta_history(tbl).df.collect()}
    assert sorted(h) == [0, 1]
    assert h[1]["operation"] == "MERGE"
    assert _json.loads(h[1]["operationParameters"])["keyColumns"] \
        == '["id"]'
    assert h[0]["timestamp"] <= h[1]["timestamp"]


def test_delta_protocol_feature_gates(spark, qc, tmp_path):
    """Protocol compliance (round 10): a reader-3 table listing a
    reader feature this engine lacks refuses to READ (ignoring e.g.
    v2Checkpoint could serve stale data); a writer-7 table listing an
    unknown writer feature refuses to WRITE but still reads;
    delta.appendOnly=true allows appends and dataChange=false
    compaction but refuses upsert/delete/overwrite/restore; declared
    invariants / CHECK constraints are EVALUATED on writes (round
    11) — valid batches commit, violating ones refuse; generated
    columns still refuse (the writer would have to compute them)."""
    import json as _json

    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  delete_rows_delta_local,
                                                  restore_delta_local,
                                                  upsert_delta_local,
                                                  write_delta_local)

    def mk(name, protocol, conf=None, field_md=None):
        tbl = str(tmp_path / name)
        os.makedirs(tbl)
        fields = [{"name": "id", "type": "long", "nullable": True,
                   "metadata": field_md or {}}]
        _commit_raw = __import__(
            "quokka_spark.sources.delta_local",
            fromlist=["_commit"])._commit
        _commit_raw(tbl, 0, [
            {"protocol": protocol},
            {"metaData": {"id": name, "format": {
                "provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": [], "configuration": conf or {},
                "createdTime": 0}}])
        return tbl

    one = spark.createDataFrame([(1,)], "id long").coalesce(1)
    # unknown READER feature refuses reads (and writes — writers read)
    t1 = mk("p_rf", {"minReaderVersion": 3, "minWriterVersion": 7,
                     "readerFeatures": ["deletionVectors",
                                        "typeWidening"],
                     "writerFeatures": ["deletionVectors"]})
    write_delta_local(one, str(tmp_path / "seed"))  # unrelated, fine
    with pytest.raises(NotImplementedError, match="typeWidening"):
        qc.read_delta(t1)
    with pytest.raises(NotImplementedError, match="typeWidening"):
        write_delta_local(one, t1, mode="append")
    # unknown WRITER feature refuses writes, reads fine (rowTracking
    # WAS the example here until round 12 made it a supported,
    # maintained feature — appends now assign row ids instead)
    t2 = mk("p_wf", {"minReaderVersion": 1, "minWriterVersion": 7,
                     "writerFeatures": ["icebergCompatV2"]})
    with pytest.raises(NotImplementedError, match="icebergCompatV2"):
        write_delta_local(one, t2, mode="append")
    t2b = mk("p_wf_rt", {"minReaderVersion": 1, "minWriterVersion": 7,
                         "writerFeatures": ["rowTracking",
                                            "domainMetadata"]})
    write_delta_local(one, t2b, mode="append")
    from quokka_spark.sources.delta_local import (_domain_metadata,
                                                  read_delta_local)
    rows_rt = [(r["id"], r["_row_id"]) for r in read_delta_local(
        spark, t2b, with_row_tracking=True).collect()]
    assert rows_rt == [(1, 0)]
    dm = _domain_metadata(t2b)["delta.rowTracking"]
    assert _json.loads(dm["configuration"])["rowIdHighWaterMark"] == 0
    # appendOnly: append + compaction OK; rewrites refuse
    t3 = mk("p_ao", {"minReaderVersion": 1, "minWriterVersion": 2},
            conf={"delta.appendOnly": "true"})
    write_delta_local(one, t3, mode="append")
    write_delta_local(spark.createDataFrame([(2,)], "id long")
                      .coalesce(1), t3, mode="append")
    compact_delta_local(spark, t3, target_file_rows=100)
    assert sorted(r["id"] for r in qc.read_delta(t3).df.collect()) \
        == [1, 2]
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta_local(one, t3, mode="overwrite")
    with pytest.raises(ValueError, match="appendOnly"):
        upsert_delta_local(spark, t3, one, ["id"])
    f = qc.read_delta(t3).df.inputFiles()[0].removeprefix("file:")
    with pytest.raises(ValueError, match="appendOnly"):
        delete_rows_delta_local(t3, {f: [0]})
    with pytest.raises(ValueError, match="appendOnly"):
        restore_delta_local(t3, 1)
    # declared invariants / constraints EVALUATE (round 11): valid
    # rows commit, violating batches refuse before any file lands
    t4 = mk("p_inv", {"minReaderVersion": 1, "minWriterVersion": 2},
            field_md={"delta.invariants":
                      '{"expression":{"expression":"id > 0"}}'})
    write_delta_local(one, t4, mode="append")
    with pytest.raises(ValueError, match="invariant:id"):
        write_delta_local(spark.createDataFrame([(-1,)], "id long")
                          .coalesce(1), t4, mode="append")
    assert [r["id"] for r in qc.read_delta(t4).df.collect()] == [1]
    t5 = mk("p_ck", {"minReaderVersion": 1, "minWriterVersion": 3},
            conf={"delta.constraints.positive": "id > 0"})
    write_delta_local(one, t5, mode="append")
    with pytest.raises(ValueError, match="positive"):
        write_delta_local(spark.createDataFrame([(2,), (-3,)],
                                                "id long")
                          .coalesce(1), t5, mode="append")
    # generated columns EVALUATE too (round 11): a provided value
    # contradicting its expression refuses; an identity column with
    # allowExplicitInsert=false refuses explicit values
    t6 = mk("p_gen", {"minReaderVersion": 1, "minWriterVersion": 4},
            field_md={"delta.generationExpression": "id + 1"})
    with pytest.raises(ValueError, match="contradict"):
        write_delta_local(one, t6, mode="append")
    t7 = mk("p_idn", {"minReaderVersion": 1, "minWriterVersion": 6},
            field_md={"delta.identity.start": 1})
    with pytest.raises(ValueError, match="IDENTITY"):
        write_delta_local(one, t7, mode="append")


def test_delta_constraints_lifecycle(spark, qc, tmp_path):
    """CHECK constraints + column invariants evaluate like the jar
    (round 11, delta-spark CheckDeltaInvariant semantics: an
    expression must come out TRUE for every row — false and NULL
    both violate). Lifecycle: constrained appends and MERGE upserts
    commit when valid; a violating append refuses naming the
    constraint and leaves the table version untouched; a violating
    upsert refuses before any rewrite; multi-constraint violations
    report each count; NULL in a constrained column violates."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit,
                                                  list_versions,
                                                  upsert_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "cons")
    os.makedirs(tbl)
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.invariants":
                      '{"expression":{"expression":"id IS NOT NULL"}}'}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {}},
    ]
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}},
        {"metaData": {"id": "cons", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {
                "delta.constraints.v_nonneg": "v >= 0",
                "delta.constraints.v_cap": "v < 1000"},
            "createdTime": 0}}])
    ok = spark.createDataFrame([(1, 1.0), (2, 999.0)],
                               "id long, v double").coalesce(1)
    write_delta_local(ok, tbl, mode="append")
    # valid upsert: update id=1, insert id=3
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(1, 5.0), (3, 0.0)],
                              "id long, v double").coalesce(1),
        ["id"])
    got = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 5.0, 2: 999.0, 3: 0.0}
    before = list_versions(tbl)[-1]
    # violating append: names the constraint, counts rows, no commit
    bad = spark.createDataFrame([(4, -1.0), (5, -2.0), (6, 1.0)],
                                "id long, v double").coalesce(1)
    with pytest.raises(ValueError, match=r"v_nonneg \(2 rows"):
        write_delta_local(bad, tbl, mode="append")
    # multi-constraint violation reports both
    worse = spark.createDataFrame([(4, -1.0), (5, 2000.0)],
                                  "id long, v double").coalesce(1)
    with pytest.raises(ValueError) as ei:
        write_delta_local(worse, tbl, mode="append")
    assert "v_nonneg" in str(ei.value) and "v_cap" in str(ei.value)
    # NULL violates (must evaluate TRUE, not just not-false)
    withnull = spark.createDataFrame([(None, 1.0)],
                                     "id long, v double").coalesce(1)
    with pytest.raises(ValueError, match="invariant:id"):
        write_delta_local(withnull, tbl, mode="append")
    # violating upsert refuses too
    with pytest.raises(ValueError, match="v_nonneg"):
        upsert_delta_local(
            spark, tbl,
            spark.createDataFrame([(1, -9.0)], "id long, v double")
            .coalesce(1), ["id"])
    assert list_versions(tbl)[-1] == before        # nothing committed
    assert {r["id"]: r["v"]
            for r in qc.read_delta(tbl).df.collect()} == got


def test_delta_id_mode_dv_delete_precondition_no_orphans(spark, qc,
                                                         tmp_path):
    """An id-mode CDF table containing a file WITHOUT parquet field
    ids refuses the DV delete BEFORE any .bin lands (review finding:
    the late _id_mode_scan failure inside cdc emission would orphan
    freshly written deletion vectors)."""
    from quokka_spark.sources.delta_local import delete_rows_delta_local
    tbl = _id_mode_table(tmp_path, [
        ("noids.parquet", {1: ("alpha", [1, 2]),
                           2: ("beta", [1.0, 2.0])}),
    ], conf_extra={"delta.enableChangeDataFeed": "true"})
    # swap in a foreign file that carries NO field ids
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = str(tmp_path / "noids.parquet")
    pq.write_table(pa.table({"whatever": [1, 2]}), f)
    with pytest.raises(ValueError, match="field ids"):
        delete_rows_delta_local(tbl, {f: [0]}, spark=spark)
    assert not os.path.isdir(os.path.join(tbl, "_dv"))   # no orphans


def test_delta_generated_columns_lifecycle(spark, qc, tmp_path):
    """Generated columns evaluate like the jar (round 11): a batch
    MISSING the generated column gets it computed from
    delta.generationExpression (schema-ordered, typed); a batch
    PROVIDING it validates null-safe equality and refuses on
    contradiction; MERGE upserts flow the same way; constraints see
    the computed values."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit,
                                                  upsert_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "gen")
    os.makedirs(tbl)
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "twice", "type": "long", "nullable": True,
         "metadata": {"delta.generationExpression": "id * 2"}},
    ]
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {"id": "gen", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {
                "delta.constraints.cap": "twice < 100"},
            "createdTime": 0}}])
    # absent → computed (and the cap constraint sees the result)
    write_delta_local(
        spark.createDataFrame([(1,), (2,)], "id long").coalesce(1),
        tbl, mode="append")
    got = {r["id"]: r["twice"]
           for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: 2, 2: 4}
    # provided-and-correct passes; provided-and-wrong refuses
    write_delta_local(
        spark.createDataFrame([(3, 6)], "id long, twice long")
        .coalesce(1), tbl, mode="append")
    with pytest.raises(ValueError, match="contradict"):
        write_delta_local(
            spark.createDataFrame([(4, 9)], "id long, twice long")
            .coalesce(1), tbl, mode="append")
    # the computed value feeds the CHECK constraint: id=60 → 120 ≥ 100
    with pytest.raises(ValueError, match="cap"):
        write_delta_local(
            spark.createDataFrame([(60,)], "id long").coalesce(1),
            tbl, mode="append")
    # upserts compute too (update id=1, insert id=5)
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(1,), (5,)], "id long").coalesce(1),
        ["id"])
    got2 = {r["id"]: r["twice"]
            for r in qc.read_delta(tbl).df.collect()}
    assert got2 == {1: 2, 2: 4, 3: 6, 5: 10}


def test_delta_identity_columns_lifecycle(spark, qc, tmp_path):
    """Identity columns allocate like the jar (round 11): appends
    missing the column get dense fresh values from start/step; the
    advanced high-water mark commits WITH the data, so the next
    append continues past it; explicit values refuse without
    allowExplicitInsert and advance the mark with it; MERGE batches
    must provide the column (generation inside a merge would
    reassign matched rows)."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit, _replay,
                                                  upsert_delta_local,
                                                  write_delta_local)

    def mk(name, extra_md=None):
        tbl = str(tmp_path / name)
        os.makedirs(tbl)
        fields = [
            {"name": "rid", "type": "long", "nullable": True,
             "metadata": dict({"delta.identity.start": 100,
                               "delta.identity.step": 10},
                              **(extra_md or {}))},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {}},
        ]
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 1,
                          "minWriterVersion": 6}},
            {"metaData": {"id": name, "format": {
                "provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": [], "configuration": {},
                "createdTime": 0}}])
        return tbl

    tbl = mk("ident")
    write_delta_local(
        spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
        .coalesce(1), tbl, mode="append")
    got = sorted(r["rid"] for r in qc.read_delta(tbl).df.collect())
    assert got == [100, 110, 120]
    # the mark advanced in the same commit → the next batch continues
    _, meta, _, _ = _replay(tbl, None)
    md = _json.loads(meta["schemaString"])["fields"][0]["metadata"]
    assert int(md["delta.identity.highWaterMark"]) == 120
    write_delta_local(
        spark.createDataFrame([(4.0,)], "v double").coalesce(1),
        tbl, mode="append")
    got2 = sorted(r["rid"] for r in qc.read_delta(tbl).df.collect())
    assert got2 == [100, 110, 120, 130]
    # explicit values refuse (allowExplicitInsert defaults false)
    with pytest.raises(ValueError, match="IDENTITY"):
        write_delta_local(
            spark.createDataFrame([(999, 9.0)],
                                  "rid long, v double").coalesce(1),
            tbl, mode="append")
    # …and a merge batch omitting the column refuses typed
    with pytest.raises(NotImplementedError, match="identity"):
        upsert_delta_local(
            spark, tbl,
            spark.createDataFrame([(2.0,)], "v double").coalesce(1),
            ["v"])
    # allowExplicitInsert=true accepts and advances the mark
    tbl2 = mk("identx", {"delta.identity.allowExplicitInsert": True})
    write_delta_local(
        spark.createDataFrame([(500, 1.0)], "rid long, v double")
        .coalesce(1), tbl2, mode="append")
    write_delta_local(
        spark.createDataFrame([(2.0,)], "v double").coalesce(1),
        tbl2, mode="append")
    got3 = sorted(r["rid"] for r in qc.read_delta(tbl2).df.collect())
    assert got3 == [500, 510]          # continues past the explicit


def test_delta_identity_bulk_load_per_partition_ranges(
        spark, qc, tmp_path):
    """Round-12 (round-11 verdict #3): dense identity allocation on a
    MULTI-partition batch uses the jar's per-partition RANGE scheme —
    the physical plan of the prepared batch must carry NO
    SinglePartition exchange (the global row_number window funneled
    the ENTIRE bulk load through one task), and the allocated values
    are still the exact dense set base + step·[0, N) with the mark
    advanced to the last value. Single-partition batches keep the
    window path (its SinglePartition exchange moves nothing — the
    batch IS one partition)."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit,
                                                  _prepare_write_batch,
                                                  _replay,
                                                  write_delta_local)

    tbl = str(tmp_path / "identbulk")
    os.makedirs(tbl)
    fields = [
        {"name": "rid", "type": "long", "nullable": True,
         "metadata": {"delta.identity.start": 100,
                      "delta.identity.step": 10}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {}},
    ]
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        {"metaData": {"id": "identbulk", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [], "configuration": {},
            "createdTime": 0}}])
    _, meta, _, _ = _replay(tbl, None)

    n = 10_000
    batch = spark.range(n).selectExpr("cast(id as double) AS v") \
        .repartition(8)
    prepared, updates = _prepare_write_batch(batch, meta)
    plan = prepared._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert updates == {"rid": 100 + 10 * (n - 1)}

    # end-to-end: the committed values are the exact dense set and
    # the mark persisted with the data
    write_delta_local(batch, tbl, mode="append")
    got = [r["rid"] for r in qc.read_delta(tbl).df.collect()]
    assert sorted(got) == list(range(100, 100 + 10 * n, 10))
    _, meta2, _, _ = _replay(tbl, None)
    md = _json.loads(meta2["schemaString"])["fields"][0]["metadata"]
    assert int(md["delta.identity.highWaterMark"]) == 100 + 10 * (n - 1)
    # and the next (single-partition) append continues past it
    write_delta_local(
        spark.createDataFrame([(1.5,)], "v double").coalesce(1),
        tbl, mode="append")
    got2 = sorted(r["rid"] for r in qc.read_delta(tbl).df.collect())
    assert got2[-1] == 100 + 10 * n


def test_delta_write_features_review_regressions(spark, qc, tmp_path):
    """Round-11 review findings: (a) OVERWRITE on a feature-declaring
    table keeps the field metadata and configuration — adopting the
    batch's metadata-free schema verbatim silently erased generation
    expressions and constraints; (b) START WITH 0 allocates from 0
    (the old 'or 1' coerced it); (c) an explicit identity insert
    below the declared start never drags later allocation below
    start; (d) a numeric step of 0 still refuses."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit, _replay,
                                                  write_delta_local)

    # (a) overwrite keeps generated metadata + constraints config
    tbl = str(tmp_path / "ow")
    os.makedirs(tbl)
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "twice", "type": "long", "nullable": True,
         "metadata": {"delta.generationExpression": "id * 2"}}]
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {"id": "ow", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {"delta.constraints.pos": "id > 0"},
            "createdTime": 0}}])
    write_delta_local(spark.createDataFrame([(1,)], "id long")
                      .coalesce(1), tbl, mode="append")
    write_delta_local(spark.createDataFrame([(2,)], "id long")
                      .coalesce(1), tbl, mode="overwrite")
    _, meta, _, _ = _replay(tbl, None)
    sch = _json.loads(meta["schemaString"])
    tw = next(f for f in sch["fields"] if f["name"] == "twice")
    assert tw["metadata"].get("delta.generationExpression") == "id * 2"
    assert meta["configuration"].get("delta.constraints.pos") == "id > 0"
    # the contracts still enforce after the overwrite
    assert [(r["id"], r["twice"]) for r in
            qc.read_delta(tbl).df.collect()] == [(2, 4)]
    with pytest.raises(ValueError, match="pos"):
        write_delta_local(spark.createDataFrame([(-1,)], "id long")
                          .coalesce(1), tbl, mode="append")

    # (b)+(c)+(d) identity numerics
    def mk(name, md):
        t = str(tmp_path / name)
        os.makedirs(t)
        _commit(t, 0, [
            {"protocol": {"minReaderVersion": 1,
                          "minWriterVersion": 6}},
            {"metaData": {"id": name, "format": {
                "provider": "parquet", "options": {}},
                "schemaString": _json.dumps({"type": "struct",
                                             "fields": [
                    {"name": "rid", "type": "long", "nullable": True,
                     "metadata": md},
                    {"name": "v", "type": "double", "nullable": True,
                     "metadata": {}}]}),
                "partitionColumns": [], "configuration": {},
                "createdTime": 0}}])
        return t

    z = mk("start0", {"delta.identity.start": 0,
                      "delta.identity.step": 1})
    write_delta_local(spark.createDataFrame(
        [(1.0,), (2.0,)], "v double").coalesce(1), z, mode="append")
    assert sorted(r["rid"] for r in qc.read_delta(z).df.collect()) \
        == [0, 1]
    lo = mk("below", {"delta.identity.start": 100,
                      "delta.identity.step": 1,
                      "delta.identity.allowExplicitInsert": True})
    write_delta_local(spark.createDataFrame(
        [(5, 1.0)], "rid long, v double").coalesce(1),
        lo, mode="append")
    write_delta_local(spark.createDataFrame(
        [(2.0,)], "v double").coalesce(1), lo, mode="append")
    assert sorted(r["rid"] for r in qc.read_delta(lo).df.collect()) \
        == [5, 100]                    # never allocates below start
    bad = mk("step0", {"delta.identity.start": 1,
                       "delta.identity.step": 0})
    with pytest.raises(ValueError, match="step is 0"):
        write_delta_local(spark.createDataFrame(
            [(1.0,)], "v double").coalesce(1), bad, mode="append")


def test_delta_in_commit_timestamp_preferred(spark, qc, tmp_path):
    """ICT tables (round 10): commitInfo.inCommitTimestamp is the
    authoritative commit time — time travel and CDF timestamp bounds
    resolve by it even when the commit FILE's mtime and plain
    timestamp disagree (the exact clock-skew case ICT exists for)."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit,
                                                  version_at_timestamp)
    import pandas as pd
    tbl = str(tmp_path / "ict")
    os.makedirs(tbl)
    f1 = str(tmp_path / "i1.parquet")
    f2 = str(tmp_path / "i2.parquet")
    pd.DataFrame({"id": [1]}).to_parquet(f1)
    pd.DataFrame({"id": [2]}).to_parquet(f2)
    schema = _json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {}}]})
    _commit(tbl, 0, [
        {"commitInfo": {"timestamp": 999_999_999_999,
                        "inCommitTimestamp": 1_000_000_000}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
        {"add": {"path": f1, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}])
    _commit(tbl, 1, [
        {"commitInfo": {"timestamp": 999_999_999_999,
                        "inCommitTimestamp": 2_000_000_000}},
        {"add": {"path": f2, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}}])
    assert version_at_timestamp(tbl, 1_500_000_000) == 0
    assert sorted(r["id"] for r in
                  qc.read_delta(tbl, timestamp_as_of=1_500_000_000)
                  .df.collect()) == [1]
    ch = qc.read_delta_changes(tbl, from_timestamp=1_500_000_000).df
    assert [r["id"] for r in ch.collect()] == [2]


def test_delta_restore(spark, qc, tmp_path):
    """RESTORE (round 10 — delta_local.restore_delta_local): a new
    commit whose removes/re-adds diff the live set against the target
    version — DV'd files re-add under the TARGET's DV (deleted rows
    resurrect), partition values ride the original adds, history and
    time travel survive, restoring to the current state is a no-op,
    and a vacuumed target refuses instead of committing an
    unscannable table."""
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (delete_rows_delta_local,
                                                  list_versions,
                                                  restore_delta_local,
                                                  upsert_delta_local,
                                                  vacuum_delta_local,
                                                  write_delta_local)
    tbl = str(tmp_path / "rst")
    write_delta_local(
        spark.createDataFrame([(1, "a", 1.0), (2, "a", 2.0)],
                              "id long, cat string, v double")
        .coalesce(1), tbl, partition_by="cat")                    # v0
    write_delta_local(
        spark.createDataFrame([(3, "b", 3.0)],
                              "id long, cat string, v double")
        .coalesce(1), tbl, mode="append")                         # v1
    # v2: DV-delete id=2
    for uri in qc.read_delta(tbl).df.inputFiles():
        f = uri.removeprefix("file:")
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        if 2 in ids:
            delete_rows_delta_local(tbl, {f: [ids.index(2)]})
            break
    # v3: upsert id=1
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(1, "a", 11.0)],
                              "id long, cat string, v double"), ["id"])
    assert {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()} \
        == {1: 11.0, 3: 3.0}
    # restore to v1: DV'd row resurrects, upsert reverts, partition
    # values intact
    rv = restore_delta_local(tbl, 1)
    assert rv == 4
    got = {r["id"]: (r["cat"], r["v"])
           for r in qc.read_delta(tbl).df.collect()}
    assert got == {1: ("a", 1.0), 2: ("a", 2.0), 3: ("b", 3.0)}
    # equals time travel to the target, and the pre-restore head is
    # still reachable
    tt = {r["id"]: (r["cat"], r["v"])
          for r in qc.read_delta(tbl, version=1).df.collect()}
    assert got == tt
    assert {r["id"]: r["v"]
            for r in qc.read_delta(tbl, version=3).df.collect()} == \
        {1: 11.0, 3: 3.0}
    # the change feed of the restore commit RESURRECTS the DV'd row
    # (DV shrink → insert) alongside the upsert-revert delete+insert
    chr_ = sorted((r["_change_type"], r["id"], r["v"]) for r in
                  qc.read_delta_changes(tbl, 4, 4).df.collect())
    assert ("insert", 2, 2.0) in chr_
    assert ("insert", 1, 1.0) in chr_ and ("delete", 1, 11.0) in chr_
    # applying the whole feed reconstructs the restored state
    from collections import Counter
    state = Counter()
    for ver in list_versions(tbl):
        for r in qc.read_delta_changes(tbl, ver, ver).df.collect():
            key = (r["id"], r["v"])
            if r["_change_type"] in ("insert", "update_postimage"):
                state[key] += 1
            else:
                state[key] -= 1
                if state[key] == 0:
                    del state[key]
    assert dict(state) == {(1, 1.0): 1, (2, 2.0): 1, (3, 3.0): 1}
    # restoring to the now-current state is a no-op (no new version)
    assert restore_delta_local(tbl, 1) == 4
    assert list_versions(tbl)[-1] == 4
    # restore of a restore: back to v3's state
    assert restore_delta_local(tbl, 3) == 5
    assert {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()} \
        == {1: 11.0, 3: 3.0}
    # a vacuumed target refuses with a clear error
    vacuum_delta_local(tbl, keep_last=1)
    with pytest.raises(ValueError, match="no longer exist"):
        restore_delta_local(tbl, 1)


def test_delta_changes_random_ops_cdc_twin(spark, qc, tmp_path):
    """Model-based sweep for cdc-action interop (round 10): the SAME
    seeded random op sequence (appends, value-changing upserts, DV
    deletes, compactions) applied to a CDF-enabled table and a plain
    twin must yield IDENTICAL change feeds version-by-version — the
    CDF table serves upsert/delete commits from its Change Data Files,
    the twin reconstructs from the log — and applying the CDF table's
    change rows must reconstruct its time-travel state at every
    version."""
    import json as _json
    import random
    from collections import Counter

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit,
                                                  compact_delta_local,
                                                  delete_rows_delta_local,
                                                  list_versions,
                                                  upsert_delta_local,
                                                  write_delta_local)

    def mk(name, cdf):
        tbl = str(tmp_path / name)
        os.makedirs(tbl)
        conf = {"delta.enableChangeDataFeed": "true"} if cdf else {}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": {"id": name, "format": {
                "provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": [
                        {"name": "id", "type": "long",
                         "nullable": True, "metadata": {}},
                        {"name": "v", "type": "double",
                         "nullable": True, "metadata": {}}]}),
                "partitionColumns": [], "configuration": conf,
                "createdTime": 0}}])
        return tbl

    rng = random.Random(42)
    ta, tb = mk("cdctwin_on", True), mk("cdctwin_off", False)
    nxt = 0
    model: dict = {}                      # id -> v (live state)

    def fresh(n):
        nonlocal nxt
        rows = [(i, float(i) * 0.5) for i in range(nxt, nxt + n)]
        nxt += n
        return rows

    def frame(rows):
        return spark.createDataFrame(rows, "id long, v double") \
            .coalesce(1)

    def apply_both(fn):
        fn(ta)
        fn(tb)

    rows0 = fresh(6)
    apply_both(lambda t: write_delta_local(frame(rows0), t,
                                           mode="append"))
    model.update(dict(rows0))
    for _ in range(8):
        op = rng.choice(["append", "upsert", "delete", "compact",
                         "restore"])
        if op == "append":
            rows = fresh(rng.randint(1, 3))
            apply_both(lambda t: write_delta_local(
                frame(rows), t, mode="append"))
            model.update(dict(rows))
        elif op == "upsert":
            live_ids = sorted(model)
            upd = [(i, model[i] + 100.0)
                   for i in rng.sample(live_ids,
                                       min(2, len(live_ids)))]
            rows = upd + fresh(1)
            apply_both(lambda t: upsert_delta_local(
                spark, t, frame(rows), "id"))
            model.update(dict(rows))
        elif op == "delete":
            live_ids = sorted(model)
            victims = set(rng.sample(live_ids,
                                     min(2, len(live_ids))))
            if not victims:
                continue

            def dodel(t):
                dels = {}
                for uri in qc.read_delta(t).df.inputFiles():
                    f = uri.removeprefix("file:")
                    ids = pq.read_table(f, columns=["id"]) \
                        .column("id").to_pylist()
                    pos = [i for i, x in enumerate(ids)
                           if x in victims]
                    if pos:
                        dels[f] = pos
                if dels:
                    delete_rows_delta_local(t, dels, spark=spark)

            apply_both(dodel)
            for i in victims:
                model.pop(i, None)
        elif op == "restore":
            from quokka_spark.sources.delta_local import \
                restore_delta_local
            tgt = rng.choice(list_versions(ta)[1:])
            apply_both(lambda t: restore_delta_local(t, tgt))
            model = {r["id"]: r["v"]
                     for r in qc.read_delta(ta).df.collect()}
        else:
            apply_both(lambda t: compact_delta_local(
                spark, t, target_file_rows=1000))
    assert list_versions(ta) == list_versions(tb)
    state: Counter = Counter()
    for ver in list_versions(ta):
        cha = sorted((r["_change_type"], r["id"], r["v"]) for r in
                     qc.read_delta_changes(ta, ver, ver).df.collect())
        chb = sorted((r["_change_type"], r["id"], r["v"]) for r in
                     qc.read_delta_changes(tb, ver, ver).df.collect())
        assert cha == chb, f"feeds diverged at version {ver}"
        for ct, i, v in cha:
            key = (i, v)
            if ct in ("insert", "update_postimage"):
                state[key] += 1
            else:
                state[key] -= 1
                if state[key] == 0:
                    del state[key]
        try:
            want = Counter((r["id"], r["v"]) for r in
                           qc.read_delta(ta, version=ver).df.collect())
        except ValueError:
            want = Counter()          # metadata-only version
        assert state == want, f"state diverged at version {ver}"
    assert dict(state) == {(i, v): 1 for i, v in model.items()}


def test_delta_changes_random_ops_partitioned(spark, qc, tmp_path):
    """Model-based sweep for the PARTITIONED change feed (round 9):
    a seeded random sequence of partitioned appends, DV deletes,
    compactions, upserts (update pairing!) and repartitioning
    overwrites — folding each version's change rows into a multiset
    of FULL rows (id, cat, v) reconstructs the table's time-travel
    state at every version, partition values included."""
    import random
    from collections import Counter

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  delete_rows_delta_local,
                                                  list_versions,
                                                  upsert_delta_local,
                                                  write_delta_local)
    rng = random.Random(99)
    tbl = str(tmp_path / "pprop")
    nxt = 0
    cats = ["a", "b", "c"]

    def fresh(n):
        nonlocal nxt
        rows = [(v, rng.choice(cats), float(v) * 0.5)
                for v in range(nxt, nxt + n)]
        nxt += n
        return rows

    def frame(rows):
        return spark.createDataFrame(
            rows, "id long, cat string, v double").coalesce(1)

    write_delta_local(frame(fresh(8)), tbl, partition_by="cat")
    for _ in range(7):
        op = rng.choice(["append", "delete", "compact", "upsert",
                         "overwrite"])
        if op == "append":
            write_delta_local(frame(fresh(rng.randint(1, 4))), tbl,
                              mode="append")
        elif op == "delete":
            deletes = {}
            for uri in qc.read_delta(tbl).df.inputFiles():
                f = uri.removeprefix("file:")
                n = pq.ParquetFile(f).metadata.num_rows
                pos = [i for i in range(n) if rng.random() < 0.25]
                if pos:
                    deletes[f] = pos
            if deletes:
                delete_rows_delta_local(tbl, deletes)
        elif op == "compact":
            compact_delta_local(spark, tbl, target_file_rows=1000)
        elif op == "upsert":
            live = [(r["id"], r["cat"], r["v"])
                    for r in qc.read_delta(tbl).df.collect()]
            upd = [(i, c, v + 100.0) for i, c, v in
                   rng.sample(live, min(2, len(live)))] if live else []
            upsert_delta_local(spark, tbl,
                               frame(upd + fresh(1)), "id")
        else:
            # repartitioning overwrite: sometimes by cat, sometimes
            # unpartitioned — the spec-change case
            pb = rng.choice(["cat", None])
            write_delta_local(frame(fresh(3)), tbl, mode="overwrite",
                              partition_by=pb)
    state: Counter = Counter()
    for ver in list_versions(tbl):
        for r in qc.read_delta_changes(tbl, ver, ver).df.collect():
            key = (r["id"], r["cat"], r["v"])
            ct = r["_change_type"]
            if ct in ("insert", "update_postimage"):
                state[key] += 1
            else:                       # delete / update_preimage
                state[key] -= 1
                if state[key] == 0:
                    del state[key]
        try:
            want = Counter((r["id"], r["cat"], r["v"]) for r in
                           qc.read_delta(tbl, version=ver).df.collect())
        except ValueError:
            want = Counter()            # no live files at this version
        assert state == want, f"diverged at version {ver}"
    # partition values never null anywhere in the stream
    allch = qc.read_delta_changes(tbl, 0).df
    assert allch.where("cat IS NULL").count() == 0


def test_delta_changes_random_ops_reconstruct_state(spark, qc, tmp_path):
    """Model-based sweep for the change stream: after a seeded random
    sequence of appends, DV deletes, compactions and overwrites,
    APPLYING the change rows version-by-version to a plain Python
    multiset reconstructs the table's state at every version — the
    exact contract an incremental consumer depends on."""
    import random
    from collections import Counter

    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (compact_delta_local,
                                                  delete_rows_delta_local,
                                                  list_versions,
                                                  write_delta_local)
    rng = random.Random(88)
    tbl = str(tmp_path / "prop")
    nxt = 0

    def fresh(n):
        nonlocal nxt
        vals = list(range(nxt, nxt + n))
        nxt += n
        return vals

    write_delta_local(
        spark.createDataFrame([(v,) for v in fresh(8)], "id long")
        .coalesce(1), tbl)
    for _ in range(6):
        op = rng.choice(["append", "delete", "compact", "overwrite"])
        if op == "append":
            write_delta_local(
                spark.createDataFrame([(v,) for v in fresh(rng.randint(1, 5))],
                                      "id long").coalesce(1),
                tbl, mode="append")
        elif op == "delete":
            deletes = {}
            for uri in qc.read_delta(tbl).df.inputFiles():
                f = uri.removeprefix("file:")
                vals = pq.read_table(f, columns=["id"]) \
                    .column("id").to_pylist()
                pos = [i for i, v in enumerate(vals)
                       if rng.random() < 0.3]
                if pos:
                    deletes[f] = pos
            if deletes:
                delete_rows_delta_local(tbl, deletes)
        elif op == "compact":
            compact_delta_local(spark, tbl, target_file_rows=1000)
        else:
            write_delta_local(
                spark.createDataFrame([(v,) for v in fresh(3)], "id long")
                .coalesce(1), tbl, mode="overwrite")
    # replay: fold each version's change rows into a multiset and
    # compare against the table state AT that version
    state: Counter = Counter()
    for v in list_versions(tbl):
        ch = qc.read_delta_changes(tbl, v, v).df.collect()
        for r in ch:
            if r["_change_type"] == "insert":
                state[r["id"]] += 1
            else:
                state[r["id"]] -= 1
        want = Counter(r["id"] for r in
                       qc.read_delta(tbl, version=v).df.collect())
        assert +state == want, f"diverged at version {v}"


def test_delta_generated_columns_inside_merge(spark, qc, tmp_path):
    """Round-12 (round-11 verdict #6): a MERGE batch may omit
    generated columns — the writer computes them for BOTH
    not-matched inserts and matched rewrites (matched rows are
    replaced whole from the batch, so recomputing from the
    generation expression is exactly the jar's semantics), and a
    batch that DOES carry the column refuses on contradicting
    values. Pins the behavior the upsert path gets from folding
    _apply_generated_columns into _prepare_write_batch."""
    import json as _json

    from quokka_spark.sources.delta_local import (_commit,
                                                  upsert_delta_local,
                                                  write_delta_local)

    tbl = str(tmp_path / "gen_merge")
    os.makedirs(tbl)
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {}},
        {"name": "v2", "type": "double", "nullable": True,
         "metadata": {"delta.generationExpression": "v * 2"}}]}
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {"id": "gen_merge", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [], "configuration": {},
            "createdTime": 0}}])
    write_delta_local(
        spark.createDataFrame([(1, 1.0), (2, 2.0)],
                              "id long, v double"), tbl, mode="append")
    # batch omits v2: matched id=2 rewrites with a recomputed value,
    # not-matched id=3 inserts with one
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(2, 20.0), (3, 30.0)],
                              "id long, v double"), ["id"])
    rows = sorted((r["id"], r["v"], r["v2"])
                  for r in qc.read_delta(tbl).df.collect())
    assert rows == [(1, 1.0, 2.0), (2, 20.0, 40.0), (3, 30.0, 60.0)]
    # a provided-but-contradicting value aborts BEFORE any rewrite
    with pytest.raises(ValueError, match="generated"):
        upsert_delta_local(
            spark, tbl,
            spark.createDataFrame([(4, 4.0, 999.0)],
                                  "id long, v double, v2 double"),
            ["id"])
    rows2 = sorted(r["id"] for r in qc.read_delta(tbl).df.collect())
    assert rows2 == [1, 2, 3]      # table untouched by the refusal
    # a provided-and-consistent value is accepted
    upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(5, 5.0, 10.0)],
                              "id long, v double, v2 double"), ["id"])
    rows3 = sorted((r["id"], r["v2"])
                   for r in qc.read_delta(tbl).df.collect())
    assert rows3 == [(1, 2.0), (2, 40.0), (3, 60.0), (5, 10.0)]


def test_delta_foreign_v2_checkpoint_dv_column_mapping(spark, qc,
                                                       tmp_path):
    """Round-12 (round-11 verdict #5): byte-compat read of a FOREIGN
    (jar-shaped, hand-crafted per PROTOCOL.md — not produced by this
    engine's writers) table combining v2Checkpoint + deletion
    vectors + columnMapping:

    - reader-3/writer-7 protocol listing the three features;
    - name-mode columnMapping with col-<id> physical names in the
      data files, stats keyed by physical names;
    - a storageType='u' DV behind a random prefix directory, the
      bitmap hand-encoded with a RUN container (cookie 12346 +
      run-flag bitset — a byte shape this engine's own encoder never
      emits) plus an array container in a second 16-bit key;
    - a V2 checkpoint: top-level parquet with checkpointMetadata /
      protocol / metaData / sidecar rows, add actions (including the
      DV descriptor and jar-only fields baseRowId /
      defaultRowCommitVersion) in a _sidecars/ parquet that also
      carries a remove tombstone; JSON commits at or below the
      checkpoint deleted (log cleanup), so replay MUST start from
      the checkpoint bytes;
    - one trailing JSON commit with commitInfo noise.
    """
    import json as _json
    import struct
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = str(tmp_path / "foreign")
    log = os.path.join(tbl, "_delta_log")
    os.makedirs(os.path.join(log, "_sidecars"))

    # physical-name data files (columnMapping name mode)
    P_ID, P_V = "col-aaaa1111", "col-bbbb2222"
    f1, f2, f3 = "part-0001.parquet", "part-0002.parquet", \
        "part-0003.parquet"
    n1 = 70_001
    pq.write_table(pa.table({P_ID: pa.array(range(n1), pa.int64()),
                             P_V: pa.array([float(i % 97)
                                            for i in range(n1)])}),
                   os.path.join(tbl, f1))
    pq.write_table(pa.table({P_ID: pa.array(range(200, 205),
                                            pa.int64()),
                             P_V: pa.array([1.0] * 5)}),
                   os.path.join(tbl, f2))
    pq.write_table(pa.table({P_ID: pa.array(range(300, 303),
                                            pa.int64()),
                             P_V: pa.array([2.0] * 3)}),
                   os.path.join(tbl, f3))

    # hand-encoded portable RoaringBitmapArray: RUN container
    # (positions 0..2) + array container under key 1 (position
    # 70000 = (1<<16) + 4464) — cookie 12346, no offset header
    rb = struct.pack("<I", 12346 | (1 << 16)) + bytes([0b01])
    rb += struct.pack("<HH", 0, 2) + struct.pack("<HH", 1, 0)
    rb += struct.pack("<H", 1) + struct.pack("<HH", 0, 2)
    rb += struct.pack("<H", 4464)
    dv_data = struct.pack("<I", 1681511377) + struct.pack("<q", 1) \
        + struct.pack("<I", 0) + rb
    # 'u' storage: prefix dir 'ab' + uuid-derived file name; the z85
    # of 00112233-...-eeff is precomputed (byte-pinned, not derived
    # through the engine's encoder at test time)
    z85_uuid = "01*zhl@^&yH)+oP+?.Z!"
    dv_dir = os.path.join(tbl, "ab")
    os.makedirs(dv_dir)
    with open(os.path.join(
            dv_dir, "deletion_vector_00112233-4455-6677-8899-"
                    "aabbccddeeff.bin"), "wb") as fh:
        fh.write(b"\x01")
        fh.write(struct.pack(">i", len(dv_data)))
        fh.write(dv_data)
        fh.write(struct.pack(">I", zlib.crc32(dv_data) & 0xFFFFFFFF))
    dv_desc = {"storageType": "u", "pathOrInlineDv": "ab" + z85_uuid,
               "offset": 1, "sizeInBytes": len(dv_data),
               "cardinality": 4}

    schema_str = _json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": P_ID}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": P_V}}]})
    proto = {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["columnMapping", "deletionVectors",
                                "v2Checkpoint"],
             "writerFeatures": ["columnMapping", "deletionVectors",
                                "v2Checkpoint"]}
    meta = {"id": "foreign-fixture", "name": None, "description": None,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_str, "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2",
                              "delta.checkpointPolicy": "v2"},
            "createdTime": 1700000000000}

    def jline(**kw):
        return _json.dumps(kw) + "\n"

    def add(path, size_of, dv=None, base_row_id=None):
        a = {"path": path, "partitionValues": {},
             "size": os.path.getsize(os.path.join(tbl, size_of)),
             "modificationTime": 1700000000000, "dataChange": True,
             "stats": _json.dumps({"numRecords": 1, "minValues": {
                 P_ID: 0}, "maxValues": {P_ID: 1},
                 "nullCount": {P_ID: 0}})}
        if dv:
            a["deletionVector"] = dv
        if base_row_id is not None:
            a["baseRowId"] = base_row_id
            a["defaultRowCommitVersion"] = 1
        return a

    with open(os.path.join(log, "%020d.json" % 0), "w") as fh:
        fh.write(jline(commitInfo={"operation": "CREATE TABLE"}))
        fh.write(jline(protocol=proto))
        fh.write(jline(metaData=meta))
    with open(os.path.join(log, "%020d.json" % 1), "w") as fh:
        fh.write(jline(commitInfo={"operation": "WRITE"}))
        fh.write(jline(add=add(f1, f1, base_row_id=0)))
        fh.write(jline(add=add(f2, f2, base_row_id=70001)))
    with open(os.path.join(log, "%020d.json" % 2), "w") as fh:
        fh.write(jline(commitInfo={"operation": "DELETE"}))
        fh.write(jline(remove={"path": "gone.parquet",
                               "deletionTimestamp": 1700000000001,
                               "dataChange": True}))
        fh.write(jline(add=add(f1, f1, dv=dv_desc, base_row_id=0)))

    # ---- V2 checkpoint at version 2 -----------------------------
    dv_struct = pa.struct([("storageType", pa.string()),
                           ("pathOrInlineDv", pa.string()),
                           ("offset", pa.int32()),
                           ("sizeInBytes", pa.int32()),
                           ("cardinality", pa.int64())])
    add_struct = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()), ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()), ("stats", pa.string()),
        ("deletionVector", dv_struct), ("baseRowId", pa.int64()),
        ("defaultRowCommitVersion", pa.int64())])
    remove_struct = pa.struct([("path", pa.string()),
                               ("deletionTimestamp", pa.int64()),
                               ("dataChange", pa.bool_())])

    def arrow_add(path, size_of, dv=None, base_row_id=None):
        a = add(path, size_of, dv=None, base_row_id=base_row_id)
        a["partitionValues"] = []
        a["deletionVector"] = dv
        return a

    side_rows = [
        {"add": arrow_add(f1, f1, dv=dv_desc, base_row_id=0),
         "remove": None},
        {"add": arrow_add(f2, f2, base_row_id=70001), "remove": None},
        {"add": None, "remove": {"path": "gone.parquet",
                                 "deletionTimestamp": 1700000000001,
                                 "dataChange": False}},
    ]
    side_path = os.path.join(log, "_sidecars",
                             "016ae953-37a9-438e-8683-9a9a4a79a395"
                             ".parquet")
    pq.write_table(
        pa.Table.from_pylist(side_rows, schema=pa.schema(
            [("add", add_struct), ("remove", remove_struct)])),
        side_path)

    cpm_struct = pa.struct([("version", pa.int64()),
                            ("tags", pa.map_(pa.string(),
                                             pa.string()))])
    proto_struct = pa.struct([
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string()))])
    meta_struct = pa.struct([
        ("id", pa.string()), ("name", pa.string()),
        ("description", pa.string()),
        ("format", pa.struct([("provider", pa.string()),
                              ("options", pa.map_(pa.string(),
                                                  pa.string()))])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pa.map_(pa.string(), pa.string())),
        ("createdTime", pa.int64())])
    sidecar_struct = pa.struct([("path", pa.string()),
                                ("sizeInBytes", pa.int64()),
                                ("modificationTime", pa.int64())])
    meta_arrow = dict(meta)
    meta_arrow["format"] = {"provider": "parquet", "options": []}
    meta_arrow["configuration"] = sorted(
        meta["configuration"].items())
    top_rows = [
        {"checkpointMetadata": {"version": 2, "tags": []},
         "protocol": None, "metaData": None, "sidecar": None},
        {"checkpointMetadata": None, "protocol": proto,
         "metaData": None, "sidecar": None},
        {"checkpointMetadata": None, "protocol": None,
         "metaData": meta_arrow, "sidecar": None},
        {"checkpointMetadata": None, "protocol": None,
         "metaData": None,
         "sidecar": {"path": os.path.basename(side_path),
                     "sizeInBytes": os.path.getsize(side_path),
                     "modificationTime": 1700000000002}},
    ]
    pq.write_table(
        pa.Table.from_pylist(top_rows, schema=pa.schema(
            [("checkpointMetadata", cpm_struct),
             ("protocol", proto_struct), ("metaData", meta_struct),
             ("sidecar", sidecar_struct)])),
        os.path.join(log, "%020d.checkpoint."
                          "80a083e8-7026-4e79-81be-64bd76c43a11"
                          ".parquet" % 2))
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps({"version": 2, "size": 4,
                              "v2Checkpoint": True}))
    # jar log cleanup: commits at or below the checkpoint are gone —
    # replay MUST reconstruct state from the checkpoint bytes alone
    for v in (0, 1, 2):
        os.unlink(os.path.join(log, "%020d.json" % v))

    # trailing JSON commit past the checkpoint
    with open(os.path.join(log, "%020d.json" % 3), "w") as fh:
        fh.write(jline(commitInfo={"operation": "WRITE"}))
        fh.write(jline(add=add(f3, f3, base_row_id=70006)))

    # ---- reads ---------------------------------------------------
    df = qc.read_delta(tbl).df
    assert sorted(df.columns) == ["id", "v"]       # logical names
    ids = [r["id"] for r in df.collect()]
    # DV killed positions 0,1,2 and 70000 of f1 (run + array
    # containers); f2 and the trailing f3 serve whole
    assert len(ids) == (n1 - 4) + 5 + 3
    s = set(ids)
    assert {0, 1, 2, 70000}.isdisjoint(s)
    assert {3, 69999, 200, 204, 300, 302} <= s
    # time travel TO the checkpoint version (no JSON at <= 2 left)
    df2 = qc.read_delta(tbl, version=2).df
    assert df2.count() == (n1 - 4) + 5


def test_delta_row_tracking_reads(spark, qc, tmp_path):
    """Round-12 (protocol §Row Tracking — the Delta analog of Iceberg
    v3 row lineage): read_delta(with_row_tracking=True) serves
    _row_id = baseRowId + row position and _row_commit_version =
    defaultRowCommitVersion per add action, with non-null
    MATERIALIZED per-row values (configuration-named physical
    columns, as the jar writes on UPDATE/MERGE rewrites) winning over
    the arithmetic. DV deletes never renumber survivors; plain reads
    surface neither the metadata columns nor the materialized
    physicals; untracked tables refuse typed; writes to rowTracking
    tables keep the writer-feature refusal."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit,
                                                  read_delta_local,
                                                  write_delta_local)
    from quokka_spark.sources.dv import inline_dv_descriptor

    tbl = str(tmp_path / "rt")
    os.makedirs(tbl)
    pq.write_table(pa.table({"id": pa.array(range(10), pa.int64()),
                             "v": pa.array([float(i) for i in
                                            range(10)])}),
                   os.path.join(tbl, "f1.parquet"))
    pq.write_table(pa.table({"id": pa.array(range(100, 105),
                                            pa.int64()),
                             "v": pa.array([1.0] * 5)}),
                   os.path.join(tbl, "f2.parquet"))
    # f3: a jar-style rewrite carrying MATERIALIZED row ids (two
    # rewritten rows keep 3 and 7; the third row is new → null,
    # falls back to baseRowId arithmetic)
    pq.write_table(pa.table({
        "id": pa.array([3, 7, 200], pa.int64()),
        "v": pa.array([30.0, 70.0, 2.0]),
        "_mat_rid": pa.array([3, 7, None], pa.int64()),
        "_mat_rcv": pa.array([1, 1, None], pa.int64())}),
        os.path.join(tbl, "f3.parquet"))

    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {}}]}
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["rowTracking",
                                         "deletionVectors",
                                         "domainMetadata"]}},
        {"metaData": {"id": "rt", "format": {"provider": "parquet",
                                             "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [],
            "configuration": {
                "delta.enableRowTracking": "true",
                "delta.rowTracking.materializedRowIdColumnName":
                    "_mat_rid",
                "delta.rowTracking."
                "materializedRowCommitVersionColumnName": "_mat_rcv"},
            "createdTime": 0}}])
    _commit(tbl, 1, [
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "baseRowId": 0, "defaultRowCommitVersion": 1}},
        {"add": {"path": "f2.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "baseRowId": 10, "defaultRowCommitVersion": 1}},
        {"domainMetadata": {"domain": "delta.rowTracking",
                            "configuration": _json.dumps(
                                {"rowIdHighWaterMark": 14}),
                            "removed": False}}])
    # DV delete of f1 positions 0,1 — survivors keep their ids
    _commit(tbl, 2, [
        {"remove": {"path": "f1.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "baseRowId": 0, "defaultRowCommitVersion": 1,
                 "deletionVector": inline_dv_descriptor([0, 1])}}])
    # the materialized rewrite lands (two kept rows + one new); a
    # compliant writer advances the high-water mark in the same commit
    _commit(tbl, 3, [
        {"add": {"path": "f3.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "baseRowId": 15, "defaultRowCommitVersion": 3}},
        {"domainMetadata": {"domain": "delta.rowTracking",
                            "configuration": _json.dumps(
                                {"rowIdHighWaterMark": 17}),
                            "removed": False}}])

    got = {(r["id"], r["v"]): (r["_row_id"], r["_row_commit_version"])
           for r in read_delta_local(
               spark, tbl, with_row_tracking=True).collect()}
    # f1 survivors: ids 2..9 (positions), rcv 1
    for i in range(2, 10):
        assert got[(i, float(i))] == (i, 1)
    # f2: ids 10..14
    for j, i in enumerate(range(100, 105)):
        assert got[(i, 1.0)] == (10 + j, 1)
    # f3: materialized wins for the rewrites, arithmetic for the new
    assert got[(3, 30.0)] == (3, 1)
    assert got[(7, 70.0)] == (7, 1)
    assert got[(200, 2.0)] == (15 + 2, 3)

    # plain read: neither metadata columns nor materialized physicals
    plain = qc.read_delta(tbl).df
    assert "_row_id" not in plain.columns
    assert "_mat_rid" not in plain.columns
    assert plain.count() == len(got)

    # untracked table refuses typed
    tbl2 = str(tmp_path / "plainrt")
    write_delta_local(
        spark.createDataFrame([(1, 1.0)], "id long, v double"),
        tbl2, mode="append")
    with pytest.raises(NotImplementedError, match="row "):
        read_delta_local(spark, tbl2, with_row_tracking=True).collect()

    # APPENDS maintain row tracking (round 12): fresh baseRowId range
    # past the domain high-water mark, defaultRowCommitVersion = the
    # commit, and the mark advances in the same commit
    from quokka_spark.sources.delta_local import (_domain_metadata,
                                                  compact_delta_local,
                                                  upsert_delta_local,
                                                  write_checkpoint_local)
    v = write_delta_local(
        spark.createDataFrame([(500, 5.0), (501, 5.0)],
                              "id long, v double").coalesce(1),
        tbl, mode="append")
    got2 = {r["id"]: (r["_row_id"], r["_row_commit_version"])
            for r in read_delta_local(
                spark, tbl, with_row_tracking=True).collect()}
    assert sorted((got2[500][0], got2[501][0])) == [18, 19]
    assert got2[500][1] == v and got2[501][1] == v
    assert got2[(3)][0] == 3                 # old ids untouched
    dm = _domain_metadata(tbl)["delta.rowTracking"]
    assert _json.loads(dm["configuration"])["rowIdHighWaterMark"] == 19

    # a CHECKPOINT persists the domain mark and the per-add bases:
    # after log cleanup the next append still continues past 19
    cpv = write_checkpoint_local(tbl)
    log = os.path.join(tbl, "_delta_log")
    for f in os.listdir(log):
        if f.endswith(".json") and int(f.split(".")[0]) <= cpv:
            os.unlink(os.path.join(log, f))
    write_delta_local(
        spark.createDataFrame([(600, 6.0)], "id long, v double")
        .coalesce(1), tbl, mode="append")
    got3 = {r["id"]: r["_row_id"] for r in read_delta_local(
        spark, tbl, with_row_tracking=True).collect()}
    assert got3[600] == 20 and got3[500] == got2[500][0]

    # MERGE preserves row identity (round 12): the updated row keeps
    # its id with the merge version as its commit; survivors of the
    # rewritten file keep BOTH id and original commit; the insert
    # takes a fresh id past the mark
    vm = upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(500, 9.0), (700, 7.0)],
                              "id long, v double"), ["id"])
    gm = {r["id"]: (r["_row_id"], r["_row_commit_version"])
          for r in read_delta_local(
              spark, tbl, with_row_tracking=True).collect()}
    assert gm[500] == (got2[500][0], vm)      # updated: old id, new rcv
    assert gm[501] == got2[501]               # survivor: untouched pair
    assert gm[600][0] == 20                   # earlier append intact
    assert gm[700][1] == vm                   # insert: fresh id
    all_ids = [p[0] for p in gm.values()]
    assert len(all_ids) == len(set(all_ids))  # ids stay unique
    assert gm[700][0] > 20
    # COMPACTION preserves identity by MATERIALIZING the ids (round
    # 12): every row keeps (_row_id, _row_commit_version) across the
    # rewrite, plain reads still hide the physical columns, and the
    # high-water mark advanced for the compacted files' fresh ranges
    before = {r["id"]: (r["_row_id"], r["_row_commit_version"])
              for r in read_delta_local(
                  spark, tbl, with_row_tracking=True).collect()}
    compact_delta_local(spark, tbl, target_file_rows=1000)
    after = {r["id"]: (r["_row_id"], r["_row_commit_version"])
             for r in read_delta_local(
                 spark, tbl, with_row_tracking=True).collect()}
    assert after == before
    plain2 = qc.read_delta(tbl).df
    assert not [c for c in plain2.columns if c.startswith("_")]
    dm2 = _domain_metadata(tbl)["delta.rowTracking"]
    assert _json.loads(dm2["configuration"])["rowIdHighWaterMark"] \
        > 20


def test_delta_row_tracking_cm_name_rewrites(spark, qc, tmp_path):
    """Round-13 (round-12 verdict #4): MERGE and compaction on a
    table with BOTH rowTracking and columnMapping preserve row
    identity in BOTH modes — the materialized row-id columns are
    PHYSICAL names per protocol, outside the schema, so they pass
    through the physical projection by their literal names while the
    schema columns rename (id mode: schema columns resolve by field
    id, materialized columns by name, positions ride the
    per-file-group scan). Survivors and single-match updates keep
    their original (_row_id, _row_commit_version); rewritten files
    carry physical schema names plus the materialized columns; plain
    reads hide everything."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit, _replay,
                                                  compact_delta_local,
                                                  read_delta_local,
                                                  upsert_delta_local)

    def build(tbl, mode):
        os.makedirs(tbl)
        # id-mode resolution needs parquet field ids in the files
        # (name mode ignores them)
        sch = pa.schema([
            pa.field("col-a1", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("col-b2", pa.float64(),
                     metadata={b"PARQUET:field_id": b"2"})])
        pq.write_table(pa.table({
            "col-a1": pa.array(range(1, 6), pa.int64()),
            "col-b2": pa.array([float(i) for i in range(1, 6)])}
            ).cast(sch),
            os.path.join(tbl, "f1.parquet"))
        pq.write_table(pa.table({
            "col-a1": pa.array(range(6, 11), pa.int64()),
            "col-b2": pa.array([float(i) for i in range(6, 11)])}
            ).cast(sch),
            os.path.join(tbl, "f2.parquet"))
        schema = {"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-a1",
                          "delta.columnMapping.id": 1}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-b2",
                          "delta.columnMapping.id": 2}}]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": ["rowTracking",
                                             "domainMetadata",
                                             "columnMapping"]}},
            {"metaData": {"id": "rtcm", "format": {
                "provider": "parquet", "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": mode,
                    "delta.columnMapping.maxColumnId": "2",
                    "delta.enableRowTracking": "true"},
                "createdTime": 0}}])
        _commit(tbl, 1, [
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True, "baseRowId": 0,
                     "defaultRowCommitVersion": 1}},
            {"add": {"path": "f2.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True, "baseRowId": 5,
                     "defaultRowCommitVersion": 1}},
            {"domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": _json.dumps(
                    {"rowIdHighWaterMark": 9}),
                "removed": False}}])

    tbl = str(tmp_path / "rtcm")
    build(tbl, "name")
    before = {r["id"]: (r["_row_id"], r["_row_commit_version"])
              for r in read_delta_local(
                  spark, tbl, with_row_tracking=True).collect()}
    assert before[1] == (0, 1) and before[6] == (5, 1)

    # MERGE: update id=3 (single match → keeps id, new commit),
    # insert id=99 (fresh id past the high-water mark)
    vm = upsert_delta_local(
        spark,
        tbl,
        spark.createDataFrame([(3, 300.0), (99, 990.0)],
                              "id long, v double"),
        ["id"])
    got = {r["id"]: (r["_row_id"], r["_row_commit_version"], r["v"])
           for r in read_delta_local(
               spark, tbl, with_row_tracking=True).collect()}
    assert got[3] == (before[3][0], vm, 300.0)
    for k in (1, 2, 4, 5, 6, 10):
        assert got[k][:2] == before[k]
    assert got[99][0] > 9 and got[99][1] == vm
    ids = [p[0] for p in got.values()]
    assert len(ids) == len(set(ids))
    # the rewrite landed PHYSICAL schema names + materialized columns
    files, meta, _, _ = _replay(tbl, None)
    conf = meta.get("configuration") or {}
    mat_rid = conf["delta.rowTracking.materializedRowIdColumnName"]
    new = [f for f in files if os.path.basename(f) not in
           ("f1.parquet", "f2.parquet")]
    assert new
    for f in new:
        names = set(pq.read_schema(f).names)
        assert "col-a1" in names and "id" not in names
        assert mat_rid in names

    # COMPACTION: identity survives the full rewrite
    compact_delta_local(spark, tbl, target_file_rows=1000)
    after = {r["id"]: (r["_row_id"], r["_row_commit_version"])
             for r in read_delta_local(
                 spark, tbl, with_row_tracking=True).collect()}
    assert after == {k: v[:2] for k, v in got.items()}
    files2, _, _, _ = _replay(tbl, None)
    assert len(files2) == 1
    names2 = set(pq.read_schema(files2[0]).names)
    assert "col-a1" in names2 and mat_rid in names2
    # plain reads hide the metadata AND materialized columns
    plain = qc.read_delta(tbl).df
    assert set(plain.columns) == {"id", "v"}
    assert {r["id"]: r["v"] for r in plain.collect()}[3] == 300.0

    # ID mode: the same full lifecycle preserves identity (round-13
    # unlock — reads/rewrites compose through the per-file-group
    # scan's positions + literal-name materialized columns)
    tbl_id = str(tmp_path / "rtcm_id")
    build(tbl_id, "id")
    before_id = {r["id"]: (r["_row_id"], r["_row_commit_version"])
                 for r in read_delta_local(
                     spark, tbl_id, with_row_tracking=True).collect()}
    assert before_id[1] == (0, 1) and before_id[6] == (5, 1)
    vm2 = upsert_delta_local(
        spark, tbl_id,
        spark.createDataFrame([(3, 300.0), (99, 990.0)],
                              "id long, v double"),
        ["id"])
    got_id = {r["id"]: (r["_row_id"], r["_row_commit_version"])
              for r in read_delta_local(
                  spark, tbl_id, with_row_tracking=True).collect()}
    assert got_id[3] == (before_id[3][0], vm2)
    for k in (1, 2, 4, 5, 6, 10):
        assert got_id[k] == before_id[k]
    assert got_id[99][0] > 9 and got_id[99][1] == vm2
    compact_delta_local(spark, tbl_id, target_file_rows=1000)
    after_id = {r["id"]: (r["_row_id"], r["_row_commit_version"])
                for r in read_delta_local(
                    spark, tbl_id, with_row_tracking=True).collect()}
    assert after_id == got_id
    # rewritten id-mode files: schema columns carry field ids, the
    # materialized columns ride by literal name (no ids — they are
    # not schema fields); plain reads hide everything
    files_id, meta_id, _, _ = _replay(tbl_id, None)
    conf_id = meta_id.get("configuration") or {}
    mat_id = conf_id["delta.rowTracking.materializedRowIdColumnName"]
    assert len(files_id) == 1
    sch_id = pq.read_schema(files_id[0])
    assert "col-a1" in sch_id.names and mat_id in sch_id.names
    plain_id = qc.read_delta(tbl_id).df
    assert set(plain_id.columns) == {"id", "v"}


def test_delta_id_mode_stats_skipping(spark, qc, tmp_path):
    """Round-13: data skipping works under ID-mode column mapping —
    stats keys are each file's OWN physical names, so the logical
    filter column resolves per file (logical name -> schema field id
    -> that file's footer layout, already session-cached by the
    scan). Files whose stats refute the filter never open; a
    name-SWAPPED file (physical names point the opposite way) prunes
    by field id, not name; stats-less files are kept."""
    tbl = _id_mode_table(tmp_path, [
        ("a.parquet", {1: ("c_one", [1, 2]), 2: ("c_two", [1.0, 2.0])},
         {"numRecords": 2, "minValues": {"c_one": 1},
          "maxValues": {"c_one": 2}}),
        ("b.parquet", {1: ("renamed", [100]), 2: ("other", [30.0])},
         {"numRecords": 1, "minValues": {"renamed": 100},
          "maxValues": {"renamed": 100}}),
        # physical names point the OPPOSITE way: logical id has
        # field id 1, stored in the column literally NAMED "v" —
        # pruning by name would mis-skip
        ("c.parquet", {1: ("v", [200]), 2: ("id", [40.0])},
         {"numRecords": 1, "minValues": {"v": 200, "id": 40.0},
          "maxValues": {"v": 200, "id": 40.0}}),
        ("nostats.parquet", {1: ("x1", [3]), 2: ("x2", [3.5])}),
    ])
    full = {r["id"]: r["v"] for r in qc.read_delta(tbl).df.collect()}
    assert full == {1: 1.0, 2: 2.0, 100: 30.0, 200: 40.0, 3: 3.5}
    pruned = qc.read_delta(tbl, scan_filter="id >= 100").df
    assert sorted(r["id"] for r in pruned.collect()) == [100, 200]
    # a, dropped by stats; nostats kept (then row-filtered)
    opened = {os.path.basename(f) for f in pruned.inputFiles()}
    assert "a.parquet" not in opened
    assert {"b.parquet", "c.parquet", "nostats.parquet"} <= opened
    # all files refuted -> empty-but-typed result
    none = qc.read_delta(tbl, scan_filter="id > 100000").df
    assert none.collect() == [] and none.columns == ["id", "v"]


def test_delta_row_tracking_id_mode_with_dv(spark, qc, tmp_path):
    """Round-13 review regression (confirmed crash): an id-mode
    rowTracking table carrying a DELETION VECTOR must read — the DV
    anti-join used internal column names that clobbered the id-mode
    scan's pre-materialized position column. Survivors keep their
    ORIGINAL position-stable ids; a MERGE on the DV-carrying table
    still preserves identity."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit,
                                                  read_delta_local,
                                                  upsert_delta_local)
    from quokka_spark.sources.dv import inline_dv_descriptor

    tbl = str(tmp_path / "rtdv")
    os.makedirs(tbl)
    sch = pa.schema([
        pa.field("pc-1", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("pc-2", pa.float64(),
                 metadata={b"PARQUET:field_id": b"2"})])
    pq.write_table(pa.table({
        "pc-1": pa.array(range(10), pa.int64()),
        "pc-2": pa.array([float(i) for i in range(10)])}).cast(sch),
        os.path.join(tbl, "f1.parquet"))
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "pc-1"}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "pc-2"}}]}
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping",
                                         "deletionVectors"],
                      "writerFeatures": ["rowTracking",
                                         "deletionVectors",
                                         "domainMetadata",
                                         "columnMapping"]}},
        {"metaData": {"id": "rtdv", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [],
            "configuration": {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": "2",
                "delta.enableRowTracking": "true"},
            "createdTime": 0}}])
    _commit(tbl, 1, [
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True, "baseRowId": 0,
                 "defaultRowCommitVersion": 1,
                 "deletionVector": inline_dv_descriptor([2, 5])}},
        {"domainMetadata": {"domain": "delta.rowTracking",
                            "configuration": _json.dumps(
                                {"rowIdHighWaterMark": 9}),
                            "removed": False}}])
    got = {r["id"]: r["_row_id"] for r in read_delta_local(
        spark, tbl, with_row_tracking=True).collect()}
    # DV killed positions 2 and 5; survivors keep FILE positions
    assert got == {i: i for i in range(10) if i not in (2, 5)}
    # MERGE on the DV-carrying table: single-match keeps its id
    vm = upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(7, 700.0)], "id long, v double"),
        ["id"])
    got2 = {r["id"]: (r["_row_id"], r["_row_commit_version"])
            for r in read_delta_local(
                spark, tbl, with_row_tracking=True).collect()}
    assert got2[7] == (7, vm)
    assert got2[3] == (3, 1) and 2 not in got2 and 5 not in got2


def test_delta_row_tracking_first_merge_unconfigured(spark, qc,
                                                     tmp_path):
    """Round-13 review regression (confirmed crash): the FIRST merge
    on a plain (no column mapping) rowTracking table with NO
    configured materialized column names generated names, added them
    to the live-scan read schema, and then collided with the
    survivor rename (COLUMN_ALREADY_EXISTS). The merge must commit
    the generated names and preserve identity."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.delta_local import (_commit, _replay,
                                                  read_delta_local,
                                                  upsert_delta_local)

    tbl = str(tmp_path / "rtgen")
    os.makedirs(tbl)
    pq.write_table(pa.table({
        "id": pa.array(range(10), pa.int64()),
        "v": pa.array([float(i) for i in range(10)])}),
        os.path.join(tbl, "f1.parquet"))
    schema = {"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "v", "type": "double", "nullable": True,
         "metadata": {}}]}
    _commit(tbl, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["rowTracking",
                                         "domainMetadata"]}},
        {"metaData": {"id": "rtgen", "format": {
            "provider": "parquet", "options": {}},
            "schemaString": _json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.enableRowTracking": "true"},
            "createdTime": 0}}])
    _commit(tbl, 1, [
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True, "baseRowId": 0,
                 "defaultRowCommitVersion": 1}},
        {"domainMetadata": {"domain": "delta.rowTracking",
                            "configuration": _json.dumps(
                                {"rowIdHighWaterMark": 9}),
                            "removed": False}}])
    vm = upsert_delta_local(
        spark, tbl,
        spark.createDataFrame([(4, 400.0), (99, 990.0)],
                              "id long, v double"),
        ["id"])
    got = {r["id"]: (r["_row_id"], r["_row_commit_version"])
           for r in read_delta_local(
               spark, tbl, with_row_tracking=True).collect()}
    assert got[4] == (4, vm)          # single match keeps its id
    assert got[0] == (0, 1) and got[9] == (9, 1)
    assert got[99][0] > 9 and got[99][1] == vm
    # the generated names committed with the files that use them
    _, meta, _, _ = _replay(tbl, None)
    conf = meta.get("configuration") or {}
    assert conf.get("delta.rowTracking.materializedRowIdColumnName")
