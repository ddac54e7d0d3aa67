"""Pure-Python local Hudi CoW tables (sources/hudi_local.py): timeline
replay, file-group slice supersession, replacecommit, time travel,
write/overwrite roundtrips, and the gated MERGE_ON_READ shapes."""

import os

import pandas as pd
import pytest

from conftest import SF_SMOKE

from quokka_spark.sources.hudi_local import (clean_hudi_local,
                                             commit_hudi_local,
                                             hudi_live_files,
                                             write_hudi_local)


def test_hudi_commit_read_and_group_supersession(spark, qc, tmp_path):
    """The newest base file per (partition, fileId) wins: committing a
    new slice for an existing group supersedes its previous base file;
    other groups are untouched."""
    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    a2 = str(tmp_path / "a2.parquet")
    pd.DataFrame({"id": [1, 2]}).to_parquet(a)
    pd.DataFrame({"id": [10, 11, 12]}).to_parquet(b)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(a2)  # group g1 updated
    tbl = str(tmp_path / "tbl")
    t1 = commit_hudi_local(tbl, {"": [("g1", a), ("g2", b)]})
    assert sorted(r["id"] for r in qc.read_hudi(tbl).df.collect()) == \
        [1, 2, 10, 11, 12]
    t2 = commit_hudi_local(tbl, {"": [("g1", a2)]})
    assert t2 > t1
    assert sorted(r["id"] for r in qc.read_hudi(tbl).df.collect()) == \
        [1, 2, 3, 10, 11, 12]
    # time travel to the first instant
    assert sorted(r["id"] for r in
                  qc.read_hudi(tbl, as_of=t1).df.collect()) == \
        [1, 2, 10, 11, 12]
    with pytest.raises(ValueError, match="no completed commit"):
        qc.read_hudi(tbl, as_of="0")


def test_hudi_replacecommit_drops_groups(spark, qc, tmp_path):
    """A replacecommit kills the named file groups (insert_overwrite /
    clustering) while its own write stats add the successors."""
    a = str(tmp_path / "a.parquet")
    c = str(tmp_path / "c.parquet")
    pd.DataFrame({"id": [1, 2]}).to_parquet(a)
    pd.DataFrame({"id": [7]}).to_parquet(c)
    tbl = str(tmp_path / "tbl")
    commit_hudi_local(tbl, {"": [("g1", a)]})
    commit_hudi_local(tbl, {"": [("g3", c)]}, replaces={"": ["g1"]})
    assert [r["id"] for r in qc.read_hudi(tbl).df.collect()] == [7]
    assert len(hudi_live_files(tbl)) == 1


def test_hudi_write_roundtrip_and_overwrite(spark, qc, tmp_path):
    tbl = str(tmp_path / "w")
    base = qc.read_parquet(os.path.join(SF_SMOKE, "region.parquet"))
    t1 = base.write_hudi(tbl)
    assert qc.read_hudi(tbl).count() == base.count()
    t2 = base.write_hudi(tbl, mode="append")
    assert t2 > t1
    assert qc.read_hudi(tbl).count() == 2 * base.count()
    base.filter_sql("r_regionkey <= 1").write_hudi(tbl, mode="overwrite")
    assert qc.read_hudi(tbl).count() == 2
    # time travel still sees the doubled state
    assert qc.read_hudi(tbl, as_of=t2).count() == 2 * base.count()


def test_hudi_pushdown_reaches_scan(spark, qc, tmp_path):
    """The resolved file list feeds a NATIVE parquet scan: filters and
    column pruning reach the reader exactly as on raw parquet."""
    import contextlib
    import io
    tbl = str(tmp_path / "p")
    qc.read_parquet(os.path.join(SF_SMOKE, "orders.parquet")) \
        .write_hudi(tbl)
    ds = qc.read_hudi(tbl).filter_sql("o_orderkey < 100") \
        .select(["o_orderkey", "o_custkey"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ds.df.explain(mode="formatted")
    s = buf.getvalue()
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey" in s
    read_schema = [line for line in s.splitlines() if "ReadSchema" in line][0]
    assert "o_orderdate" not in read_schema


def test_hudi_mor_edges_gated(spark, qc, tmp_path):
    """The MoR edges that can't be served correctly refuse loudly:
    a deltacommit inside a CoW-marked timeline (properties and
    timeline disagree), a real hudi-writer log (HoodieLogFormat
    #HUDI# block framing), and a log-only file group (no base to
    merge onto). A base-only MoR snapshot, by contrast, reads fine —
    with no logs there is nothing stale to serve."""
    import json as _json
    a = str(tmp_path / "a.parquet")
    pd.DataFrame({"id": [1]}).to_parquet(a)
    tbl = str(tmp_path / "mor")
    commit_hudi_local(tbl, {"": [("g1", a)]})
    props = os.path.join(tbl, ".hoodie", "hoodie.properties")
    with open(props, "w") as fh:
        fh.write("hoodie.table.type=MERGE_ON_READ\n"
                 "hoodie.table.recordkey.fields=id\n")
    # base-only MoR: plain scan, no gate
    assert [r["id"] for r in qc.read_hudi(tbl).df.collect()] == [1]
    # a foreign HoodieLogFormat log file is refused at merge time
    # (instant must sort AFTER the base commit's real timestamp, else
    # the replay's fresh-slice rule discards the log)
    late = "99999999999999998"
    foreign = str(tmp_path / ".g1_1.log.2_0-0-0")
    with open(foreign, "wb") as fh:
        fh.write(b"#HUDI#" + b"\x00" * 32)
    with open(os.path.join(tbl, ".hoodie", f"{late}.deltacommit"),
              "w") as fh:
        _json.dump({"partitionToWriteStats":
                    {"": [{"fileId": "g1", "path": foreign}]}}, fh)
    with pytest.raises(NotImplementedError, match="HoodieLogFormat"):
        qc.read_hudi(tbl).df.collect()
    # a log-only group (no base) is refused at plan time
    os.unlink(os.path.join(tbl, ".hoodie", f"{late}.deltacommit"))
    with open(os.path.join(tbl, ".hoodie", "99999999999999999.deltacommit"),
              "w") as fh:
        _json.dump({"partitionToWriteStats":
                    {"": [{"fileId": "gNEW", "path": foreign}]}}, fh)
    with pytest.raises(NotImplementedError, match="log-only"):
        qc.read_hudi(tbl)
    # a deltacommit in a CoW-marked timeline is refused
    with open(props, "w") as fh:
        fh.write("hoodie.table.type=COPY_ON_WRITE\n")
    with pytest.raises(NotImplementedError, match="deltacommit"):
        qc.read_hudi(tbl)
    # so is a clean of that table, or of one without properties,
    # before it deletes anything
    stray = os.path.join(tbl, "stray.parquet")
    pd.DataFrame({"id": [2]}).to_parquet(stray)
    with pytest.raises(NotImplementedError, match="deltacommit"):
        clean_hudi_local(tbl)
    os.unlink(props)
    with pytest.raises(FileNotFoundError, match="not a Hudi table"):
        clean_hudi_local(tbl)
    assert os.path.exists(stray)


def test_hudi_not_a_table_is_clear_error(qc, tmp_path):
    with pytest.raises(FileNotFoundError, match="not a Hudi table"):
        qc.read_hudi(str(tmp_path / "nope"))


def test_hudi_instants_order_numerically(spark, qc, tmp_path):
    """Instant '10' replays AFTER instant '2' (numeric order, not
    lexicographic) — regression: sorted() put '10' first, so the
    older slice won the group and latest disagreed with as_of."""
    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    pd.DataFrame({"id": [1]}).to_parquet(a)
    pd.DataFrame({"id": [2]}).to_parquet(b)
    tbl = str(tmp_path / "tbl")
    commit_hudi_local(tbl, {"": [("g1", a)]}, instant="2")
    commit_hudi_local(tbl, {"": [("g1", b)]}, instant="10")
    assert [r["id"] for r in qc.read_hudi(tbl).df.collect()] == [2]
    assert [r["id"] for r in
            qc.read_hudi(tbl, as_of="10").df.collect()] == [2]
    assert [r["id"] for r in
            qc.read_hudi(tbl, as_of="2").df.collect()] == [1]


def test_hudi_writer_refuses_mor(spark, qc, tmp_path):
    """The WRITER gates MERGE_ON_READ too — committing CoW instants
    into a MoR timeline would corrupt it for real readers."""
    a = str(tmp_path / "a.parquet")
    pd.DataFrame({"id": [1]}).to_parquet(a)
    tbl = str(tmp_path / "mor2")
    commit_hudi_local(tbl, {"": [("g1", a)]})
    with open(os.path.join(tbl, ".hoodie", "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.type=MERGE_ON_READ\n")
    with pytest.raises(NotImplementedError, match="MERGE_ON_READ"):
        commit_hudi_local(tbl, {"": [("g2", a)]})
    with pytest.raises(NotImplementedError, match="MERGE_ON_READ"):
        write_hudi_local(spark.range(1), tbl)


def test_hudi_compact_and_clean(spark, qc, tmp_path):
    """Compaction rewrites the live rows into right-sized groups via
    ONE replacecommit (time travel still sees the old layout); clean
    then reclaims table-local files no kept instant references."""
    from quokka_spark.sources.hudi_local import (clean_hudi_local,
                                                 compact_hudi_local,
                                                 hudi_live_files)
    tbl = str(tmp_path / "c")
    base = qc.read_parquet(os.path.join(SF_SMOKE, "region.parquet"))
    write_hudi_local(base.df.repartition(4), tbl)       # 4 small groups
    t2 = write_hudi_local(base.df.repartition(3), tbl)  # + 3 more
    assert len(hudi_live_files(tbl)) == 7
    tc = compact_hudi_local(spark, tbl, target_file_rows=10_000)
    assert int(tc) > int(t2)
    assert len(hudi_live_files(tbl)) == 1
    assert qc.read_hudi(tbl).count() == 2 * base.count()
    # time travel pre-compaction still sees the old layout
    assert len(hudi_live_files(tbl, as_of=t2)) == 7
    n = clean_hudi_local(tbl, keep_last=1)
    assert n == 7
    assert qc.read_hudi(tbl).count() == 2 * base.count()


# ----------------------------------------------------------------------
# MERGE_ON_READ: log-file merge, upserts, deletes, compaction (round 8)
# ----------------------------------------------------------------------

def _mor_table(spark, tmp_path, n=20):
    from quokka_spark.sources.hudi_local import write_hudi_mor_local
    tbl = str(tmp_path / "mor")
    df = spark.range(0, n).selectExpr(
        "id", "cast(id * 10 as double) as v", "concat('u', id % 3) as tag")
    write_hudi_mor_local(df.repartition(2), tbl, recordkey="id")
    return tbl


def test_hudi_mor_upsert_updates_rows(spark, qc, tmp_path):
    """Updates land as Avro log files; the read-time record-key merge
    serves the new values while the base files stay untouched."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    tbl = _mor_table(spark, tmp_path)
    upd = spark.createDataFrame(
        [(3, 999.0, "UP"), (7, 777.0, "UP")], "id long, v double, tag string")
    upsert_hudi_mor_local(spark, tbl, upd)
    got = {r["id"]: (r["v"], r["tag"])
           for r in qc.read_hudi(tbl).df.collect()}
    assert len(got) == 20
    assert got[3] == (999.0, "UP") and got[7] == (777.0, "UP")
    assert got[4] == (40.0, "u1")           # untouched row intact


def test_hudi_mor_upsert_inserts_new_keys(spark, qc, tmp_path):
    """Keys not present in any base file route to NEW parquet base
    groups inside the same deltacommit (the spec's insert path)."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    tbl = _mor_table(spark, tmp_path, n=5)
    mixed = spark.createDataFrame(
        [(2, 22.0, "UP"), (100, 1.0, "NEW")],
        "id long, v double, tag string")
    upsert_hudi_mor_local(spark, tbl, mixed)
    got = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert len(got) == 6
    assert got[2] == 22.0 and got[100] == 1.0


def test_hudi_mor_delete_tombstones(spark, qc, tmp_path):
    """delete=True writes _hoodie_is_deleted tombstones; deleted keys
    vanish, unknown keys are ignored (Hudi delete semantics)."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    tbl = _mor_table(spark, tmp_path, n=10)
    dels = spark.createDataFrame([(4,), (8,), (404,)], "id long")
    upsert_hudi_mor_local(spark, tbl, dels, delete=True)
    got = sorted(r["id"] for r in qc.read_hudi(tbl).df.collect())
    assert got == [0, 1, 2, 3, 5, 6, 7, 9]


def test_hudi_mor_latest_instant_wins(spark, qc, tmp_path):
    """Two upserts of the same key across deltacommits: the higher
    _hoodie_commit_time wins; a later delete beats both; and time
    travel THROUGH the deltacommits replays each state exactly."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    tbl = _mor_table(spark, tmp_path, n=4)
    mk = lambda v: spark.createDataFrame(
        [(1, v, "X")], "id long, v double, tag string")
    t1 = upsert_hudi_mor_local(spark, tbl, mk(111.0))
    t2 = upsert_hudi_mor_local(spark, tbl, mk(222.0))
    t3 = upsert_hudi_mor_local(
        spark, tbl, spark.createDataFrame([(1,)], "id long"), delete=True)
    read = lambda as_of=None: {
        r["id"]: r["v"]
        for r in qc.read_hudi(tbl, as_of=as_of).df.collect()}
    assert 1 not in read()                       # delete wins at latest
    assert read(t2)[1] == 222.0                  # through 2 deltacommits
    assert read(t1)[1] == 111.0                  # through 1
    assert len(read(t3)) == 3


def test_hudi_mor_compaction_folds_logs(spark, qc, tmp_path):
    """compact_hudi on a MoR table folds base+log slices into fresh
    right-sized base groups: same rows back, no live log files, and
    time travel still sees the pre-compaction layout."""
    from quokka_spark.sources.hudi_local import (hudi_live_files,
                                                 upsert_hudi_mor_local)
    tbl = _mor_table(spark, tmp_path, n=12)
    upd = spark.createDataFrame(
        [(i, float(1000 + i), "C") for i in range(0, 12, 3)],
        "id long, v double, tag string")
    t_up = upsert_hudi_mor_local(spark, tbl, upd)
    assert any(".log." in f for f in hudi_live_files(tbl))
    qc.compact_hudi(tbl, target_file_rows=1000)
    live = hudi_live_files(tbl)
    assert len(live) == 1 and not any(".log." in f for f in live)
    got = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert len(got) == 12 and got[3] == 1003.0 and got[4] == 40.0
    # pre-compaction slice still replays (logs merged)
    old = {r["id"]: r["v"]
           for r in qc.read_hudi(tbl, as_of=t_up).df.collect()}
    assert old == got


def test_hudi_mor_clean_keeps_live_logs(spark, qc, tmp_path):
    """clean_hudi must treat live LOG files as referenced — deleting
    them would lose committed updates."""
    from quokka_spark.sources.hudi_local import (clean_hudi_local,
                                                 upsert_hudi_mor_local)
    tbl = _mor_table(spark, tmp_path, n=6)
    upsert_hudi_mor_local(spark, tbl, spark.createDataFrame(
        [(2, 22.0, "UP")], "id long, v double, tag string"))
    assert clean_hudi_local(tbl, keep_last=1) == 0   # everything live
    got = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert got[2] == 22.0
    # after compaction the old base+logs ARE reclaimable
    qc.compact_hudi(tbl, target_file_rows=1000)
    assert clean_hudi_local(tbl, keep_last=1) >= 3   # 2 bases + 1 log
    assert {r["id"]: r["v"]
            for r in qc.read_hudi(tbl).df.collect()}[2] == 22.0


def test_hudi_mor_upsert_validations(spark, qc, tmp_path):
    """Loud-gate contract of the upsert writer: key-duplicate batches,
    mismatched payload columns, and upserting a CoW table all raise
    with actionable messages."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    tbl = _mor_table(spark, tmp_path, n=3)
    dup = spark.createDataFrame(
        [(1, 1.0, "a"), (1, 2.0, "b")], "id long, v double, tag string")
    with pytest.raises(ValueError, match="key-unique"):
        upsert_hudi_mor_local(spark, tbl, dup)
    bad_cols = spark.createDataFrame([(1, 1.0)], "id long, nope double")
    with pytest.raises(ValueError, match="columns must match"):
        upsert_hudi_mor_local(spark, tbl, bad_cols)
    cow = str(tmp_path / "cow")
    write_hudi_local(spark.range(3), cow)
    with pytest.raises(ValueError, match="not a MERGE_ON_READ"):
        upsert_hudi_mor_local(spark, cow, spark.range(1))


def test_hudi_mor_nullable_long_payload_exact(spark, qc, tmp_path):
    """Log payloads go through the Avro writer's exact-int path: a
    nullable long above 2^53 survives the upsert-merge roundtrip."""
    from quokka_spark.sources.hudi_local import (upsert_hudi_mor_local,
                                                 write_hudi_mor_local)
    big = (1 << 53) + 1
    tbl = str(tmp_path / "morbig")
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None)], "id long, v long")
    write_hudi_mor_local(base.coalesce(1), tbl, recordkey="id")
    upsert_hudi_mor_local(spark, tbl, spark.createDataFrame(
        [(2, big), (3, None)], "id long, v long"))
    got = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert got == {1: 10, 2: big, 3: None}


def test_hudi_mor_review_pass_regressions(spark, qc, tmp_path):
    """Round-8 review-pass pins: (1) a type-drifted insert payload is
    CAST to the base schema instead of writing mixed-physical-type
    parquet that bricks later reads; (2) a delete batch matching no
    keys is a documented no-op returning None; (3) payload columns in
    the reserved _hoodie_* namespace refuse at bulk load; (4) a
    duplicate- or null-keyed bulk load refuses (the merge window
    would silently collapse it after the first upsert); (5) an
    appended bulk load overlapping live keys refuses."""
    from quokka_spark.sources.hudi_local import (upsert_hudi_mor_local,
                                                 write_hudi_mor_local)
    tbl = _mor_table(spark, tmp_path, n=5)
    # (1) v int / tag ok -> cast to double on the way in
    drift = spark.createDataFrame([(100, 7, "NEW")],
                                  "id long, v int, tag string")
    upsert_hudi_mor_local(spark, tbl, drift)
    got = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert got[100] == 7.0 and got[2] == 20.0      # table still reads
    # (2) all-unknown delete: no-op, no new instant
    from quokka_spark.sources.hudi_local import completed_instants
    before = len(completed_instants(tbl))
    assert upsert_hudi_mor_local(
        spark, tbl, spark.createDataFrame([(999,)], "id long"),
        delete=True) is None
    assert len(completed_instants(tbl)) == before
    # (3) reserved meta names refuse
    with pytest.raises(ValueError, match="_hoodie_"):
        write_hudi_mor_local(
            spark.range(2).selectExpr("id", "id as _hoodie_commit_time"),
            str(tmp_path / "resv"), recordkey="id")
    # (4) duplicate and null keys refuse at bulk load
    with pytest.raises(ValueError, match="key-unique"):
        write_hudi_mor_local(
            spark.createDataFrame([(1, 1.0, "a"), (1, 2.0, "b")],
                                  "id long, v double, tag string"),
            str(tmp_path / "dup"), recordkey="id")
    with pytest.raises(ValueError, match="NULL"):
        write_hudi_mor_local(
            spark.createDataFrame([(None, 1.0, "a")],
                                  "id long, v double, tag string"),
            str(tmp_path / "nulls"), recordkey="id")
    # (5) append overlapping live keys refuses
    with pytest.raises(ValueError, match="overlaps live"):
        write_hudi_mor_local(
            spark.createDataFrame([(2, 0.0, "x")],
                                  "id long, v double, tag string"),
            tbl, recordkey="id", mode="append")


def test_hudi_mor_random_ops_match_dict_model(spark, qc, tmp_path):
    """Model-based sweep: a random sequence of upsert / delete /
    compact ops against a plain Python dict model — after every op
    the merged read must equal the model exactly, and a time-travel
    read at each recorded instant must reproduce the model's history.
    Deterministic seed; exercises multi-log accumulation, tombstone
    chains, insert routing and compaction folding together."""
    import random

    from quokka_spark.sources.hudi_local import (compact_hudi_local,
                                                 upsert_hudi_mor_local,
                                                 write_hudi_mor_local)
    rng = random.Random(8)
    tbl = str(tmp_path / "model")
    model = {i: float(i) for i in range(30)}
    write_hudi_mor_local(
        spark.createDataFrame(sorted(model.items()), "id long, v double")
        .repartition(3), tbl, recordkey="id")
    history = []          # (instant, snapshot of model)

    def read_as(as_of=None):
        return {r["id"]: r["v"]
                for r in qc.read_hudi(tbl, as_of=as_of).df.collect()}

    next_new = 1000
    for step in range(8):
        op = rng.choice(["upsert", "delete", "upsert", "compact"])
        if op == "upsert":
            ups = {}
            for _ in range(rng.randint(1, 6)):
                if model and rng.random() < 0.7:
                    k = rng.choice(sorted(model))
                else:
                    k = next_new
                    next_new += 1
                ups[k] = round(rng.uniform(0, 1e6), 3)
            ts = upsert_hudi_mor_local(
                spark, tbl,
                spark.createDataFrame(sorted(ups.items()),
                                      "id long, v double"))
            model.update(ups)
        elif op == "delete":
            ks = [k for k in sorted(model) if rng.random() < 0.3]
            ks.append(99999999)          # always one unknown key
            ts = upsert_hudi_mor_local(
                spark, tbl,
                spark.createDataFrame([(k,) for k in ks], "id long"),
                delete=True)
            for k in ks:
                model.pop(k, None)
            if ts is None:               # only-unknown no-op
                continue
        else:
            ts = compact_hudi_local(spark, tbl, target_file_rows=1000)
        history.append((ts, dict(model)))
        assert read_as() == model, f"step {step} ({op})"
    # time travel replays every recorded state
    for ts, snap in history:
        assert read_as(ts) == snap, f"as_of {ts}"


def test_hudi_timestamp_time_travel(spark, qc, tmp_path):
    """as-of by timestamp (round 9): resolve to the latest completed
    instant at-or-before the asked moment — raw instant-shaped
    numbers, datetimes, and ISO strings all accepted."""
    import datetime as _dt

    from quokka_spark.sources.hudi_local import (completed_instants,
                                                 instant_at_timestamp,
                                                 write_hudi_local)
    tbl = str(tmp_path / "tt")
    write_hudi_local(spark.range(0, 4).coalesce(1), tbl)
    write_hudi_local(spark.range(10, 12).coalesce(1), tbl,
                     mode="append")
    t1, t2 = [ts for ts, _, _ in completed_instants(tbl)]
    assert instant_at_timestamp(tbl, int(t1)) == t1
    assert instant_at_timestamp(tbl, int(t2)) == t2
    got = qc.read_hudi(tbl, as_of_timestamp=int(t1)).df
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2, 3]
    # a datetime far in the future resolves to the latest instant
    future = _dt.datetime.now() + _dt.timedelta(days=365)
    assert instant_at_timestamp(tbl, future) == t2
    assert sorted(r["id"] for r in qc.read_hudi(
        tbl, as_of_timestamp=future).df.collect()) \
        == [0, 1, 2, 3, 10, 11]
    with pytest.raises(ValueError, match="before"):
        instant_at_timestamp(tbl, int(t1) - 1)
    with pytest.raises(ValueError, match="not both"):
        qc.read_hudi(tbl, as_of=t1, as_of_timestamp=int(t1))


def test_streaming_write_hudi_exactly_once(spark, qc, tmp_path):
    """foreachBatch sink with the extraMetadata handshake (round 9):
    restart with the same checkpoint appends only NEW batches;
    redelivered batch ids are no-ops; unrelated commits don't
    disturb the mark."""
    from quokka_spark.sources.hudi_local import (last_txn_version,
                                                 write_hudi_local)
    from quokka_spark.streaming.stream import streaming_write_hudi
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    tbl = str(tmp_path / "sink")
    sch = "id long, v double"
    spark.createDataFrame([(1, 1.0), (2, 2.0)], sch) \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], sch).schema).parquet(src)
    q = streaming_write_hudi(stream, tbl, chk, app_id="t") \
        .trigger(availableNow=True).start()
    assert q.awaitTermination(120)
    assert sorted(r["id"] for r in qc.read_hudi(tbl).df.collect()) \
        == [1, 2]
    last = last_txn_version(tbl, "t")
    assert last is not None and last >= 0
    spark.createDataFrame([(3, 3.0)], sch).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], sch).schema).parquet(src)
    q = streaming_write_hudi(stream, tbl, chk, app_id="t") \
        .trigger(availableNow=True).start()
    assert q.awaitTermination(120)
    assert sorted(r["id"] for r in qc.read_hudi(tbl).df.collect()) \
        == [1, 2, 3]
    last2 = last_txn_version(tbl, "t")
    assert last2 is not None and last2 > last
    # an unrelated (non-sink) commit leaves the mark untouched
    write_hudi_local(spark.createDataFrame([(9, 9.0)], sch)
                     .coalesce(1), tbl, mode="append")
    assert last_txn_version(tbl, "t") == last2
    assert last_txn_version(tbl, "other") is None


def test_hudi_instant_at_timestamp_width_and_precision(monkeypatch):
    """Round-9 review pins: (1) 14-digit (old-writer) instants
    normalize to the common 17-digit width before comparison — raw
    int comparison would rank every 14-digit instant below any
    17-digit key and serve FUTURE commits; (2) a datetime's
    sub-second part participates (ms precision) so at-or-before is
    honored against same-second instants."""
    import datetime as dt

    import quokka_spark.sources.hudi_local as hl
    fake = [("20200101120000", "commit", "x"),       # 14-digit
            ("20240101120000500", "commit", "y")]    # 17-digit
    monkeypatch.setattr(hl, "completed_instants", lambda t: fake)
    # (1) a 2020-06 ask picks the 2020 instant, never the 2024 one
    assert hl.instant_at_timestamp("t", dt.datetime(2020, 6, 1)) \
        == "20200101120000"
    # (2) 200 ms into the second: the .500 instant is in the FUTURE
    assert hl.instant_at_timestamp(
        "t", dt.datetime(2024, 1, 1, 12, 0, 0, 200_000)) \
        == "20200101120000"
    assert hl.instant_at_timestamp(
        "t", dt.datetime(2024, 1, 1, 12, 0, 0, 500_000)) \
        == "20240101120000500"
    with pytest.raises(ValueError, match="before"):
        hl.instant_at_timestamp("t", dt.datetime(2019, 1, 1))


def test_hudi_logfmt_codec_roundtrip():
    """Byte-level HoodieLogFormat framing (round 9): write → read
    roundtrip; a ROLLBACK command removes its target instant's
    blocks; truncated/corrupt framing and unsupported block types
    refuse loudly instead of resyncing."""
    from quokka_spark.sources.hudi_logfmt import (_block_bytes,
                                                  avro_data_block,
                                                  read_log_blocks,
                                                  read_log_records_bytes,
                                                  rollback_block)
    schema = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": ["null", "long"]},
        {"name": "v", "type": ["null", "double"]}]}
    recs1 = [{"id": 1, "v": 1.0}, {"id": 2, "v": None}]
    recs2 = [{"id": 3, "v": 3.0}]
    data = (avro_data_block(schema, recs1, "100")
            + avro_data_block(schema, recs2, "200"))
    s, recs = read_log_records_bytes(data)
    assert s == schema and recs == recs1 + recs2
    # rollback removes ONLY the target instant's blocks
    _, recs = read_log_records_bytes(data + rollback_block("200"))
    assert recs == recs1
    # a file whose only data block was rolled back yields ZERO rows
    # (not an error — the schema still sniffs from the raw frames)
    s2, recs = read_log_records_bytes(
        avro_data_block(schema, recs1, "100") + rollback_block("100"))
    assert s2 == schema and recs == []
    # a rollback targeting an instant with no block in THIS file is a
    # cross-file rollback (rolled-over logs): refuse loudly — the
    # rolled-back records would otherwise win the record-key merge
    with pytest.raises(NotImplementedError, match="cross-file"):
        read_log_records_bytes(data + rollback_block("999"))
    # a rollback with no target refuses (never guess which block)
    from quokka_spark.sources.hudi_logfmt import _block_bytes as _bb
    naked = _bb("command", {"INSTANT_TIME": "1",
                            "COMMAND_BLOCK_TYPE": "0"}, b"")
    with pytest.raises(ValueError, match="TARGET_INSTANT_TIME"):
        read_log_records_bytes(data + naked)
    with pytest.raises(ValueError, match="truncated"):
        read_log_records_bytes(data[:-5])
    with pytest.raises(ValueError, match="magic|framing"):
        read_log_records_bytes(b"NOTMAGIC" + data)
    # delete blocks frame fine but refuse to DECODE without the
    # table's key fields (tombstones would be unmappable), and a
    # truncated delete payload refuses loudly
    bad = _block_bytes("delete", {"INSTANT_TIME": "1"}, b"\x00")
    assert [b["type"] for b in read_log_blocks(data + bad)] == \
        ["avro_data", "avro_data", "delete"]
    with pytest.raises(NotImplementedError, match="key_fields"):
        read_log_records_bytes(data + bad)
    with pytest.raises(ValueError, match="truncated"):
        read_log_records_bytes(data + bad, key_fields=["id"])
    hfile = _block_bytes("hfile_data", {"INSTANT_TIME": "1"}, b"\x00")
    with pytest.raises(NotImplementedError, match="hfile"):
        read_log_blocks(data + hfile)
    # declared-size mismatch refuses (no resync across corrupt bytes)
    import struct
    broken = bytearray(avro_data_block(schema, recs1, "1"))
    broken[6:14] = struct.pack(">q",
                               struct.unpack(">q", broken[6:14])[0] + 4)
    with pytest.raises(ValueError, match="truncated|declares"):
        read_log_blocks(bytes(broken))


def _reframe_logs_to_spec(tbl):
    """Rewrite every container-format log file of a MoR table into
    REAL HoodieLogFormat block framing (same records, same names) —
    simulating a table written by a real hudi writer."""
    import json as _json
    import os

    from quokka_spark.sources.avro_lite import read_container
    from quokka_spark.sources.hudi_logfmt import write_log_file
    n = 0
    for dp, _, fs in os.walk(tbl):
        if ".hoodie" in dp:
            continue
        for f in fs:
            if ".log." not in f:
                continue
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                if fh.read(6) == b"#HUDI#":
                    continue          # already spec-framed
            meta, records = read_container(p)
            schema = _json.loads(meta["avro.schema"])
            ts = str(records[0].get("_hoodie_commit_time", "0")) \
                if records else "0"
            write_log_file(p, schema, records, ts)
            n += 1
    return n


def test_hudi_mor_spec_framed_logs_read_end_to_end(spark, qc, tmp_path):
    """A MoR table whose log files use REAL HoodieLogFormat block
    framing (round 9) reads identically to the container form: the
    batch merge, the driver schema sniff, and the streaming source
    all dispatch per file on the #HUDI# magic."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    tbl = _mor_table(spark, tmp_path)
    upsert_hudi_mor_local(
        spark, tbl,
        spark.createDataFrame([(3, 999.0, "UP"), (50, 500.0, "NEW")],
                              "id long, v double, tag string"))
    before = {r["id"]: (r["v"], r["tag"])
              for r in qc.read_hudi(tbl).df.collect()}
    assert _reframe_logs_to_spec(tbl) > 0
    after = {r["id"]: (r["v"], r["tag"])
             for r in qc.read_hudi(tbl).df.collect()}
    assert after == before
    assert after[3] == (999.0, "UP") and after[50] == (500.0, "NEW")
    # the streaming source decodes the framed log upserts too
    s = qc.read_hudi_stream(tbl)
    q = (s.writeStream.format("memory").queryName("hlfsrc")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    ids = sorted(r["id"] for r in spark.table("hlfsrc").collect())
    assert ids == sorted(list(range(20)) + [3, 50])


def test_hudi_logfmt_delete_block_codec():
    """DELETE blocks (round 10): version-3 Avro HoodieDeleteRecordList
    payloads decode into _hoodie_is_deleted tombstone records keyed by
    the table's record-key fields; Kryo versions (<3) refuse typed;
    recordKey strings parse in both the simple and f1:v1,f2:v2
    conventions; key values coerce to the slice schema's types."""
    import struct as _s

    from quokka_spark.sources.hudi_logfmt import (_block_bytes,
                                                  _parse_record_key,
                                                  avro_data_block,
                                                  delete_block,
                                                  read_log_records_bytes)
    schema = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": ["null", "long"]},
        {"name": "v", "type": ["null", "double"]},
        {"name": "_hoodie_commit_time", "type": ["null", "long"]}]}
    recs = [{"id": 1, "v": 1.0, "_hoodie_commit_time": 100},
            {"id": 2, "v": 2.0, "_hoodie_commit_time": 100}]
    data = avro_data_block(schema, recs, "100") + delete_block(["2"], "200")
    _, out = read_log_records_bytes(data, key_fields=["id"])
    tomb = [r for r in out if r.get("_hoodie_is_deleted")]
    # id coerced long per schema; commit time coerced too
    assert tomb == [{"id": 2, "_hoodie_commit_time": 200,
                     "_hoodie_is_deleted": True}]
    assert [r for r in out if not r.get("_hoodie_is_deleted")] == recs
    # recordKey conventions
    assert _parse_record_key("7", ["id"], "t") == {"id": "7"}
    assert _parse_record_key("id:7", ["id"], "t") == {"id": "7"}
    assert _parse_record_key("a:1,b:x", ["a", "b"], "t") == \
        {"a": "1", "b": "x"}
    with pytest.raises(ValueError, match="covers"):
        _parse_record_key("a:1", ["a", "b"], "t")
    with pytest.raises(ValueError, match="parse"):
        _parse_record_key("a:1,zz:9", ["a", "b"], "t")
    # Kryo-era content versions refuse typed
    kryo = _block_bytes("delete", {"INSTANT_TIME": "9"},
                        _s.pack(">i", 2) + _s.pack(">i", 0))
    with pytest.raises(NotImplementedError, match="Kryo"):
        read_log_records_bytes(avro_data_block(schema, recs, "100")
                               + kryo, key_fields=["id"])


def test_hudi_history(spark, qc, tmp_path):
    """qc.hudi_history: the completed write timeline with per-instant
    action and operation type."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    tbl = _mor_table(spark, tmp_path)
    upsert_hudi_mor_local(
        spark, tbl,
        spark.createDataFrame([(3, 1.0, "U")],
                              "id long, v double, tag string"))
    rows = qc.hudi_history(tbl).df.collect()
    assert len(rows) == 2
    assert [r["action"] for r in rows] == ["deltacommit", "deltacommit"]
    assert rows[-1]["operation"] == "upsert"


def test_hudi_table_version_gate(spark, qc, tmp_path):
    """Version gates after round 13: MERGE_ON_READ under the 1.x
    timeline refuses typed (log-format/compaction semantics changed;
    only 1.x CoW is served — test_hudi_1x_cow_timeline), and table
    versions BEYOND 1.x (> 8) refuse typed everywhere — replaying a
    future layout with these rules would silently see an empty
    timeline."""
    tbl = _mor_table(spark, tmp_path)
    props = os.path.join(tbl, ".hoodie", "hoodie.properties")
    with open(props, "a") as fh:
        fh.write("hoodie.table.version=8\n")
    with pytest.raises(NotImplementedError, match="MERGE_ON_READ"):
        qc.read_hudi(tbl)
    with open(props, "a") as fh:
        fh.write("hoodie.table.version=9\n")
    with pytest.raises(NotImplementedError, match="table.version 9"):
        qc.read_hudi(tbl)


def test_hudi_restore(spark, qc, tmp_path):
    """restore_hudi_local (round 10 — hudi's own destructive restore
    semantics): the timeline truncates to the target instant, later
    upserts vanish with their table-local log files, the timeline
    resumes linearly afterwards, and an unknown target refuses."""
    from quokka_spark.sources.hudi_local import (completed_instants,
                                                 restore_hudi_local,
                                                 upsert_hudi_mor_local)
    tbl = _mor_table(spark, tmp_path)
    t0 = completed_instants(tbl)[-1][0]
    upsert_hudi_mor_local(
        spark, tbl,
        spark.createDataFrame([(3, 999.0, "UP")],
                              "id long, v double, tag string"))
    upsert_hudi_mor_local(
        spark, tbl,
        spark.createDataFrame([(4, 888.0, "UP2")],
                              "id long, v double, tag string"))
    before = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert before[3] == 999.0 and before[4] == 888.0
    removed = restore_hudi_local(tbl, t0)
    assert len(removed) == 2
    after = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert set(after) == set(range(20))
    assert after[3] != 999.0 and after[4] != 888.0
    assert len(completed_instants(tbl)) == 1
    with pytest.raises(ValueError, match="not a completed"):
        restore_hudi_local(tbl, "1")
    # the timeline resumes linearly after a restore
    upsert_hudi_mor_local(
        spark, tbl,
        spark.createDataFrame([(5, 777.0, "N")],
                              "id long, v double, tag string"))
    got = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert got[5] == 777.0 and got[3] == after[3]


def test_hudi_restore_shared_log(spark, qc, tmp_path):
    """Restore when a post-target deltacommit appended its block to a
    log file the TARGET state also references (real hudi writers
    share log files across instants, rolling only on size): the
    shared FRAMED log must not be deleted — the restore appends a
    ROLLBACK command block voiding the rolled-back instant's blocks,
    exactly what real hudi restore writes. A shared plain-container
    log refuses BEFORE mutating anything."""
    import json as _json

    from quokka_spark.sources.hudi_local import (completed_instants,
                                                 restore_hudi_local,
                                                 upsert_hudi_mor_local)
    tbl = _mor_table(spark, tmp_path)
    u1 = upsert_hudi_mor_local(
        spark, tbl,
        spark.createDataFrame([(3, 111.0, "T1")],
                              "id long, v double, tag string"))
    u2 = upsert_hudi_mor_local(
        spark, tbl,
        spark.createDataFrame([(3, 222.0, "T2")],
                              "id long, v double, tag string"))
    # find the two instants' log files for id=3's group, merge t2's
    # blocks INTO t1's log, and repoint t2's commit at the shared path
    tdir = os.path.join(tbl, ".hoodie")
    paths = {}
    for ts, action, ipath in completed_instants(tbl):
        if ts not in (str(u1), str(u2)):
            continue
        with open(ipath) as fh:
            commit = _json.load(fh)
        for part, stats in commit["partitionToWriteStats"].items():
            for st in stats:
                if ".log." in st["path"]:      # the group's LOG stat
                    paths[ts] = (ipath, st["path"], commit)
    (ip1, log1, _c1), (ip2, log2, c2) = paths[str(u1)], paths[str(u2)]
    assert log1 != log2
    # SHARE the path in metadata first (container bytes still split):
    # restore must refuse before mutating anything
    for part, stats in c2["partitionToWriteStats"].items():
        for st in stats:
            if ".log." in st["path"]:
                st["path"] = log1
    with open(ip2, "w") as fh:
        _json.dump(c2, fh)
    before = completed_instants(tbl)
    with pytest.raises(NotImplementedError, match="container"):
        restore_hudi_local(tbl, str(u1))
    assert completed_instants(tbl) == before      # nothing mutated
    # now make the sharing REAL in the framed form: reframe both
    # logs to spec framing, then append u2's framed block onto u1's
    # log (framed logs are a block sequence — concatenation is the
    # writer's own append shape) and drop the separate u2 file
    _reframe_logs_to_spec(tbl)
    with open(log1, "ab") as out, open(log2, "rb") as src:
        out.write(src.read())
    os.unlink(log2)
    assert {r["id"]: r["v"] for r in
            qc.read_hudi(tbl).df.collect()}[3] == 222.0
    removed = restore_hudi_local(tbl, str(u1))
    assert removed == [str(u2)]
    # the shared log survives with a rollback block appended; the
    # merge now serves t1's value
    assert os.path.exists(log1)
    got = {r["id"]: (r["v"], r["tag"])
           for r in qc.read_hudi(tbl).df.collect()}
    assert got[3] == (111.0, "T1")
    assert set(got) == set(range(20))
    """PARQUET data blocks (round 10 — hoodie.logfile.data.block.
    format=parquet): the block content is a complete parquet file;
    records decode into the SAME avro-raw shape as avro_data blocks
    (date → days int, timestamp → epoch micros), the header SCHEMA
    wins when present, a schema-less block derives its avro schema
    from the arrow footer, rollbacks apply uniformly, and non-parquet
    content / unsupported nested types refuse typed."""
    import datetime

    import pyarrow as pa

    from quokka_spark.sources.hudi_logfmt import (_block_bytes,
                                                  avro_data_block,
                                                  parquet_data_block,
                                                  read_log_records_bytes,
                                                  read_log_schema,
                                                  rollback_block)
    tbl = pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "v": pa.array([1.5, None], pa.float64()),
        "s": pa.array(["a", "b"], pa.string()),
        "d": pa.array([datetime.date(1970, 1, 3), None], pa.date32()),
        "ts": pa.array([datetime.datetime(1970, 1, 1, 0, 0, 1), None],
                       pa.timestamp("us"))})
    blk = parquet_data_block(tbl, "100")
    s, recs = read_log_records_bytes(blk, name="pq")
    # avro-RAW values: date as days, timestamp as epoch micros
    assert recs == [
        {"id": 1, "v": 1.5, "s": "a", "d": 2, "ts": 1_000_000},
        {"id": 2, "v": None, "s": "b", "d": None, "ts": None}]
    types = {f["name"]: f["type"] for f in s["fields"]}
    assert types["d"] == ["null", {"type": "int",
                                   "logicalType": "date"}]
    assert types["ts"] == ["null", {"type": "long",
                                    "logicalType": "timestamp-micros"}]
    # mixed avro + parquet blocks in one file share the pipeline
    schema = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": ["null", "long"]},
        {"name": "v", "type": ["null", "double"]}]}
    small = pa.table({"id": pa.array([7], pa.int64()),
                      "v": pa.array([7.0], pa.float64())})
    mixed = (avro_data_block(schema, [{"id": 1, "v": 1.0}], "100")
             + parquet_data_block(small, "200", schema=schema))
    s2, recs2 = read_log_records_bytes(mixed, name="mix")
    assert s2 == schema
    assert recs2 == [{"id": 1, "v": 1.0}, {"id": 7, "v": 7.0}]
    # rollback removes a parquet block's instant like any other
    _, recs3 = read_log_records_bytes(mixed + rollback_block("200"),
                                      name="rb")
    assert recs3 == [{"id": 1, "v": 1.0}]
    # the driver schema sniff returns the parquet block's SCHEMA
    import tempfile
    with tempfile.NamedTemporaryFile(suffix=".log.1", delete=False) as f:
        f.write(parquet_data_block(small, "100", schema=schema))
        p = f.name
    assert read_log_schema(p) == schema
    # a schema-less parquet block derives from the arrow footer
    import io as _io

    import pyarrow.parquet as _pq
    buf = _io.BytesIO()
    _pq.write_table(small, buf)
    naked = _block_bytes("parquet_data", {"INSTANT_TIME": "1"},
                         buf.getvalue())
    s4, recs4 = read_log_records_bytes(naked, name="naked")
    assert recs4 == [{"id": 7, "v": 7.0}]
    assert {f["name"] for f in s4["fields"]} == {"id", "v"}
    # non-parquet content refuses (no silent misread)
    junk = _block_bytes("parquet_data", {"INSTANT_TIME": "1"},
                        b"\x00" * 16)
    with pytest.raises(ValueError, match="magic"):
        read_log_records_bytes(junk, name="junk")
    # nested arrow types refuse typed
    nested = pa.table({"a": pa.array([[1, 2]], pa.list_(pa.int64()))})
    nbuf = _io.BytesIO()
    _pq.write_table(nested, nbuf)
    nblk = _block_bytes("parquet_data", {"INSTANT_TIME": "1"},
                        nbuf.getvalue())
    with pytest.raises(NotImplementedError, match="scalar|mapping"):
        read_log_records_bytes(nblk, name="nested")
    # hfile blocks still refuse; cdc blocks (supplemental change
    # info) are SKIPPED by snapshot reads — not decoded as data
    bad = _block_bytes("hfile_data", {"INSTANT_TIME": "1"}, b"\x00")
    with pytest.raises(NotImplementedError, match="block"):
        read_log_records_bytes(bad, name="hfile")
    cdcb = _block_bytes("cdc_data", {"INSTANT_TIME": "100"}, b"\x00")
    _, recs5 = read_log_records_bytes(mixed + cdcb, name="cdcmix")
    assert recs5 == recs2


def test_hudi_mor_parquet_framed_logs_read_end_to_end(spark, qc,
                                                      tmp_path):
    """A MoR table whose log files carry PARQUET data blocks (round
    10) reads identically to the container/avro-framed forms — batch
    merge, schema sniff, and streaming source all dispatch on the
    #HUDI# magic and decode the parquet payload."""
    import json as _json

    from quokka_spark.sources.avro_lite import read_container
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    from quokka_spark.sources.hudi_logfmt import (parquet_data_block,
                                                  records_to_arrow)
    tbl = _mor_table(spark, tmp_path)
    upsert_hudi_mor_local(
        spark, tbl,
        spark.createDataFrame([(3, 999.0, "UP"), (50, 500.0, "NEW")],
                              "id long, v double, tag string"))
    before = {r["id"]: (r["v"], r["tag"])
              for r in qc.read_hudi(tbl).df.collect()}

    def reframe_parquet(t):
        n = 0
        for dp, _, fs in os.walk(t):
            if ".hoodie" in dp:
                continue
            for f in fs:
                if ".log." not in f:
                    continue
                p = os.path.join(dp, f)
                meta, records = read_container(p)
                schema = _json.loads(meta["avro.schema"])
                ts = str(records[0].get("_hoodie_commit_time", "0")) \
                    if records else "0"
                blk = parquet_data_block(
                    records_to_arrow(schema, records), ts,
                    schema=schema)
                with open(p, "wb") as fh:
                    fh.write(blk)
                n += 1
        return n

    assert reframe_parquet(tbl) > 0
    after = {r["id"]: (r["v"], r["tag"])
             for r in qc.read_hudi(tbl).df.collect()}
    assert after == before
    assert after[3] == (999.0, "UP") and after[50] == (500.0, "NEW")
    # the streaming source decodes parquet-framed log upserts too
    s = qc.read_hudi_stream(tbl)
    q = (s.writeStream.format("memory").queryName("hlfpq")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    ids = sorted(r["id"] for r in spark.table("hlfpq").collect())
    assert ids == sorted(list(range(20)) + [3, 50])


def test_hudi_logfmt_cross_file_rollback_slice_scope():
    """read_slice_log_records (round 10): a rollback command in a
    rolled-over file invalidates its target's blocks in EARLIER files
    of the slice; a target absent from the whole slice is a no-op
    (complete view — the block was never written); a same-instant
    retry block written AFTER the rollback survives. The single-file
    reader keeps its strict refusal."""
    from quokka_spark.sources.hudi_logfmt import (avro_data_block,
                                                  delete_block,
                                                  read_log_records_bytes,
                                                  read_slice_log_records,
                                                  rollback_block)
    schema = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": ["null", "long"]},
        {"name": "v", "type": ["null", "double"]}]}
    r1 = [{"id": 1, "v": 1.0}]
    r2 = [{"id": 2, "v": 2.0}]
    f1 = avro_data_block(schema, r1, "100")
    f2 = rollback_block("100") + avro_data_block(schema, r2, "200")
    _, recs = read_slice_log_records([(f1, "f1"), (f2, "f2")])
    assert recs == r2
    # absent target anywhere in the slice → no-op
    _, recs = read_slice_log_records(
        [(f1, "f1"), (rollback_block("999")
                      + avro_data_block(schema, r2, "200"), "f2")])
    assert recs == r1 + r2
    # same-instant retry after the rollback survives (sequential scope)
    f2b = rollback_block("100") + avro_data_block(
        schema, [{"id": 9, "v": 9.0}], "100")
    _, recs = read_slice_log_records([(f1, "f1"), (f2b, "f2")])
    assert recs == [{"id": 9, "v": 9.0}]
    # delete blocks participate in rollbacks like any other block
    f3 = avro_data_block(schema, r1, "100") + delete_block(["1"], "300")
    _, recs = read_slice_log_records(
        [(f3, "f3"), (rollback_block("300"), "f4")], key_fields=["id"])
    assert recs == r1
    # the single-file reader still refuses a cross-file target
    with pytest.raises(NotImplementedError, match="read_slice"):
        read_log_records_bytes(f2, name="f2")
    # an all-rolled-back slice still refuses when NO data block ever
    # carried a schema
    with pytest.raises(ValueError, match="no data blocks"):
        read_slice_log_records([(rollback_block("999"), "f")])


def test_hudi_mor_delete_block_and_cross_file_rollback_end_to_end(
        spark, qc, tmp_path):
    """The round-10 interop wall: a spec-framed MoR table whose logs
    carry (a) a rollback command one rolled-over file AFTER its
    target block and (b) a hard-delete DELETE block reads end-to-end:
    the rolled-back upsert vanishes, the tombstoned key vanishes, and
    everything else merges as before."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    from quokka_spark.sources.hudi_logfmt import (delete_block,
                                                  rollback_block)
    tbl = _mor_table(spark, tmp_path, n=10)
    sch = "id long, v double, tag string"
    # two upserts of the SAME key → two log files in one file slice
    ts1 = upsert_hudi_mor_local(
        spark, tbl, spark.createDataFrame([(3, 333.0, "A")], sch))
    ts2 = upsert_hudi_mor_local(
        spark, tbl, spark.createDataFrame([(3, 444.0, "B")], sch))
    assert _reframe_logs_to_spec(tbl) == 2
    logs = {}
    for dp, _, fs in os.walk(tbl):
        for f in fs:
            if f".log.{ts1}." in f:
                logs[ts1] = os.path.join(dp, f)
            elif f".log.{ts2}." in f:
                logs[ts2] = os.path.join(dp, f)
    assert set(logs) == {ts1, ts2}
    # crash-recovery shape: the rollback of ts1 landed in the NEXT
    # log file; a hard delete of key 5 follows at a newer instant
    with open(logs[ts2], "ab") as fh:
        fh.write(rollback_block(ts1))
        fh.write(delete_block(["5"], str(int(ts2) + 1)))
    got = {r["id"]: (r["v"], r["tag"])
           for r in qc.read_hudi(tbl).df.collect()}
    assert 5 not in got                       # delete block honored
    assert got[3] == (444.0, "B")             # ts1 rolled back, ts2 wins
    assert len(got) == 9
    assert got[4] == (40.0, "u1")             # untouched rows intact


def test_hudi_delete_only_logs_read_end_to_end(spark, qc, tmp_path):
    """Round-10 review pins: (a) a slice whose log carries ONLY a
    delete block must not break the scan's schema sniff (it falls
    through to the next file); (b) a table where EVERY log is a pure
    hard-delete file types its tombstones under the BASE schema via
    the merge's fallback; (c) a leading non-data block ending exactly
    at the sniff's chunk boundary grows the buffer instead of
    masquerading as end-of-file."""
    from quokka_spark.sources.hudi_local import upsert_hudi_mor_local
    from quokka_spark.sources.hudi_logfmt import (avro_data_block,
                                                  delete_block,
                                                  read_log_schema)
    # (b) only log in the table = a delete block
    tbl = _mor_table(spark, tmp_path, n=6)
    sch = "id long, v double, tag string"
    ts = upsert_hudi_mor_local(
        spark, tbl, spark.createDataFrame([(2,)], "id long"),
        delete=True)
    logs = [os.path.join(dp, f) for dp, _, fs in os.walk(tbl)
            for f in fs if ".log." in f]
    assert len(logs) == 1
    with open(logs[0], "wb") as fh:
        fh.write(delete_block(["2"], ts))
    got = sorted(r["id"] for r in qc.read_hudi(tbl).df.collect())
    assert got == [0, 1, 3, 4, 5]
    # (a) a SECOND slice with a data-block log: sniff skips the
    # delete-only file and reads both
    ts2 = upsert_hudi_mor_local(
        spark, tbl, spark.createDataFrame([(3, 333.0, "UP")], sch))
    assert _reframe_logs_to_spec(tbl) == 1     # only the new log
    got2 = {r["id"]: r["v"] for r in qc.read_hudi(tbl).df.collect()}
    assert got2 == {0: 0.0, 1: 10.0, 3: 333.0, 4: 40.0, 5: 50.0}
    # (c) chunk boundary: delete block ends exactly at chunk size
    p = str(tmp_path / "boundary.log.1")
    db = delete_block(["9"], "100")
    schema = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": ["null", "long"]}]}
    with open(p, "wb") as fh:
        fh.write(db + avro_data_block(schema, [{"id": 1}], "100"))
    assert read_log_schema(p, chunk=len(db)) == schema
    # a genuinely data-block-less file still refuses typed
    p2 = str(tmp_path / "delonly.log.1")
    with open(p2, "wb") as fh:
        fh.write(db)
    with pytest.raises(NotImplementedError, match="no avro_data"):
        read_log_schema(p2, chunk=len(db))


def test_hudi_incremental_reads(spark, qc, tmp_path):
    """Incremental query over the MoR lifecycle: bulk load, upsert,
    delete, compaction — each instant's slice carries exactly the
    rows that instant wrote (tombstones flagged), compaction yields
    nothing, and foreign/unreconstructible shapes refuse."""
    from quokka_spark.sources.hudi_local import (compact_hudi_local,
                                                 completed_instants,
                                                 upsert_hudi_mor_local)
    tbl = _mor_table(spark, tmp_path, n=6)            # t0: bulk insert
    t1 = upsert_hudi_mor_local(spark, tbl, spark.createDataFrame(
        [(2, 222.0, "UP"), (100, 1.0, "NEW")],
        "id long, v double, tag string"))             # t1: upsert+insert
    t2 = upsert_hudi_mor_local(
        spark, tbl, spark.createDataFrame([(4,)], "id long"),
        delete=True)                                  # t2: tombstone
    t3 = compact_hudi_local(spark, tbl, target_file_rows=1000)  # t3

    def rows(a, b=None):
        return sorted(
            (r["_commit_instant"], r["_change_type"], r["id"])
            for r in qc.read_hudi_incremental(tbl, a, b).df.collect())

    t0 = completed_instants(tbl)[0][0]
    assert rows(t0, t0) == [(t0, "upsert", i) for i in range(6)]
    # t1: the update AND the routed insert, both upserts
    assert rows(t1, t1) == [(t1, "upsert", 2), (t1, "upsert", 100)]
    got = {r["id"]: (r["v"], r["tag"])
           for r in qc.read_hudi_incremental(tbl, t1, t1).df.collect()}
    assert got[2] == (222.0, "UP") and got[100] == (1.0, "NEW")
    # t2: tombstone flagged as delete, key present
    assert rows(t2, t2) == [(t2, "delete", 4)]
    # t3 clustering: no changes
    assert rows(t3, t3) == []
    # the full range unions exactly
    assert rows(t0) == rows(t0, t0) + rows(t1, t1) + rows(t2, t2)
    # foreign replacecommit without operationType refuses
    import json as _json
    import os as _os
    late = "99999999999999999"
    with open(_os.path.join(tbl, ".hoodie", f"{late}.replacecommit"),
              "w") as fh:
        _json.dump({"partitionToWriteStats": {}}, fh)
    with pytest.raises(NotImplementedError, match="operationType"):
        qc.read_hudi_incremental(tbl, t0)


def test_hudi_incremental_deferred_flush_coalesces_across_logs(
        spark, qc, tmp_path):
    """Optimization round 14 (the round-13 Delta CDF deferred-flush
    rule ported): a base-file run stays OPEN across an interrupting
    log-bearing deltacommit — the log part scans its own Avro files,
    nothing changes the base scan's state — so a mixed timeline
    builds ONE provenance-stamped coalesced base scan instead of one
    per inter-log run. Values and per-instant stamps are unchanged."""
    from quokka_spark.sources import changes
    from quokka_spark.sources.hudi_local import (upsert_hudi_mor_local,
                                                 write_hudi_mor_local)

    def df_range(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "cast(id * 10 as double) as v").coalesce(1)

    tbl = str(tmp_path / "mor")
    t0 = write_hudi_mor_local(df_range(0, 3), tbl, recordkey="id")
    t1 = write_hudi_mor_local(df_range(10, 12), tbl, mode="append",
                              recordkey="id")
    t2 = upsert_hudi_mor_local(spark, tbl, spark.createDataFrame(
        [(1, 999.0)], "id long, v double"))        # log instant
    t3 = write_hudi_mor_local(df_range(20, 22), tbl, mode="append",
                              recordkey="id")
    t4 = write_hudi_mor_local(df_range(30, 31), tbl, mode="append",
                              recordkey="id")

    calls = []
    orig = changes._stamp_provenance

    def counted(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    changes._stamp_provenance = counted
    try:
        ch = qc.read_hudi_incremental(tbl, t0).df
        rows = sorted((r["_commit_instant"], r["_change_type"],
                       r["id"], r["v"]) for r in ch.collect())
    finally:
        changes._stamp_provenance = orig
    # ONE coalesced base run for {t0,t1,t3,t4} (pre-round-14: two
    # runs, split at the t2 log instant — a second call)
    assert len(calls) == 1
    assert rows == sorted(
        [(t0, "upsert", 0, 0.0), (t0, "upsert", 1, 10.0),
         (t0, "upsert", 2, 20.0),
         (t1, "upsert", 10, 100.0), (t1, "upsert", 11, 110.0),
         (t2, "upsert", 1, 999.0),
         (t3, "upsert", 20, 200.0), (t3, "upsert", 21, 210.0),
         (t4, "upsert", 30, 300.0)])


def test_hudi_incremental_cow_append_and_overwrite(spark, qc, tmp_path):
    """CoW incremental: appends are upserts; insert_overwrite
    surfaces the new rows; a rewritten live group (supersession
    fixture without meta columns) refuses."""
    from quokka_spark.sources.hudi_local import write_hudi_local
    tbl = str(tmp_path / "cowi")
    t0 = write_hudi_local(spark.range(0, 3).coalesce(1), tbl)
    t1 = write_hudi_local(spark.range(10, 12).coalesce(1), tbl,
                          mode="append")
    t2 = write_hudi_local(spark.range(100, 101).coalesce(1), tbl,
                          mode="overwrite")
    rows = sorted(
        (r["_commit_instant"], r["_change_type"], r["id"])
        for r in qc.read_hudi_incremental(tbl, t1).df.collect())
    assert rows == [(t1, "upsert", 10), (t1, "upsert", 11),
                    (t2, "upsert", 100)]
    # supersession (re-add of a live group) refuses
    a = str(tmp_path / "a.parquet")
    pd.DataFrame({"id": [1]}).to_parquet(a)
    sup = str(tmp_path / "sup")
    commit_hudi_local(sup, {"": [("g1", a)]}, instant="1")
    commit_hudi_local(sup, {"": [("g1", a)]}, instant="2")
    with pytest.raises(NotImplementedError, match="rewritten"):
        qc.read_hudi_incremental(sup, "1")


def test_hudi_stream_source(spark, qc, tmp_path):
    """Streaming source over a MoR table: the availableNow drain
    carries the bulk-load bases plus every log upsert (tombstones
    gated behind ignore_deletes), clustering is invisible, and
    starting_instant bounds the replay."""
    from quokka_spark.sources.hudi_local import (compact_hudi_local,
                                                 completed_instants,
                                                 upsert_hudi_mor_local)
    tbl = _mor_table(spark, tmp_path, n=4)
    t1 = upsert_hudi_mor_local(spark, tbl, spark.createDataFrame(
        [(1, 111.0, "UP"), (50, 5.0, "NEW")],
        "id long, v double, tag string"))
    t2 = upsert_hudi_mor_local(
        spark, tbl, spark.createDataFrame([(2,)], "id long"),
        delete=True)
    compact_hudi_local(spark, tbl, target_file_rows=1000)

    def drain(qname, **kw):
        s = qc.read_hudi_stream(tbl, **kw)
        q = (s.writeStream.format("memory").queryName(qname)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return sorted((r["id"], r["v"])
                      for r in spark.table(qname).collect())

    with pytest.raises(Exception, match="append-only"):
        drain("hfail")
    got = drain("hok", ignore_deletes=True)
    # bulk bases (0..3) + the upsert log records (1 and 50); the
    # tombstone for 2 is skipped; clustering contributes nothing
    assert got == sorted([(i, i * 10.0) for i in range(4)]
                         + [(1, 111.0), (50, 5.0)])
    assert drain("hstart", starting_instant=t1,
                 ignore_deletes=True) == [(1, 111.0), (50, 5.0)]
    with pytest.raises(Exception, match="not a completed instant"):
        drain("hbogus", starting_instant="42")


def test_hudi_logfmt_uint64_refuses_typed():
    """Avro has no unsigned 64-bit type (round 11, advisor finding):
    a schema-less parquet_data block whose arrow schema carries
    uint64 must refuse instead of mapping to "long" and silently
    wrapping values above 2^63-1 negative; uint8/16/32 widen to
    "long" exactly."""
    import pyarrow as pa

    from quokka_spark.sources.hudi_logfmt import _arrow_to_avro_schema
    ok = _arrow_to_avro_schema(
        pa.schema([("a", pa.uint32()), ("b", pa.uint8()),
                   ("c", pa.int64())]), "blk")
    types = {f["name"]: f["type"][1] for f in ok["fields"]}
    assert types == {"a": "long", "b": "long", "c": "long"}
    with pytest.raises(NotImplementedError, match="unsigned 64"):
        _arrow_to_avro_schema(pa.schema([("x", pa.uint64())]), "blk")


def test_hudi_1x_cow_timeline(spark, qc, tmp_path):
    """Round-13 (round-12 verdict #6): hudi 1.x tables
    (hoodie.table.version 7/8) read for COPY_ON_WRITE — the active
    timeline lives under .hoodie/timeline/, completed instants carry
    the completion time in the name
    (<requested>_<completion>.<action>), and visibility is
    COMPLETION-time-based: replay order, as_of boundaries and
    incremental ranges key on when an instant COMPLETED (a slow
    writer overlapping a fast one on a different file group — the
    legal OCC shape — must not surface before its completion). The
    1.x read hash-matches the equivalent 0.x (v6) table; instants
    present in BOTH layouts count once; replacecommit drops groups;
    writes/restore/clean refuse typed (this engine writes 0.x
    layouts only); avro-serialized commit metadata refuses typed."""
    import json as _json

    from quokka_spark.sources.hudi_local import (clean_hudi_local,
                                                 commit_hudi_local,
                                                 restore_hudi_local)

    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    a2 = str(tmp_path / "a2.parquet")
    pd.DataFrame({"id": [1, 2], "v": [1.0, 2.0]}).to_parquet(a)
    pd.DataFrame({"id": [10, 11], "v": [10.0, 11.0]}).to_parquet(b)
    pd.DataFrame({"id": [1, 2, 3],
                  "v": [1.5, 2.5, 3.5]}).to_parquet(a2)

    # 0.x reference table in the v8 timeline's COMPLETION order:
    # g1→a, then g1→a2, then g2→b
    v6 = str(tmp_path / "v6")
    commit_hudi_local(v6, {"": [("g1", a)]})
    t2 = commit_hudi_local(v6, {"": [("g1", a2)]})
    commit_hudi_local(v6, {"": [("g2", b)]})

    # the equivalent 1.x table: i2 (g2→b) REQUESTS before i3 (g1→a2)
    # but COMPLETES after it — the legal concurrent shape (different
    # file groups); completion order is i1, i3, i2
    v8 = str(tmp_path / "v8")
    tdir = os.path.join(v8, ".hoodie", "timeline")
    os.makedirs(tdir)
    with open(os.path.join(v8, ".hoodie", "hoodie.properties"),
              "w") as fh:
        fh.write("hoodie.table.type=COPY_ON_WRITE\n"
                 "hoodie.table.name=v8\n"
                 "hoodie.table.version=8\n")

    def instant(req, comp, action, doc):
        with open(os.path.join(tdir, f"{req}_{comp}.{action}"),
                  "w") as fh:
            fh.write(_json.dumps(doc))

    instant("20240101000000001", "20240101000000002", "commit",
            {"partitionToWriteStats": {"": [
                {"fileId": "g1", "path": a}]}})
    instant("20240101000000003", "20240101000000008", "commit",
            {"partitionToWriteStats": {"": [
                {"fileId": "g2", "path": b}]}})
    instant("20240101000000004", "20240101000000005", "commit",
            {"partitionToWriteStats": {"": [
                {"fileId": "g1", "path": a2}]}})

    got_v6 = sorted((r["id"], r["v"])
                    for r in qc.read_hudi(v6).df.collect())
    got_v8 = sorted((r["id"], r["v"])
                    for r in qc.read_hudi(v8).df.collect())
    assert got_v8 == got_v6
    assert [i for i, _ in got_v8] == [1, 2, 3, 10, 11]
    # time travel at i3's COMPLETION: g1→a2 visible, g2 NOT yet
    # (it completes at ...008 despite requesting at ...003) — the
    # requested-time rule would wrongly include it
    tv6 = sorted((r["id"], r["v"]) for r in
                 qc.read_hudi(v6, as_of=t2).df.collect())
    tv8 = sorted((r["id"], r["v"]) for r in
                 qc.read_hudi(v8, as_of="20240101000000005")
                 .df.collect())
    assert tv8 == tv6
    assert [i for i, _ in tv8] == [1, 2, 3]
    # an instant duplicated across BOTH layouts (mid-upgrade copy)
    # counts once — the timeline/ copy wins
    with open(os.path.join(v8, ".hoodie",
                           "20240101000000001.commit"), "w") as fh:
        fh.write(_json.dumps({"partitionToWriteStats": {"": [
            {"fileId": "g1", "path": a}]}}))
    assert sorted((r["id"], r["v"]) for r in
                  qc.read_hudi(v8).df.collect()) == got_v6
    hist = qc.hudi_history(v8).df.collect()
    assert len(hist) == 3
    # replacecommit in the 1.x timeline drops the group
    instant("20240101000000010", "20240101000000011",
            "replacecommit",
            {"partitionToReplaceFileIds": {"": ["g2"]}})
    assert sorted(r["id"] for r in qc.read_hudi(v8).df.collect()) \
        == [1, 2, 3]

    # 1.x write paths refuse typed
    with pytest.raises(NotImplementedError, match="1.x"):
        commit_hudi_local(v8, {"": [("g3", a)]})
    with pytest.raises(NotImplementedError, match="1.x"):
        restore_hudi_local(v8, "20240101000000001")
    with pytest.raises(NotImplementedError, match="1.x"):
        clean_hudi_local(v8, keep_last=1)

    # avro-serialized commit metadata refuses typed, never misparses
    with open(os.path.join(
            tdir, "20240101000000007_20240101000000008.commit"),
            "wb") as fh:
        fh.write(b"Obj\x01\x02\x16avro.schema")
    with pytest.raises(NotImplementedError, match="non-JSON"):
        qc.read_hudi(v8).df.collect()


def test_hudi_read_schema_is_the_newest_base(spark, qc, tmp_path):
    """The table schema is the newest live base file's: a column a
    later append added reads back (null for the older rows) on a CoW
    table and on a log-free MoR table, with the same columns as the
    stream source. A MoR log written before the column was added
    refuses loudly (the merge's missing-column check) instead of
    serving the table without the column."""
    from quokka_spark.sources.hudi_local import (upsert_hudi_mor_local,
                                                 write_hudi_mor_local)
    old = spark.range(0, 3).coalesce(1)
    new = spark.range(10, 12).selectExpr(
        "id", "cast(id as double) as v").coalesce(1)
    cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
    write_hudi_local(old, cow)
    write_hudi_local(new, cow, mode="append")
    write_hudi_mor_local(old, mor, recordkey="id")
    write_hudi_mor_local(new, mor, recordkey="id", mode="append")
    for tbl in (cow, mor):
        df = qc.read_hudi(tbl).df
        assert df.columns == ["id", "v"]
        assert sorted(tuple(r) for r in df.collect()) == \
            [(0, None), (1, None), (2, None), (10, 10.0), (11, 11.0)]
        assert qc.read_hudi_stream(tbl).columns == df.columns
    logged = str(tmp_path / "logged")
    write_hudi_mor_local(old, logged, recordkey="id")
    upsert_hudi_mor_local(spark, logged,
                          spark.createDataFrame([(1,)], "id long"))
    write_hudi_mor_local(new, logged, recordkey="id", mode="append")
    with pytest.raises(ValueError, match=r"missing columns \['v'\]"):
        qc.read_hudi(logged)


def test_hudi_calls_fold_the_timeline_once(spark, qc, tmp_path,
                                          monkeypatch):
    """read_hudi_local, read_hudi_incremental and
    upsert_hudi_mor_local each read hoodie.properties once, list the
    timeline once and parse each instant's JSON at most once. A second
    snapshot read of an unchanged table builds with no Spark job: the
    base scan's schema comes from the footer memo."""
    import builtins
    import re

    from conftest import jobs_run_by
    from quokka_spark.sources import hudi_local as hl
    tbl = _mor_table(spark, tmp_path, n=6)
    sch = "id long, v double, tag string"
    hl.upsert_hudi_mor_local(spark, tbl, spark.createDataFrame(
        [(3, 30.5, "U"), (30, 3.0, "N")], sch))
    instant = re.compile(r"\d+(_\d+)?\.(commit|deltacommit|replacecommit)")
    seen: dict = {}
    real_open, real_listdir = builtins.open, os.listdir

    def counted_open(f, mode="r", *a, **kw):
        name = os.path.basename(str(f))
        if "r" in mode and (name == "hoodie.properties"
                            or instant.fullmatch(name)):
            seen[name] = seen.get(name, 0) + 1
        return real_open(f, mode, *a, **kw)

    def counted_listdir(path="."):
        if os.path.basename(str(path).rstrip("/")) in (".hoodie",
                                                       "timeline"):
            seen["listdir"] = seen.get("listdir", 0) + 1
        return real_listdir(path)

    last = hl.completed_instants(tbl)[-1][0]
    calls = [("read", lambda: hl.read_hudi_local(spark, tbl)),
             ("incremental",
              lambda: hl.read_hudi_incremental(spark, tbl, last)),
             ("upsert", lambda: hl.upsert_hudi_mor_local(
                 spark, tbl, spark.createDataFrame([(4, 4.5, "U")], sch)))]
    monkeypatch.setattr(builtins, "open", counted_open)
    monkeypatch.setattr(os, "listdir", counted_listdir)
    for name, call in calls:
        seen.clear()
        call()
        assert seen.pop("hoodie.properties", 0) == 1, name
        assert seen.pop("listdir", 0) == 1, name
        assert seen and max(seen.values()) == 1, (name, seen)
    monkeypatch.undo()
    hl.read_hudi_local(spark, tbl)
    df, jobs = jobs_run_by(spark, lambda: hl.read_hudi_local(spark, tbl))
    assert jobs == []
    got = {r["id"]: r["v"] for r in df.collect()}
    assert len(got) == 7 and got[3] == 30.5 and got[4] == 4.5


def test_one_timeline_fold_one_base_scan():
    """Only the fold (_Timeline) parses instant JSON and reads its
    write stats (the writer's _commit_instant builds them), Spark
    reads parquet only in _scan_bases, and the stream source and
    QuokkaContext walk no timeline of their own: the stream replays
    through _Timeline.replay. A second walk or scan shows up here."""
    import ast
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parent.parent / "quokka_spark"
    stats, parses, scans, replays = set(), set(), set(), set()
    for rel in ("sources/hudi_local.py", "streaming/hudi_source.py",
                "context.py"):
        for top in ast.parse((pkg / rel).read_text()).body:
            where = (rel, getattr(top, "name", None))
            for node in ast.walk(top):
                if isinstance(node, ast.Constant) and node.value in (
                        "partitionToWriteStats",
                        "partitionToReplaceFileIds"):
                    stats.add(where)
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                if isinstance(fn, ast.Attribute) and fn.attr == "load" \
                        and getattr(fn.value, "id", None) == "json":
                    parses.add(where)
                if isinstance(fn, ast.Attribute) and fn.attr == "replay":
                    replays.add(rel)
                # every .parquet(...) call that is not a DataFrame write
                if isinstance(fn, ast.Attribute) and fn.attr == "parquet" \
                        and not any(isinstance(n, ast.Attribute)
                                    and n.attr == "write"
                                    for n in ast.walk(fn.value)):
                    scans.add(where)
    assert stats == {("sources/hudi_local.py", "_Timeline"),
                     ("sources/hudi_local.py", "_commit_instant")}
    assert parses == {("sources/hudi_local.py", "_Timeline")}
    assert {s for s in scans if s[0] != "context.py"} == \
        {("sources/hudi_local.py", "_scan_bases")}
    assert "streaming/hudi_source.py" in replays
