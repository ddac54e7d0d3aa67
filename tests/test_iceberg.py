"""Pure-Python Iceberg reader: snapshot resolution, time travel,
delete gating (sources/iceberg_local.py + avro_lite.py)."""

import os

import pytest

from quokka_spark.sources.avro_lite import read_container, write_container
from quokka_spark.datastream import DataStream
from quokka_spark.sources.iceberg_local import (
    _MANIFEST_ENTRY_SCHEMA, _MANIFEST_FILE_SCHEMA,
    create_local_iceberg_table, snapshot_data_files)


@pytest.fixture()
def table(spark, tmp_path):
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(0, 10).coalesce(1).toPandas().to_parquet(a)
    spark.range(10, 25).coalesce(1).toPandas().to_parquet(b)
    tbl = str(tmp_path / "tbl")
    snap_ids = create_local_iceberg_table(tbl, [[a], [a, b]])
    return tbl, snap_ids


def test_current_snapshot_reads_all_files(qc, table):
    tbl, _ = table
    assert qc.read_iceberg(tbl).count() == 25


def test_time_travel_reads_first_snapshot(qc, table):
    tbl, (s1, _) = table
    df = qc.read_iceberg(tbl, snapshot=s1).df
    assert sorted(r["id"] for r in df.collect()) == list(range(10))


def test_missing_snapshot_is_clear_error(qc, table):
    tbl, _ = table
    with pytest.raises(Exception, match="snapshot 999 not found"):
        qc.read_iceberg(tbl, snapshot=999)


def test_deleted_entry_status_excluded(tmp_path, spark, table):
    """A manifest entry with status=DELETED(2) must not contribute
    its file to the scan."""
    tbl, _ = table
    meta_dir = os.path.join(tbl, "metadata")
    m2 = os.path.join(meta_dir, "manifest-2.avro")
    _, entries = read_container(m2)
    entries[-1]["status"] = 2
    write_container(m2, _MANIFEST_ENTRY_SCHEMA, entries)
    paths = snapshot_data_files(tbl)
    assert len(paths) == 1 and paths[0].endswith("a.parquet")


def test_malformed_delete_manifest_raises(table):
    """A manifest marked content=1 whose entries are DATA files
    (content=0) is malformed — must error, never silently scan."""
    tbl, _ = table
    meta_dir = os.path.join(tbl, "metadata")
    ml = os.path.join(meta_dir, "snap-2.avro")
    _, manifests = read_container(ml)
    manifests[0]["content"] = 1  # v2 delete manifest
    write_container(ml, _MANIFEST_FILE_SCHEMA, manifests)
    with pytest.raises(ValueError, match="malformed"):
        snapshot_data_files(tbl)


def test_iceberg_v3_deletion_vectors(qc, spark, table, tmp_path):
    """Format-v3 DELETION VECTORS (round 11): add_deletion_vectors
    writes a puffin `deletion-vector-v1` blob per touched file
    (portable 64-bit roaring, CRC-validated) and commits DV manifest
    entries (PUFFIN + referenced_data_file/content_offset/
    content_size_in_bytes); the read applies them via the same
    (file, position) anti-join as v2 position deletes, decoding
    executor-side. A second DV on the same file MERGES (the spec's
    supersede rule — at most one DV per file per snapshot); time
    travel to the pre-DV snapshot still sees the rows; appends carry
    DVs forward; legacy 3-tuple inventory callers refuse typed
    instead of resurrecting rows."""
    from quokka_spark.sources.iceberg_local import (
        _read_table_metadata, add_deletion_vectors, append_snapshot,
        snapshot_files, snapshot_files_full)
    tbl, (s1, s2) = table
    (a_path,), _ = snapshot_files(tbl, s1)          # a.parquet: 0..9
    add_deletion_vectors(tbl, {a_path: [0, 3, 7]})
    assert int(_read_table_metadata(tbl)["format-version"]) == 3
    # a DV manifest entry records the vector's cardinality
    assert [n for (c, f), n in _manifest_record_counts(tbl).items()
            if f.endswith(".puffin")] == [3]
    got = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got == [1, 2, 4, 5, 6, 8, 9] + list(range(10, 25))
    # pre-DV snapshot untouched
    assert sorted(r["id"] for r in qc.read_iceberg(tbl, snapshot=s2)
                  .df.collect()) == list(range(25))
    # second DV on the same file merges; exactly ONE DV per file
    add_deletion_vectors(tbl, {a_path: [1]})
    got2 = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got2 == [2, 4, 5, 6, 8, 9] + list(range(10, 25))
    _, _, _, dvs = snapshot_files_full(tbl, None, with_dvs=True)
    assert len(dvs) == 1
    assert [n for (c, f), n in _manifest_record_counts(tbl).items()
            if f.endswith(".puffin")] == [4]
    # appends on the DV table carry the vectors forward
    c = str(tmp_path / "c.parquet")
    spark.range(100, 103).coalesce(1).toPandas().to_parquet(c)
    append_snapshot(tbl, [c])
    got3 = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got3 == [2, 4, 5, 6, 8, 9] + list(range(10, 25)) \
        + [100, 101, 102]
    # legacy 3-tuple form refuses rather than dropping the DVs
    with pytest.raises(NotImplementedError, match="deletion vector"):
        snapshot_files_full(tbl)
    # compaction MATERIALIZES the vectors (DV-aware live scan →
    # replace commit): same rows, no DV entries left
    from quokka_spark.sources.iceberg_local import (
        expire_snapshots_local, rewrite_data_files_local)
    rewrite_data_files_local(spark, tbl, target_file_rows=1000)
    assert sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect()) \
        == got3
    _, _, _, dvs2 = snapshot_files_full(tbl, None, with_dvs=True)
    assert dvs2 == []
    # expiry runs on (historical) DV snapshots too
    expire_snapshots_local(tbl, keep_last=1, delete_orphans=True)
    assert sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect()) \
        == got3


def test_iceberg_branch_tag_refs(qc, spark, table, tmp_path,
                                 monkeypatch):
    """Named snapshot references (spec §Snapshot References, round
    11): set_iceberg_ref creates a tag/branch, read_iceberg(ref=)
    resolves it (local dir via metadata, catalog via pyiceberg refs),
    refs SURVIVE later commits, expiry refuses to drop a
    referenced snapshot until the ref is dropped, and unknown names
    list the table's refs."""
    from quokka_spark.sources.iceberg_local import (
        add_position_deletes, drop_iceberg_ref, expire_snapshots_local,
        set_iceberg_ref, snapshot_files)
    tbl, (s1, s2) = table                    # a: 0..9; a+b: 0..24
    set_iceberg_ref(tbl, "v1.0", s1, kind="tag")
    set_iceberg_ref(tbl, "audit", s2, kind="branch")
    assert sorted(r["id"] for r in
                  qc.read_iceberg(tbl, ref="v1.0").df.collect()) \
        == list(range(10))
    assert sorted(r["id"] for r in
                  qc.read_iceberg(tbl, ref="audit").df.collect()) \
        == list(range(25))
    # a later commit (position delete) must not drop the refs
    (a_path,), _ = snapshot_files(tbl, s1)
    add_position_deletes(tbl, {a_path: [0]})
    assert sorted(r["id"] for r in
                  qc.read_iceberg(tbl, ref="v1.0").df.collect()) \
        == list(range(10))
    with pytest.raises(ValueError, match="no branch or tag"):
        qc.read_iceberg(tbl, ref="nope")
    with pytest.raises(ValueError, match="at most one"):
        qc.read_iceberg(tbl, ref="v1.0", snapshot=s1)
    with pytest.raises(ValueError, match="not in"):
        set_iceberg_ref(tbl, "bad", 424242)
    # expiry refuses while the tag pins s1; dropping it unblocks
    with pytest.raises(ValueError, match="v1.0"):
        expire_snapshots_local(tbl, keep_last=1)
    drop_iceberg_ref(tbl, "v1.0")
    with pytest.raises(ValueError, match="audit"):
        expire_snapshots_local(tbl, keep_last=1)
    drop_iceberg_ref(tbl, "audit")
    expire_snapshots_local(tbl, keep_last=1)
    with pytest.raises(ValueError, match="no branch or tag"):
        drop_iceberg_ref(tbl, "v1.0")
    # catalog path: pyiceberg refs resolve the same way
    import pandas as pd
    f1 = str(tmp_path / "r1.parquet")
    f2 = str(tmp_path / "r2.parquet")
    pd.DataFrame({"id": [1], "v": [1.0]}).to_parquet(f1)
    pd.DataFrame({"id": [2], "v": [2.0]}).to_parquet(f2)
    import types
    built = _install_fake_pyiceberg(monkeypatch, {
        "db.r": {"files_at": {None: [f1, f2], 7: [f1]},
                 "snapshots": [(7, 1000), (8, 2000)],
                 "schema": [("id", "long"), ("v", "double")]}})
    built["db.r"].metadata.refs = {
        "rel": types.SimpleNamespace(snapshot_id=7)}
    assert sorted(r["id"] for r in
                  qc.read_iceberg("db.r", ref="rel").df.collect()) \
        == [1]
    with pytest.raises(ValueError, match="no branch or tag"):
        qc.read_iceberg("db.r", ref="missing")


def test_iceberg_v3_duplicate_dv_refuses(qc, spark, tmp_path):
    """Two deletion vectors referencing the same data file in one
    snapshot violate the spec's one-DV-per-file rule — both the
    snapshot read and the change stream refuse 'table is corrupt'
    instead of silently letting the last one win (review finding:
    the change stream's parent-side dict collapse would re-emit
    already-dead positions as phantom deletes)."""
    from quokka_spark.sources.iceberg_local import \
        create_local_iceberg_table
    from quokka_spark.sources.puffin import write_puffin_dv
    a = str(tmp_path / "a.parquet")
    spark.range(0, 6).coalesce(1).toPandas().to_parquet(a)
    p = str(tmp_path / "dv.puffin")
    info = write_puffin_dv(p, {a: [0]})
    dv = {"path": p, "referenced_data_file": a,
          "content_offset": info[a]["content_offset"],
          "content_size_in_bytes": info[a]["content_size_in_bytes"]}
    tbl = str(tmp_path / "dup")
    s1, = create_local_iceberg_table(
        tbl, [{"data": [a], "dvs": [dv, dict(dv)]}],
        schema_fields=[(1, "id", "long")])
    with pytest.raises(ValueError, match="at most one"):
        qc.read_iceberg(tbl).df.collect()
    with pytest.raises(ValueError, match="at most one"):
        qc.read_iceberg_changes(tbl, s1, s1).df.collect()


def test_iceberg_v3_feature_gates(qc, spark, table, tmp_path):
    """v3 gates: format-version 4 refuses; a TOP-LEVEL primitive
    default is SERVED since round 12 (every file here carries the
    column, so stored values win and the schema merely loads); a
    NESTED field's default still refuses typed (the scan cannot
    splice a default into a struct element — null-filling it would
    serve wrong data); row lineage needs no gate."""
    import json as _json

    from quokka_spark.sources.iceberg_local import _read_table_metadata
    tbl, _ = table
    meta_dir = os.path.join(tbl, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    with open(hint) as fh:
        cur = fh.read().strip()
    mpath = os.path.join(meta_dir, f"v{cur}.metadata.json")
    with open(mpath) as fh:
        meta = _json.load(fh)
    meta["format-version"] = 4
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    with pytest.raises(NotImplementedError, match="format-version 4"):
        _read_table_metadata(tbl)
    meta["format-version"] = 3
    meta["schemas"] = [{"schema-id": 0, "fields": [
        {"id": 1, "name": "id", "type": "long",
         "initial-default": 7}]}]
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    _read_table_metadata(tbl)          # loads; serving is read-side
    assert sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect()) \
        == list(range(25))             # stored values win everywhere
    # struct sub-field defaults are SERVED since round 13
    # (test_iceberg_v3_nested_struct_defaults); the load-time gate
    # still refuses defaults under a LIST/MAP (review finding: a
    # repeated element's default would otherwise silently null-fill)
    meta["schemas"] = [{"schema-id": 0, "fields": [
        {"id": 1, "name": "arr", "type": {
            "type": "list", "element-id": 2,
            "element-required": False,
            "element": {"type": "struct", "fields": [
                {"id": 3, "name": "inner", "type": "long",
                 "write-default": 9}]}}}]}]
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    with pytest.raises(NotImplementedError, match="default value"):
        _read_table_metadata(tbl)
    # plain v3 (no defaults) reads fine
    meta["schemas"] = [{"schema-id": 0, "fields": [
        {"id": 1, "name": "id", "type": "long"}]}]
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    assert sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect()) \
        == list(range(25))


def test_puffin_dv_blob_roundtrip(tmp_path):
    """Puffin primitives: portable roaring64 encode/decode including
    >2^32 positions; blob CRC and framing validation refuse
    corruption instead of serving a wrong delete set."""
    import struct

    from quokka_spark.sources.puffin import (MAGIC,
                                             decode_rb64_portable,
                                             encode_rb64_portable,
                                             read_puffin_dv_blob,
                                             write_puffin_dv)
    vals = [0, 1, 5, 2**16 + 3, 2**32 + 7, 2**33, 123456789012]
    assert decode_rb64_portable(encode_rb64_portable(vals)) \
        == sorted(set(vals))
    p = str(tmp_path / "dv.puffin")
    info = write_puffin_dv(p, {"/d/a.parquet": [3, 1, 2],
                               "/d/b.parquet": [10**10, 0]})
    raw = open(p, "rb").read()
    assert raw[:4] == MAGIC and raw[-4:] == MAGIC
    a = info["/d/a.parquet"]
    assert read_puffin_dv_blob(p, a["content_offset"],
                               a["content_size_in_bytes"]) == [1, 2, 3]
    b = info["/d/b.parquet"]
    assert read_puffin_dv_blob(p, b["content_offset"],
                               b["content_size_in_bytes"]) \
        == [0, 10**10]
    # flip one bitmap byte → CRC refuses
    bad = bytearray(raw)
    bad[a["content_offset"] + 9] ^= 0xFF
    p2 = str(tmp_path / "bad.puffin")
    open(p2, "wb").write(bytes(bad))
    with pytest.raises(ValueError, match="CRC"):
        read_puffin_dv_blob(p2, a["content_offset"],
                            a["content_size_in_bytes"])
    # misframed size → refuses before decoding
    with pytest.raises(ValueError, match="length field"):
        read_puffin_dv_blob(p, a["content_offset"],
                            a["content_size_in_bytes"] + 4)


def test_position_deletes_applied_and_time_travel(qc, spark, table):
    """v2 position deletes: add_position_deletes commits a delete
    snapshot; the current read drops exactly those rows (distributed
    anti-join on _metadata file/row_index), time travel to the
    pre-delete snapshot still sees them, and the append path refuses
    to build on a delete-bearing snapshot."""
    from quokka_spark.sources.iceberg_local import (add_position_deletes,
                                                    append_snapshot,
                                                    snapshot_files)
    tbl, (s1, s2) = table
    (a_path,), _ = snapshot_files(tbl, s1)          # a.parquet: ids 0..9
    s3 = add_position_deletes(tbl, {a_path: [0, 3, 7]})
    got = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got == [1, 2] + [4, 5, 6] + [8, 9] + list(range(10, 25))
    # time travel: the pre-delete snapshot is untouched
    pre = sorted(r["id"] for r in qc.read_iceberg(tbl, snapshot=s2)
                 .df.collect())
    assert pre == list(range(25))
    # deleting from the delete-bearing snapshot composes
    s4 = add_position_deletes(tbl, {a_path: [1]})
    got2 = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got2 == [2, 4, 5, 6, 8, 9] + list(range(10, 25))
    assert s3 != s4
    # append over a delete-bearing snapshot carries the deletes
    # forward: new rows appear, deleted rows STAY deleted (appended
    # files have distinct paths, so position deletes cannot touch them)
    import os
    c = os.path.join(os.path.dirname(a_path), "c.parquet")
    spark.range(100, 103).coalesce(1).toPandas().to_parquet(c)
    append_snapshot(tbl, [c])
    got3 = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got3 == [2, 4, 5, 6, 8, 9] + list(range(10, 25)) + [100, 101, 102]


def test_position_delete_read_runs_no_inference_job(spark, tmp_path):
    """Position-delete files are scanned with the spec's fixed
    (file_path string, pos long) schema: building a snapshot read of a
    typed-schema table whose only deletes are position deletes runs no
    Spark job."""
    from conftest import jobs_run_by
    from quokka_spark.sources.iceberg_local import (add_position_deletes,
                                                    read_iceberg_local)
    a = str(tmp_path / "a.parquet")
    spark.range(0, 10).coalesce(1).toPandas().to_parquet(a)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(tbl, [[a]], schema_fields=[(1, "id", "long")])
    add_position_deletes(tbl, {a: [0, 3, 7]})
    df, jobs = jobs_run_by(spark, lambda: read_iceberg_local(spark, tbl))
    assert jobs == []
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 4, 5, 6, 8, 9]


def _manifest_record_counts(tbl):
    """{(manifest content, file name): record_count} over the current
    snapshot's manifests."""
    import json
    meta_dir = os.path.join(tbl, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v = f.read().strip()
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as f:
        meta = json.load(f)
    snap = meta["snapshots"][-1]
    out = {}
    for row in read_container(snap["manifest-list"])[1]:
        for e in read_container(row["manifest_path"])[1]:
            f = e["data_file"]
            out[(row["content"], os.path.basename(f["file_path"]))] = \
                f["record_count"]
    return out


def test_v2_manifests_record_real_counts(spark, tmp_path):
    """Format-v2 manifests record each parquet data and delete file's
    real record_count (the spec requires it on every version), both
    for a fresh table and for equality- and position-delete commits."""
    from quokka_spark.sources.iceberg_local import (add_equality_deletes,
                                                    add_position_deletes)
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(0, 7).coalesce(1).toPandas().to_parquet(a)
    spark.range(7, 12).coalesce(1).toPandas().to_parquet(b)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(tbl, [[a], [a, b]],
                               schema_fields=[(1, "id", "long")])
    assert _manifest_record_counts(tbl) == {(0, "a.parquet"): 7,
                                            (0, "b.parquet"): 5}
    add_equality_deletes(tbl, {"id": [1, 2, 8]}, equality_ids=[1])
    counts = _manifest_record_counts(tbl)
    assert {k: v for k, v in counts.items() if k[0] == 0} == {
        (0, "a.parquet"): 7, (0, "b.parquet"): 5}
    assert [v for k, v in counts.items() if k[0] == 1] == [3]
    add_position_deletes(tbl, {a: [0, 4]})
    counts = _manifest_record_counts(tbl)
    assert sorted(v for k, v in counts.items() if k[0] == 1) == [2, 3]


def test_equality_deletes_applied_and_time_travel(qc, table):
    """v2 equality deletes: add_equality_deletes commits a delete
    snapshot; the current read drops every matching row (null-safe
    anti-join on the delete file's columns), time travel to the
    pre-delete snapshot still sees them, and the strict two-list
    snapshot_files refuses the delete-bearing snapshot instead of
    resurrecting rows."""
    from quokka_spark.sources.iceberg_local import (add_equality_deletes,
                                                    snapshot_files)
    tbl, (s1, s2) = table                     # ids 0..24 at snapshot 2
    s3 = add_equality_deletes(tbl, {"id": [3, 5, 17]})
    got = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got == [i for i in range(25) if i not in (3, 5, 17)]
    pre = sorted(r["id"] for r in qc.read_iceberg(tbl, snapshot=s2)
                 .df.collect())
    assert pre == list(range(25))
    with pytest.raises(NotImplementedError, match="equality delete"):
        snapshot_files(tbl, s3)
    # a second equality delete composes with the first
    add_equality_deletes(tbl, {"id": [0]})
    got2 = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got2 == [i for i in range(1, 25) if i not in (3, 5, 17)]


def test_equality_deletes_sequence_scoped(qc, spark, table, tmp_path):
    """Spec scoping: an equality delete applies only to data files
    with a LOWER sequence number — a row re-appended AFTER the delete
    (same key value) must survive (the Flink-CDC delete-then-reinsert
    shape)."""
    from quokka_spark.sources.iceberg_local import (add_equality_deletes,
                                                    append_snapshot)
    tbl, _ = table
    add_equality_deletes(tbl, {"id": [4, 9]})
    # re-insert id=4 in a LATER snapshot: the older delete must not
    # touch it
    c = str(tmp_path / "reinsert.parquet")
    spark.createDataFrame([(4,)], "id long").coalesce(1) \
        .toPandas().to_parquet(c)
    append_snapshot(tbl, [c])
    got = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got == sorted([i for i in range(25) if i not in (4, 9)] + [4])


def test_equality_deletes_field_ids_resolve_via_schema(qc, spark, tmp_path):
    """When the table metadata carries a schema, equality_ids resolve
    to column names through it (the spec path) — even when the delete
    file's own column set is wider than the id list."""
    import pyarrow as pa
    from quokka_spark.sources.iceberg_local import (add_equality_deletes,
                                                    create_local_iceberg_table)
    d = str(tmp_path / "d.parquet")
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "a"), (4, None)],
                         "k long, s string").coalesce(1) \
        .toPandas().to_parquet(d)
    tbl = str(tmp_path / "eqtbl")
    create_local_iceberg_table(tbl, [[d]],
                               schema_fields=[(1, "k"), (2, "s")])
    # delete by field id 2 (column s) only — the extra k column in the
    # delete file must be IGNORED because equality_ids says [2]
    add_equality_deletes(
        tbl, pa.table({"k": pa.array([999], pa.int64()),
                       "s": pa.array(["a"], pa.string())}),
        equality_ids=[2])
    got = sorted((r["k"], r["s"])
                 for r in qc.read_iceberg(tbl).df.collect())
    assert got == [(2, "b"), (4, None)]
    # null-safe matching: deleting s IS NULL removes the (4, None) row
    add_equality_deletes(
        tbl, pa.table({"s": pa.array([None], pa.string())}),
        equality_ids=[2])
    got2 = sorted(r["k"] for r in qc.read_iceberg(tbl).df.collect())
    assert got2 == [2]
    # the delete frame reads under the declared column types: an
    # INT32 delete column under a declared long column still deletes
    typed = str(tmp_path / "eqtyped")
    create_local_iceberg_table(typed, [[d]], schema_fields=[
        (1, "k", "long"), (2, "s", "string")])
    add_equality_deletes(
        typed, pa.table({"k": pa.array([1], pa.int32())}),
        equality_ids=[1])
    assert sorted(r["k"] for r in qc.read_iceberg(typed).df.collect()) \
        == [2, 3, 4]
    # a delete file lacking its equality column refuses: read under
    # the declared schema it would null-fill and delete every row
    # whose s IS NULL
    add_equality_deletes(
        typed, pa.table({"k": pa.array([2], pa.int64())}),
        equality_ids=[2])
    with pytest.raises(ValueError, match="lacks its equality column"):
        qc.read_iceberg(typed).df.collect()


def test_non_iceberg_dir_keeps_gated_jar_error(qc, tmp_path):
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        qc.read_iceberg(str(tmp_path / "nope"))


def test_predicate_pushdown_survives_fallback(qc, table):
    """The fallback hands Spark a plain parquet scan — filters must
    still reach it (the point of deferring the heavy lifting)."""
    tbl, _ = table
    df = qc.read_iceberg(tbl).df.filter("id >= 20")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,20)]" in plan \
        or "GreaterThanOrEqual(id,20)" in plan
    assert df.count() == 5


def test_write_iceberg_roundtrip_and_append(qc, spark, tmp_path):
    """write_iceberg commits snapshots readable back through
    read_iceberg, with time travel isolating the first append."""
    from quokka_spark.context import DataStream  # noqa: F401 (API check)
    tbl = str(tmp_path / "wtbl")
    ds1 = qc.from_pandas(__import__("pandas").DataFrame({"id": [1, 2, 3]}))
    s1 = ds1.write_iceberg(tbl)
    ds2 = qc.from_pandas(__import__("pandas").DataFrame({"id": [4, 5]}))
    s2 = ds2.write_iceberg(tbl)
    assert s2 > s1
    assert qc.read_iceberg(tbl).count() == 5
    assert qc.read_iceberg(tbl, snapshot=s1).count() == 3


def test_upsert_replaces_matching_keys_atomically(qc, spark, tmp_path):
    """MERGE-style upsert: matched keys swap to the new rows, unmatched
    keys survive, new keys append — one snapshot; time travel sees the
    pre-upsert table; a second upsert composes."""
    from pyspark.sql import functions as F
    tbl = str(tmp_path / "utbl")
    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    from quokka_spark.datastream import DataStream
    s1 = DataStream(qc, base).write_iceberg(tbl)
    upd = spark.createDataFrame(
        [(3, 999), (7, 777), (42, 4242)], "k long, v long")
    s2 = DataStream(qc, upd).write_iceberg(tbl, mode="upsert", key="k")
    got = {r["k"]: r["v"] for r in qc.read_iceberg(tbl).df.collect()}
    expect = {i: i * 10 for i in range(10)}
    expect.update({3: 999, 7: 777, 42: 4242})
    assert got == expect
    # time travel: pre-upsert snapshot intact
    pre = {r["k"]: r["v"]
           for r in qc.read_iceberg(tbl, snapshot=s1).df.collect()}
    assert pre == {i: i * 10 for i in range(10)}
    # second upsert touches a previously-upserted key
    DataStream(qc, spark.createDataFrame([(42, 1)], "k long, v long")) \
        .write_iceberg(tbl, mode="upsert", key="k")
    got2 = {r["k"]: r["v"] for r in qc.read_iceberg(tbl).df.collect()}
    expect[42] = 1
    assert got2 == expect
    assert s2 > s1


# ----------------------------------------------------------------------
# manifest-level partition pruning (round 7)
# ----------------------------------------------------------------------

@pytest.fixture()
def ptable(spark, tmp_path):
    """Identity-partitioned table: r in {EU, US}, one data file per
    partition value, manifests carrying the partition records."""
    import pandas as pd
    eu, us = str(tmp_path / "eu.parquet"), str(tmp_path / "us.parquet")
    pd.DataFrame({"id": range(0, 10), "r": ["EU"] * 10}).to_parquet(eu)
    pd.DataFrame({"id": range(10, 25), "r": ["US"] * 15}).to_parquet(us)
    tbl = str(tmp_path / "ptbl")
    create_local_iceberg_table(
        tbl,
        [[{"path": eu, "partition": {"r": "EU"}},
          {"path": us, "partition": {"r": "US"}}]],
        schema_fields=[(1, "id", "long"), (2, "r", "string")],
        partition_spec=[{"name": "r", "type": "string"}])
    return tbl, eu, us


def test_partition_filter_prunes_file_list(qc, ptable):
    """The scan must OPEN only files whose manifest partition values
    match — manifest-level pruning, not just a row filter."""
    tbl, eu, us = ptable
    df = qc.read_iceberg(tbl, partition_filter="r = 'EU'").df
    assert sorted(r["id"] for r in df.collect()) == list(range(10))
    files = df.inputFiles()
    assert len(files) == 1 and files[0].endswith("eu.parquet")
    # unfiltered read still sees both
    assert len(qc.read_iceberg(tbl).df.inputFiles()) == 2


def test_partition_filter_on_unpartitioned_raises(qc, table):
    tbl, _ = table
    with pytest.raises(ValueError, match="unpartitioned"):
        qc.read_iceberg(tbl, partition_filter="id > 3").df.count()


def test_partition_filter_nothing_matches_is_clear_error(qc, ptable):
    tbl, _, _ = ptable
    with pytest.raises(ValueError, match="no data files matching"):
        qc.read_iceberg(tbl, partition_filter="r = 'JP'")


def test_bucket_hash_matches_spec_vectors():
    """The bucket transform's 32-bit Murmur3 must reproduce the
    PUBLIC spec test vectors (Iceberg spec Appendix B) — the entire
    soundness of bucket pruning hangs on hash identity with real
    writers."""
    import datetime
    import struct

    from quokka_spark.sources.iceberg_local import (_bucket_hash_bytes,
                                                    _murmur3_32)

    def signed(h):
        return h - (1 << 32) if h >= (1 << 31) else h

    assert signed(_murmur3_32(_bucket_hash_bytes(34, "int"))) \
        == 2017239379
    assert signed(_murmur3_32(_bucket_hash_bytes(34, "long"))) \
        == 2017239379
    assert signed(_murmur3_32(_bucket_hash_bytes(
        datetime.date(2017, 11, 16), "date"))) == -653330422
    assert signed(_murmur3_32(_bucket_hash_bytes(
        datetime.datetime(2017, 11, 16, 22, 31, 8), "timestamp"))) \
        == -2047944441
    assert signed(_murmur3_32(_bucket_hash_bytes(
        "iceberg", "string"))) == 1210000089


def test_partition_spec_evolution_pruning_sound(spark, qc, tmp_path):
    """Partition-spec EVOLUTION (round 9): a table carrying files
    under spec-0 (bucket[4]) AND spec-1 (bucket[8], reusing the field
    name 'id_bucket') prunes each file under ITS OWN manifest's spec
    — judging a spec-0 file with the default spec's transform would
    silently drop live rows. Files under a spec id MISSING from
    metadata are kept and resolved row-level; local commits on
    multi-spec tables EXTEND the manifest list (round 10)."""
    import json as _json

    import pandas as pd

    from quokka_spark.sources.iceberg_local import (_bucket_hash_bytes,
                                                    _murmur3_32,
                                                    commit_snapshot)

    def bucket(v, n):
        return (_murmur3_32(_bucket_hash_bytes(v, "long"))
                & 0x7fffffff) % n

    # probe: an id whose bucket4 and bucket8 values DIFFER, so the
    # old bug (judging the spec-0 file under the default bucket[8])
    # would mis-prune it; other: lands in a different bucket8 so the
    # spec-1 file IS prunable
    probe = next(i for i in range(1, 1000)
                 if bucket(i, 4) != bucket(i, 8))
    other = next(i for i in range(1, 1000)
                 if i != probe and bucket(i, 8) != bucket(probe, 8))
    f0 = str(tmp_path / "s0.parquet")
    f1 = str(tmp_path / "s1.parquet")
    pd.DataFrame({"id": [probe], "v": [1]}).to_parquet(f0)
    pd.DataFrame({"id": [other], "v": [2]}).to_parquet(f1)
    tbl = str(tmp_path / "evo")
    bfield = {"name": "id_bucket", "type": "int", "source-id": 1}
    create_local_iceberg_table(
        tbl,
        [{"data": [{"path": f0,
                    "partition": {"id_bucket": bucket(probe, 4)}}],
          "spec_id": 0},
         {"data": [{"path": f1,
                    "partition": {"id_bucket": bucket(other, 8)}}],
          "spec_id": 1}],
        schema_fields=[(1, "id", "long"), (2, "v", "long")],
        partition_specs=[
            {"spec-id": 0, "fields": [
                {**bfield, "transform": "bucket[4]", "field-id": 1000}]},
            {"spec-id": 1, "fields": [
                {**bfield, "transform": "bucket[8]", "field-id": 1001}]}])
    # stitch snapshot 2's manifest list to reference BOTH manifests
    # (a real evolved table's current snapshot spans specs)
    meta_dir = os.path.join(tbl, "metadata")
    _, rows1 = read_container(os.path.join(meta_dir, "snap-1.avro"))
    _, rows2 = read_container(os.path.join(meta_dir, "snap-2.avro"))
    write_container(os.path.join(meta_dir, "snap-2.avro"),
                    _MANIFEST_FILE_SCHEMA, rows1 + rows2)
    assert sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect()) \
        == sorted([probe, other])
    # the pin: the spec-0 file survives its own bucket[4] judgment
    # (the default spec says bucket[8], whose value differs), while
    # the spec-1 file prunes under bucket[8]
    df = qc.read_iceberg(tbl, partition_filter=f"id = {probe}").df
    assert [(r["id"], r["v"]) for r in df.collect()] == [(probe, 1)]
    assert len(df.inputFiles()) == 1
    # local commits EXTEND multi-spec tables (round 10): the new
    # file's manifest lands under the CURRENT spec (bucket[8]) and
    # prior manifests stay untouched, so per-spec pruning holds
    extra = str(tmp_path / "x.parquet")
    nid = next(i for i in range(1000, 2000)
               if bucket(i, 8) not in (bucket(probe, 8),
                                       bucket(other, 8)))
    pd.DataFrame({"id": [nid], "v": [9]}).to_parquet(extra)
    commit_snapshot(tbl, add_files=[
        {"path": extra, "partition": {"id_bucket": bucket(nid, 8)}}])
    assert sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect()) \
        == sorted([probe, other, nid])
    dfn = qc.read_iceberg(tbl, partition_filter=f"id = {nid}").df
    assert [(r["id"], r["v"]) for r in dfn.collect()] == [(nid, 9)]
    assert len(dfn.inputFiles()) == 1
    # the spec-0 file STILL survives its own bucket[4] judgment
    dfp = qc.read_iceberg(tbl, partition_filter=f"id = {probe}").df
    assert [(r["id"], r["v"]) for r in dfp.collect()] == [(probe, 1)]
    assert len(dfp.inputFiles()) == 1
    # time travel to the pre-commit snapshot is intact
    assert sorted(r["id"] for r in
                  qc.read_iceberg(tbl, snapshot=2).df.collect()) \
        == sorted([probe, other])
    # UNKNOWN spec id: drop spec-0 from metadata (archived) — the
    # spec-0 file can no longer be judged, so it is KEPT and the
    # row-level filter stays exact
    hint = open(os.path.join(meta_dir, "version-hint.text")).read()
    mpath = os.path.join(meta_dir, f"v{hint.strip()}.metadata.json")
    with open(mpath) as fh:
        meta = _json.load(fh)
    meta["partition-specs"] = [s for s in meta["partition-specs"]
                               if s["spec-id"] != 0]
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    df3 = qc.read_iceberg(tbl, partition_filter=f"id = {probe}").df
    assert [r["id"] for r in df3.collect()] == [probe]
    # and a filter matching NOTHING still prunes the known-spec file
    # while keeping (then row-filtering) the unknown-spec one
    df4 = qc.read_iceberg(tbl,
                          partition_filter=f"id = {probe}").df
    assert len(df4.inputFiles()) == 1


def test_iceberg_multispec_upsert_and_replace(spark, qc, tmp_path):
    """Round 10: MERGE upserts and compaction on a table with EVOLVED
    partition specs — the commit extends the manifest list (prior
    manifests byte-untouched, pinned by mtime), new manifests land
    under the CURRENT spec, and per-spec pruning stays sound."""
    import pandas as pd

    from quokka_spark.sources.avro_lite import (read_container,
                                                write_container)
    from quokka_spark.sources.iceberg_local import (
        _MANIFEST_FILE_SCHEMA, create_local_iceberg_table,
        rewrite_data_files_local, upsert_iceberg_local)
    fa = str(tmp_path / "a.parquet")
    fb = str(tmp_path / "b.parquet")
    pd.DataFrame({"id": [1, 2], "v": [10, 20],
                  "p": ["x", "x"]}).to_parquet(fa)
    pd.DataFrame({"id": [3], "v": [30], "p": ["y"]}).to_parquet(fb)
    tbl = str(tmp_path / "evo2")
    create_local_iceberg_table(
        tbl,
        [{"data": [{"path": fa, "partition": {"p": "x"}}],
          "spec_id": 0},
         {"data": [{"path": fb, "partition": {"p": "y"}}],
          "spec_id": 1}],
        schema_fields=[(1, "id", "long"), (2, "v", "long"),
                       (3, "p", "string")],
        partition_specs=[
            {"spec-id": 0, "fields": [
                {"name": "p", "type": "string", "source-id": 3,
                 "transform": "identity", "field-id": 1000}]},
            {"spec-id": 1, "fields": [
                {"name": "p", "type": "string", "source-id": 3,
                 "transform": "identity", "field-id": 1001}]}])
    meta_dir = os.path.join(tbl, "metadata")
    _, rows1 = read_container(os.path.join(meta_dir, "snap-1.avro"))
    _, rows2 = read_container(os.path.join(meta_dir, "snap-2.avro"))
    write_container(os.path.join(meta_dir, "snap-2.avro"),
                    _MANIFEST_FILE_SCHEMA, rows1 + rows2)
    m1 = os.path.join(meta_dir, "manifest-1.avro")
    m2 = os.path.join(meta_dir, "manifest-2.avro")
    mt = (os.stat(m1).st_mtime_ns, os.stat(m2).st_mtime_ns)
    # MERGE across BOTH specs' files + an insert, in one snapshot
    upsert_iceberg_local(
        spark, tbl,
        spark.createDataFrame([(2, 22, "x"), (3, 33, "y"), (9, 90, "z")],
                              "id long, v long, p string"), ["id"])
    got = {r["id"]: r["v"] for r in qc.read_iceberg(tbl).df.collect()}
    assert got == {1: 10, 2: 22, 3: 33, 9: 90}
    # prior manifests byte-untouched (the extend contract)
    assert (os.stat(m1).st_mtime_ns, os.stat(m2).st_mtime_ns) == mt
    # time travel to the pre-upsert snapshot
    assert {r["id"]: r["v"]
            for r in qc.read_iceberg(tbl, snapshot=2).df.collect()} == \
        {1: 10, 2: 20, 3: 30}
    # per-spec pruning still sound on the carried files
    dfp = qc.read_iceberg(tbl, snapshot=2, partition_filter="p = 'y'").df
    assert [r["id"] for r in dfp.collect()] == [3]
    assert len(dfp.inputFiles()) == 1
    # compaction (replace) rewrites everything under the CURRENT spec
    rewrite_data_files_local(spark, tbl, target_file_rows=1000)
    got2 = {r["id"]: r["v"] for r in qc.read_iceberg(tbl).df.collect()}
    assert got2 == got
    dfy = qc.read_iceberg(tbl, partition_filter="p = 'y'").df
    assert sorted(r["id"] for r in dfy.collect()) == [3]


def _install_fake_pyiceberg(monkeypatch, tables):
    """Inject a minimal pyiceberg into sys.modules: load_catalog() →
    catalog whose load_table(name) serves the given fake tables.
    Mirrors the public surface read_iceberg_catalog touches (scan/
    plan_files/metadata.snapshots/schema)."""
    import sys
    import types

    class Snap:
        def __init__(self, sid, ts):
            self.snapshot_id, self.timestamp_ms = sid, ts

    class Task:
        def __init__(self, path, deletes=()):
            self.file = types.SimpleNamespace(file_path=path)
            # mirror pyiceberg: only the delete files APPLICABLE to
            # this data file ride on its task
            self.delete_files = [
                types.SimpleNamespace(
                    file_path=d["path"],
                    content=d.get("content", 1),
                    equality_ids=d.get("equality_ids"),
                    file_format=d.get("file_format", "PARQUET"),
                    referenced_data_file=d.get("referenced_data_file"),
                    content_offset=d.get("content_offset"),
                    content_size_in_bytes=d.get("content_size_in_bytes"))
                for d in deletes
                if d.get("applies_to") is None
                or path in d["applies_to"]]

    class Cfg(dict):
        """The fake table's config dict doubles as its partition
        SPEC object: write_iceberg_catalog reads ``.fields`` off
        whatever ``tbl.spec`` is (pyiceberg returns a PartitionSpec
        there) — expose the configured ``partition_fields`` as
        attribute namespaces while the tests keep their plain dict
        access to add_files_calls / tx_deletes."""

        @property
        def fields(self):
            import types as _types
            return [_types.SimpleNamespace(**f)
                    for f in self.get("partition_fields", [])]

    class Table:
        def __init__(self, spec):
            self.spec = Cfg(spec)
            self.scan_calls = []
            self.metadata = types.SimpleNamespace(
                snapshots=[Snap(s, t)
                           for s, t in spec.get("snapshots", [])],
                snapshot_log=[Snap(s, t)
                              for s, t in spec.get("snapshot_log",
                                                   [])])

        def scan(self, **kw):
            self.scan_calls.append(kw)
            if "row_filter" in kw and self.spec.get("reject_filter"):
                raise ValueError("cannot parse row_filter")
            sid = kw.get("snapshot_id")
            files = self.spec["files_at"].get(
                sid, self.spec["files_at"][None])
            deletes = self.spec.get("deletes", ())
            return types.SimpleNamespace(plan_files=lambda: [
                Task(p, deletes) for p in files])

        def schema(self):
            def ft(t):
                # {"struct": [(name, type[, extra-attrs]), ...]}
                # models a pyiceberg StructType (object exposing
                # .fields); strings model primitives
                # (str(field_type) spelling); the optional extra
                # dict injects attrs like initial_default
                if isinstance(t, dict) and "struct" in t:
                    return types.SimpleNamespace(
                        fields=[types.SimpleNamespace(
                            name=e[0], field_type=ft(e[1]),
                            **(e[2] if len(e) > 2 else {}))
                            for e in t["struct"]])
                return t
            return types.SimpleNamespace(fields=[
                types.SimpleNamespace(name=s[0], field_type=ft(s[1]),
                                      field_id=(s[2] if len(s) > 2
                                                else None),
                                      **(s[3] if len(s) > 3 else {}))
                for s in self.spec.get("schema", [])])

        # --- write surface (round 12: write_iceberg_catalog) ------
        def location(self):
            return self.spec["location"]

        def add_files(self, file_paths):
            self.spec.setdefault("add_files_calls", []).append(
                list(file_paths))
            self.spec["files_at"][None] = (
                self.spec["files_at"].get(None, []) + list(file_paths))

        def transaction(self):
            tbl = self

            class Tx:
                def __init__(self):
                    self.deleted = False
                    self.staged: list = []

                def delete(self, expr):
                    self.deleted = True
                    tbl.spec.setdefault("tx_deletes", []).append(expr)

                def add_files(self, file_paths):
                    self.staged += list(file_paths)

                def commit_transaction(self):
                    if self.deleted:
                        tbl.spec["files_at"][None] = []
                    tbl.spec["files_at"][None] = (
                        tbl.spec["files_at"].get(None, [])
                        + self.staged)
            return Tx()

    built = {k: Table(v) for k, v in tables.items()}

    class Catalog:
        def load_table(self, name):
            return built[name]

    pi = types.ModuleType("pyiceberg")
    cat = types.ModuleType("pyiceberg.catalog")
    cat.load_catalog = lambda *a, **kw: Catalog()
    pi.catalog = cat
    expr = types.ModuleType("pyiceberg.expressions")
    expr.AlwaysTrue = lambda: "ALWAYS_TRUE"
    pi.expressions = expr
    monkeypatch.setitem(sys.modules, "pyiceberg", pi)
    monkeypatch.setitem(sys.modules, "pyiceberg.catalog", cat)
    monkeypatch.setitem(sys.modules, "pyiceberg.expressions", expr)
    return built


def test_iceberg_catalog_reads_via_pyiceberg(spark, qc, tmp_path,
                                             monkeypatch):
    """Round 10: catalog-URI tables (no jar) read through pyiceberg —
    the exact public package the reference uses — which PLANS the
    file set; Spark's native parquet scan reads it. Snapshot and
    timestamp travel resolve through pyiceberg metadata; an
    unparseable pushdown filter falls back to plan-everything with
    the exact Spark-side row filter; delete-carrying scans apply
    position/equality deletes through the local reader's anti-joins
    (round 11); without pyiceberg the jar error stands."""
    import pandas as pd

    f1 = str(tmp_path / "c1.parquet")
    f2 = str(tmp_path / "c2.parquet")
    pd.DataFrame({"id": [1, 2], "v": [1.0, 2.0]}).to_parquet(f1)
    pd.DataFrame({"id": [3], "v": [3.0]}).to_parquet(f2)
    pdel = str(tmp_path / "pd.parquet")
    pd.DataFrame({"file_path": [f1], "pos": [0]}).to_parquet(pdel)
    edel = str(tmp_path / "ed.parquet")
    # id=2 lives in f1 (OUT of the delete's scope) — it must survive
    pd.DataFrame({"id": [2, 3]}).to_parquet(edel)
    sch = [("id", "long"), ("v", "double")]
    sch3 = [("id", "long", 1), ("v", "double", 2)]
    tables = _install_fake_pyiceberg(monkeypatch, {
        "db.t": {"files_at": {None: [f1, f2], 7: [f1]},
                 "snapshots": [(7, 1000), (8, 2000)], "schema": sch},
        "db.filt": {"files_at": {None: [f1, f2]},
                    "reject_filter": True, "schema": sch},
        # pos delete hides (f1, row 0); the eq delete on id=3 is
        # scoped to f2 ONLY — the spec's applicability rule
        "db.del": {"files_at": {None: [f1, f2]},
                   "deletes": [{"path": pdel, "content": 1},
                               {"path": edel, "content": 2,
                                "equality_ids": [1],
                                "applies_to": [f2]}],
                   "schema": sch3},
        "db.empty": {"files_at": {None: []}, "schema": sch},
        # rolled back to snapshot 7: snapshot 8 stays in
        # metadata.snapshots until expiration but LEAVES the
        # snapshot log — as-of-timestamp must follow the log
        "db.rb": {"files_at": {None: [f1, f2], 7: [f1]},
                  "snapshots": [(7, 1000), (8, 2000)],
                  "snapshot_log": [(7, 1000)], "schema": sch},
        # schema EVOLUTION: table schema carries a column no data
        # file has — the read must null-fill, never footer-infer
        "db.evo": {"files_at": {None: [f1]},
                   "schema": sch + [("w", "string")]}})
    got = {r["id"]: r["v"] for r in qc.read_iceberg("db.t").df.collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}
    # rolled-back table: ts=2500ms would pick snapshot 8 from the
    # flat list, but the log says 7 is the lineage tip
    import datetime as _dt
    ts25 = _dt.datetime.fromtimestamp(2.5, _dt.timezone.utc)
    assert {r["id"] for r in qc.read_iceberg(
        "db.rb", as_of_timestamp=ts25).df.collect()} == {1, 2}
    # evolved column null-fills under the TABLE schema
    evo = qc.read_iceberg("db.evo").df
    assert [f.name for f in evo.schema.fields] == ["id", "v", "w"]
    assert [r["w"] for r in evo.collect()] == [None, None]
    # snapshot travel plans through pyiceberg's snapshot_id
    got7 = {r["id"] for r in
            qc.read_iceberg("db.t", snapshot=7).df.collect()}
    assert got7 == {1, 2}
    assert {"snapshot_id": 7} in tables["db.t"].scan_calls
    # timestamp travel resolves the newest snapshot <= ts (ms)
    import datetime
    ts = datetime.datetime.fromtimestamp(1.5, datetime.timezone.utc)
    got_ts = {r["id"] for r in
              qc.read_iceberg("db.t", as_of_timestamp=ts).df.collect()}
    assert got_ts == {1, 2}          # 1500ms -> snapshot 7
    # pushdown attempted, rejected, exact fallback row-filters
    df = qc.read_iceberg("db.filt", scan_filter="id >= 3").df
    assert [r["id"] for r in df.collect()] == [3]
    assert any("row_filter" in c for c in tables["db.filt"].scan_calls)
    # delete-carrying scans APPLY the deletes (round 11): the pos
    # delete hides (f1, 0) → id 1; the f2-scoped equality delete
    # hides id 3
    assert sorted(r["id"] for r in
                  qc.read_iceberg("db.del").df.collect()) == [2]
    # an empty plan returns a TYPED empty frame
    e = qc.read_iceberg("db.empty").df
    assert e.count() == 0 and [f.name for f in e.schema.fields] == \
        ["id", "v"]
    assert e.schema.fields[0].dataType.simpleString() == "bigint"


def test_iceberg_catalog_without_pyiceberg_keeps_typed_error(qc):
    """No jar, not a directory, no pyiceberg installed → the typed
    RuntimeError stands and now names the pyiceberg option."""
    with pytest.raises(RuntimeError, match="pyiceberg"):
        qc.read_iceberg("glue.db.sometable")


def test_iceberg_catalog_deletes_match_local_reader(spark, qc, table,
                                                    monkeypatch):
    """Round 11 parity: a delete-carrying catalog scan reads
    IDENTICALLY to the local-directory reader over the SAME files —
    real position-delete and equality-delete parquet produced by the
    local writer, served through the catalog planner's task shape
    (each eq delete attached only to data files with strictly lower
    sequence, which is what pyiceberg's planner enforces)."""
    from quokka_spark.sources.iceberg_local import (_field_names_of,
                                                    _read_table_metadata,
                                                    add_equality_deletes,
                                                    add_position_deletes,
                                                    snapshot_files,
                                                    snapshot_files_full)
    tbl, (s1, s2) = table
    (a_path, *_), _ = snapshot_files(tbl, s1)      # a.parquet: 0..9
    add_position_deletes(tbl, {a_path: [0, 3]})
    add_equality_deletes(tbl, {"id": [7, 15]})
    local = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert local == [i for i in range(25) if i not in (0, 3, 7, 15)]
    data, pos, eq = snapshot_files_full(tbl, None)
    # the minimal fixture's metadata carries no schema fields, so
    # equality ids cannot resolve to names — both readers then fall
    # back to the delete file's own columns, the same contract
    fid = {v: k for k, v in
           _field_names_of(_read_table_metadata(tbl)).items()}
    sch = ([("id", "long", fid["id"])] if "id" in fid
           else [("id", "long")])
    deletes = [{"path": p, "content": 1} for p in pos]
    for d in eq:
        deletes.append({"path": d["path"], "content": 2,
                        "equality_ids": d.get("equality_ids") or [],
                        "applies_to": [e["path"] for e in data
                                       if int(e["seq"]) < int(d["seq"])]})
    _install_fake_pyiceberg(monkeypatch, {
        "db.par": {"files_at": {None: [e["path"] for e in data]},
                   "deletes": deletes, "schema": sch}})
    got = sorted(r["id"] for r in
                 qc.read_iceberg("db.par").df.collect())
    assert got == local


def test_iceberg_catalog_puffin_dv_applies_and_gates(spark, qc, table,
                                                     monkeypatch,
                                                     tmp_path):
    """Catalog scans carrying v3 puffin deletion vectors APPLY them
    via the executor-side blob decode when the planner surfaces the
    locator fields, and refuse TYPED when it does not (review
    finding: a puffin file fed to the parquet pos-delete scan died
    with a raw not-a-parquet error)."""
    from quokka_spark.sources.iceberg_local import snapshot_files
    from quokka_spark.sources.puffin import write_puffin_dv
    tbl, (s1, _) = table
    (a_path, *rest), _ = snapshot_files(tbl, s1)    # a.parquet: 0..9
    p = str(tmp_path / "cat.puffin")
    info = write_puffin_dv(p, {a_path: [0, 2]})
    dv = {"path": p, "content": 1, "file_format": "PUFFIN",
          "referenced_data_file": a_path,
          "content_offset": info[a_path]["content_offset"],
          "content_size_in_bytes":
              info[a_path]["content_size_in_bytes"],
          "applies_to": [a_path]}
    from quokka_spark.sources.iceberg_local import snapshot_files_full
    data, _pos, _eq = snapshot_files_full(tbl, None)
    files = [e["path"] for e in data]
    _install_fake_pyiceberg(monkeypatch, {
        "db.dv": {"files_at": {None: files}, "deletes": [dv],
                  "schema": [("id", "long", 1)]},
        "db.dvbad": {"files_at": {None: files},
                     "deletes": [{**dv, "content_offset": None}],
                     "schema": [("id", "long", 1)]}})
    got = sorted(r["id"] for r in
                 qc.read_iceberg("db.dv").df.collect())
    assert got == [i for i in range(25) if i not in (0, 2)]
    with pytest.raises(NotImplementedError, match="locator"):
        qc.read_iceberg("db.dvbad")


def test_partition_filter_bucket_transform_prunes(spark, qc, tmp_path):
    """bucket[N] pruning: `col = literal` opens ONLY the file(s) of
    bucket_N(literal); range predicates cannot prune buckets and keep
    everything (rows still filtered row-level)."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import (_bucket_hash_bytes,
                                                    _murmur3_32)

    def bucket4(v):
        return (_murmur3_32(_bucket_hash_bytes(v, "long"))
                & 0x7fffffff) % 4
    by_bucket = {}
    for i in range(40):
        by_bucket.setdefault(bucket4(i), []).append(i)
    assert len(by_bucket) == 4          # all buckets populated
    files, items = {}, []
    for b, ids in sorted(by_bucket.items()):
        p = str(tmp_path / f"b{b}.parquet")
        pd.DataFrame({"id": ids, "v": [i * 10 for i in ids]}
                     ).to_parquet(p)
        files[b] = p
        items.append({"path": p, "partition": {"id_bucket": b}})
    tbl = str(tmp_path / "btbl")
    create_local_iceberg_table(
        tbl, [items],
        schema_fields=[(1, "id", "long"), (2, "v", "long")],
        partition_spec=[{"name": "id_bucket", "type": "int",
                         "source-id": 1, "transform": "bucket[4]"}])
    df = qc.read_iceberg(tbl, partition_filter="id = 17").df
    got = df.collect()
    assert [r["id"] for r in got] == [17] and got[0]["v"] == 170
    ifiles = df.inputFiles()
    assert len(ifiles) == 1 and ifiles[0].endswith(
        os.path.basename(files[bucket4(17)]))
    # ranges keep all buckets but stay row-correct
    df2 = qc.read_iceberg(tbl, partition_filter="id >= 35").df
    assert sorted(r["id"] for r in df2.collect()) == list(range(35, 40))
    assert len(df2.inputFiles()) == 4


def test_partition_filter_truncate_and_day_transforms(spark, qc,
                                                      tmp_path):
    """truncate[W] (int + string) and day(ts) are order-preserving:
    equality AND range predicates prune in the transformed domain;
    boundary files (pv == T(literal)) are conservatively kept and
    resolved row-level."""
    import pandas as pd
    tbl = str(tmp_path / "ttbl")
    items = []
    paths = {}
    for lo in (0, 100, 200):
        p = str(tmp_path / f"t{lo}.parquet")
        pd.DataFrame({"k": range(lo, lo + 100),
                      "name": [f"{'abc' if lo == 0 else 'xyz'}{i}"
                               for i in range(100)]}).to_parquet(p)
        items.append({"path": p, "partition": {"k_trunc": lo}})
        paths[lo] = p
    create_local_iceberg_table(
        tbl, [items],
        schema_fields=[(1, "k", "long"), (2, "name", "string")],
        partition_spec=[{"name": "k_trunc", "type": "long",
                         "source-id": 1, "transform": "truncate[100]"}])
    df = qc.read_iceberg(tbl, partition_filter="k >= 205").df
    assert len(df.inputFiles()) == 1      # only the 200-file
    assert df.count() == 95
    df = qc.read_iceberg(tbl, partition_filter="k <= 99").df
    assert len(df.inputFiles()) == 1 and df.count() == 100
    # an exactly-on-boundary literal keeps the boundary file
    # conservatively (T relaxes strictness); rows still exact
    df = qc.read_iceberg(tbl, partition_filter="k < 100").df
    assert len(df.inputFiles()) == 2 and df.count() == 100
    df = qc.read_iceberg(tbl, partition_filter="k = 150").df
    assert len(df.inputFiles()) == 1 and df.count() == 1

    # day(ts): one file per calendar day, range over timestamps
    tbl2 = str(tmp_path / "dtbl")
    items2 = []
    for d in (1, 2, 3):
        p = str(tmp_path / f"d{d}.parquet")
        pd.DataFrame({"ts": pd.to_datetime(
            [f"2024-01-0{d} 0{h}:30:00" for h in range(5)]),
            "x": range(5)}).to_parquet(p, coerce_timestamps="us")
        days = (pd.Timestamp(f"2024-01-0{d}")
                - pd.Timestamp("1970-01-01")).days
        items2.append({"path": p, "partition": {"ts_day": days}})
    create_local_iceberg_table(
        tbl2, [items2],
        schema_fields=[(1, "ts", "timestamp"), (2, "x", "long")],
        partition_spec=[{"name": "ts_day", "type": "date",
                         "source-id": 1, "transform": "day"}])
    df = qc.read_iceberg(
        tbl2, partition_filter="ts >= timestamp'2024-01-03 00:00:00'").df
    assert len(df.inputFiles()) == 1 and df.count() == 5
    # plain ISO-string literal coerces too
    df = qc.read_iceberg(tbl2, partition_filter="ts < '2024-01-02'").df
    # boundary day 2 kept conservatively (same day as the literal's
    # floor), day 3 pruned; row filter resolves exactly
    assert len(df.inputFiles()) == 2 and df.count() == 5
    # equality on a full-day boundary
    df = qc.read_iceberg(
        tbl2, partition_filter="ts = timestamp'2024-01-02 01:30:00'").df
    assert len(df.inputFiles()) == 1 and df.count() == 1


def test_partition_filter_transform_unsupported_shapes(spark, qc,
                                                       tmp_path):
    """Transform-spec tables accept only `col op literal AND ...`
    filters (OR/functions raise — the general case needs the jar's
    planner); unparseable conjuncts never silently mis-prune."""
    import pandas as pd
    f = str(tmp_path / "f.parquet")
    pd.DataFrame({"id": [1], "r": ["EU"]}).to_parquet(f)
    tbl = str(tmp_path / "btbl")
    create_local_iceberg_table(
        tbl, [[{"path": f, "partition": {"r_bucket": 3}}]],
        schema_fields=[(1, "id", "long"), (2, "r", "string")],
        partition_spec=[{"name": "r_bucket", "type": "int",
                         "source-id": 2, "transform": "bucket[4]"}])
    with pytest.raises(NotImplementedError, match="conjunction"):
        qc.read_iceberg(tbl, partition_filter="r = 'EU' OR r = 'US'")


def test_partition_filter_date_typed(spark, qc, tmp_path):
    """Date partition values are stored as raw int days in manifests;
    pruning must cast them back before evaluating the filter."""
    import datetime

    import pandas as pd
    d1 = datetime.date(2024, 1, 1)
    d2 = datetime.date(2024, 1, 2)
    f1, f2 = str(tmp_path / "d1.parquet"), str(tmp_path / "d2.parquet")
    pd.DataFrame({"id": [1, 2], "d": [d1, d1]}).to_parquet(f1)
    pd.DataFrame({"id": [3], "d": [d2]}).to_parquet(f2)
    tbl = str(tmp_path / "dtbl")
    epoch = datetime.date(1970, 1, 1)
    create_local_iceberg_table(
        tbl,
        [[{"path": f1, "partition": {"d": (d1 - epoch).days}},
          {"path": f2, "partition": {"d": (d2 - epoch).days}}]],
        schema_fields=[(1, "id", "long"), (2, "d", "date")],
        partition_spec=[{"name": "d", "type": "date"}])
    df = qc.read_iceberg(
        tbl, partition_filter="d >= date'2024-01-02'").df
    assert [r["id"] for r in df.collect()] == [3]
    assert len(df.inputFiles()) == 1


def test_partition_filter_composes_with_deletes_and_travel(qc, spark,
                                                           ptable):
    """Pruning + position deletes + time travel stack: the delete
    hides a row in the kept file; travel to the pre-delete snapshot
    restores it — filter active throughout."""
    from quokka_spark.sources.iceberg_local import add_position_deletes
    tbl, eu, us = ptable
    s2 = add_position_deletes(tbl, {eu: [0]})  # delete id=0
    df = qc.read_iceberg(tbl, partition_filter="r = 'EU'").df
    assert sorted(r["id"] for r in df.collect()) == list(range(1, 10))
    pre = qc.read_iceberg(tbl, snapshot=1,
                          partition_filter="r = 'EU'").df
    assert sorted(r["id"] for r in pre.collect()) == list(range(10))
    assert s2 == 2


def test_partition_spec_survives_commits_and_unknown_files_kept(
        qc, spark, ptable, tmp_path):
    """append_snapshot rewrites the metadata through commit_snapshot —
    the partition spec must survive; a file appended WITHOUT manifest
    partition values is kept conservatively and the defensive row
    filter preserves exact semantics."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import append_snapshot
    tbl, eu, us = ptable
    extra = str(tmp_path / "extra.parquet")
    pd.DataFrame({"id": [100, 101], "r": ["EU", "US"]}).to_parquet(extra)
    append_snapshot(tbl, [extra])
    df = qc.read_iceberg(tbl, partition_filter="r = 'EU'").df
    # pruned to eu.parquet + the unknown-partition file; row filter
    # then drops the US row inside it
    assert sorted(r["id"] for r in df.collect()) == \
        list(range(10)) + [100]
    files = df.inputFiles()
    assert len(files) == 2
    assert not any(f.endswith("us.parquet") for f in files)


# ----------------------------------------------------------------------
# manifest column-bounds file skipping (scan_filter, round 7)
# ----------------------------------------------------------------------

@pytest.fixture()
def btable(spark, tmp_path):
    """Two files with disjoint id ranges and string/date columns,
    manifests carrying footer-derived lower/upper bounds."""
    import datetime

    import pandas as pd
    lo, hi = str(tmp_path / "lo.parquet"), str(tmp_path / "hi.parquet")
    pd.DataFrame({
        "id": range(0, 10),
        "name": [f"a{i}" for i in range(10)],
        "d": [datetime.date(2024, 1, 1)] * 10,
    }).to_parquet(lo)
    pd.DataFrame({
        "id": range(100, 110),
        "name": [f"z{i}" for i in range(10)],
        "d": [datetime.date(2024, 6, 1)] * 10,
    }).to_parquet(hi)
    tbl = str(tmp_path / "btbl")
    create_local_iceberg_table(
        tbl, [[lo, hi]],
        schema_fields=[(1, "id", "long"), (2, "name", "string"),
                       (3, "d", "date")],
        collect_bounds=["id", "name", "d"])
    return tbl


def test_scan_filter_skips_files_on_bounds(qc, btable):
    """A provably-out-of-range file is never opened; the kept file is
    row-filtered exactly."""
    df = qc.read_iceberg(btable, scan_filter="id >= 100 AND id < 105").df
    assert sorted(r["id"] for r in df.collect()) == list(range(100, 105))
    files = df.inputFiles()
    assert len(files) == 1 and files[0].endswith("hi.parquet")


def test_scan_filter_string_and_date_bounds(qc, btable):
    df = qc.read_iceberg(btable, scan_filter="name <= 'a9'").df
    assert df.count() == 10
    assert len(df.inputFiles()) == 1
    df2 = qc.read_iceberg(btable,
                          scan_filter="d >= date'2024-03-01'").df
    assert df2.count() == 10
    files = df2.inputFiles()
    assert len(files) == 1 and files[0].endswith("hi.parquet")


def test_scan_filter_unsupported_shape_row_filters_only(qc, btable):
    """OR predicates can't be bounds-pruned — both files open, rows
    still exact (the filter always applies row-level)."""
    df = qc.read_iceberg(btable, scan_filter="id = 5 OR id = 101").df
    assert sorted(r["id"] for r in df.collect()) == [5, 101]
    assert len(df.inputFiles()) == 2


def test_scan_filter_without_bounds_keeps_files(qc, table):
    """Tables whose manifests carry no bounds (the pre-round-7 fixture
    shape) keep every file and fall back to the row filter."""
    tbl, _ = table
    df = qc.read_iceberg(tbl, scan_filter="id >= 20").df
    assert df.count() == 5
    assert len(df.inputFiles()) == 2


def test_scan_filter_nothing_matches_is_clear_error(qc, btable):
    with pytest.raises(ValueError, match="no data files matching"):
        qc.read_iceberg(btable, scan_filter="id > 1000")


def test_scan_filter_bounds_survive_commits(qc, btable, tmp_path):
    """commit_snapshot rewrites manifests — carried-forward files must
    keep their bounds so pruning still works after appends."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import append_snapshot
    extra = str(tmp_path / "extra.parquet")
    pd.DataFrame({"id": [500], "name": ["q"],
                  "d": [__import__("datetime").date(2025, 1, 1)]}
                 ).to_parquet(extra)
    append_snapshot(btable, [extra])
    df = qc.read_iceberg(btable, scan_filter="id < 50").df
    assert df.count() == 10
    files = df.inputFiles()
    # lo.parquet kept by bounds; extra.parquet kept conservatively
    # (no bounds recorded for it on this append path)
    assert not any(f.endswith("hi.parquet") for f in files)


def test_scan_filter_composes_with_partition_filter(qc, ptable):
    """partition_filter prunes on partition values, scan_filter row-
    filters (that fixture writes no bounds) — both active at once."""
    tbl, eu, us = ptable
    df = qc.read_iceberg(tbl, partition_filter="r = 'EU'",
                         scan_filter="id >= 5").df
    assert sorted(r["id"] for r in df.collect()) == list(range(5, 10))
    files = df.inputFiles()
    assert len(files) == 1 and files[0].endswith("eu.parquet")


# ----------------------------------------------------------------------
# maintenance: compaction + snapshot expiry (round 7)
# ----------------------------------------------------------------------

def test_iceberg_compact_materializes_deletes_and_expire(
        qc, spark, tmp_path):
    """rewrite_data_files applies accumulated deletes into a
    delete-free snapshot with fresh bounds; expire_snapshots then
    drops history and reclaims table-local orphans (referenced-in-
    place files outside the root are never touched)."""
    import glob
    import os

    import pandas as pd

    from quokka_spark.sources.iceberg_local import (
        add_position_deletes, expire_snapshots_local,
        rewrite_data_files_local, snapshot_files_full)
    a = str(tmp_path / "a.parquet")
    pd.DataFrame({"id": range(10)}).to_parquet(a)
    tbl = str(tmp_path / "mtbl")
    create_local_iceberg_table(tbl, [[a]],
                               schema_fields=[(1, "id", "long")])
    add_position_deletes(tbl, {a: [0]})
    s3 = rewrite_data_files_local(spark, tbl, target_file_rows=10_000)
    data, dels, eqs = snapshot_files_full(tbl, s3)
    assert len(data) == 1 and not dels and not eqs
    got = qc.read_iceberg(tbl).df
    assert sorted(r["id"] for r in got.collect()) == list(range(1, 10))
    # fresh bounds drive scan_filter on the compacted file
    assert qc.read_iceberg(tbl, scan_filter="id >= 5").df.count() == 5
    # expire history; delete-file orphan (under metadata/) reclaimed,
    # referenced-in-place a.parquet untouched
    kept = expire_snapshots_local(tbl, keep_last=1, delete_orphans=True)
    assert kept == [s3]
    assert os.path.exists(a)
    assert not glob.glob(os.path.join(tbl, "metadata", "delete-*.parquet"))
    assert qc.read_iceberg(tbl).df.count() == 9
    with pytest.raises(Exception, match="snapshot"):
        qc.read_iceberg(tbl, snapshot=1)


def test_iceberg_compact_partitioned_keeps_pruning(qc, spark, ptable):
    """Identity-partitioned compaction rewrites per partition (hive
    write on shadow columns so the source columns stay in the files)
    and commits fresh manifest partition records + column bounds —
    partition_filter pruning and scan_filter skipping keep working on
    the compacted layout, deletes materialized."""
    from quokka_spark.sources.iceberg_local import (add_position_deletes,
                                                    rewrite_data_files_local,
                                                    snapshot_files_full)
    tbl, eu, us = ptable
    add_position_deletes(tbl, {eu: [0]})   # delete id=0 (EU)
    s = rewrite_data_files_local(spark, tbl, target_file_rows=10_000)
    data, dels, eqs = snapshot_files_full(tbl, s)
    assert not dels and not eqs
    got = qc.read_iceberg(tbl).df
    assert sorted(r["id"] for r in got.collect()) == list(range(1, 25))
    assert got.columns == ["id", "r"]  # source cols stay in the files
    pruned = qc.read_iceberg(tbl, partition_filter="r = 'EU'").df
    assert sorted(r["id"] for r in pruned.collect()) == list(range(1, 10))
    assert len(pruned.inputFiles()) < len(got.inputFiles())
    assert qc.read_iceberg(tbl, scan_filter="id >= 20").df.count() == 5


def test_iceberg_compact_transform_partitioned_gated(qc, spark,
                                                     tmp_path):
    """bucket/truncate-partitioned compaction stays gated — the
    manifest partition values are transform results this reader
    cannot recompute."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import rewrite_data_files_local
    f = str(tmp_path / "f.parquet")
    pd.DataFrame({"id": [1], "r": ["EU"]}).to_parquet(f)
    tbl = str(tmp_path / "btbl")
    create_local_iceberg_table(
        tbl, [[{"path": f, "partition": {"r_bucket": 3}}]],
        schema_fields=[(1, "id", "long"), (2, "r", "string")],
        partition_spec=[{"name": "r_bucket", "type": "int",
                         "source-id": 2, "transform": "bucket[4]"}])
    with pytest.raises(NotImplementedError, match="transform"):
        rewrite_data_files_local(spark, tbl)


# ----------------------------------------------------------------------
# maintenance soundness regressions (round 7 review)
# ----------------------------------------------------------------------

def test_expire_then_commit_preserves_ids_and_eq_delete_scope(
        qc, spark, tmp_path):
    """After expire_snapshots_local, a new commit must NOT renumber
    snapshots: a carried equality delete keeps its original sequence,
    so data files committed AFTER it (higher seq) stay untouched, and
    time travel to the kept id still resolves — regression:
    positional renumbering gave new files a sequence below the
    carried delete and silently removed their rows."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import (add_equality_deletes,
                                                    append_snapshot,
                                                    expire_snapshots_local)
    a = str(tmp_path / "a.parquet")
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(a)
    tbl = str(tmp_path / "etbl")
    create_local_iceberg_table(tbl, [[a]],
                               schema_fields=[(1, "id", "long")])
    append_snapshot(tbl, [])  # middle snapshot → the delete is snap 3
    s3 = add_equality_deletes(tbl, {"id": [2]})
    assert s3 == 3
    assert sorted(r["id"] for r in
                  qc.read_iceberg(tbl).df.collect()) == [1, 3]
    assert expire_snapshots_local(tbl, keep_last=1) == [s3]
    # new data containing id=2, committed AFTER the delete
    b = str(tmp_path / "b.parquet")
    pd.DataFrame({"id": [2, 9]}).to_parquet(b)
    s4 = append_snapshot(tbl, [b])
    assert s4 == s3 + 1
    got = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
    assert got == [1, 2, 3, 9]  # old id=2 deleted, NEW id=2 alive
    # the kept original id still time-travels
    pre = qc.read_iceberg(tbl, snapshot=s3).df
    assert sorted(r["id"] for r in pre.collect()) == [1, 3]


def test_commit_to_transform_partitioned_table(qc, spark, tmp_path):
    """Committing to a bucket-partitioned table must encode the
    TRANSFORM RESULT type (int) in the manifest avro schema —
    regression: the source column type (string) was used and the
    int partition value crashed the encoder."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import append_snapshot
    f = str(tmp_path / "f.parquet")
    pd.DataFrame({"id": [1], "r": ["EU"]}).to_parquet(f)
    tbl = str(tmp_path / "btbl")
    create_local_iceberg_table(
        tbl, [[{"path": f, "partition": {"r_bucket": 3}}]],
        schema_fields=[(1, "id", "long"), (2, "r", "string")],
        partition_spec=[{"name": "r_bucket", "type": "int",
                         "source-id": 2, "transform": "bucket[4]"}])
    g = str(tmp_path / "g.parquet")
    pd.DataFrame({"id": [2], "r": ["US"]}).to_parquet(g)
    append_snapshot(tbl, [{"path": g, "partition": {"r_bucket": 1}}])
    assert sorted(r["id"] for r in
                  qc.read_iceberg(tbl).df.collect()) == [1, 2]


def test_prune_entries_absent_field_kept_null_prunable(spark):
    """Partition pruning distinguishes a genuine NULL partition value
    (prunable) from a field ABSENT under an older spec (unknown —
    must keep the file) — regression: both mapped to SQL NULL and
    the absent-field file was wrongly dropped."""
    from quokka_spark.sources.iceberg_local import _prune_entries
    meta = {"partition-specs": [{"spec-id": 0, "fields": [
                {"name": "x", "transform": "identity",
                 "source-id": 1, "field-id": 1000}]}],
            "default-spec-id": 0,
            "schemas": [{"schema-id": 0, "fields": [
                {"id": 1, "name": "x", "type": "int"}]}],
            "current-schema-id": 0}
    entries = [{"partition": {"x": 5}},    # matches → kept
               {"partition": {"x": 7}},    # refuted → pruned
               {"partition": {"x": None}},  # genuine null → pruned
               {"partition": {}}]          # absent (old spec) → kept
    got = _prune_entries(spark, entries, meta, "x = 5")
    assert got == [entries[0], entries[3]]


def test_iceberg_multispec_schema_evolution(spark, qc, tmp_path):
    """Round 10 (closes the last multi-spec gate): an append carrying
    a NEW column on a table with EVOLVED partition specs evolves the
    schema on the EXTEND path — a fresh schema entry (fresh
    schema-id + field id) is published while prior manifests stay
    byte-untouched; pre-evolution files null-fill the new column;
    per-spec pruning and time travel stay sound."""
    import json as _json

    import pandas as pd

    from quokka_spark.sources.avro_lite import (read_container,
                                                write_container)
    from quokka_spark.sources.iceberg_local import (
        _MANIFEST_FILE_SCHEMA, commit_snapshot,
        create_local_iceberg_table)
    fa = str(tmp_path / "a.parquet")
    fb = str(tmp_path / "b.parquet")
    pd.DataFrame({"id": [1, 2], "v": [10, 20],
                  "p": ["x", "x"]}).to_parquet(fa)
    pd.DataFrame({"id": [3], "v": [30], "p": ["y"]}).to_parquet(fb)
    tbl = str(tmp_path / "evo3")
    create_local_iceberg_table(
        tbl,
        [{"data": [{"path": fa, "partition": {"p": "x"}}],
          "spec_id": 0},
         {"data": [{"path": fb, "partition": {"p": "y"}}],
          "spec_id": 1}],
        schema_fields=[(1, "id", "long"), (2, "v", "long"),
                       (3, "p", "string")],
        partition_specs=[
            {"spec-id": 0, "fields": [
                {"name": "p", "type": "string", "source-id": 3,
                 "transform": "identity", "field-id": 1000}]},
            {"spec-id": 1, "fields": [
                {"name": "p", "type": "string", "source-id": 3,
                 "transform": "identity", "field-id": 1001}]}])
    meta_dir = os.path.join(tbl, "metadata")
    _, rows1 = read_container(os.path.join(meta_dir, "snap-1.avro"))
    _, rows2 = read_container(os.path.join(meta_dir, "snap-2.avro"))
    write_container(os.path.join(meta_dir, "snap-2.avro"),
                    _MANIFEST_FILE_SCHEMA, rows1 + rows2)
    m1 = os.path.join(meta_dir, "manifest-1.avro")
    m2 = os.path.join(meta_dir, "manifest-2.avro")
    mt = (os.stat(m1).st_mtime_ns, os.stat(m2).st_mtime_ns)
    # append a file that CARRIES a new double column
    fc = str(tmp_path / "c.parquet")
    pd.DataFrame({"id": [9], "v": [90], "p": ["z"],
                  "score": [1.5]}).to_parquet(fc)
    wdf = spark.createDataFrame([(9, 90, "z", 1.5)],
                                "id long, v long, p string, score double")
    commit_snapshot(tbl, add_files=[{"path": fc,
                                     "partition": {"p": "z"}}],
                    evolve_from_df=wdf)
    got = qc.read_iceberg(tbl).df
    assert set(got.columns) == {"id", "v", "p", "score"}
    rows = {r["id"]: (r["v"], r["p"], r["score"])
            for r in got.collect()}
    assert rows == {1: (10, "x", None), 2: (20, "x", None),
                    3: (30, "y", None), 9: (90, "z", 1.5)}
    # prior manifests byte-untouched (the extend contract holds)
    assert (os.stat(m1).st_mtime_ns, os.stat(m2).st_mtime_ns) == mt
    # the published metadata carries a NEW schema entry with a fresh
    # field id, and current-schema-id points at it
    hint = open(os.path.join(meta_dir, "version-hint.text")).read()
    with open(os.path.join(meta_dir,
                           f"v{hint.strip()}.metadata.json")) as fh:
        meta = _json.load(fh)
    assert len(meta["schemas"]) == 2
    cur = next(s for s in meta["schemas"]
               if s["schema-id"] == meta["current-schema-id"])
    added = [f for f in cur["fields"] if f["name"] == "score"]
    assert added == [{"id": 4, "name": "score", "required": False,
                      "type": "double"}]
    # per-spec pruning still sound, incl. the new file
    dfz = qc.read_iceberg(tbl, partition_filter="p = 'z'").df
    assert [r["id"] for r in dfz.collect()] == [9]
    assert len(dfz.inputFiles()) == 1
    dfy = qc.read_iceberg(tbl, partition_filter="p = 'y'").df
    assert [r["id"] for r in dfy.collect()] == [3]
    # time travel to the pre-evolution snapshot
    assert {r["id"]: r["v"]
            for r in qc.read_iceberg(tbl, snapshot=2).df.collect()} == \
        {1: 10, 2: 20, 3: 30}


def test_iceberg_changes_timestamp_bounds(qc, spark, tmp_path):
    """read_iceberg_changes timestamp bounds (round 10, the Delta CDF
    rule): from_timestamp → earliest snapshot at-or-after (past-newest
    refuses); to_timestamp → latest at-or-before (clamps at newest);
    mixing both kinds of a bound refuses."""
    import json as _json

    import pandas as pd

    from quokka_spark.sources.iceberg_local import _read_table_metadata
    tbl = str(tmp_path / "icts")
    qc.from_pandas(pd.DataFrame({"id": [1]})).write_iceberg(tbl)
    qc.from_pandas(pd.DataFrame({"id": [2]})).write_iceberg(tbl)
    # pin the snapshot timestamps for determinism
    hint = open(os.path.join(tbl, "metadata",
                             "version-hint.text")).read().strip()
    mpath = os.path.join(tbl, "metadata", f"v{hint}.metadata.json")
    with open(mpath) as fh:
        meta = _json.load(fh)
    for s, ts in zip(meta["snapshots"], (1_000_000_000,
                                         2_000_000_000)):
        s["timestamp-ms"] = ts
    with open(mpath, "w") as fh:
        _json.dump(meta, fh)
    assert _read_table_metadata(tbl)["snapshots"][0]["timestamp-ms"] \
        == 1_000_000_000
    ch = qc.read_iceberg_changes(
        tbl, from_timestamp=1_500_000_000).df
    assert [r["id"] for r in ch.collect()] == [2]
    ch2 = qc.read_iceberg_changes(
        tbl, from_timestamp=500_000_000,
        to_timestamp=1_500_000_000).df
    assert [r["id"] for r in ch2.collect()] == [1]
    # to_timestamp clamps at the newest snapshot
    ch3 = qc.read_iceberg_changes(
        tbl, from_snapshot=1, to_timestamp=9_000_000_000).df
    assert sorted(r["id"] for r in ch3.collect()) == [1, 2]
    with pytest.raises(ValueError, match="exactly one"):
        qc.read_iceberg_changes(tbl)
    with pytest.raises(ValueError, match="after the table's newest"):
        qc.read_iceberg_changes(tbl, from_timestamp=9_000_000_000)


def test_iceberg_history(qc, spark, tmp_path):
    """qc.iceberg_history: one row per snapshot with operation and
    the current-pointer flag (restore snapshots show 'rollback')."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import restore_iceberg_local
    tbl = str(tmp_path / "ihist")
    qc.from_pandas(pd.DataFrame({"id": [1]})).write_iceberg(tbl)
    qc.from_pandas(pd.DataFrame({"id": [2]})).write_iceberg(tbl)
    restore_iceberg_local(tbl, 1)
    h = {r["snapshot_id"]: r
         for r in qc.iceberg_history(tbl).df.collect()}
    assert sorted(h) == [1, 2, 3]
    assert h[3]["operation"] == "rollback" and h[3]["is_current"]
    assert not h[1]["is_current"] and not h[2]["is_current"]


def test_iceberg_format_version_gate(qc, tmp_path):
    """Format-version 3 is ACCEPTED since round 11 (deletion vectors
    read end-to-end; defaults still gate —
    test_iceberg_v3_feature_gates); unknown future versions refuse
    typed."""
    import json as _json
    tbl = str(tmp_path / "v3")
    md = os.path.join(tbl, "metadata")
    os.makedirs(md)
    with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
        _json.dump({"format-version": 3, "snapshots": []}, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write("1")
    # v3 passes the metadata gate — the failure is the ordinary
    # empty-table one, not a format refusal
    with pytest.raises(ValueError, match="no snapshots"):
        qc.read_iceberg(tbl)
    with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
        _json.dump({"format-version": 4, "snapshots": []}, fh)
    with pytest.raises(NotImplementedError, match="format-version 4"):
        qc.read_iceberg(tbl)


def test_iceberg_restore(qc, spark, tmp_path):
    """restore_iceberg_local (round 10): a NEW snapshot re-references
    the target's manifest list byte-for-byte — state identical to the
    target, history intact, later commits extend linearly from it,
    and expiry after a restore keeps the shared manifest list
    readable."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import (
        expire_snapshots_local, restore_iceberg_local,
        upsert_iceberg_local)
    tbl = str(tmp_path / "irst")
    qc.from_pandas(pd.DataFrame({"id": [1, 2], "v": [10, 20]})) \
        .write_iceberg(tbl)                                   # snap 1
    qc.from_pandas(pd.DataFrame({"id": [3], "v": [30]})) \
        .write_iceberg(tbl)                                   # snap 2
    upsert_iceberg_local(
        spark, tbl,
        spark.createDataFrame([(2, 22), (9, 90)], "id long, v long"),
        ["id"])                                               # snap 3
    assert {r["id"]: r["v"] for r in qc.read_iceberg(tbl).df.collect()} \
        == {1: 10, 2: 22, 3: 30, 9: 90}
    new_id = restore_iceberg_local(tbl, 2)
    got = {r["id"]: r["v"] for r in qc.read_iceberg(tbl).df.collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    assert got == {r["id"]: r["v"]
                   for r in qc.read_iceberg(tbl, snapshot=2)
                   .df.collect()}
    # pre-restore head still time-travels
    assert {r["id"]: r["v"]
            for r in qc.read_iceberg(tbl, snapshot=3).df.collect()} \
        == {1: 10, 2: 22, 3: 30, 9: 90}
    # a later append extends the RESTORED state linearly
    qc.from_pandas(pd.DataFrame({"id": [7], "v": [70]})) \
        .write_iceberg(tbl)
    assert {r["id"]: r["v"] for r in qc.read_iceberg(tbl).df.collect()} \
        == {1: 10, 2: 20, 3: 30, 7: 70}
    # unknown target refuses
    with pytest.raises(ValueError, match="not found"):
        restore_iceberg_local(tbl, 999)
    # expiry keeps the restore snapshot's (shared) manifest list
    expire_snapshots_local(tbl, keep_last=2, delete_orphans=True)
    assert {r["id"]: r["v"] for r in qc.read_iceberg(tbl).df.collect()} \
        == {1: 10, 2: 20, 3: 30, 7: 70}
    from quokka_spark.sources.iceberg_local import _read_table_metadata
    kept = [s.get("snapshot-id")
            for s in _read_table_metadata(tbl)["snapshots"]]
    assert new_id in kept


def test_iceberg_schema_evolution_added_column(qc, spark, tmp_path):
    """A column added by schema evolution surfaces (typed, null for
    pre-evolution files) because the scan uses the TABLE schema when
    it strictly extends the files — not whichever file parquet
    inference sampled."""
    import pandas as pd
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pd.DataFrame({"id": [1, 2]}).to_parquet(a)
    pd.DataFrame({"id": [3], "score": [1.5]}).to_parquet(b)
    tbl = str(tmp_path / "evo")
    create_local_iceberg_table(
        tbl, [[a], [a, b]],
        schema_fields=[(1, "id", "long"), (2, "score", "double")])
    got = qc.read_iceberg(tbl).df
    assert got.columns == ["id", "score"]
    rows = {r["id"]: r["score"] for r in got.collect()}
    assert rows == {1: None, 2: None, 3: 1.5}
    # a file storing INT32 under a declared long (the spec's int ->
    # long promotion) reads under the table schema too: no inference
    # job while building, and the column is bigint
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conftest import jobs_run_by
    from quokka_spark.sources.iceberg_local import read_iceberg_local
    c = str(tmp_path / "c.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int32())}), c)
    promoted = str(tmp_path / "promoted")
    create_local_iceberg_table(promoted, [[c]],
                               schema_fields=[(1, "k", "long")])
    got, jobs = jobs_run_by(spark,
                            lambda: read_iceberg_local(spark, promoted))
    assert jobs == []
    assert got.schema.simpleString() == "struct<k:bigint>"
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_iceberg_partial_fixture_schema_keeps_inference(qc, spark,
                                                        tmp_path):
    """A schema_fields list NARROWER than the files (the equality-id
    hint convention) must NOT become the read schema — all file
    columns stay readable."""
    import pandas as pd
    d = str(tmp_path / "d.parquet")
    pd.DataFrame({"k": [1, 2], "s": ["a", "b"]}).to_parquet(d)
    tbl = str(tmp_path / "ptbl2")
    create_local_iceberg_table(tbl, [[d]], schema_fields=[(2, "s")])
    got = qc.read_iceberg(tbl).df
    assert set(got.columns) == {"k", "s"} and got.count() == 2


def test_iceberg_schema_evolution_wide_probe_file_first(qc, spark,
                                                        tmp_path):
    """The table schema applies when it COVERS the probe file even
    with no extra columns — a wide (post-evolution) file listed first
    must not push the scan back to inference, which could sample a
    narrow file and lose the added column."""
    import pandas as pd
    wide = str(tmp_path / "wide.parquet")
    narrow = str(tmp_path / "narrow.parquet")
    pd.DataFrame({"id": [3], "score": [1.5]}).to_parquet(wide)
    pd.DataFrame({"id": [1, 2]}).to_parquet(narrow)
    tbl = str(tmp_path / "evo2")
    create_local_iceberg_table(
        tbl, [[wide, narrow]],
        schema_fields=[(1, "id", "long"), (2, "score", "double")])
    got = qc.read_iceberg(tbl).df
    assert got.columns == ["id", "score"]
    rows = {r["id"]: r["score"] for r in got.collect()}
    assert rows == {1: None, 2: None, 3: 1.5}


def test_iceberg_write_evolves_schema(qc, spark, tmp_path):
    """write_iceberg appends carrying NEW columns extend the table
    schema (fresh field ids), so the evolved column surfaces — typed,
    null for pre-evolution files — through the table-schema scan."""
    tbl = str(tmp_path / "wevo")
    qc.from_pandas(__import__("pandas").DataFrame({"id": [1, 2]})) \
        .write_iceberg(tbl)
    import pandas as pd
    qc.from_pandas(pd.DataFrame({"id": [3], "score": [1.5]})) \
        .write_iceberg(tbl)
    got = qc.read_iceberg(tbl).df
    assert set(got.columns) == {"id", "score"}
    rows = {r["id"]: r["score"] for r in got.collect()}
    assert rows == {1: None, 2: None, 3: 1.5}


def test_transform_pruning_review_regressions(spark, qc, tmp_path):
    """Round-8 review pins: (1) a tz-aware timestamp literal prunes by
    its UTC INSTANT, not its wall time; (2) equality refutation keeps
    the file on a type-representation mismatch instead of silently
    pruning; (3) a filter column that is no schema column raises."""
    import datetime

    import pandas as pd

    from quokka_spark.sources.iceberg_local import (_apply_transform,
                                                    _transform_refutes)
    # (1) +05:00 02:00 on Jan 1 is Dec 31 21:00 UTC → day 19722
    aware = datetime.datetime.fromisoformat("2024-01-01 02:00:00+05:00")
    assert _apply_transform("day", aware, "timestamptz") == 19722
    assert _apply_transform("year", aware, "timestamptz") == 53
    # (2) str partition value vs int literal: incomparable → keep
    with pytest.raises(TypeError):
        _transform_refutes("=", 4, "4", True)
    # (3) unknown column (e.g. the partition FIELD name) raises
    f = str(tmp_path / "f.parquet")
    pd.DataFrame({"id": [1], "r": ["EU"]}).to_parquet(f)
    tbl = str(tmp_path / "btbl")
    create_local_iceberg_table(
        tbl, [[{"path": f, "partition": {"r_bucket": 3}}]],
        schema_fields=[(1, "id", "long"), (2, "r", "string")],
        partition_spec=[{"name": "r_bucket", "type": "int",
                         "source-id": 2, "transform": "bucket[4]"}])
    with pytest.raises(ValueError, match="unknown column"):
        qc.read_iceberg(tbl, partition_filter="r_bucket = 3")
    with pytest.raises(ValueError, match="unknown column"):
        qc.read_iceberg(tbl, partition_filter="typo = 'EU'")


def test_iceberg_changes_lifecycle(spark, qc, tmp_path):
    """read_iceberg_changes over append → position delete → equality
    delete → compaction → append: each snapshot slice carries exactly
    its change rows, compaction yields nothing, and the
    removed-files-under-deletes shape gates."""
    from quokka_spark.sources.iceberg_local import (
        add_equality_deletes, add_position_deletes, append_snapshot,
        commit_snapshot, rewrite_data_files_local, snapshot_files)
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(0, 10).coalesce(1).toPandas().to_parquet(a)
    spark.range(10, 15).coalesce(1).toPandas().to_parquet(b)
    tbl = str(tmp_path / "tbl")
    s1, s2 = create_local_iceberg_table(
        tbl, [[a], [a, b]], schema_fields=[(1, "id", "long")])
    (a_path, _), _ = snapshot_files(tbl, s2)
    s3 = add_position_deletes(tbl, {a_path: [0, 3]})     # ids 0, 3
    s4 = add_equality_deletes(tbl, {"id": [12]})
    s5 = rewrite_data_files_local(spark, tbl, target_file_rows=1000)
    c = str(tmp_path / "c.parquet")
    spark.range(100, 102).coalesce(1).toPandas().to_parquet(c)
    s6 = append_snapshot(tbl, [c])

    def rows(x, y=None):
        return sorted(
            (r["_snapshot_id"], r["_change_type"], r["id"])
            for r in qc.read_iceberg_changes(tbl, x, y).df.collect())

    assert rows(s1, s1) == [(s1, "insert", i) for i in range(10)]
    assert rows(s2, s2) == [(s2, "insert", i) for i in range(10, 15)]
    assert rows(s3, s3) == [(s3, "delete", 0), (s3, "delete", 3)]
    assert rows(s4, s4) == [(s4, "delete", 12)]
    assert rows(s5, s5) == []                       # compaction
    assert rows(s6, s6) == [(s6, "insert", 100), (s6, "insert", 101)]
    assert rows(s3) == rows(s3, s3) + rows(s4, s4) + rows(s6, s6)
    got = qc.read_iceberg_changes(tbl, s1).df
    assert got.columns == ["id", "_change_type", "_snapshot_id"]
    # an upsert commit decomposes: new file + pos-deletes in ONE snap
    d = str(tmp_path / "d.parquet")
    spark.range(200, 202).coalesce(1).toPandas().to_parquet(d)
    (files, _) = snapshot_files(tbl, s6)[0], None
    tgt = [f for f in snapshot_files(tbl, s6)[0] if "compact" in f][0]
    import pyarrow.parquet as pq
    first_id = pq.read_table(tgt, columns=["id"]).column("id")[0].as_py()
    s7 = commit_snapshot(
        tbl, add_files=[d],
        add_delete_files=[_mk_posdel(tmp_path, spark, tgt, [0])])
    assert rows(s7, s7) == sorted(
        [(s7, "insert", 200), (s7, "insert", 201),
         (s7, "delete", first_id)])
    with pytest.raises(ValueError, match="not in"):
        qc.read_iceberg_changes(tbl, 99999)


def _mk_posdel(tmp_path, spark, target, positions):
    import pandas as pd
    p = str(tmp_path / f"pd_{abs(hash(target)) % 99999}.parquet")
    pd.DataFrame({"file_path": [target] * len(positions),
                  "pos": positions}).to_parquet(p)
    return p


def test_streaming_write_iceberg_exactly_once(spark, qc, tmp_path):
    """foreachBatch sink with the snapshot-summary handshake (round
    9): the first batch creates the table, a restarted stream with
    the same checkpoint appends only NEW batches, a redelivered batch
    id is a no-op, and the mark survives later commits."""
    from quokka_spark.sources.iceberg_local import (append_snapshot,
                                                    last_txn_version)
    from quokka_spark.streaming.stream import streaming_write_iceberg
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    tbl = str(tmp_path / "sink")
    sch = "id long, v double"
    spark.createDataFrame([(1, 1.0), (2, 2.0)], sch) \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], sch).schema).parquet(src)
    q = streaming_write_iceberg(stream, tbl, chk, app_id="t") \
        .trigger(availableNow=True).start()
    assert q.awaitTermination(120)
    assert sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect()) \
        == [1, 2]
    last = last_txn_version(tbl, "t")
    assert last is not None and last >= 0
    # restart with the SAME checkpoint after more data arrives
    spark.createDataFrame([(3, 3.0)], sch).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], sch).schema).parquet(src)
    q = streaming_write_iceberg(stream, tbl, chk, app_id="t") \
        .trigger(availableNow=True).start()
    assert q.awaitTermination(120)
    assert sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect()) \
        == [1, 2, 3]
    last2 = last_txn_version(tbl, "t")
    assert last2 is not None and last2 > last
    # the second drain was an O(1) fast append: the first drain's
    # manifests were not rewritten (same bytes on disk)
    import glob as _glob
    import os as _os
    meta_dir = _os.path.join(tbl, "metadata")
    first_manifest = sorted(
        _glob.glob(_os.path.join(meta_dir, "manifest-1.avro")))
    assert first_manifest
    m1 = first_manifest[0]
    mt = _os.stat(m1).st_mtime_ns
    # the mark survives a later append
    extra = str(tmp_path / "x.parquet")
    spark.range(100, 101).coalesce(1).toPandas().to_parquet(extra)
    append_snapshot(tbl, [extra])
    assert last_txn_version(tbl, "t") == last2
    assert _os.stat(m1).st_mtime_ns == mt      # still untouched
    # ... and survives snapshot EXPIRY (the mark folds into the
    # newest kept snapshot) — round-9 review pin: a crash between
    # sink-commit and Spark-checkpoint after retention must not
    # re-commit the batch
    from quokka_spark.sources.iceberg_local import expire_snapshots_local
    expire_snapshots_local(tbl, keep_last=1)
    assert last_txn_version(tbl, "t") == last2
    # ... and survives a delete commit (position delete) too
    from quokka_spark.sources.iceberg_local import (add_position_deletes,
                                                    snapshot_files)
    (files, _) = snapshot_files(tbl)
    add_position_deletes(tbl, {files[0]: [0]})
    assert last_txn_version(tbl, "t") == last2
    # wrong app id sees no mark
    assert last_txn_version(tbl, "other") is None


def test_iceberg_timestamp_time_travel(spark, qc, tmp_path):
    """as-of-timestamp (round 9): resolve to the LATEST snapshot with
    timestamp-ms at-or-before the asked instant; commit_snapshot
    stamps real times on new snapshots and leaves prior timestamps
    as they are."""
    from quokka_spark.sources.iceberg_local import (append_snapshot,
                                                    snapshot_at_timestamp)
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(0, 5).coalesce(1).toPandas().to_parquet(a)
    spark.range(5, 8).coalesce(1).toPandas().to_parquet(b)
    tbl = str(tmp_path / "tbl")
    s1, s2 = create_local_iceberg_table(
        tbl,
        [{"data": [a], "timestamp_ms": 1000},
         {"data": [a, b], "timestamp_ms": 2000}],
        schema_fields=[(1, "id", "long")])
    assert snapshot_at_timestamp(tbl, 1500) == s1
    assert snapshot_at_timestamp(tbl, 2000) == s2
    got = qc.read_iceberg(tbl, as_of_timestamp=1500).df
    assert sorted(r["id"] for r in got.collect()) == list(range(5))
    with pytest.raises(ValueError, match="before"):
        snapshot_at_timestamp(tbl, 999)
    with pytest.raises(ValueError, match="at most one"):
        qc.read_iceberg(tbl, snapshot=s1, as_of_timestamp=1500)
    # a later commit keeps prior timestamps and stamps now
    c = str(tmp_path / "c.parquet")
    spark.range(100, 102).coalesce(1).toPandas().to_parquet(c)
    s3 = append_snapshot(tbl, [c])
    assert snapshot_at_timestamp(tbl, 1500) == s1
    import time as _time
    assert snapshot_at_timestamp(tbl, int(_time.time() * 1000)
                                 + 60_000) == s3


@pytest.mark.parametrize("schema", [
    "id long, v double", "id long, m map<string,int>, v double"],
    ids=["plain", "map"])
def test_iceberg_changes_upsert_pairs_updates(spark, qc, tmp_path,
                                              schema):
    """Round 9: an upsert snapshot (merge-keys stamped in the
    snapshot summary) surfaces as PAIRED update_preimage/
    update_postimage rows for matched keys and plain inserts for new
    keys; a keyless commit of the same shape keeps the raw
    delete+insert decomposition (pinned above in the lifecycle
    test). The ``map`` input pins the pairing's NULL-key salt to
    hashable columns (xxhash64 rejects MAP)."""
    from quokka_spark.sources.iceberg_local import upsert_iceberg_local

    def batch(pairs):
        return spark.createDataFrame(
            [(i, {"v": int(x)}, x) if "map<" in schema else (i, x)
             for i, x in pairs], schema)

    a = str(tmp_path / "a.parquet")
    batch([(1, 10.0), (2, 20.0), (3, 30.0)]).coalesce(1) \
        .write.parquet(str(tmp_path / "a"))
    import glob
    os.replace(glob.glob(str(tmp_path / "a" / "*.parquet"))[0], a)
    m_type = {"type": "map", "key-id": 4, "key": "string",
              "value-id": 5, "value": "int", "value-required": False}
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[a]], schema_fields=[(1, "id", "long"),
                                   (2, "v", "double")]
        + ([(3, "m", m_type)] if "map<" in schema else []))
    sid = upsert_iceberg_local(spark, tbl, batch([(2, 99.0), (7, 70.0)]),
                               "id")
    ch = qc.read_iceberg_changes(tbl, sid, sid).df.collect()
    rows = sorted((r["_change_type"], r["id"], r["v"]) for r in ch)
    assert rows == [("insert", 7, 70.0),
                    ("update_postimage", 2, 99.0),
                    ("update_preimage", 2, 20.0)]
    # the pairing survives a later commit (earlier summaries are
    # never rewritten): append once more, then re-read the upsert
    b = str(tmp_path / "b.parquet")
    spark.range(100, 101).coalesce(1).toPandas().to_parquet(b)
    from quokka_spark.sources.iceberg_local import append_snapshot
    append_snapshot(tbl, [b])
    ch2 = qc.read_iceberg_changes(tbl, sid, sid).df.collect()
    assert sorted((r["_change_type"], r["id"]) for r in ch2) == \
        [("insert", 7), ("update_postimage", 2), ("update_preimage", 2)]


def test_iceberg_changes_deferred_flush_coalesces_across_upsert(
        spark, qc, tmp_path):
    """Optimization round 14 (the round-13 Delta CDF deferred-flush
    rule ported): an insert run stays OPEN across an interrupting
    upsert snapshot — every _scan reads through the same latest table
    metadata, so nothing forces a flush — and the whole mixed history
    builds ONE provenance-stamped coalesced scan instead of one per
    inter-upsert run. Values and per-snapshot stamps are unchanged."""
    from quokka_spark.sources import changes
    from quokka_spark.sources.iceberg_local import (append_snapshot,
                                                    upsert_iceberg_local)

    def f(name, lo, hi):
        p = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame([(i, float(i)) for i in range(lo, hi)],
                              "id long, v double") \
            .coalesce(1).toPandas().to_parquet(p)
        return p

    tbl = str(tmp_path / "tbl")
    (s1,) = create_local_iceberg_table(
        tbl, [[f("a", 0, 3)]],
        schema_fields=[(1, "id", "long"), (2, "v", "double")])
    s2 = append_snapshot(tbl, [f("b", 3, 6)])
    s3 = upsert_iceberg_local(
        spark, tbl,
        spark.createDataFrame([(1, 111.0), (50, 50.0)],
                              "id long, v double"), "id")
    s4 = append_snapshot(tbl, [f("c", 6, 8)])
    s5 = append_snapshot(tbl, [f("d", 8, 9)])

    calls = []
    orig = changes._stamp_provenance

    def counted(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    changes._stamp_provenance = counted
    try:
        ch = qc.read_iceberg_changes(tbl, s1, s5).df
        rows = sorted((r["_snapshot_id"], r["_change_type"], r["id"],
                       r["v"]) for r in ch.collect())
    finally:
        changes._stamp_provenance = orig
    # ONE coalesced run for {s1,s2,s4,s5} (pre-round-14: two runs,
    # split at the s3 upsert — the second _stamp_provenance call)
    assert len(calls) == 1
    assert rows == sorted(
        [(s1, "insert", 0, 0.0), (s1, "insert", 1, 1.0),
         (s1, "insert", 2, 2.0),
         (s2, "insert", 3, 3.0), (s2, "insert", 4, 4.0),
         (s2, "insert", 5, 5.0),
         (s3, "update_preimage", 1, 1.0),
         (s3, "update_postimage", 1, 111.0),
         (s3, "insert", 50, 50.0),
         (s4, "insert", 6, 6.0), (s4, "insert", 7, 7.0),
         (s5, "insert", 8, 8.0)])


def test_iceberg_changes_review_regressions(spark, qc, tmp_path):
    """Round-8 review pins: (1) an equality delete of a row ALREADY
    position-deleted earlier emits no phantom delete row; (2)
    schema-evolved tables read through the change stream with the
    TABLE schema (pre-evolution slices carry the evolved column as
    null instead of crashing the union)."""
    from quokka_spark.sources.iceberg_local import (add_equality_deletes,
                                                    add_position_deletes,
                                                    commit_snapshot,
                                                    snapshot_files)
    a = str(tmp_path / "a.parquet")
    spark.range(0, 5).coalesce(1).toPandas().to_parquet(a)
    tbl = str(tmp_path / "tbl")
    (s1,) = create_local_iceberg_table(tbl, [[a]],
                                       schema_fields=[(1, "id", "long")])
    (a_path,), _ = snapshot_files(tbl, s1)
    s2 = add_position_deletes(tbl, {a_path: [0]})        # deletes id 0
    s3 = add_equality_deletes(tbl, {"id": [0, 2]})       # 0 already gone
    got = sorted((r["_snapshot_id"], r["_change_type"], r["id"])
                 for r in qc.read_iceberg_changes(tbl, s3, s3)
                 .df.collect())
    assert got == [(s3, "delete", 2)]                    # no phantom 0
    # (2) schema evolution: add a file with an extra column
    w = str(tmp_path / "wide.parquet")
    wdf = spark.createDataFrame([(10, 1.5)], "id long, v double")
    wdf.coalesce(1).toPandas().to_parquet(w)
    s4 = commit_snapshot(tbl, add_files=[w], evolve_from_df=wdf)
    ch = qc.read_iceberg_changes(tbl, s1).df
    assert set(ch.columns) == {"id", "v", "_change_type", "_snapshot_id"}
    rows = {(r["_snapshot_id"], r["_change_type"], r["id"]): r["v"]
            for r in ch.collect()}
    assert rows[(s4, "insert", 10)] == 1.5
    assert rows[(s1, "insert", 1)] is None               # pre-evolution


def test_iceberg_schema_evolution_never_reuses_field_ids(spark, qc,
                                                         tmp_path):
    """Field-id allocation honors last-column-id and every listed
    schema (round 11, advisor finding): on a foreign table where a
    column was dropped (current schema's max id < last-column-id) or
    where an older schema holds higher ids, a newly evolved column
    must get a FRESH id — reusing a retired id would silently serve
    old files' dead-column values as the new column — and the
    published last-column-id must advance so later real-Iceberg
    writers cannot collide either."""
    import json as _json

    from quokka_spark.sources.iceberg_local import (_evolve_meta_schema,
                                                    _read_table_metadata,
                                                    commit_snapshot)
    a = str(tmp_path / "a.parquet")
    spark.range(0, 3).coalesce(1).toPandas().to_parquet(a)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(tbl, [[a]],
                               schema_fields=[(1, "id", "long")])
    # simulate a foreign writer having dropped columns 2..5
    meta_dir = os.path.join(tbl, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        cur = fh.read().strip()
    mpath = os.path.join(meta_dir, f"v{cur}.metadata.json")
    with open(mpath) as fh:
        m = _json.load(fh)
    m["last-column-id"] = 5
    with open(mpath, "w") as fh:
        _json.dump(m, fh)
    # a NON-evolving commit (position delete) must carry the foreign
    # mark forward, not recompute it from the schema's max id
    from quokka_spark.sources.iceberg_local import (add_position_deletes,
                                                    snapshot_files)
    (a_live,), _ = snapshot_files(tbl)
    add_position_deletes(tbl, {a_live: [0]})
    assert int(_read_table_metadata(tbl)["last-column-id"]) >= 5
    wdf = spark.createDataFrame([(10, 1.5)], "id long, v double")
    w = str(tmp_path / "w.parquet")
    wdf.coalesce(1).toPandas().to_parquet(w)
    commit_snapshot(tbl, add_files=[w], evolve_from_df=wdf)
    m2 = _read_table_metadata(tbl)
    cur_schema = next(s for s in m2["schemas"]
                      if s["schema-id"] == m2["current-schema-id"])
    vid = next(f["id"] for f in cur_schema["fields"]
               if f["name"] == "v")
    assert vid == 6                    # not a retired 2..5 id
    assert int(m2["last-column-id"]) >= 6
    # multispec extend path (_evolve_meta_schema): an OLDER listed
    # schema holds a higher id than the current one
    meta = {"schemas": [
        {"schema-id": 0, "type": "struct",
         "fields": [{"id": 1, "name": "id", "type": "long"},
                    {"id": 9, "name": "old", "type": "long"}]},
        {"schema-id": 1, "type": "struct",
         "fields": [{"id": 1, "name": "id", "type": "long"}]}],
        "current-schema-id": 1, "last-column-id": 4}
    _evolve_meta_schema(meta, wdf)
    new = next(s for s in meta["schemas"]
               if s["schema-id"] == meta["current-schema-id"])
    assert next(f["id"] for f in new["fields"]
                if f["name"] == "v") == 10
    assert meta["last-column-id"] == 10


def test_iceberg_changes_deletion_vectors(spark, qc, table, tmp_path):
    """The change stream serves v3 DV commits (round 11): a DV
    commit emits exactly the NEWLY deleted rows (cur-minus-parent
    blob — a superseding DV that re-lists old positions emits no
    phantom re-deletes), and a full-range fold reproduces the live
    state."""
    from quokka_spark.sources.iceberg_local import (add_deletion_vectors,
                                                    snapshot_files)
    tbl, (s1, s2) = table                    # a: 0..9, b: 10..24
    (a_path,), _ = snapshot_files(tbl, s1)
    v3 = add_deletion_vectors(tbl, {a_path: [0, 3]})
    v4 = add_deletion_vectors(tbl, {a_path: [3, 5]})   # 3 is old news
    ch3 = sorted((r["_change_type"], r["id"]) for r in
                 qc.read_iceberg_changes(tbl, v3, v3).df.collect())
    assert ch3 == [("delete", 0), ("delete", 3)]
    ch4 = sorted((r["_change_type"], r["id"]) for r in
                 qc.read_iceberg_changes(tbl, v4, v4).df.collect())
    assert ch4 == [("delete", 5)]                      # no phantom 3
    # fold the full range: inserts minus deletes == live rows
    from collections import Counter
    state: Counter = Counter()
    for r in qc.read_iceberg_changes(tbl, s1, v4).df.collect():
        if r["_change_type"] in ("insert", "update_postimage"):
            state[r["id"]] += 1
        elif r["_change_type"] in ("delete", "update_preimage"):
            state[r["id"]] -= 1
    live = sorted(x for x, n in state.items() if n > 0)
    assert live == sorted(
        r["id"] for r in qc.read_iceberg(tbl).df.collect())


def test_iceberg_changes_random_ops_reconstruct_state(spark, qc,
                                                      tmp_path):
    """Model-based sweep for the Iceberg change stream: a seeded
    random sequence of appends, position deletes, equality deletes,
    v3 deletion vectors (round 11) and compactions — folding each
    snapshot's change rows into a multiset equals the table's
    time-travel state at that snapshot."""
    import random
    from collections import Counter

    from quokka_spark.sources.iceberg_local import (
        add_deletion_vectors, add_equality_deletes,
        add_position_deletes, append_snapshot,
        create_local_iceberg_table, rewrite_data_files_local,
        snapshot_files_full)
    rng = random.Random(77)
    tbl = str(tmp_path / "prop")
    nxt = 0

    def fresh_file(n, tag):
        nonlocal nxt
        vals = list(range(nxt, nxt + n))
        nxt += n
        p = str(tmp_path / f"f{tag}.parquet")
        spark.createDataFrame([(v,) for v in vals], "id long") \
            .coalesce(1).toPandas().to_parquet(p)
        return p

    create_local_iceberg_table(tbl, [[fresh_file(6, 0)]],
                               schema_fields=[(1, "id", "long")])
    for step in range(8):
        op = rng.choice(["append", "posdel", "eqdel", "dv",
                         "compact"])
        live = sorted(r["id"] for r in qc.read_iceberg(tbl).df.collect())
        if op == "append" or not live:
            append_snapshot(tbl, [fresh_file(rng.randint(1, 4),
                                             step + 1)])
        elif op in ("posdel", "dv"):
            data, _, _, _dvs = snapshot_files_full(tbl, None,
                                                   with_dvs=True)
            import pyarrow.parquet as pq
            deletes = {}
            for d in data:
                vals = pq.read_table(d["path"], columns=["id"]) \
                    .column("id").to_pylist()
                pos = [i for i, v in enumerate(vals)
                       if v in live and rng.random() < 0.3]
                if pos:
                    deletes[d["path"]] = pos
            if deletes:
                if op == "dv":
                    add_deletion_vectors(tbl, deletes)
                else:
                    add_position_deletes(tbl, deletes)
        elif op == "eqdel":
            ks = [k for k in live if rng.random() < 0.25]
            if ks:
                add_equality_deletes(tbl, {"id": ks})
        else:
            rewrite_data_files_local(spark, tbl, target_file_rows=1000)
    from quokka_spark.sources.iceberg_local import _read_table_metadata
    ids = [s["snapshot-id"]
           for s in _read_table_metadata(tbl)["snapshots"]]
    state: Counter = Counter()
    for sid in ids:
        for r in qc.read_iceberg_changes(tbl, sid, sid).df.collect():
            state[r["id"]] += 1 if r["_change_type"] == "insert" else -1
        want = Counter(
            r["id"] for r in qc.read_iceberg(tbl, snapshot=sid)
            .df.collect())
        assert +state == want, f"diverged at snapshot {sid}"


def test_iceberg_v3_row_lineage_lifecycle(spark, qc, tmp_path):
    """Format-v3 row lineage (round 12, spec §Row Lineage): a v3
    table assigns every data file a stable explicit first_row_id
    range, stamps snapshot first-row-id and table next-row-id, and
    the reader serves _row_id = first_row_id + position and
    _last_updated_sequence_number = the file's data sequence. DV
    commits delete rows WITHOUT renumbering survivors; later commits
    (position deletes, appends) extend the manifest list, so prior
    files keep their ids, and new files allocate past the
    next-row-id mark; fv and foreign metadata keys survive non-DV
    commits (a v3 table is never re-stamped v2)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        _read_table_metadata, add_deletion_vectors,
        add_position_deletes, commit_snapshot,
        create_local_iceberg_table, read_iceberg_local)

    f1 = str(tmp_path / "f1.parquet")
    f2 = str(tmp_path / "f2.parquet")
    pq.write_table(pa.table({"k": list(range(10)),
                             "v": [float(i) for i in range(10)]}), f1)
    pq.write_table(pa.table({"k": list(range(100, 105)),
                             "v": [1.0] * 5}), f2)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[f1], [{"path": f1, "seq": 1}, f2]],
        schema_fields=[(1, "k", "long"), (2, "v", "double")],
        format_version=3,
        meta_extra={"properties": {"owner": "lineage-test"},
                    "table-uuid": "feedface" * 4})
    m = _read_table_metadata(tbl)
    assert m["format-version"] == 3
    assert m["next-row-id"] == 15
    assert [s.get("first-row-id") for s in m["snapshots"]] == [0, 10]
    rows = sorted((r["k"], r["_row_id"],
                   r["_last_updated_sequence_number"])
                  for r in read_iceberg_local(
                      spark, tbl, with_lineage=True).collect())
    assert [r[1] for r in rows] == list(range(15))
    assert all(r[2] == (1 if r[0] < 100 else 2) for r in rows)
    # plain reads are unchanged — no lineage columns leak
    plain = read_iceberg_local(spark, tbl)
    assert "_row_id" not in plain.columns

    # DV commit: survivors keep their ids, fv stays 3, mark carried
    add_deletion_vectors(tbl, {f1: [0, 1]})
    m2 = _read_table_metadata(tbl)
    assert m2["format-version"] == 3 and m2["next-row-id"] == 15
    rows2 = sorted((r["k"], r["_row_id"]) for r in read_iceberg_local(
        spark, tbl, with_lineage=True).collect())
    assert [r[1] for r in rows2] == list(range(2, 15))

    # non-DV commit + append: fv/uuid/properties survive, the new
    # file allocates [15, 17) past the mark, old ids stable
    f3 = str(tmp_path / "f3.parquet")
    pq.write_table(pa.table({"k": [200, 201], "v": [2.0, 2.0]}), f3)
    add_position_deletes(tbl, {f2: [0]})
    commit_snapshot(tbl, add_files=[f3])
    m3 = _read_table_metadata(tbl)
    assert m3["format-version"] == 3
    assert m3["next-row-id"] == 17
    assert m3["table-uuid"] == "feedface" * 4
    assert m3["properties"] == {"owner": "lineage-test"}
    rows3 = sorted((r["k"], r["_row_id"],
                    r["_last_updated_sequence_number"])
                   for r in read_iceberg_local(
                       spark, tbl, with_lineage=True).collect())
    assert [r[1] for r in rows3 if r[0] >= 200] == [15, 16]
    assert [r[1] for r in rows3 if r[0] < 100] == list(range(2, 10))
    assert [r[2] for r in rows3 if r[0] < 100] == [1] * 8


def test_iceberg_v3_lineage_inheritance_from_manifest(spark, qc,
                                                      tmp_path):
    """Foreign v3 tables may write null entry first_row_id for ADDED
    files (spec inheritance): the reader must derive first_row_id =
    manifest first_row_id + running record_count of preceding null-id
    data entries. Built by stripping the explicit ids this engine's
    writer emits for newly-added entries — the derived ids must equal
    the stripped ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        _manifest_entry_schema, _read_table_metadata,
        create_local_iceberg_table, read_iceberg_local)

    f1 = str(tmp_path / "f1.parquet")
    f2 = str(tmp_path / "f2.parquet")
    f3 = str(tmp_path / "f3.parquet")
    pq.write_table(pa.table({"k": list(range(7))}), f1)
    pq.write_table(pa.table({"k": list(range(100, 104))}), f2)
    pq.write_table(pa.table({"k": list(range(200, 203))}), f3)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[f1, f2], [{"path": f1, "seq": 1},
                         {"path": f2, "seq": 1}, f3]],
        schema_fields=[(1, "k", "long")], format_version=3)
    # strip the explicit first_row_id from entries ADDED in each
    # snapshot (f1+f2 in manifest 1, f3 in manifest 2) — carried
    # entries keep theirs, as real v3 writers do
    m = _read_table_metadata(tbl)
    added_per_manifest = {1: {f1, f2}, 2: {f3}}
    for snap in m["snapshots"]:
        _, mrows = read_container(snap["manifest-list"])
        for mf in mrows:
            if mf.get("content", 0) != 0:
                continue
            _, entries = read_container(mf["manifest_path"])
            sid = snap["snapshot-id"]
            for e in entries:
                if e["data_file"]["file_path"] in \
                        added_per_manifest.get(sid, set()):
                    assert e["data_file"]["first_row_id"] is not None
                    e["data_file"]["first_row_id"] = None
            write_container(mf["manifest_path"],
                            _manifest_entry_schema(None), entries,
                            extra_meta={"partition-spec-id": 0})
    rows = sorted((r["k"], r["_row_id"]) for r in read_iceberg_local(
        spark, tbl, with_lineage=True).collect())
    # snapshot 2: f1 [0,7) f2 [7,11) explicit carries, f3 inherits
    # manifest-2 first_row_id (11) + 0
    assert [r[1] for r in rows] == list(range(14)), rows


def test_iceberg_v3_fast_append_assigns_lineage(spark, qc, tmp_path):
    """A plain append on a v3 table assigns the new file an explicit
    row-id range off next-row-id and advances the mark, writing only
    one manifest, one manifest list and one metadata JSON."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        _read_table_metadata, commit_snapshot,
        create_local_iceberg_table, read_iceberg_local)

    f1 = str(tmp_path / "f1.parquet")
    f2 = str(tmp_path / "f2.parquet")
    pq.write_table(pa.table({"k": list(range(5))}), f1)
    pq.write_table(pa.table({"k": list(range(100, 103))}), f2)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[f1]], schema_fields=[(1, "k", "long")],
        format_version=3)
    before = len(os.listdir(os.path.join(tbl, "metadata")))
    commit_snapshot(tbl, add_files=[f2])
    after = len(os.listdir(os.path.join(tbl, "metadata")))
    # exactly manifest + list + metadata JSON
    assert after - before == 3
    m = _read_table_metadata(tbl)
    assert m["format-version"] == 3 and m["next-row-id"] == 8
    assert m["snapshots"][-1]["first-row-id"] == 5
    rows = sorted((r["k"], r["_row_id"]) for r in read_iceberg_local(
        spark, tbl, with_lineage=True).collect())
    assert [r[1] for r in rows] == list(range(8))


def test_iceberg_catalog_write_roundtrip(spark, qc, tmp_path,
                                         monkeypatch):
    """Round-12 (round-11 verdict #7): write_iceberg to a CATALOG
    table commits through pyiceberg — Spark stages the parquet
    distributed under the table's own location, add_files registers
    it (append), a delete-all + add_files transaction replaces it
    (overwrite) — and the catalog read path serves the rows back.
    Upserts refuse typed (pyiceberg's upsert is driver-side Arrow);
    without pyiceberg the typed package error stands."""
    loc = str(tmp_path / "warehouse" / "db.t")
    os.makedirs(loc)
    tables = _install_fake_pyiceberg(monkeypatch, {
        "db.t": {"location": loc, "files_at": {None: []},
                 "snapshots": [],
                 "schema": [("id", "long", 1), ("v", "double", 2)]}})

    df = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)],
                               "id long, v double")
    DataStream(qc, df).write_iceberg("db.t", catalog="default")
    spec = tables["db.t"].spec
    assert len(spec["add_files_calls"]) == 1
    staged = spec["add_files_calls"][0]
    assert staged and all(p.endswith(".parquet")
                          and p.startswith(loc) for p in staged)
    got = qc.read_iceberg("db.t")
    assert sorted(r["id"] for r in got.df.collect()) == [1, 2, 3]

    # append again: files accumulate
    DataStream(qc, df.where("id = 1")).write_iceberg(
        "db.t", catalog="default")
    assert sorted(r["id"] for r in
                  qc.read_iceberg("db.t").df.collect()) == [1, 1, 2, 3]

    # overwrite: one atomic delete-all + add transaction
    DataStream(qc, df.where("id >= 2")).write_iceberg(
        "db.t", catalog="default", mode="overwrite")
    assert spec.get("tx_deletes"), "overwrite must delete-all in a tx"
    assert sorted(r["id"] for r in
                  qc.read_iceberg("db.t").df.collect()) == [2, 3]

    # bare db.table identifier routes to the catalog without catalog=
    DataStream(qc, df.where("id = 1")).write_iceberg("db.t")
    assert sorted(r["id"] for r in
                  qc.read_iceberg("db.t").df.collect()) == [1, 2, 3]

    # MERGE upserts refuse typed on catalog tables
    with pytest.raises(NotImplementedError, match="upsert"):
        DataStream(qc, df).write_iceberg("db.t", catalog="default",
                                        mode="upsert", key=["id"])


def test_iceberg_catalog_write_partitioned(spark, qc, tmp_path,
                                           monkeypatch):
    """Round-13 (round-12 verdict #3): catalog writes to an
    IDENTITY-partitioned table stage VALUE-PURE hive files that KEEP
    the source column in their data — pyiceberg's add_files infers
    identity partition values from per-file column statistics (min
    must equal max), and a plain partitionBy stage would drop the
    column so every read-back null-fills. Transform partitions still
    refuse typed."""
    import pyarrow.parquet as pq

    loc = str(tmp_path / "warehouse" / "db.p")
    os.makedirs(loc)
    tables = _install_fake_pyiceberg(monkeypatch, {
        "db.p": {"location": loc, "files_at": {None: []},
                 "snapshots": [],
                 "schema": [("id", "long", 1), ("p", "string", 2),
                            ("v", "double", 3)],
                 "partition_fields": [
                     {"name": "p", "transform": "identity",
                      "source_id": 2, "field_id": 1000}]},
        "db.b": {"location": str(tmp_path / "db.b"),
                 "files_at": {None: []}, "snapshots": [],
                 "schema": [("id", "long", 1), ("p", "string", 2)],
                 "partition_fields": [
                     {"name": "p_bucket", "transform": "bucket[4]",
                      "source_id": 2, "field_id": 1000}]}})

    df = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "x", 3.0), (4, "z", 4.0)],
        "id long, p string, v double")
    DataStream(qc, df).write_iceberg("db.p", catalog="default")
    staged = tables["db.p"].spec["add_files_calls"][0]
    assert staged and all("__qs_hp_p__=" in f for f in staged)
    for f in staged:
        t = pq.read_table(f)
        # value-pure AND source column retained in the data
        assert "p" in t.column_names
        vals = set(t.column("p").to_pylist())
        assert len(vals) == 1
    # read-back through the catalog scan serves the real column
    got = {(r["id"], r["p"]) for r in
           qc.read_iceberg("db.p").df.collect()}
    assert got == {(1, "x"), (2, "y"), (3, "x"), (4, "z")}

    # missing partition source column → typed error
    with pytest.raises(ValueError, match="partition source"):
        DataStream(qc, df.drop("p")).write_iceberg(
            "db.p", catalog="default")

    # transform-partitioned tables keep the typed refusal
    with pytest.raises(NotImplementedError, match="bucket"):
        DataStream(qc, df.drop("v")).write_iceberg(
            "db.b", catalog="default")


def test_iceberg_catalog_write_without_pyiceberg_refuses(spark, qc):
    """No pyiceberg installed → catalog writes refuse with the typed
    package pointer (never a silent local-directory table named
    'db.t')."""
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(RuntimeError, match="pyiceberg"):
        DataStream(qc, df).write_iceberg("db.t", catalog="default")


def test_iceberg_v3_compaction_preserves_row_lineage(spark, qc,
                                                     tmp_path):
    """Round-12: rewrite_data_files_local on a format-v3 table
    MATERIALIZES _row_id / _last_updated_sequence_number into the
    compacted files (spec §Row Lineage — compaction rearranges rows,
    it must not re-identify them or fake an update). After
    compaction: lineage reads serve the ORIGINAL ids and sequence
    numbers (materialized wins over the fresh file-range
    arithmetic), DV-deleted rows stay gone, and PLAIN reads never
    surface the reserved columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        add_deletion_vectors, create_local_iceberg_table,
        read_iceberg_local, rewrite_data_files_local)

    f1 = str(tmp_path / "f1.parquet")
    f2 = str(tmp_path / "f2.parquet")
    pq.write_table(pa.table({"k": list(range(10)),
                             "v": [float(i) for i in range(10)]}), f1)
    pq.write_table(pa.table({"k": list(range(100, 105)),
                             "v": [1.0] * 5}), f2)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[f1], [{"path": f1, "seq": 1}, f2]],
        schema_fields=[(1, "k", "long"), (2, "v", "double")],
        format_version=3)
    add_deletion_vectors(tbl, {f1: [0, 1]})
    before = sorted((r["k"], r["_row_id"],
                     r["_last_updated_sequence_number"])
                    for r in read_iceberg_local(
                        spark, tbl, with_lineage=True).collect())

    rewrite_data_files_local(spark, tbl, target_file_rows=7)

    plain = read_iceberg_local(spark, tbl)
    assert "_row_id" not in plain.columns
    assert sorted(r["k"] for r in plain.collect()) == \
        [r[0] for r in before]
    after = sorted((r["k"], r["_row_id"],
                    r["_last_updated_sequence_number"])
                   for r in read_iceberg_local(
                       spark, tbl, with_lineage=True).collect())
    assert after == before, (before, after)


def test_iceberg_v3_initial_default_values(spark, qc, tmp_path):
    """Round-12 (spec v3 §Default values): a top-level primitive
    column with ``initial-default`` reads as the DEFAULT from data
    files written before the column existed, while files that carry
    the column serve their stored values — including genuinely-null
    stored values (a blanket coalesce would be wrong). Defaults on
    nested fields keep the typed refusal."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        _read_table_metadata, create_local_iceberg_table,
        read_iceberg_local)

    old = str(tmp_path / "old.parquet")     # pre-evolution: no 'tag'
    new = str(tmp_path / "new.parquet")     # carries 'tag', one null
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), old)
    pq.write_table(pa.table({"k": pa.array([3, 4], pa.int64()),
                             "tag": pa.array(["x", None],
                                             pa.string())}), new)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[old], [{"path": old, "seq": 1}, new]],
        schema_fields=[(1, "k", "long"), (2, "tag", "string")],
        format_version=3)
    # stamp the default into the published schema (the fixture
    # builder has no evolution-with-default API — patch like a
    # foreign writer would have written it)
    meta_dir = os.path.join(tbl, "metadata")
    mfile = sorted(f for f in os.listdir(meta_dir)
                   if f.endswith(".metadata.json"))[-1]
    with open(os.path.join(meta_dir, mfile)) as fh:
        m = _json.load(fh)
    for f in m["schemas"][0]["fields"]:
        if f["name"] == "tag":
            f["initial-default"] = "legacy"
            f["write-default"] = "fresh"
    with open(os.path.join(meta_dir, mfile), "w") as fh:
        fh.write(_json.dumps(m))

    rows = sorted((r["k"], r["tag"]) for r in read_iceberg_local(
        spark, tbl).collect())
    assert rows == [(1, "legacy"), (2, "legacy"),
                    (3, "x"), (4, None)], rows
    # filters evaluate over the defaulted values
    got = read_iceberg_local(spark, tbl,
                             scan_filter="tag = 'legacy'")
    assert sorted(r["k"] for r in got.collect()) == [1, 2]

    # struct SUB-FIELD defaults are SERVED since round 13
    # (test_iceberg_v3_nested_struct_defaults); the remaining typed
    # refusals: a default on a non-primitive-TYPED field, and a
    # default anywhere under a list/map
    for f in m["schemas"][0]["fields"]:
        if f["name"] == "tag":
            f.pop("initial-default"), f.pop("write-default")
    import copy as _copy
    m_bad = _copy.deepcopy(m)
    m_bad["schemas"][0]["fields"].append({
        "id": 9, "name": "s", "required": False,
        "initial-default": {"inner": "nope"},
        "type": {"type": "struct", "fields": [
            {"id": 10, "name": "inner", "required": False,
             "type": "string"}]}})
    with open(os.path.join(meta_dir, mfile), "w") as fh:
        fh.write(_json.dumps(m_bad))
    with pytest.raises(NotImplementedError, match="non-primitive"):
        _read_table_metadata(tbl)
    m_bad = _copy.deepcopy(m)
    m_bad["schemas"][0]["fields"].append({
        "id": 9, "name": "arr", "required": False,
        "type": {"type": "list", "element-id": 10,
                 "element-required": False,
                 "element": {"type": "struct", "fields": [
                     {"id": 11, "name": "inner", "required": False,
                      "type": "string",
                      "initial-default": "nope"}]}}})
    with open(os.path.join(meta_dir, mfile), "w") as fh:
        fh.write(_json.dumps(m_bad))
    with pytest.raises(NotImplementedError, match="list/map"):
        _read_table_metadata(tbl)


def test_iceberg_v3_write_default_divergence_gate(spark, qc,
                                                  tmp_path):
    """Round-12 write-side defaults honesty: committing a data file
    that omits a column whose write-default DIFFERS from its
    initial-default refuses (the rows would read back as the wrong
    default — this engine registers files in place and cannot fill
    them); agreeing defaults (the ADD COLUMN ... DEFAULT shape) and
    files that carry the column commit freely."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        commit_snapshot, create_local_iceberg_table,
        read_iceberg_local)

    full = str(tmp_path / "full.parquet")
    bare = str(tmp_path / "bare.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()),
                             "tag": pa.array(["a"])}), full)
    pq.write_table(pa.table({"k": pa.array([2], pa.int64())}), bare)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[full]],
        schema_fields=[(1, "k", "long"), (2, "tag", "string")],
        format_version=3)

    def set_defaults(init, write):
        mdir = os.path.join(tbl, "metadata")
        mfile = sorted(f for f in os.listdir(mdir)
                       if f.endswith(".metadata.json"))[-1]
        with open(os.path.join(mdir, mfile)) as fh:
            m = _json.load(fh)
        for f in m["schemas"][0]["fields"]:
            if f["name"] == "tag":
                f["initial-default"] = init
                f["write-default"] = write
        with open(os.path.join(mdir, mfile), "w") as fh:
            fh.write(_json.dumps(m))

    # diverging defaults + a file omitting the column → refuse
    set_defaults("old", "new")
    with pytest.raises(NotImplementedError, match="write-default"):
        commit_snapshot(tbl, add_files=[bare])
    # the file carrying the column commits under diverging defaults
    commit_snapshot(tbl, add_files=[full])
    # agreeing defaults: the omitting file commits and reads as the
    # shared default
    set_defaults("same", "same")
    commit_snapshot(tbl, add_files=[bare])
    rows = sorted((r["k"], r["tag"]) for r in read_iceberg_local(
        spark, tbl).collect())
    assert (2, "same") in rows


def test_iceberg_v3_upsert_preserves_row_ids(spark, qc, tmp_path):
    """Round-12 (spec §Row Lineage, MERGE shape): an upsert on a v3
    lineage table keeps the _row_id of each UPDATED row (materialized
    into the rewritten batch file) while its
    _last_updated_sequence_number advances to the merge snapshot;
    genuine inserts take fresh ids from the new file's range."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        _read_table_metadata, create_local_iceberg_table,
        read_iceberg_local, upsert_iceberg_local)

    f1 = str(tmp_path / "f1.parquet")
    pq.write_table(pa.table({"k": list(range(5)),
                             "v": [float(i) for i in range(5)]}), f1)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[f1]],
        schema_fields=[(1, "k", "long"), (2, "v", "double")],
        format_version=3)
    # update k=2 and k=4, insert k=100
    upsert_iceberg_local(
        spark, tbl,
        spark.createDataFrame([(2, 20.0), (4, 40.0), (100, 1.0)],
                              "k long, v double"), ["k"])
    rows = {r["k"]: (r["v"], r["_row_id"],
                     r["_last_updated_sequence_number"])
            for r in read_iceberg_local(
                spark, tbl, with_lineage=True).collect()}
    # untouched rows: original ids, original seq
    assert rows[0] == (0.0, 0, 1) and rows[1] == (1.0, 1, 1) \
        and rows[3] == (3.0, 3, 1)
    # updated rows: ORIGINAL ids, NEW sequence
    assert rows[2][0] == 20.0 and rows[2][1] == 2 and rows[2][2] == 2
    assert rows[4][0] == 40.0 and rows[4][1] == 4 and rows[4][2] == 2
    # insert: a fresh id past the original range, new sequence
    assert rows[100][1] >= 5 and rows[100][2] == 2
    # the mark advanced past the merge file's allocation
    assert _read_table_metadata(tbl)["next-row-id"] > rows[100][1]
    # the change stream never surfaces the materialized reserved
    # columns the merge wrote into its files
    from quokka_spark.sources.iceberg_local import read_iceberg_changes
    sids = [s["snapshot-id"] for s in
            _read_table_metadata(tbl)["snapshots"]]
    ch = read_iceberg_changes(spark, tbl, sids[-1], sids[-1])
    assert "_row_id" not in ch.columns
    post = {r["k"]: r["v"] for r in ch.collect()
            if r["_change_type"] in ("insert", "update_postimage")}
    assert post == {2: 20.0, 4: 40.0, 100: 1.0}


def test_iceberg_changes_serve_initial_defaults(spark, qc, tmp_path):
    """Round-12 review finding: the change stream must serve v3
    initial-defaults exactly like the snapshot read — the old
    metadata-load gate refused defaulted tables outright, and
    relaxing it for snapshot reads silently null-filled the CDF
    path. Also: duplicate BATCH keys in a lineage upsert never stamp
    one preserved row id on several rows."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        _read_table_metadata, create_local_iceberg_table,
        read_iceberg_changes, read_iceberg_local,
        upsert_iceberg_local)

    old = str(tmp_path / "old.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), old)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[old]],
        schema_fields=[(1, "k", "long"), (2, "tag", "string")],
        format_version=3)
    mdir = os.path.join(tbl, "metadata")
    mfile = sorted(f for f in os.listdir(mdir)
                   if f.endswith(".metadata.json"))[-1]
    with open(os.path.join(mdir, mfile)) as fh:
        m = _json.load(fh)
    for f in m["schemas"][0]["fields"]:
        if f["name"] == "tag":
            f["initial-default"] = "legacy"
    with open(os.path.join(mdir, mfile), "w") as fh:
        fh.write(_json.dumps(m))

    sids = [s["snapshot-id"] for s in
            _read_table_metadata(tbl)["snapshots"]]
    ch = read_iceberg_changes(spark, tbl, sids[0], sids[0])
    rows = sorted((r["k"], r["tag"], r["_change_type"])
                  for r in ch.collect())
    assert rows == [(1, "legacy", "insert"), (2, "legacy", "insert")]

    # duplicate batch keys: both rows land, NEITHER carries the
    # preserved id (fresh file-range ids instead — no duplicates)
    upsert_iceberg_local(
        spark, tbl,
        spark.createDataFrame([(2, "a"), (2, "b"), (9, "c")],
                              "k long, tag string"), ["k"])
    out = [(r["k"], r["tag"], r["_row_id"]) for r in
           read_iceberg_local(spark, tbl, with_lineage=True).collect()]
    rids = [r[2] for r in out]
    assert len(rids) == len(set(rids)) == 4, out     # all ids unique
    assert {r[0] for r in out} == {1, 2, 9}
    assert [r for r in out if r[0] == 1][0][2] == 0  # untouched keeps 0


def test_iceberg_v3_nested_struct_defaults(spark, qc, tmp_path):
    """Round-13 (round-12 verdict #5; spec v3 §Default values applies
    recursively): a primitive STRUCT sub-field added post-hoc with an
    ``initial-default`` reads as the default from files written
    before the sub-field existed — spliced into the struct with
    withField under the same per-file presence split — while files
    carrying it serve stored values, genuinely-null included; a row
    whose WHOLE struct is null stays null (the struct field itself
    declares no default). Hash-checked against a DuckDB oracle
    building the same struct; nested write-defaults diverging from
    the initial-default refuse typed."""
    import json as _json

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        _read_table_metadata, create_local_iceberg_table,
        read_iceberg_local)

    struct_old = pa.struct([("a", pa.int64())])
    struct_new = pa.struct([("a", pa.int64()), ("b", pa.string())])
    old = str(tmp_path / "old.parquet")   # pre-evolution: s has no b
    new = str(tmp_path / "new.parquet")   # carries s.b, one null
    pq.write_table(pa.table({
        "k": pa.array([1, 2, 3], pa.int64()),
        "s": pa.array([{"a": 10}, {"a": 20}, None], struct_old)}),
        old)
    pq.write_table(pa.table({
        "k": pa.array([4, 5], pa.int64()),
        "s": pa.array([{"a": 40, "b": "x"},
                       {"a": 50, "b": None}], struct_new)}), new)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(
        tbl, [[old], [{"path": old, "seq": 1}, new]],
        schema_fields=[
            (1, "k", "long"),
            (2, "s", {"type": "struct", "fields": [
                {"id": 3, "name": "a", "required": False,
                 "type": "long"},
                {"id": 4, "name": "b", "required": False,
                 "type": "string"}]})],
        format_version=3)
    meta_dir = os.path.join(tbl, "metadata")
    mfile = sorted(f for f in os.listdir(meta_dir)
                   if f.endswith(".metadata.json"))[-1]
    with open(os.path.join(meta_dir, mfile)) as fh:
        m = _json.load(fh)
    for f in m["schemas"][0]["fields"]:
        if f["name"] == "s":
            for sub in f["type"]["fields"]:
                if sub["name"] == "b":
                    sub["initial-default"] = "LEGACY"
    with open(os.path.join(meta_dir, mfile), "w") as fh:
        fh.write(_json.dumps(m))

    got = sorted(
        (r["k"],
         None if r["s"] is None else (r["s"]["a"], r["s"]["b"]))
        for r in read_iceberg_local(spark, tbl).collect())
    # DuckDB oracle builds the same evolved struct independently
    want = sorted(
        (r[0], None if r[1] is None else (r[1]["a"], r[1]["b"]))
        for r in duckdb.connect().execute(f"""
            WITH pre AS (
              SELECT k, CASE WHEN s IS NULL THEN NULL
                  ELSE struct_pack(a := s.a, b := 'LEGACY') END AS s
              FROM read_parquet('{old}')),
            post AS (SELECT k, s FROM read_parquet('{new}'))
            SELECT k, s FROM pre UNION ALL SELECT k, s FROM post
        """).fetchall())
    assert got == want, (got, want)
    # filters evaluate over the spliced values
    legacy = read_iceberg_local(spark, tbl,
                                scan_filter="s.b = 'LEGACY'")
    assert sorted(r["k"] for r in legacy.collect()) == [1, 2]

    # a nested write-default DIVERGING from the initial-default:
    # reads keep serving the initial-default (the round-12 top-level
    # contract), but COMMITTING a file that omits the sub-field
    # refuses typed — rows would read back as the wrong default
    from quokka_spark.sources.iceberg_local import commit_snapshot
    for f in m["schemas"][0]["fields"]:
        if f["name"] == "s":
            for sub in f["type"]["fields"]:
                if sub["name"] == "b":
                    sub["write-default"] = "FRESH"
    with open(os.path.join(meta_dir, mfile), "w") as fh:
        fh.write(_json.dumps(m))
    _read_table_metadata(tbl)   # reads stay open
    another = str(tmp_path / "another.parquet")
    pq.write_table(pa.table({
        "k": pa.array([9], pa.int64()),
        "s": pa.array([{"a": 90}], struct_old)}), another)
    with pytest.raises(NotImplementedError, match="write-default"):
        commit_snapshot(tbl, add_files=[another])
    # a file CARRYING the sub-field commits freely
    ok = str(tmp_path / "ok.parquet")
    pq.write_table(pa.table({
        "k": pa.array([9], pa.int64()),
        "s": pa.array([{"a": 90, "b": "FRESH"}], struct_new)}), ok)
    commit_snapshot(tbl, add_files=[ok])
    got2 = {r["k"]: (r["s"]["a"], r["s"]["b"])
            for r in read_iceberg_local(spark, tbl).collect()
            if r["k"] == 9}
    assert got2 == {9: (90, "FRESH")}


def test_iceberg_catalog_read_typed_schema(spark, qc, tmp_path,
                                           monkeypatch):
    """Round-13 review follow-up: the catalog-planned scan maps
    pyiceberg types to a REAL Spark read schema — structs
    recursively, decimals by precision/scale — instead of the old
    silent StringType fallback (which made Spark reject the scan
    with an opaque parquet mismatch). Unmapped types (list/map)
    refuse typed."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    f1 = str(tmp_path / "t1.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "s": pa.array([{"a": 10, "b": "x"}, None],
                      pa.struct([("a", pa.int64()),
                                 ("b", pa.string())])),
        "d": pa.array([decimal.Decimal("1.25"),
                       decimal.Decimal("2.50")],
                      pa.decimal128(10, 2))}), f1)
    _install_fake_pyiceberg(monkeypatch, {
        "db.typed": {"files_at": {None: [f1]}, "snapshots": [],
                     "schema": [
                         ("id", "long", 1),
                         ("s", {"struct": [("a", "long"),
                                           ("b", "string")]}, 2),
                         ("d", "decimal(10, 2)", 3)]},
        "db.listy": {"files_at": {None: [f1]}, "snapshots": [],
                     "schema": [("id", "long", 1),
                                ("arr", "list<string>", 2)]}})
    got = {r["id"]: (None if r["s"] is None
                     else (r["s"]["a"], r["s"]["b"]), r["d"])
           for r in qc.read_iceberg("db.typed").df.collect()}
    assert got == {1: ((10, "x"), decimal.Decimal("1.25")),
                   2: (None, decimal.Decimal("2.50"))}
    with pytest.raises(NotImplementedError, match="list<string>"):
        qc.read_iceberg("db.listy").df.collect()


def test_iceberg_catalog_read_serves_defaults(spark, qc, tmp_path,
                                              monkeypatch):
    """Round-13: the catalog-planned scan SERVES v3 primitive
    initial-defaults — top-level AND struct sub-fields — through the
    same per-file footer-presence split as the local-directory
    reader (this was a blanket typed refusal). Files carrying the
    column serve stored values, genuinely-null included; list/map
    defaults keep the typed refusal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    old = str(tmp_path / "old.parquet")   # predates tag AND s.b
    new = str(tmp_path / "new.parquet")
    pq.write_table(pa.table({
        "k": pa.array([1, 2], pa.int64()),
        "s": pa.array([{"a": 10}, None],
                      pa.struct([("a", pa.int64())]))}), old)
    pq.write_table(pa.table({
        "k": pa.array([3, 4], pa.int64()),
        "tag": pa.array(["x", None], pa.string()),
        "s": pa.array([{"a": 30, "b": "stored"},
                       {"a": 40, "b": None}],
                      pa.struct([("a", pa.int64()),
                                 ("b", pa.string())]))}), new)
    _install_fake_pyiceberg(monkeypatch, {
        "db.defs": {"files_at": {None: [old, new]}, "snapshots": [],
                    "schema": [
                        ("k", "long", 1),
                        ("tag", "string", 2,
                         {"initial_default": "legacy"}),
                        ("s", {"struct": [
                            ("a", "long"),
                            ("b", "string",
                             {"initial_default": "NEW"})]}, 3)]},
        "db.listdef": {"files_at": {None: [old]}, "snapshots": [],
                       "schema": [
                           ("k", "long", 1),
                           ("arr", "list<string>", 2,
                            {"initial_default": "nope"})]}})
    got = {r["k"]: (r["tag"],
                    None if r["s"] is None
                    else (r["s"]["a"], r["s"]["b"]))
           for r in qc.read_iceberg("db.defs").df.collect()}
    assert got == {1: ("legacy", (10, "NEW")), 2: ("legacy", None),
                   3: ("x", (30, "stored")), 4: (None, (40, None))}
    with pytest.raises(NotImplementedError, match="list/map"):
        qc.read_iceberg("db.listdef").df.collect()


def _metadata_bytes(tbl):
    """{path: bytes} of every file under the table's metadata/ except
    version-hint.text (the one file a commit may overwrite)."""
    out = {}
    for dp, _, fs in os.walk(os.path.join(tbl, "metadata")):
        for f in fs:
            if f != "version-hint.text":
                with open(os.path.join(dp, f), "rb") as fh:
                    out[os.path.join(dp, f)] = fh.read()
    return out


def _rows_by_snapshot(spark, tbl):
    """{snapshot id: sorted (k, v) rows} for every snapshot of the
    table, read through ONE union so the check costs one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    from quokka_spark.sources.iceberg_local import (_read_table_metadata,
                                                    read_iceberg_local)
    ids = [s["snapshot-id"]
           for s in _read_table_metadata(tbl)["snapshots"]]
    df = reduce(lambda a, b: a.unionByName(b), [
        read_iceberg_local(spark, tbl, snapshot_id=s)
        .select("k", "v", F.lit(s).alias("sid")) for s in ids])
    got = {s: [] for s in ids}
    for r in df.collect():
        got[r["sid"]].append((r["k"], r["v"]))
    return {s: sorted(v) for s, v in got.items()}


def test_iceberg_commits_leave_history_untouched(spark, tmp_path):
    """Every commit EXTENDS the manifest list: on a 12-snapshot table,
    an equality delete, a position delete, an upsert, a first deletion
    vector (the v2 → v3 upgrade), a DV superseding it and a compaction
    each leave every metadata file that existed before (all but
    version-hint.text) byte-identical, and every older snapshot reads
    the same rows as before the commit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import (
        add_deletion_vectors, add_equality_deletes, add_position_deletes,
        append_snapshot, rewrite_data_files_local, upsert_iceberg_local)
    files = []
    for i in range(12):
        f = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"k": [i * 10 + j for j in range(5)],
                                 "v": [float(i)] * 5}), f)
        files.append(f)
    tbl = str(tmp_path / "tbl")
    create_local_iceberg_table(tbl, [[files[0]]],
                               schema_fields=[(1, "k", "long"),
                                              (2, "v", "double")])
    for f in files[1:]:
        append_snapshot(tbl, [f])
    steps = {
        "equality delete": lambda: add_equality_deletes(
            tbl, {"k": [1, 11]}, [1]),
        "position delete": lambda: add_position_deletes(
            tbl, {files[2]: [0, 1]}),
        "upsert": lambda: upsert_iceberg_local(
            spark, tbl, spark.createDataFrame(
                [(30, 9.5), (999, 9.9)], "k long, v double"), ["k"]),
        "first DV": lambda: add_deletion_vectors(tbl, {files[4]: [0]}),
        "superseding DV": lambda: add_deletion_vectors(
            tbl, {files[4]: [2]}),
        "compaction": lambda: rewrite_data_files_local(spark, tbl),
    }
    rows = _rows_by_snapshot(spark, tbl)
    for name, step in steps.items():
        files_before, rows_before = _metadata_bytes(tbl), rows
        step()
        after = _metadata_bytes(tbl)
        assert sorted(p for p, b in files_before.items()
                      if after.get(p) != b) == [], name
        rows = _rows_by_snapshot(spark, tbl)
        assert {s: rows[s] for s in rows_before} == rows_before, name
    want = {i * 10 + j: float(i) for i in range(12) for j in range(5)}
    for k in (1, 11, 20, 21, 40, 42):
        del want[k]
    want.update({30: 9.5, 999: 9.9})
    assert rows[max(rows)] == sorted(want.items())


def test_iceberg_multispec_deletion_vectors(spark, qc, tmp_path):
    """Deletion vectors on a table with EVOLVED partition specs: the
    first DV upgrades the table to v3 by copying each current data
    manifest under its own spec (partition records intact, so
    per-spec pruning still holds), a second DV on another spec's file
    applies too, and the pre-DV snapshot reads as before."""
    import pandas as pd

    from quokka_spark.sources.iceberg_local import (
        _read_table_metadata, add_deletion_vectors, read_iceberg_local)
    fa = str(tmp_path / "a.parquet")
    fb = str(tmp_path / "b.parquet")
    pd.DataFrame({"id": [1, 2], "p": ["x", "x"]}).to_parquet(fa)
    pd.DataFrame({"id": [3, 4], "p": ["y", "y"]}).to_parquet(fb)
    tbl = str(tmp_path / "evo")
    pfield = {"name": "p", "type": "string", "source-id": 2,
              "transform": "identity"}
    create_local_iceberg_table(
        tbl,
        [{"data": [{"path": fa, "partition": {"p": "x"}}], "spec_id": 0},
         {"data": [{"path": fb, "partition": {"p": "y"}}], "spec_id": 1}],
        schema_fields=[(1, "id", "long"), (2, "p", "string")],
        partition_specs=[{"spec-id": 0, "fields": [
                              {**pfield, "field-id": 1000}]},
                         {"spec-id": 1, "fields": [
                              {**pfield, "field-id": 1001}]}])
    # snapshot 2 spans both specs, like a real evolved table
    meta_dir = os.path.join(tbl, "metadata")
    _, rows1 = read_container(os.path.join(meta_dir, "snap-1.avro"))
    _, rows2 = read_container(os.path.join(meta_dir, "snap-2.avro"))
    write_container(os.path.join(meta_dir, "snap-2.avro"),
                    _MANIFEST_FILE_SCHEMA, rows1 + rows2)

    def ids(**kw):
        return sorted(r["id"] for r in qc.read_iceberg(tbl, **kw)
                      .df.collect())
    add_deletion_vectors(tbl, {fa: [0]})
    assert _read_table_metadata(tbl)["format-version"] == 3
    assert ids() == [2, 3, 4]
    dfx = qc.read_iceberg(tbl, partition_filter="p = 'x'").df
    assert [r["id"] for r in dfx.collect()] == [2]
    assert len(dfx.inputFiles()) == 1
    add_deletion_vectors(tbl, {fb: [1]})
    assert ids() == [2, 3]
    assert ids(snapshot=2) == [1, 2, 3, 4]
    # the upgrade gave every live row a distinct row id
    rids = [r["_row_id"] for r in read_iceberg_local(
        spark, tbl, with_lineage=True).collect()]
    assert None not in rids and len(set(rids)) == 2


def test_iceberg_commit_on_v1_inline_manifest_snapshot(qc, tmp_path):
    """A hand-written format-v1 table whose snapshot lists its
    manifests INLINE (``manifests``, no manifest-list file): a commit
    lists those manifests as the prior rows of its new manifest list
    and stamps format-version 2 (the list shape it writes); the v1
    snapshot still reads, and its manifest is left untouched."""
    import json as _json

    import pandas as pd

    from quokka_spark.sources.iceberg_local import (_read_table_metadata,
                                                    add_position_deletes,
                                                    append_snapshot)
    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    pd.DataFrame({"id": range(0, 5)}).to_parquet(a)
    pd.DataFrame({"id": range(5, 10)}).to_parquet(b)
    tbl = str(tmp_path / "v1")
    meta_dir = os.path.join(tbl, "metadata")
    os.makedirs(meta_dir)
    m1 = os.path.join(meta_dir, "m1.avro")
    write_container(m1, _MANIFEST_ENTRY_SCHEMA, [
        {"status": 1, "snapshot_id": 1, "data_file": {
            "content": 0, "file_path": a, "file_format": "PARQUET",
            "record_count": 5, "file_size_in_bytes": os.path.getsize(a)}}])
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        _json.dump({"format-version": 1, "location": tbl,
                    "last-column-id": 1,
                    "schema": {"type": "struct", "fields": [
                        {"id": 1, "name": "id", "required": False,
                         "type": "long"}]},
                    "partition-spec": [], "current-snapshot-id": 1,
                    "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1000,
                                   "manifests": [m1],
                                   "summary": {"operation": "append"}}]},
                   fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    before = _metadata_bytes(tbl)

    def ids(**kw):
        return sorted(r["id"] for r in qc.read_iceberg(tbl, **kw)
                      .df.collect())
    assert ids() == list(range(5))
    s2 = append_snapshot(tbl, [b])
    assert ids() == list(range(10))
    add_position_deletes(tbl, {a: [0]})
    assert ids() == list(range(1, 10))
    assert ids(snapshot=1) == list(range(5))
    assert ids(snapshot=s2) == list(range(10))
    assert _read_table_metadata(tbl)["format-version"] == 2
    after = _metadata_bytes(tbl)
    assert all(after[p] == b for p, b in before.items())
