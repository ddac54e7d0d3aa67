"""The one Delta snapshot fold (sources/delta_local._snapshot).

Every reader and writer rebuilds table state through one fold: one
log listing, one read of one checkpoint candidate, one parse of each
tail commit. Pinned here: the traffic of a read, of an append and of
the sink handshake on a checkpointed table; writers committing at the
version they read plus one, so a commit that lands meanwhile
conflicts instead of being built over; an ast guard that keeps
checkpoint reads inside the fold, and one that keeps every Delta
data-file read inside the one scan.
"""
import ast
import os
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "quokka_spark"


def _count_log_traffic(monkeypatch):
    """Count log listings and checkpoint-file reads (with the columns
    asked for) on the delta_local module."""
    from quokka_spark.sources import delta_local as dl
    seen = {"listings": 0, "reads": []}
    scan, rows = dl._scan_log, dl._checkpoint_action_rows

    def counted_scan(table):
        seen["listings"] += 1
        return scan(table)

    def counted_rows(path, columns=None):
        seen["reads"].append((os.path.basename(path), columns))
        return rows(path, columns)

    monkeypatch.setattr(dl, "_scan_log", counted_scan)
    monkeypatch.setattr(dl, "_checkpoint_action_rows", counted_rows)
    return seen


def test_one_listing_and_one_checkpoint_read_per_call(spark, tmp_path,
                                                       monkeypatch):
    """On a checkpointed table whose covered commits are cleaned up, a
    read and a non-checkpointing append each list the log once and
    read the checkpoint file once; the sink handshake lists once and
    reads no add column."""
    from quokka_spark.sources import delta_local as dl
    tbl = str(tmp_path / "t")
    dl.write_delta_local(spark.range(0, 3).coalesce(1), tbl)
    dl.write_delta_local(spark.range(3, 6).coalesce(1), tbl,
                         txn=("app", 1))
    cpv = dl.write_checkpoint_local(tbl)
    for v in range(cpv + 1):
        os.unlink(dl._version_path(tbl, v))
    dl.write_delta_local(spark.range(6, 9).coalesce(1), tbl,
                         txn=("app", 2))
    checkpoint = f"{cpv:020d}.checkpoint.parquet"

    seen = _count_log_traffic(monkeypatch)
    df = dl.read_delta_local(spark, tbl)
    assert seen["listings"] == 1
    assert [p for p, _ in seen["reads"]] == [checkpoint]
    assert sorted(r["id"] for r in df.collect()) == list(range(9))

    seen = _count_log_traffic(monkeypatch)
    v = dl.write_delta_local(spark.range(9, 12).coalesce(1), tbl)
    assert v % dl.CHECKPOINT_INTERVAL_DEFAULT != 0   # no auto-checkpoint
    assert seen["listings"] == 1
    assert [p for p, _ in seen["reads"]] == [checkpoint]

    seen = _count_log_traffic(monkeypatch)
    assert dl.last_txn_version(tbl, "app") == 2
    assert seen["listings"] == 1
    assert seen["reads"], "the marks live in the checkpoint"
    assert all(cols is not None and "add" not in cols
               for _, cols in seen["reads"]), seen["reads"]


def test_upsert_conflicts_with_a_commit_landed_meanwhile(spark, qc,
                                                         tmp_path,
                                                         monkeypatch):
    """A deletion-vector delete lands while an upsert rewrites the
    same file. The upsert commits at the version it read plus one, so
    it refuses with a commit conflict instead of committing over the
    delete and bringing the deleted row back."""
    from quokka_spark.sources import delta_local as dl
    tbl = str(tmp_path / "t")
    dl.write_delta_local(
        spark.createDataFrame([(i, float(i)) for i in range(5)],
                              "id long, v double").coalesce(1), tbl)
    f = qc.read_delta(tbl).df.inputFiles()[0].removeprefix("file:")
    prepare = dl._prepare_write_batch

    def delete_meanwhile(df, meta, allocate=True):
        dl.delete_rows_delta_local(tbl, {f: [4]})      # the row id=4
        return prepare(df, meta, allocate)

    monkeypatch.setattr(dl, "_prepare_write_batch", delete_meanwhile)
    with pytest.raises(FileExistsError, match="commit conflict"):
        dl.upsert_delta_local(
            spark, tbl,
            spark.createDataFrame([(0, 9.0)], "id long, v double"), ["id"])
    monkeypatch.undo()
    assert sorted(r["id"] for r in qc.read_delta(tbl).df.collect()) \
        == [0, 1, 2, 3]


def test_checkpoint_reads_only_inside_the_fold():
    """Checkpoint files are read only by the fold: _snapshot alone
    calls _read_checkpoint, which alone calls _checkpoint_action_rows.
    A second replay routine would be a second caller."""
    allowed = {"_read_checkpoint": {"sources/delta_local.py:_snapshot"},
               "_checkpoint_action_rows":
                   {"sources/delta_local.py:_read_checkpoint"}}
    found = {name: set() for name in allowed}
    for rel in ("sources/delta_local.py", "streaming/delta_source.py"):
        tree = ast.parse((PKG / rel).read_text())
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                name = (node.id if isinstance(node, ast.Name)
                        else node.attr if isinstance(node, ast.Attribute)
                        else None)
                if name in found:
                    found[name].add(f"{rel}:{owner}")
    assert found == allowed


def test_one_data_file_scan():
    """Inside delta_local.py, Spark reads parquet in one function,
    _scan_files, and only it applies deletion vectors and rejoins
    partition values: the snapshot read, the upsert, the DV-delete
    change files and the change feed all call it. A second scan
    would show up here."""
    tree = ast.parse((PKG / "sources/delta_local.py").read_text())
    readers, callers = set(), {"_apply_deletion_vectors": set(),
                               "_partition_values_frame": set()}
    for top in tree.body:
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "parquet" \
                    and any(isinstance(n, ast.Attribute)
                            and n.attr == "read"
                            for n in ast.walk(f.value)):
                readers.add(top.name)
            if getattr(f, "id", None) in callers:
                callers[f.id].add(top.name)
    assert readers == {"_scan_files"}
    assert callers == {"_apply_deletion_vectors": {"_scan_files"},
                       "_partition_values_frame": {"_scan_files"}}
    defs = {t.name for t in tree.body if isinstance(t, ast.FunctionDef)}
    assert "_id_mode_scan" not in defs
