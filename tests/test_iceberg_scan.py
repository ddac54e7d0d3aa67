"""The one Iceberg data scan, equality-delete join and snapshot diff
(sources/iceberg_local.py).

Every Iceberg reader builds its data scans through ``_scan_data``,
reads equality-delete files through ``_eq_deletes_df`` (one frame and
one join per equality-column set, however many delete commits) and
compares a snapshot with its parent through ``_snapshot_diff``.
Pinned here: the driver traffic of a snapshot read and of a change
range, and an ast guard that keeps each idea in one function.
"""
import ast
import pathlib

from conftest import jobs_run_by

PKG = pathlib.Path(__file__).resolve().parent.parent / "quokka_spark"


def _keyed_table(spark, tmp_path, n=100):
    """A typed (id long, v double) table over one n-row data file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources.iceberg_local import \
        create_local_iceberg_table
    base = str(tmp_path / "base.parquet")
    pq.write_table(pa.table({"id": pa.array(range(n), pa.int64()),
                             "v": pa.array([float(i) for i in range(n)],
                                           pa.float64())}), base)
    tbl = str(tmp_path / "ice")
    create_local_iceberg_table(tbl, [[base]], schema_fields=[
        (1, "id", "long"), (2, "v", "double")])
    return tbl


def _count_metadata_reads(monkeypatch, il):
    seen = {"meta": 0}
    read = il._read_table_metadata

    def counted(table_path):
        seen["meta"] += 1
        return read(table_path)

    monkeypatch.setattr(il, "_read_table_metadata", counted)
    return seen


def test_snapshot_read_one_eq_anti_join_no_job(spark, tmp_path,
                                               monkeypatch):
    """Three equality-delete commits on one equality_ids set plus an
    upsert: building the snapshot read runs no Spark job, reads the
    metadata JSON once, and plans ONE equality-delete anti-join."""
    from quokka_spark.sources import iceberg_local as il
    tbl = _keyed_table(spark, tmp_path)
    for keys in ([1, 2], [3], [4, 50]):
        il.add_equality_deletes(tbl, {"id": keys}, equality_ids=[1])
    il.upsert_iceberg_local(spark, tbl, spark.createDataFrame(
        [(5, -5.0), (200, 2.0)], "id long, v double"), ["id"])
    seen = _count_metadata_reads(monkeypatch, il)
    df, jobs = jobs_run_by(spark, lambda: il.read_iceberg_local(spark, tbl))
    assert jobs == []
    assert seen["meta"] == 1
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    eq_joins = [ln for ln in plan.splitlines()
                if "LeftAnti" in ln and "<=>" in ln]
    assert len(eq_joins) == 1, plan
    got = {r["id"]: r["v"] for r in df.collect()}
    want = {i: float(i) for i in range(100) if i not in (1, 2, 3, 4, 50)}
    want.update({5: -5.0, 200: 2.0})
    assert got == want


def test_change_range_reads_each_inventory_once(spark, tmp_path,
                                                monkeypatch):
    """A k-snapshot change range reads at most k+1 snapshot inventories
    (each snapshot once, its parent carried forward) and the metadata
    JSON once, whatever the delete kinds in it (a position delete over
    a parent with equality deletes matches the parent's live rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quokka_spark.sources import iceberg_local as il
    tbl = _keyed_table(spark, tmp_path, n=10)
    more = str(tmp_path / "more.parquet")
    pq.write_table(pa.table({"id": pa.array(range(10, 15), pa.int64()),
                             "v": pa.array([1.0] * 5, pa.float64())}), more)
    s2 = il.append_snapshot(tbl, [more])
    il.add_equality_deletes(tbl, {"id": [3, 11]}, equality_ids=[1])
    il.add_position_deletes(tbl, {str(tmp_path / "base.parquet"): [4]})
    s5 = il.add_equality_deletes(tbl, {"id": [0]}, equality_ids=[1])
    lists = {il._local(s["manifest-list"])
             for s in il._read_table_metadata(tbl)["snapshots"]}
    seen = _count_metadata_reads(monkeypatch, il)
    seen["lists"] = 0
    read_container = il.read_container

    def counted(path):
        seen["lists"] += path in lists
        return read_container(path)

    monkeypatch.setattr(il, "read_container", counted)
    df = il.read_iceberg_changes(spark, tbl, s2, s5)
    assert seen["meta"] == 1 and seen["lists"] <= 5
    got = sorted((r["id"], r["_change_type"]) for r in df.collect())
    assert got == sorted(
        [(i, "insert") for i in range(10, 15)]
        + [(3, "delete"), (11, "delete"), (4, "delete"), (0, "delete")])


def test_one_scan_one_eq_delete_reader_one_diff():
    """Inside iceberg_local.py, Spark reads parquet only in the data
    scan, the equality-delete frame and the position-delete frame;
    _snapshot_diff is defined once, and the streaming source uses
    it. A second scan, delete loop or diff would show up here."""
    readers = set()
    tree = ast.parse((PKG / "sources/iceberg_local.py").read_text())
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call) \
                    and isinstance(node.func, ast.Attribute) \
                    and node.func.attr == "parquet" \
                    and any(isinstance(n, ast.Attribute) and n.attr == "read"
                            for n in ast.walk(node.func.value)):
                readers.add(top.name)
    assert readers == {"_scan_data", "_eq_deletes_df", "_pos_deletes_df"}
    defs, calls = [], set()
    for rel in ("sources/iceberg_local.py", "streaming/iceberg_source.py"):
        for node in ast.walk(ast.parse((PKG / rel).read_text())):
            if isinstance(node, ast.FunctionDef) \
                    and node.name == "_snapshot_diff":
                defs.append(rel)
            if isinstance(node, ast.Call) \
                    and getattr(node.func, "id", None) == "_snapshot_diff":
                calls.add(rel)
    assert defs == ["sources/iceberg_local.py"]
    assert calls == {"sources/iceberg_local.py",
                     "streaming/iceberg_source.py"}
