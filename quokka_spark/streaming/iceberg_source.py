"""Streaming SOURCE over a local Iceberg table — the Iceberg sibling
of streaming/delta_source.py, same Spark 4 Python DataSource
machinery, no runtime jar.

Offsets are SNAPSHOT POSITIONS in the metadata's snapshot list (not
raw snapshot ids — ids are arbitrary; the list order is the commit
order this layout maintains): each micro-batch covers the DATA FILES
ADDED by the snapshots in ``(start, end]``, one input partition per
file, read executor-side as Arrow batches. Append-only contract:
- snapshots stamped ``replace`` (compaction/rewrite) are invisible;
- snapshots that add POSITION/EQUALITY DELETE files or v3 DELETION
  VECTORS refuse unless ``ignore_deletes=true`` (the rows already
  streamed stay streamed);
- snapshots that REMOVE data files (overwrite) refuse unless
  ``ignore_changes=true``, which streams the snapshot's new files in
  full (surviving rows re-transmitted — the ignoreChanges contract).

Each snapshot is compared with its parent by the batch change
reader's own diff (iceberg_local._snapshot_diff), the parent's
inventory carried forward, one metadata read per batch plan.

``starting_snapshot=<id>`` begins the stream AT that snapshot
(default: the first), refusing ids the table does not have."""

from __future__ import annotations

import os

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)


def _table_of(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("iceberg_local_stream needs .load(<table path>)")
    return os.path.abspath(path.removeprefix("file://"))


def _snapshot_ids(table: str) -> tuple:
    """(snapshot ids in list order, the table metadata) — one read."""
    from quokka_spark.sources.iceberg_local import _read_table_metadata
    meta = _read_table_metadata(table)
    snaps = meta.get("snapshots", [])
    if not snaps:
        raise ValueError(f"{table}: no snapshots (empty table)")
    return [s.get("snapshot-id") for s in snaps], meta


class IcebergStreamReader(DataSourceStreamReader):
    def __init__(self, table: str, schema, options: dict):
        self.table = table
        self.fields = [f.name for f in schema.fields]
        self.field_types = {f.name: f.dataType for f in schema.fields}
        self.ignore_deletes = str(
            options.get("ignore_deletes", "false")).lower() == "true"
        self.ignore_changes = str(
            options.get("ignore_changes", "false")).lower() == "true"
        start = options.get("starting_snapshot")
        ids, _ = _snapshot_ids(table)
        if start is not None:
            sid = int(start)
            if sid not in ids:
                raise ValueError(
                    f"starting_snapshot {sid} is not in the table's "
                    f"snapshots {ids}")
            self.start_pos = ids.index(sid) - 1
        else:
            self.start_pos = -1

    # offsets: {"pos": index of last PROCESSED snapshot, "sid": its
    # snapshot id} — the id makes positional drift DETECTABLE: if
    # expire_snapshots_local shrinks the list from the front, a bare
    # index would silently skip unstreamed snapshots
    def initialOffset(self) -> dict:
        ids, _ = _snapshot_ids(self.table)
        sid = ids[self.start_pos] if self.start_pos >= 0 else None
        return {"pos": self.start_pos, "sid": sid}

    def latestOffset(self) -> dict:
        ids, _ = _snapshot_ids(self.table)
        return {"pos": len(ids) - 1, "sid": ids[-1]}

    def _check_offset(self, off: dict, ids: list) -> None:
        pos, sid = int(off["pos"]), off.get("sid")
        if pos < 0:
            return
        if pos >= len(ids) or (sid is not None and ids[pos] != sid):
            raise ValueError(
                f"checkpointed offset (pos {pos}, snapshot {sid}) no "
                "longer aligns with the table's snapshot list "
                f"{ids} — snapshots were expired past the stream's "
                "position; restart the stream from a fresh checkpoint")

    def partitions(self, start: dict, end: dict):
        from quokka_spark.sources.iceberg_local import (
            _NO_FILES, _inventory, _snapshot_diff)
        p0, p1 = int(start["pos"]), int(end["pos"])
        ids, meta = _snapshot_ids(self.table)
        # alignment BEFORE the empty-range early return: an expired
        # list can shift the same position onto a different snapshot
        self._check_offset(start, ids)
        self._check_offset(end, ids)
        if p1 <= p0:
            return []
        parts = []
        inv = _inventory(meta, ids[p0]) if p0 >= 0 else _NO_FILES
        for pos in range(p0 + 1, p1 + 1):
            sid = ids[pos]
            op = (meta["snapshots"][pos].get("summary") or {}) \
                .get("operation")
            par, inv = inv, _inventory(meta, sid)
            if op == "replace":
                continue                   # rearrangement: invisible
            d = _snapshot_diff(par, inv)
            # delete files of any kind (a new or superseded DV is a
            # row-delete too) or file removals. Per-shape contract,
            # aligned with the Delta sibling:
            # - pure delete (NO new data) → ignore_deletes (or
            #   ignore_changes) skips;
            # - anything adding data alongside deletes/removals
            #   (the upsert/overwrite shapes) → ignore_changes,
            #   because the added files re-transmit updated rows
            dels = d.removed or d.new_pos or d.new_eq or d.new_dvs
            if dels and d.added and not self.ignore_changes:
                raise ValueError(
                    f"snapshot {sid} rewrites data (new files + "
                    "deletes/removals: upsert/overwrite) — pass "
                    "ignore_changes=true to stream the new files "
                    "(updated rows WILL appear twice)")
            if dels and not d.added and not (
                    self.ignore_deletes or self.ignore_changes):
                raise ValueError(
                    f"snapshot {sid} only deletes rows/files — a "
                    "streaming source is append-only; pass "
                    "ignore_deletes=true to skip delete snapshots")
            parts += [InputPartition(e["path"]) for e in d.added]
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        path = partition.value
        path = path.removeprefix("file://")
        have = set(pq.read_schema(path).names)
        t = pq.read_table(path,
                          columns=[c for c in self.fields if c in have])
        from pyspark.sql.pandas.types import to_arrow_type
        cols = []
        for c in self.fields:
            at = to_arrow_type(self.field_types[c])
            if c in have:
                col = t.column(c)
                if col.type != at:
                    # loosely-typed files (int32 under a declared
                    # long, the _table_read_schema fallback case):
                    # cast so the batch matches the declared schema
                    col = col.cast(at)
                cols.append(col)
            else:
                # schema evolution: pre-evolution files null-fill,
                # TYPED so Spark's positional batch mapping holds
                cols.append(pa.nulls(t.num_rows, type=at))
        yield from pa.Table.from_arrays(cols, names=self.fields) \
            .to_batches()

    def commit(self, end: dict) -> None:
        pass


class IcebergStreamDataSource(DataSource):
    """``spark.readStream.format("iceberg_local_stream").load(table)``
    after registration — or the ``QuokkaContext.read_iceberg_stream``
    facade."""

    @classmethod
    def name(cls):
        return "iceberg_local_stream"

    def schema(self):
        from quokka_spark.sources.iceberg_local import (
            _field_names_of, _read_table_metadata, _schema_types,
            _ICEBERG_TO_SPARK_TYPE)
        meta = _read_table_metadata(_table_of(self.options))
        names = _field_names_of(meta)
        types = _schema_types(meta)
        if not names:
            raise ValueError(
                "iceberg_local_stream needs a table whose metadata "
                "carries a schema")
        fields = []
        for fid, name in sorted(names.items()):
            it = types.get(fid, "string")
            if it not in _ICEBERG_TO_SPARK_TYPE:
                raise NotImplementedError(
                    f"column {name!r}: iceberg type {it!r} is not "
                    "supported by the streaming source")
            fields.append(f"{name} {_ICEBERG_TO_SPARK_TYPE[it]}")
        return ", ".join(fields)

    def streamReader(self, schema):
        return IcebergStreamReader(_table_of(self.options), schema,
                                   self.options)
