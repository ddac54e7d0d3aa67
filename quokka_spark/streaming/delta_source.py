"""Streaming SOURCE over a local Delta table — the reverse of
streaming/stream.streaming_write_delta's exactly-once sink, via the
Spark 4 Python DataSource streaming API (same machinery as
sources/lancelike.py's batch reader, no delta-spark jar).

Offsets are LOG VERSIONS: each micro-batch covers the dataChange add
actions of the commit versions in ``(start, end]`` — one input
partition per data file, read executor-side as Arrow batches (the
file's own deletion vector applied), so a growing table tails
incrementally with the driver touching only the batch's JSON commits
per trigger (the pre-batch live set is carried forward in reader
state; a full snapshot is taken once per (re)start).

Delta's streaming-source contract is append-only. Versions that
change existing data refuse by default, with the REAL semantics per
shape:
- a PURE DELETE version (data removes, no adds): ``ignore_deletes=
  true`` skips it — the removed rows were already streamed and stay
  streamed, no duplicates;
- a DV REWRITE (re-add of a live path with a new deletion vector):
  ``ignore_changes=true`` skips it — the file contributes no new
  rows, so unlike the jar's ignoreChanges there is nothing to
  re-transmit;
- a REWRITE version (removes + new-path adds: upsert/overwrite):
  ``ignore_changes=true`` streams the NEW files in full — surviving
  rows ARE re-transmitted, exactly the documented contract of real
  Delta's ignoreChanges; deduplicate downstream if that matters.
dataChange=false versions (compaction, clustering) are invisible,
exactly why writers mark them false.

``starting_version=N`` begins the stream at version N (default 0 —
the full-history replay that makes a bounded availableNow drain equal
the batch read, which is what the oracle gate checks). A
starting_version beyond the latest log version refuses, matching the
jar.

PARTITIONED tables stream: each input partition ships its file's
partition values (LOGICAL-keyed, resolved driver-side under the spec
ACTIVE at that commit — metaData actions fold forward, so histories
whose partitioning changed stream every version correctly) and
read() rebuilds them as typed constant columns (the streaming twin
of the batch reader's broadcast rejoin, timestamp values cast in the
session timezone). columnMapping tables stream too — name mode via
the schema's physicalName metadata (including PARTITIONED name-mode
tables, whose partitionValues key by the physical name), id mode by
each file's own parquet field ids — in BOTH cases partition values
key by the SCHEMA's physicalName (round 10: id-mode + partitioned
streams too; partition columns never live in the data files, so
their physical names cannot vary per file)."""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)


def _table_of(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("delta_local_stream needs .load(<table path>)")
    # resolve ONCE, driver-side: executors must not re-resolve a
    # relative path against their own cwd
    return os.path.abspath(path.removeprefix("file://"))


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, table: str, schema, options: dict):
        from quokka_spark.sources.delta_local import (_check_read_protocol,
                                                      _cm_mode,
                                                      _column_mapping,
                                                      _id_mapping,
                                                      _partition_schema,
                                                      _snapshot)
        self.table = table
        self.fields = [f.name for f in schema.fields]
        self.field_types = {f.name: f.dataType for f in schema.fields}
        self.ignore_deletes = str(
            options.get("ignore_deletes", "false")).lower() == "true"
        self.ignore_changes = str(
            options.get("ignore_changes", "false")).lower() == "true"
        self.start_version = int(options.get("starting_version", 0))
        snap = _snapshot(table, files=False)
        if self.start_version > snap.version:
            raise ValueError(
                f"starting_version {self.start_version} is beyond the "
                f"log's latest version {snap.version} — refusing (the "
                "committed offset would regress below it)")
        _check_read_protocol(snap.protocol)
        meta = snap.meta
        # partitioned tables: partition values live in the LOG; each
        # input partition ships its file's values (LOGICAL-keyed,
        # resolved driver-side under the partition spec ACTIVE at that
        # version — the spec can change across history, so using the
        # latest one would stream older versions with silent nulls)
        # and read() rebuilds them as typed constant columns — the
        # streaming twin of the batch reader's broadcast rejoin
        self.pcols, _ptypes = _partition_schema(meta)
        self._cm = _cm_mode(meta)
        # columnMapping: name mode reads each file by the schema's
        # physicalName metadata; id mode resolves per-file by parquet
        # field ids (the footer is read executor-side, where the file
        # is being read anyway). Partitioned+mapped matches the batch
        # reader's refusal (partitionValues key by physical name).
        self.cmap = _column_mapping(meta)
        self.idmap = ({fid: name for fid, (name, _dt) in
                       _id_mapping(meta).items()}
                      if _cm_mode(meta) == "id" else None)
        # partitionValues key by the SCHEMA's physicalName in BOTH
        # mapped modes (round 10) — partition columns never live in
        # the data files, so only data columns may vary physically
        # per file in id mode; matches the batch reader
        if self._cm != "none":
            from quokka_spark.sources.delta_local import _mapped_fields
            self._pv_phys = {f.name: p for f, p in _mapped_fields(
                meta, self._cm, "delta.columnMapping.physicalName")}
        else:
            self._pv_phys = None
        # session timezone, captured driver-side: timestamp-typed
        # partition values are wall-time strings the batch reader
        # casts in session tz — read() must agree
        from pyspark.sql import SparkSession
        sess = SparkSession.getActiveSession()
        self.tz = (sess.conf.get("spark.sql.session.timeZone")
                   if sess else "UTC")
        # pre-batch live set + ACTIVE partition columns, carried
        # forward across triggers so the full snapshot happens once
        # per (re)start, not per trigger
        self._live_at: int | None = None
        self._live: set = set()
        self._cur_pcols: list = []

    def _pv_key(self, c: str) -> str:
        # partitionValues key by the PHYSICAL name on mapped tables;
        # .get(c, c): a DROPPED old partition column has no mapping
        # and is not in the read schema either — passthrough is inert
        return self._pv_phys.get(c, c) if self._pv_phys else c

    # ---- offsets: {"version": last PROCESSED version} -----------------
    def initialOffset(self) -> dict:
        return {"version": self.start_version - 1}

    def latestOffset(self) -> dict:
        from quokka_spark.sources.delta_local import (
            _check_read_protocol, _snapshot)
        # per-trigger, not just at construction: a foreign writer can
        # UPGRADE the protocol mid-stream to a feature this reader
        # lacks — serving later micro-batches anyway would silently
        # misread exactly what the gate exists to prevent. One
        # state-only snapshot: one listing, no add column read.
        snap = _snapshot(self.table, files=False)
        _check_read_protocol(snap.protocol)
        return {"version": snap.version}

    def _live_before(self, v0: int, scan) -> set:
        if self._live_at == v0:
            return self._live
        if v0 >= 0:
            from quokka_spark.sources.delta_local import (
                _partition_schema, _snapshot)
            snap = _snapshot(self.table, v0, scan=scan)
            live = set(snap.keys)
            self._cur_pcols = _partition_schema(snap.meta)[0]
        else:
            live = set()
            self._cur_pcols = []
        self._live_at, self._live = v0, live
        return live

    def partitions(self, start: dict, end: dict):
        from quokka_spark.sources.delta_local import (_check_dv_descriptor,
                                                      _cm_mode,
                                                      _commit_parsed,
                                                      _partition_schema,
                                                      _scan_log)
        v0, v1 = int(start["version"]), int(end["version"])
        if v1 <= v0:
            return []
        scan = _scan_log(self.table)
        commits = set(scan[0])
        missing = [v for v in range(v0 + 1, v1 + 1) if v not in commits]
        if missing:
            raise ValueError(
                f"versions {missing[:5]} have no JSON commit (cleaned "
                "up?) — the stream would lose changes")
        live = set(self._live_before(v0, scan))
        cur_pcols = list(self._cur_pcols)
        parts = []
        for v in range(v0 + 1, v1 + 1):
            c = _commit_parsed(self.table, v)
            adds, removes, md = c.adds, c.removes, c.meta
            if md is not None:
                # fold the ACTIVE partition spec forward — this
                # commit's files already follow the new scheme
                if _cm_mode(md) != self._cm:
                    raise NotImplementedError(
                        f"version {v} changes columnMapping.mode — "
                        "restart the stream past it")
                cur_pcols = _partition_schema(md)[0]
            data_removes = [k for k, r in removes.items()
                            if r.get("dataChange", True) and k not in adds]
            new_adds, dv_readds = [], []
            for k, a in adds.items():
                if not a.get("dataChange", True):
                    continue
                (dv_readds if k in live else new_adds).append((k, a))
            if dv_readds and not self.ignore_changes:
                raise ValueError(
                    f"version {v} rewrites live file(s) "
                    f"{[k for k, _ in dv_readds[:2]]!r} (deletion-"
                    "vector update) — a streaming source is "
                    "append-only; pass ignore_changes=true to skip "
                    "such versions (no rows are re-transmitted)")
            if data_removes:
                if new_adds and not self.ignore_changes:
                    raise ValueError(
                        f"version {v} rewrites data (removes + new "
                        "files: upsert/overwrite) — pass "
                        "ignore_changes=true to stream the new files "
                        "(surviving rows WILL be re-transmitted, the "
                        "ignoreChanges contract)")
                if not new_adds and not (self.ignore_deletes
                                         or self.ignore_changes):
                    raise ValueError(
                        f"version {v} removes data files — a streaming "
                        "source is append-only; pass "
                        "ignore_deletes=true to skip delete versions")
            for k, a in new_adds:
                dv = a.get("deletionVector")
                if dv:
                    _check_dv_descriptor(k, dv)
                p = k if os.path.isabs(k) else os.path.join(self.table, k)
                # LOGICAL-keyed values under the version's ACTIVE spec
                pv = ({c: a.get("partitionValues", {})
                       .get(self._pv_key(c)) for c in cur_pcols}
                      if cur_pcols else None)
                parts.append(InputPartition(
                    (p, json.dumps(dv) if dv else None,
                     json.dumps(pv) if pv is not None else None)))
            for k in removes:
                live.discard(k)
            for k in adds:
                live.add(k)
        # carry forward for the next trigger
        self._live_at, self._live = v1, live
        self._cur_pcols = cur_pcols
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        path, dvj, pvj = partition.value
        # LOGICAL-keyed partition values, resolved driver-side under
        # the spec ACTIVE at the file's commit version
        pvals = json.loads(pvj) if pvj else {}
        have = set(pq.read_schema(path).names)
        # physical name of each LOGICAL data column in THIS file:
        # identity (no mapping), the schema's physicalName metadata
        # (name mode), or this file's parquet field ids (id mode —
        # files may legitimately disagree on physical names; the
        # batch reader's per-process layout memo is shared, so a
        # file's footer ids resolve once per executor, not per
        # micro-batch)
        data_fields = [c for c in self.fields if c not in pvals]
        if self.idmap is not None:
            from quokka_spark.sources.delta_local import _file_id_layout
            id2name = _file_id_layout(path)
            if not id2name:
                raise ValueError(
                    f"{path}: parquet schema carries no field ids at "
                    "all — id-mode column resolution is impossible "
                    "for this file (foreign writer?)")
            # ids missing from THIS file are ordinary schema
            # evolution — null-filled below like the batch scan
            phys_of = {name: id2name.get(fid)
                       for fid, name in self.idmap.items()}
        elif self.cmap:
            phys_of = dict(self.cmap)
        else:
            phys_of = {c: c for c in data_fields}
        want = [phys_of[c] for c in data_fields
                if phys_of.get(c) in have]
        t = pq.read_table(path, columns=want)
        if dvj:
            from quokka_spark.sources.dv import dv_row_indexes
            dead = set(dv_row_indexes(self.table, json.loads(dvj)))
            keep = [i for i in range(t.num_rows) if i not in dead]
            t = t.take(pa.array(keep, type=pa.int64()))
        # schema evolution: files written before a column was added
        # null-fill it, matching the batch reader's log-schema read;
        # present columns CAST to the declared type (a file may store
        # int32 under a declared long — the batch schema read upcasts)
        from pyspark.sql.pandas.types import to_arrow_type

        from quokka_spark.sources.delta_local import partition_value_py
        cols = []
        for c in self.fields:
            at = to_arrow_type(self.field_types[c])
            if c in pvals:
                # typed constant column from the add's partitionValues
                v = partition_value_py(pvals[c],
                                       self.field_types[c], self.tz)
                cols.append(pa.nulls(t.num_rows, type=at) if v is None
                            else pa.array([v] * t.num_rows, type=at))
            elif phys_of.get(c) in have:
                col = t.column(phys_of[c])
                cols.append(col.cast(at) if col.type != at else col)
            else:
                cols.append(pa.nulls(t.num_rows, type=at))
        yield from pa.Table.from_arrays(cols, names=self.fields) \
            .to_batches()

    def commit(self, end: dict) -> None:
        pass


class DeltaStreamDataSource(DataSource):
    """``spark.readStream.format("delta_local_stream").load(table)``
    after ``spark.dataSource.register(DeltaStreamDataSource)`` — or
    use the ``QuokkaContext.read_delta_stream`` facade."""

    @classmethod
    def name(cls):
        return "delta_local_stream"

    def schema(self):
        from pyspark.sql.types import StructType

        from quokka_spark.sources.delta_local import _snapshot
        meta = _snapshot(_table_of(self.options), files=False).meta
        try:
            full = StructType.fromJson(json.loads(meta["schemaString"]))
        except (KeyError, ValueError, TypeError) as e:
            raise ValueError(
                "delta_local_stream needs a table with a parseable "
                "schemaString in its metaData") from e
        return full

    def streamReader(self, schema):
        return DeltaStreamReader(_table_of(self.options), schema,
                                 self.options)
