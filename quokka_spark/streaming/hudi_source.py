"""Streaming SOURCE over a local Hudi table — completes the
lakehouse-streaming trio next to delta_source.py/iceberg_source.py,
same Spark 4 Python DataSource machinery.

Offsets are TIMELINE POSITIONS over the completed write instants:
each micro-batch streams the rows WRITTEN by the instants in
``(start, end]`` — new parquet base files as one Arrow partition
each, deltacommit LOG files decoded from their Avro container
payloads (upsert records flow; tombstones are SKIPPED — an
append-only stream cannot signal deletes; pass nothing to refuse
instead). This is exactly Hudi's incremental-query semantics fed
into Structured Streaming.

Append-only contract per instant shape:
- clustering ``replacecommit`` (operationType "cluster") → invisible;
- ``insert_overwrite`` replacecommits → refuse unless
  ``ignore_changes=true`` (new files streamed in full — survivors
  re-transmitted, the ignoreChanges contract);
- deltacommit log files containing TOMBSTONES → refuse unless
  ``ignore_deletes=true`` (upsert records still flow; the tombstoned
  rows simply stay streamed);
- a base file rewritten for a live group (no meta columns to filter
  by) → refuse always, like read_hudi_incremental.

``starting_instant=<ts>`` begins the stream AT that instant.

The timeline walk is hudi_local's ``_Timeline.replay`` (the
classification read_hudi_incremental uses), its live slices carried
to the next trigger. The columns follow the batch reader's rule (the
newest live base file's schema); older bases null-fill newer columns."""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)


def _table_of(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("hudi_local_stream needs .load(<table path>)")
    return os.path.abspath(path.removeprefix("file://"))


class HudiStreamReader(DataSourceStreamReader):
    def __init__(self, table: str, schema, options: dict):
        from quokka_spark.sources.hudi_local import completed_instants
        self.table = table
        self.fields = [f.name for f in schema.fields]
        self.field_types = {f.name: f.dataType for f in schema.fields}
        self.ignore_deletes = str(
            options.get("ignore_deletes", "false")).lower() == "true"
        self.ignore_changes = str(
            options.get("ignore_changes", "false")).lower() == "true"
        instants = completed_instants(table)
        if not instants:
            raise ValueError(f"{table}: empty timeline")
        # pre-batch live slices carried across triggers (full timeline
        # replay once per (re)start, matching the Delta sibling)
        self._live_at: int | None = None
        self._live: dict = {}
        start = options.get("starting_instant")
        if start is not None:
            ts_list = [ts for ts, _, _ in instants]
            if str(start) not in ts_list:
                raise ValueError(
                    f"starting_instant {start!r} is not a completed "
                    f"instant (have {ts_list})")
            self.start_pos = ts_list.index(str(start)) - 1
        else:
            self.start_pos = -1
        self.start_ts = (instants[self.start_pos][0]
                         if self.start_pos >= 0 else None)

    # offsets carry the instant TIMESTAMP next to the timeline
    # position (like the Iceberg sibling's pos+sid): positions are
    # only meaningful against the timeline they were minted on, so a
    # foreign table whose timeline was archived/rewritten refuses
    # instead of silently shifting
    def initialOffset(self) -> dict:
        return {"pos": self.start_pos, "ts": self.start_ts}

    def latestOffset(self) -> dict:
        from quokka_spark.sources.hudi_local import completed_instants
        instants = completed_instants(self.table)
        return {"pos": len(instants) - 1,
                "ts": instants[-1][0] if instants else None}

    @staticmethod
    def _check_offset(off: dict, instants: list) -> int:
        pos = int(off["pos"])
        ts = off.get("ts")
        if pos >= 0 and ts is not None:
            if pos >= len(instants) or instants[pos][0] != str(ts):
                have = (instants[pos][0] if pos < len(instants)
                        else "<beyond timeline>")
                raise ValueError(
                    f"offset (pos={pos}, ts={ts}) no longer matches "
                    f"the timeline (instant at pos {pos} is {have}) — "
                    "archived/rewritten timeline; restart the stream "
                    "from a fresh checkpoint")
        return pos

    def partitions(self, start: dict, end: dict):
        from quokka_spark.sources.hudi_local import _Timeline, _writes_rows
        tl = _Timeline(self.table)
        p0 = self._check_offset(start, tl.instants)
        p1 = self._check_offset(end, tl.instants)
        if p1 <= p0:
            return []
        if p1 >= len(tl.instants):
            raise ValueError(
                f"offset pos {p1} is beyond the timeline "
                f"({len(tl.instants)} instants) — timeline rewritten?")
        # the slices live BEFORE the batch (to spot rewrites of live
        # bases) are carried forward, so the replay runs once per
        # (re)start, not per trigger; a refusal mid-batch drops them
        carried = self._live_at == p0
        slices = self._live if carried else {}
        self._live_at = None
        parts = []
        for pos, c, bases, logs, rewritten in tl.replay(
                slices, p0 + 1 if carried else 0, p1 + 1):
            if pos <= p0 or not _writes_rows(c, rewritten):
                continue
            if c.action == "replacecommit" and not self.ignore_changes:
                raise ValueError(
                    f"instant {c.ts}: insert_overwrite — pass "
                    "ignore_changes=true to stream its new files "
                    "(surviving rows WILL be re-transmitted)")
            if c.op == "delete" and not (self.ignore_deletes
                                         or self.ignore_changes):
                raise ValueError(
                    f"instant {c.ts}: a delete deltacommit — a "
                    "streaming source is append-only; pass "
                    "ignore_deletes=true to skip the tombstones")
            # framed logs decode DELETE-block tombstones by record key
            keys = tl.recordkey_fields() if logs else None
            parts += [InputPartition(("base", p, None))
                      for p in sorted(bases)]
            parts += [InputPartition(("log", p, keys))
                      for p in sorted(logs)]
        self._live_at, self._live = p1, slices
        return parts

    def read(self, partition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type
        kind, path, keys = partition.value
        if kind == "base":
            import pyarrow.parquet as pq
            have = set(pq.read_schema(path).names)
            t = pq.read_table(path,
                              columns=[c for c in self.fields
                                       if c in have])
            cols = []
            for c in self.fields:
                at = to_arrow_type(self.field_types[c])
                if c in have:
                    col = t.column(c)
                    cols.append(col.cast(at) if col.type != at else col)
                else:
                    # schema drift across bulk loads: null-fill,
                    # matching the Delta/Iceberg siblings
                    cols.append(pa.nulls(t.num_rows, type=at))
            yield from pa.Table.from_arrays(
                cols, names=self.fields).to_batches()
            return
        # deltacommit log: Avro container payload; upserts flow.
        # Tombstones are gated by CONTENT here, not just the commit's
        # operationType — a mixed or unstamped deltacommit must not
        # silently drop deletions
        with open(path, "rb") as fh:
            data = fh.read()
        if data[:6] == b"#HUDI#":
            # real hudi-writer framing (sources/hudi_logfmt); the
            # table's record-key fields let DELETE-block tombstones
            # decode — they hit the same refuse-or-skip gate as
            # soft-delete payload rows below
            from quokka_spark.sources.hudi_logfmt import \
                read_log_records_bytes
            lsch, records = read_log_records_bytes(
                data, name=path, key_fields=keys)
            # lsch is None only when the file carries delete blocks
            # and no data block — nothing but tombstones to validate
            declared = ({f["name"] for f in lsch["fields"]}
                        if lsch is not None else None)
        else:
            from quokka_spark.sources.avro_lite import \
                read_container_bytes
            meta, records = read_container_bytes(data, name=path)
            # validate the container SCHEMA carries every payload
            # column before yielding anything — the batch path
            # (_merge_logs) refuses loudly on missing columns, and a
            # foreign/truncated log must not silently stream nulls
            # where data belongs
            try:
                declared = {f["name"] for f in
                            json.loads(meta["avro.schema"])["fields"]}
            except (KeyError, ValueError, TypeError) as e:
                raise ValueError(
                    f"{path}: log container carries no parseable "
                    "avro.schema record — cannot verify the "
                    "payload") from e
        missing = ([c for c in self.fields if c not in declared]
                   if declared is not None else [])
        if missing:
            raise ValueError(
                f"{path}: log records are missing columns {missing} — "
                "every log record must carry the full row payload "
                "(matching the batch reader's refusal)")
        rows = []
        for r in records:
            if r.get("_hoodie_is_deleted"):
                if not (self.ignore_deletes or self.ignore_changes):
                    raise ValueError(
                        f"{path}: log record carries a tombstone — a "
                        "streaming source is append-only; pass "
                        "ignore_deletes=true to skip deletions")
                continue
            rows.append(tuple(r.get(c) for c in self.fields))
        if not rows:
            return
        arrays = []
        for i, c in enumerate(self.fields):
            at = to_arrow_type(self.field_types[c])
            vals = [row[i] for row in rows]
            # avro logical values decode raw where the schema says so;
            # the writer stamps micros/days ints — let arrow cast
            try:
                arrays.append(pa.array(vals, type=at))
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                arrays.append(pa.array(vals).cast(at))
        yield pa.RecordBatch.from_arrays(arrays, names=self.fields)

    def commit(self, end: dict) -> None:
        pass


class HudiStreamDataSource(DataSource):
    """``spark.readStream.format("hudi_local_stream").load(table)``
    after registration — or ``QuokkaContext.read_hudi_stream``."""

    @classmethod
    def name(cls):
        return "hudi_local_stream"

    def schema(self):
        """The newest live base file's schema (the batch reader's rule),
        read with pyarrow: Spark calls this in a Python worker, which
        has no session and no footer memo."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        from quokka_spark.sources.hudi_local import _newest_base, _Timeline
        tl = _Timeline(_table_of(self.options))
        return from_arrow_schema(pq.read_schema(_newest_base(tl.live())))

    def streamReader(self, schema):
        return HudiStreamReader(_table_of(self.options), schema,
                                self.options)
