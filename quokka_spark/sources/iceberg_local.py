"""Pure-Python Apache Iceberg table reader (metadata layer only).

Resolves an on-disk Iceberg table — ``metadata/*.metadata.json`` →
snapshot → manifest list (Avro) → manifests (Avro) → live data files —
and hands the resulting parquet file list to Spark's native parquet
scan. This gives ``QuokkaContext.read_iceberg`` (reference
df.py:802-832, including time travel via ``snapshot``) a working path
in environments without the iceberg-spark runtime jar: the metadata is
KB-scale and driver-side, while the heavy lifting (the actual scan)
stays in Spark's vectorized parquet reader with full predicate
pushdown / column pruning.

Scope (documented, test-enforced):
- format-version 3: deletion vectors (puffin, round 11), ROW LINEAGE
  (_row_id / _last_updated_sequence_number served on reads, explicit
  ranges + next-row-id emitted on writes, materialized across
  compaction — round 12), and top-level primitive initial-DEFAULT
  values (served per file presence); v3 defaults on nested fields
  and format v4+ refuse typed.
- format-version 1 and 2 tables, including v2 POSITION deletes
  (applied as a distributed anti-join on ``_metadata`` file/row
  position — see read_iceberg_local) and v2 EQUALITY deletes
  (content=2: each delete file's ``equality_ids`` columns anti-join
  the data rows null-safely, restricted to data files with a LOWER
  sequence number than the delete, per spec — the Flink-CDC write
  shape). Field ids resolve through the table schema; when the
  metadata carries no schema (minimal fixtures), the delete file's
  own column names are used.
- metadata must be locally readable (``file://`` or plain paths);
  data files pass through to Spark untouched, so remote data behind a
  mounted path works.
- manifest-level partition pruning: ``partition_filter`` prunes the
  live FILE LIST from the manifests' per-file partition values BEFORE
  the scan — the capability a jar-based catalog read gets from
  manifest partition summaries, so filtered reads touch only matching
  files even at 100 TB. Identity specs evaluate any SQL boolean over
  the partition columns; bucket[N]/truncate[W]/day/hour/month/year
  specs prune conjunctions of ``source_col op literal`` by applying
  the SAME spec transform to the literal (pure functions — bucket via
  the spec's 32-bit Murmur3, Appendix B): equality prunes every
  transform, ranges prune the order-preserving ones, and anything
  unsupported conservatively keeps the file while the filter is
  re-applied row-level. Spark still prunes row-groups/pages via
  parquet stats after predicate pushdown, as on raw parquet.

Format reference: the public Iceberg table spec
(https://iceberg.apache.org/spec/); Avro decoding via avro_lite.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import struct
import time

from .avro_lite import read_container


def _local(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://"):]
    return path


def _read_table_metadata(table_path: str) -> dict:
    """Locate and parse the current metadata JSON: version-hint.text
    when present (HadoopTables layout), else the highest-versioned
    ``*.metadata.json``."""
    meta_dir = os.path.join(_local(table_path), "metadata")
    if not os.path.isdir(meta_dir):
        raise FileNotFoundError(
            f"{table_path}: no metadata/ directory — not an Iceberg table")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        cand = [os.path.join(meta_dir, f"v{v}.metadata.json")]
    else:
        files = sorted(f for f in os.listdir(meta_dir)
                       if f.endswith(".metadata.json"))
        if not files:
            raise FileNotFoundError(f"{meta_dir}: no *.metadata.json")
        cand = [os.path.join(meta_dir, files[-1])]
    with open(cand[0]) as f:
        meta = json.load(f)
    fv = int(meta.get("format-version") or 1)
    if fv > 3:
        raise NotImplementedError(
            f"{table_path}: Iceberg format-version {fv} — this "
            "reader implements versions 1-3")
    if fv == 3:
        # v3 DELETION VECTORS (puffin) and row lineage read
        # end-to-end (rounds 11-12); TOP-LEVEL primitive column
        # DEFAULT VALUES are SERVED on reads (round 12 —
        # _field_defaults + the per-file presence split in _live_df),
        # and so are primitive defaults on STRUCT sub-fields at any
        # struct depth (round 13 — spec §Default values applies
        # recursively; the scan splices them with withField under
        # the same per-file presence split). Still refused typed:
        # defaults on non-primitive-TYPED fields (the default value
        # itself would be a composite literal) and defaults anywhere
        # under a list/map (splicing into repeated elements needs
        # restructuring — the jar's job). Write-defaults DIVERGING
        # from the initial-default gate at COMMIT time
        # (_check_write_defaults — nested-aware since round 13),
        # matching the round-12 top-level contract: reads serve the
        # initial-default, new omitting files refuse to commit.
        def _walk_field_defaults(field, under_collection):
            t = field.get("type")
            has_def = ("initial-default" in field
                       or "write-default" in field)
            if has_def:
                if under_collection or isinstance(t, dict):
                    raise NotImplementedError(
                        f"{table_path}: field "
                        f"{field.get('name', '<nested>')!r} declares "
                        "a v3 default value on a list/map element or "
                        "non-primitive field — this reader serves "
                        "primitive defaults on top-level and struct "
                        "sub-fields only; read with the jar")
            if isinstance(t, dict):
                tt = t.get("type")
                if tt == "struct":
                    for sub in t.get("fields", []):
                        _walk_field_defaults(sub, under_collection)
                elif tt == "list":
                    el = t.get("element")
                    if isinstance(el, dict):
                        _walk_field_defaults({"type": el}, True)
                elif tt == "map":
                    for k in ("key", "value"):
                        sub = t.get(k)
                        if isinstance(sub, dict):
                            _walk_field_defaults({"type": sub}, True)

        for s in (meta.get("schemas") or []):
            for f in s.get("fields", []):
                _walk_field_defaults(f, False)
    return meta


def _current_schema(meta: dict) -> dict:
    """The CURRENT schema dict ({} when the metadata carries none) —
    the ONE resolver every schema consumer shares (review finding:
    three hand-rolled copies had three divergent fallbacks, so one
    read path could mix two schemas). Fallback on a missing/stale
    current-schema-id is schemas[0], the longest-standing behavior."""
    schemas = meta.get("schemas") or []
    if not schemas:
        return {}
    cur = meta.get("current-schema-id")
    return next((s for s in schemas if s.get("schema-id") == cur),
                schemas[0])


def _field_defaults(meta: dict) -> dict:
    """{dotted column path: (initial-default JSON value, iceberg
    type)} for primitive fields of the CURRENT schema that declare
    one (spec v3 §Default values): ``initial-default`` is the value
    rows of data files written BEFORE the field existed must read as
    — null-filling them serves wrong data. Top-level fields key by
    name; STRUCT sub-fields (round 13 — the spec applies
    recursively) key by their dotted path (``s.b``). Defaults under
    list/map and on non-primitive fields were already refused at
    metadata load."""
    out = {}

    def walk(fields, prefix):
        for f in fields:
            if "name" not in f:
                continue        # loosely-typed fixture field
            t = f.get("type")
            path = prefix + f["name"]
            if "initial-default" in f and isinstance(t, str):
                out[path] = (f["initial-default"], t)
            if isinstance(t, dict) and t.get("type") == "struct":
                walk(t.get("fields", []), path + ".")
    walk(_current_schema(meta).get("fields", []), "")
    return out


def _arrow_has_path(sch, parts):
    """True when a parquet footer (arrow) schema carries the
    (possibly struct-nested) dotted path given as segments."""
    import pyarrow as pa
    node = None
    for i, part in enumerate(parts):
        names = (sch.names if i == 0
                 else ([f.name for f in node]
                       if pa.types.is_struct(node) else []))
        if part not in names:
            return False
        node = (sch.field(part).type if i == 0
                else node.field(part).type)
    return True


def _apply_initial_defaults(df, meta: dict, paths: list, fp_col):
    """Serve v3 initial-defaults on a scan of ``paths`` (spec
    §Default values): rows of files written BEFORE a defaulted
    column existed read as the default; files that carry the column
    serve stored values, genuinely-null included (a blanket coalesce
    would be wrong). Presence is per FILE — one KB footer read each,
    driver-side, only for tables that declare defaults. ``fp_col``
    is the normalized file-path Column of ``df``. Shared by the
    snapshot read (_live_df) and the change stream (_scan) so the
    two can never diverge (review finding: the CDF path null-filled
    what the snapshot path served)."""
    return _apply_defaults(df, _field_defaults(meta), paths, fp_col)


def _apply_defaults(df, defaults: dict, paths: list, fp_col):
    """Core of _apply_initial_defaults, shared with the CATALOG
    reader (round 13): ``defaults`` maps dotted column paths to
    (JSON value, iceberg type string)."""
    from pyspark.sql import functions as F
    if not defaults:
        return df
    import pyarrow.parquet as _pq
    foot_cache: dict = {}
    for c, (val, ityp) in sorted(defaults.items()):
        parts = c.split(".")
        missing = []
        for p in paths:
            lp = _local(p)
            if lp not in foot_cache:
                foot_cache[lp] = _pq.read_schema(lp)
            if not _arrow_has_path(foot_cache[lp], parts):
                missing.append(_py_norm(p))
        if not missing:
            continue
        if ityp not in _ICEBERG_TO_SPARK_TYPE:
            # a lit().cast fallback through an unmapped type would
            # coerce the WHOLE column via CaseWhen's common type
            # (decimal → string observed) — refuse instead
            raise NotImplementedError(
                f"defaulted column {c!r} has iceberg type {ityp!r}, "
                "which this reader cannot cast a default literal to "
                "— read with the jar")
        if parts[0] not in df.columns:
            raise NotImplementedError(
                f"defaulted column {c!r} resolved into no "
                "read-schema column — read with the jar")
        if len(parts) > 1:
            # the SUB-FIELD must be in the read frame too: an
            # inference-fallback scan (list/map column in the table)
            # that sampled a pre-evolution file lacks it, and the
            # when/otherwise splice would then fail with an opaque
            # struct-type mismatch — and wide files' stored values
            # would be unreadable anyway. Refuse typed, like the
            # top-level case.
            from pyspark.sql.types import StructType as _ST
            node = df.schema[parts[0]].dataType
            for part in parts[1:]:
                if not isinstance(node, _ST) \
                        or part not in node.fieldNames():
                    raise NotImplementedError(
                        f"defaulted column {c!r} resolved into no "
                        "read-schema column (struct sub-field "
                        "missing from the scan schema) — read with "
                        "the jar")
                node = node[part].dataType
        lit = F.lit(val).cast(_ICEBERG_TO_SPARK_TYPE[ityp])
        if len(parts) == 1:
            df = df.withColumn(
                c, F.when(fp_col.isin(missing), lit)
                .otherwise(F.col(c)))
        else:
            # STRUCT sub-field (round 13): splice the default into
            # the struct for rows scanned from pre-evolution files.
            # withField on a NULL struct stays NULL — a row whose
            # whole struct is absent keeps reading null, exactly the
            # jar's behavior (the struct field itself declares no
            # default; a composite default refuses at metadata load)
            parent, sub = parts[0], ".".join(parts[1:])
            df = df.withColumn(
                parent,
                F.when(fp_col.isin(missing),
                       F.col(parent).withField(sub, lit))
                .otherwise(F.col(parent)))
    return df


def _pick_snapshot(meta: dict, snapshot_id: int | None) -> dict:
    snaps = meta.get("snapshots", [])
    if not snaps:
        raise ValueError("Iceberg table has no snapshots (empty table)")
    if snapshot_id is None:
        cur = meta.get("current-snapshot-id")
        for s in snaps:
            if s.get("snapshot-id") == cur:
                return s
        return snaps[-1]
    for s in snaps:
        if s.get("snapshot-id") == snapshot_id:
            return s
    raise ValueError(f"snapshot {snapshot_id} not found "
                     f"(have {[s.get('snapshot-id') for s in snaps]})")


def snapshot_files_full(table_path: str,
                        snapshot_id: int | None = None,
                        with_dvs: bool = False):
    """Full file inventory of a snapshot (default: current):
    ``(data_entries, position_delete_paths, equality_delete_entries)``
    where data entries are ``{"path", "seq"}`` and equality entries
    ``{"path", "seq", "equality_ids"}`` — ``seq`` is the entry's data
    sequence number (committing snapshot id in this layout), which
    scopes equality deletes to OLDER data files per the spec.

    Walks manifest-list → manifests, keeping entries whose status is
    EXISTING(0) or ADDED(1) and dropping DELETED(2). Delete manifests
    (v2 ``content=1``) contribute POSITION delete files (entry
    content=1: rows of (file_path, pos)) and EQUALITY delete files
    (entry content=2: rows of the ``equality_ids`` columns).

    ``with_dvs=True`` (round 11) returns a 4-tuple whose last element
    is the v3 DELETION VECTORS — content=1 entries in PUFFIN format
    carrying ``referenced_data_file``/``content_offset``/
    ``content_size_in_bytes`` per spec — as dicts of those fields.
    The default 3-tuple form REFUSES a DV-carrying snapshot instead
    of silently dropping the vectors (every legacy caller would
    resurrect the deleted rows)."""
    meta = _read_table_metadata(table_path)
    snap = _pick_snapshot(meta, snapshot_id)
    data: list[dict] = []
    pos_deletes: list[str] = []
    eq_deletes: list[dict] = []
    dvs: list[dict] = []
    if "manifest-list" in snap:
        _, manifests = read_container(_local(snap["manifest-list"]))
    else:  # v1 inline manifest list
        manifests = [{"manifest_path": p, "content": 0}
                     for p in snap.get("manifests", [])]
    for mf in manifests:
        is_delete_manifest = mf.get("content", 0) == 1
        mmeta, entries = read_container(_local(mf["manifest_path"]))
        # v3 row lineage inheritance base (spec §Row Lineage): a data
        # entry with null first_row_id inherits the manifest's
        # first_row_id plus the running record_count of preceding
        # null-id data entries; entries stay None (no lineage) on v2
        # tables, where both levels are absent
        mf_first = (None if is_delete_manifest
                    else mf.get("first_row_id"))
        lineage_running = 0
        # the spec the manifest's partition records were written
        # under: manifest-list field 502, falling back to the
        # manifest container's own header metadata. Pruning must
        # judge each file by ITS spec (spec evolution can reuse a
        # field name under a different transform), never the default
        spec_id = mf.get("partition_spec_id")
        if spec_id is None:
            raw = mmeta.get("partition-spec-id")
            if raw is not None:
                try:
                    spec_id = int(raw.decode()
                                  if isinstance(raw, bytes) else raw)
                except (ValueError, UnicodeDecodeError):
                    spec_id = None
        for e in entries:
            if e.get("status", 0) == 2:  # DELETED
                continue
            df = e["data_file"]
            content = df.get("content", 0)
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if fmt == "PUFFIN":
                # v3 deletion vector: a content=1 delete entry whose
                # file is a puffin blob container, located by the
                # spec-required DV manifest fields
                if not (is_delete_manifest and content == 1
                        and df.get("referenced_data_file")
                        and df.get("content_offset") is not None
                        and df.get("content_size_in_bytes") is not None):
                    raise ValueError(
                        f"malformed table: PUFFIN file "
                        f"{df.get('file_path')} outside a deletion-"
                        "vector delete entry (or missing the DV "
                        "manifest fields)")
                dvs.append({
                    "path": df["file_path"],
                    "referenced_data_file": df["referenced_data_file"],
                    "content_offset": int(df["content_offset"]),
                    "content_size_in_bytes":
                        int(df["content_size_in_bytes"])})
                continue
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"file format {fmt}: only PARQUET is supported")
            seq = int(e.get("sequence_number")
                      or e.get("snapshot_id")
                      or mf.get("added_snapshot_id") or 0)
            if is_delete_manifest:
                if content == 1:
                    pos_deletes.append(df["file_path"])
                elif content == 2:
                    eq_deletes.append(
                        {"path": df["file_path"], "seq": seq,
                         "equality_ids": list(df.get("equality_ids")
                                              or [])})
                else:
                    raise ValueError(
                        f"malformed table: delete manifest "
                        f"{mf['manifest_path']} contains a file with "
                        f"content={content} (expected deletes)")
            else:
                if content != 0:
                    raise ValueError(
                        f"malformed table: data manifest "
                        f"{mf['manifest_path']} contains a file with "
                        f"content={content}")
                frid = df.get("first_row_id")
                if frid is None and mf_first is not None:
                    frid = int(mf_first) + lineage_running
                    lineage_running += int(df.get("record_count") or 0)
                data.append({"path": df["file_path"], "seq": seq,
                             "spec_id": spec_id,
                             "partition": df.get("partition"),
                             "first_row_id": (None if frid is None
                                              else int(frid)),
                             "record_count":
                                 int(df.get("record_count") or 0),
                             "lower_bounds":
                                 _bounds_map(df.get("lower_bounds")),
                             "upper_bounds":
                                 _bounds_map(df.get("upper_bounds"))})
    if with_dvs:
        return data, pos_deletes, eq_deletes, dvs
    if dvs:
        raise NotImplementedError(
            f"{table_path}: snapshot carries v3 deletion vectors — "
            "this caller predates DV support (dropping them would "
            "resurrect deleted rows); read via read_iceberg_local, "
            "or pass with_dvs=True and apply them")
    return data, pos_deletes, eq_deletes


def _bounds_map(raw) -> dict:
    """Manifest column bounds → {field-id: bytes}. Real manifests
    encode the int-keyed map as an avro array of {key, value}
    records; fixtures may carry a plain dict."""
    if not raw:
        return {}
    if isinstance(raw, dict):
        return {int(k): v for k, v in raw.items()}
    return {int(e["key"]): e["value"] for e in raw}


def _partition_spec_fields(meta: dict) -> list:
    """Fields of the table's default partition spec, each
    ``{"name", "transform", "source-id"}`` — [] when unpartitioned.
    Reads the v2 ``partition-specs``/``default-spec-id`` shape with
    the v1 flat ``partition-spec`` as fallback."""
    specs = meta.get("partition-specs")
    if specs:
        want = meta.get("default-spec-id", specs[0].get("spec-id", 0))
        spec = next((s for s in specs if s.get("spec-id") == want),
                    specs[0])
        return list(spec.get("fields", []))
    return list(meta.get("partition-spec", []))


_ICEBERG_TO_SPARK_TYPE = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "string": "string",
    "date": "date", "timestamp": "timestamp",
    "timestamptz": "timestamp",
}


def _schema_types(meta: dict) -> dict:
    """field-id → iceberg type string from the current schema ({}
    when the metadata carries no schema)."""
    return {int(f["id"]): f.get("type")
            for f in _current_schema(meta).get("fields", [])
            if "id" in f and isinstance(f.get("type"), str)}


_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)

# Iceberg single-value binary serialization (spec Appendix D) —
# little-endian numbers, UTF-8 strings
_BOUND_DECODERS = {
    "boolean": lambda b: b != b"\x00",
    "int": lambda b: struct.unpack("<i", b)[0],
    "long": lambda b: struct.unpack("<q", b)[0],
    "float": lambda b: struct.unpack("<f", b)[0],
    "double": lambda b: struct.unpack("<d", b)[0],
    "string": lambda b: b.decode("utf-8"),
    "date": lambda b: _EPOCH_DATE + datetime.timedelta(
        days=struct.unpack("<i", b)[0]),
    "timestamp": lambda b: _EPOCH_TS + datetime.timedelta(
        microseconds=struct.unpack("<q", b)[0]),
    "timestamptz": lambda b: _EPOCH_TS + datetime.timedelta(
        microseconds=struct.unpack("<q", b)[0]),
}


def _prune_by_bounds(entries: list, meta: dict,
                     scan_filter: str) -> list:
    """Keep only files whose manifest column bounds ADMIT the filter —
    sound file skipping: a file is dropped only when a supported
    conjunct is provably false over its [lower, upper] range; any
    unsupported shape, missing bound, or type surprise keeps the file
    (the scan_filter is always applied row-level too, so pruning is a
    pure optimization)."""
    from .pruning import interval_refutes, parse_conjuncts
    atoms = parse_conjuncts(scan_filter)
    if not atoms:
        return entries
    name_to_fid = {name: fid
                   for fid, name in _field_names_of(meta).items()}
    types = _schema_types(meta)

    def may_match(e) -> bool:
        for col, op, v in atoms:
            fid = name_to_fid.get(col)
            dec = _BOUND_DECODERS.get(types.get(fid, ""))
            if fid is None or dec is None:
                continue
            blo = (e.get("lower_bounds") or {}).get(fid)
            bhi = (e.get("upper_bounds") or {}).get(fid)
            try:
                lo = dec(blo) if blo is not None else None
                hi = dec(bhi) if bhi is not None else None
                if interval_refutes(op, v, lo, hi):
                    return False
            except (TypeError, ValueError, struct.error):
                continue  # incomparable literal/bound → keep
        return True

    return [e for e in entries if may_match(e)]


_BUCKET_RE = re.compile(r"bucket\[(\d+)\]")
_TRUNCATE_RE = re.compile(r"truncate\[(\d+)\]")
# order-preserving transforms: T(a) <= T(b) whenever a <= b, so range
# predicates prune in the transformed domain; bucket is equality-only
_MONOTONE_TRANSFORMS = ("truncate", "day", "days", "hour", "hours",
                        "month", "months", "year", "years")


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant) — the spec's bucket-transform hash
    (public algorithm, Appendix B). Returns the UNSIGNED 32-bit
    value; bucket(v, N) = (hash & 0x7fffffff) % N."""
    c1, c2 = 0xcc9e2d51, 0x1b873593
    h = seed
    n = len(data) - len(data) % 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xffffffff
        k = ((k << 15) | (k >> 17)) & 0xffffffff
        k = (k * c2) & 0xffffffff
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xffffffff
        h = (h * 5 + 0xe6546b64) & 0xffffffff
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xffffffff
        k = ((k << 15) | (k >> 17)) & 0xffffffff
        k = (k * c2) & 0xffffffff
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85ebca6b) & 0xffffffff
    h ^= h >> 13
    h = (h * 0xc2b2ae35) & 0xffffffff
    h ^= h >> 16
    return h


def _coerce_temporal(v, it):
    """ISO-string literals coerce to date/datetime for temporal source
    columns (so \"ts >= '2024-01-01'\" prunes without the typed
    literal syntax); tz-AWARE datetimes normalize to naive UTC —
    transforming the local wall time would compute the wrong
    day/hour/month/year (and bucket hash) for any non-UTC offset.
    Everything else passes through."""
    if isinstance(v, str):
        if it == "date":
            return datetime.date.fromisoformat(v)
        if it in ("timestamp", "timestamptz"):
            v = datetime.datetime.fromisoformat(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _bucket_hash_bytes(v, it) -> bytes:
    """Spec Appendix B single-value hash input: int/long/date/
    timestamp hash as 8-byte little-endian longs, strings as UTF-8."""
    if it in ("int", "long"):
        return struct.pack("<q", int(v))
    if it == "date":
        if isinstance(v, datetime.datetime):
            v = v.date()
        return struct.pack("<q", (v - _EPOCH_DATE).days)
    if it in ("timestamp", "timestamptz"):
        if v.tzinfo is not None:       # aware → the UTC instant
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        micros = (v - _EPOCH_TS) // datetime.timedelta(microseconds=1)
        return struct.pack("<q", micros)
    if it == "string":
        return str(v).encode("utf-8")
    raise TypeError(f"bucket hash of iceberg type {it!r}")


def _apply_transform(transform: str, v, it):
    """T(literal) in the transformed domain the manifests store
    (spec §Partition Transforms); raises TypeError on unsupported
    literal/type combinations — callers keep the file."""
    v = _coerce_temporal(v, it)
    m = _BUCKET_RE.fullmatch(transform)
    if m:
        return (_murmur3_32(_bucket_hash_bytes(v, it))
                & 0x7fffffff) % int(m.group(1))
    m = _TRUNCATE_RE.fullmatch(transform)
    if m:
        w = int(m.group(1))
        if isinstance(v, str):
            return v[:w]                    # codepoint truncation
        if isinstance(v, int):
            return v - (v % w)              # floor to multiple (W>0)
        raise TypeError(f"truncate of {type(v).__name__}")
    if transform in ("day", "days"):
        # v is naive UTC here (_coerce_temporal normalized any
        # tz-aware literal before dispatch)
        if isinstance(v, datetime.datetime):
            return (v - _EPOCH_TS) // datetime.timedelta(days=1)
        if isinstance(v, datetime.date):
            return (v - _EPOCH_DATE).days
    if transform in ("hour", "hours") and isinstance(v, datetime.datetime):
        return (v - _EPOCH_TS) // datetime.timedelta(hours=1)
    if transform in ("month", "months") \
            and isinstance(v, (datetime.date, datetime.datetime)):
        return (v.year - 1970) * 12 + v.month - 1
    if transform in ("year", "years") \
            and isinstance(v, (datetime.date, datetime.datetime)):
        return v.year - 1970
    raise TypeError(f"transform {transform!r} of {type(v).__name__}")


def _transform_refutes(op: str, tv, pv, monotone: bool) -> bool:
    """True when ``col op literal`` is provably false for a file whose
    single partition value is ``pv``, given T(literal) = ``tv``. For
    monotone T: col < v ⇒ T(col) <= T(v), col > v ⇒ T(col) >= T(v) —
    note the strictness RELAXES through T (pv == tv always keeps: a
    day-equal file may still straddle the literal's time of day).
    Equality refutes only over type-compatible operands — a str/int
    representation mismatch raises (the caller keeps the file)
    instead of silently pruning on pv != tv."""
    if op == "=":
        nums = (int, float)
        compatible = (type(pv) is type(tv)
                      or (isinstance(pv, nums) and isinstance(tv, nums)
                          and not isinstance(pv, bool)
                          and not isinstance(tv, bool)))
        if not compatible:
            raise TypeError(
                f"incomparable partition value {pv!r} vs "
                f"transformed literal {tv!r}")
        return pv != tv
    if not monotone:
        return False
    if op in ("<", "<="):
        return pv > tv
    if op in (">", ">="):
        return pv < tv
    return False


def _identity_py_value(it: str, pv):
    """Raw manifest partition value → comparable Python value for an
    identity field (dates stored as int days, timestamps as micros)."""
    if it == "date" and isinstance(pv, int):
        return _EPOCH_DATE + datetime.timedelta(days=pv)
    if it in ("timestamp", "timestamptz") and isinstance(pv, int):
        return _EPOCH_TS + datetime.timedelta(microseconds=pv)
    return pv


def _prune_entries_transforms(entries: list, meta: dict, fields: list,
                              partition_filter: str) -> list:
    """Transform-aware manifest pruning: the filter (a conjunction of
    ``source_col op literal``) prunes bucket[N]/truncate[W]/day/hour/
    month/year-partitioned files by applying the SAME transform to the
    literal — the spec transforms are pure functions, so a file is
    dropped only when its stored partition value provably refutes a
    conjunct (bucket: equality only; monotone transforms: ranges too).
    Anything unsupported keeps the file; the caller re-applies the
    filter row-level, so pruning stays a pure optimization."""
    from .pruning import interval_refutes, parse_conjuncts
    atoms = parse_conjuncts(partition_filter)
    if atoms is None:
        raise NotImplementedError(
            f"partition_filter {partition_filter!r} over a "
            "transform-partitioned table must be a conjunction of "
            "`col op literal` — general expressions need the "
            "transform inverse (the iceberg runtime jar's planner)")
    types = _schema_types(meta)
    fid_names = _field_names_of(meta)
    by_col: dict = {}          # source column -> [(pname, transform, type)]
    for f in fields:
        sid = int(f.get("source-id", -1))
        src = fid_names.get(sid)
        tr = f.get("transform", "identity")
        if src and tr != "void":       # void says nothing about rows
            by_col.setdefault(src, []).append(
                (f["name"], tr, types.get(sid, "")))
    # a filter column that is no SCHEMA column at all (a typo, or the
    # partition FIELD name like 'id_bucket' instead of its source) is
    # a loud error — it would silently prune nothing AND never apply
    # row-level, returning the unfiltered table as if it matched
    known = set(fid_names.values())
    if known:
        bad = [c for c, _op, _v in atoms if c not in known]
        if bad:
            raise ValueError(
                f"partition_filter references unknown column(s) {bad}"
                f" — transform-spec filters address the SOURCE "
                f"columns (schema columns: {sorted(known)})")

    def refuted(part) -> bool:
        for col, op, v in atoms:
            for pname, tr, it in by_col.get(col, ()):
                if pname not in part:
                    continue           # older-spec record: unknown
                pv = part[pname]
                if pv is None:
                    # null partition value under a null-preserving
                    # transform ⇒ every source value in the file is
                    # null ⇒ col op literal is never true
                    return True
                try:
                    if tr == "identity":
                        ival = _identity_py_value(it, pv)
                        cv = _coerce_temporal(v, it)
                        if interval_refutes(op, cv, ival, ival):
                            return True
                    else:
                        tv = _apply_transform(tr, v, it)
                        if _transform_refutes(
                                op, tv, pv,
                                tr.split("[")[0] in _MONOTONE_TRANSFORMS):
                            return True
                except (TypeError, ValueError, struct.error):
                    continue           # incomparable → keep
        return False

    return [e for e in entries
            if e.get("partition") is None or not refuted(e["partition"])]


def _prune_entries(spark, entries: list, meta: dict,
                   partition_filter: str) -> list:
    """Manifest-level pruning: evaluate ``partition_filter`` against
    each live file's manifest partition values and return only
    matching entries. Driver cost is one O(#files) KB-scale step —
    the manifests already carry the values, no data file is opened.

    Partition-spec EVOLUTION (round 9): entries are judged under the
    spec of THEIR OWN manifest (``spec_id``, manifest-list field 502)
    — a table whose spec evolved may reuse a partition field name
    under a different transform (bucket[8] → bucket[16]), and pruning
    a spec-0 file with spec-1's transform would silently drop live
    rows. Per spec group: identity-only fields take the general SQL
    path (any boolean expression); transform fields take the
    conjunct-refutation path (_prune_entries_transforms); files under
    an UNKNOWN spec id, an unpartitioned spec, or with no recorded
    spec-defaulting possible are KEPT — the caller's row-level filter
    preserves semantics, so pruning stays a pure optimization."""
    default_fields = _partition_spec_fields(meta)
    if not default_fields:
        raise ValueError("partition_filter on an unpartitioned table")
    by_id = {int(s.get("spec-id", 0)): list(s.get("fields", []))
             for s in (meta.get("partition-specs") or [])}
    groups: dict = {}
    for e in entries:
        groups.setdefault(e.get("spec_id"), []).append(e)
    kept_ids: set = set()
    for sid, sub in groups.items():
        if sid is None:
            fields = default_fields    # legacy manifests: default spec
        elif int(sid) in by_id:
            fields = by_id[int(sid)]
        else:
            # unknown spec id: the partition record is
            # uninterpretable — keep (refusing would brick time
            # travel over tables whose old specs were pruned from
            # metadata; the row filter keeps results exact)
            kept_ids |= {id(e) for e in sub}
            continue
        if not fields:
            kept_ids |= {id(e) for e in sub}   # unpartitioned spec
            continue
        if any(f.get("transform", "identity") != "identity"
               for f in fields):
            kept = _prune_entries_transforms(sub, meta, fields,
                                             partition_filter)
        else:
            kept = _prune_entries_identity(spark, sub, meta, fields,
                                           partition_filter)
        kept_ids |= {id(e) for e in kept}
    return [e for e in entries if id(e) in kept_ids]


def _prune_entries_identity(spark, entries: list, meta: dict,
                            fields: list, partition_filter: str) -> list:
    """Identity-spec pruning for ONE spec's entries: any SQL boolean
    over the partition columns, evaluated on a tiny driver-built
    mapping frame."""
    types = _schema_types(meta)
    cast_to = {}
    for f in fields:
        it = types.get(int(f.get("source-id", -1)), "string")
        if it not in _ICEBERG_TO_SPARK_TYPE:
            raise NotImplementedError(
                f"partition column {f['name']!r} has iceberg type "
                f"{it!r} — not supported for pruning")
        cast_to[f["name"]] = _ICEBERG_TO_SPARK_TYPE[it]

    def as_str(name, v):
        # manifests store raw avro values; normalize to the string
        # form Spark's cast accepts for the schema type
        if v is None:
            return None
        if cast_to[name] == "date" and isinstance(v, int):
            return (datetime.date(1970, 1, 1)
                    + datetime.timedelta(days=v)).isoformat()
        if cast_to[name] == "timestamp" and isinstance(v, int):
            return (datetime.datetime(1970, 1, 1)
                    + datetime.timedelta(microseconds=v)
                    ).isoformat(sep=" ")
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    names = [f["name"] for f in fields]
    rows = []
    keep = set()
    for i, e in enumerate(entries):
        part = e.get("partition")
        if part is None or any(n not in part for n in names):
            # no partition record, or a field ABSENT from an
            # older-spec manifest record (spec evolution): the value
            # is unknown — not null — so the file can't be judged;
            # keep it (pruning is an optimization; the defensive row
            # filter in _live_df preserves semantics)
            keep.add(i)
        else:
            rows.append((i, *[as_str(n, part.get(n)) for n in names]))
    if rows:
        from pyspark.sql import functions as F
        from pyspark.sql.types import (IntegerType, StringType,
                                       StructField, StructType)
        # explicit schema: values are spec strings; inference would
        # crash on an all-null column
        map_schema = StructType(
            [StructField("__qs_i__", IntegerType(), False)]
            + [StructField(f"__qs_p_{n}__", StringType(), True)
               for n in names])
        mapping = spark.createDataFrame(rows, map_schema).select(
            "__qs_i__",
            *[F.col(f"__qs_p_{n}__").cast(cast_to[n]).alias(n)
              for n in names])
        keep |= {r["__qs_i__"] for r in mapping.filter(partition_filter)
                 .select("__qs_i__").collect()}
    return [e for i, e in enumerate(entries) if i in keep]


def snapshot_files(table_path: str,
                   snapshot_id: int | None = None
                   ) -> "tuple[list[str], list[str]]":
    """(data files, position-delete files) of a snapshot (default:
    current) — the historical two-list form; snapshots carrying
    EQUALITY deletes refuse here because the caller would silently
    resurrect rows. Use snapshot_files_full / read_iceberg_local for
    equality-delete-aware access."""
    data, pos_deletes, eq_deletes = snapshot_files_full(
        table_path, snapshot_id)
    if eq_deletes:
        raise NotImplementedError(
            "snapshot carries equality delete files; use "
            "snapshot_files_full() or read_iceberg_local()")
    return [d["path"] for d in data], pos_deletes


def snapshot_data_files(table_path: str,
                        snapshot_id: int | None = None) -> list[str]:
    """Live parquet data-file paths of a snapshot — strict form for
    callers that treat the file list as the full row set: refuses
    delete-bearing snapshots (scanning the data files alone would
    resurrect deleted rows). Use snapshot_files / read_iceberg_local
    for delete-aware access."""
    paths, deletes = snapshot_files(table_path, snapshot_id)
    if deletes:
        raise NotImplementedError(
            "snapshot carries row-level delete files; the plain file "
            "list would resurrect deleted rows — use snapshot_files() "
            "or the delete-aware read_iceberg_local()")
    return paths


def _norm_path(c):
    """Manifests may store plain paths where Spark reports file://
    URIs — normalize both to a bare absolute path."""
    from pyspark.sql import functions as F
    return F.regexp_replace(c, "^file:/*", "/")


def _field_names(table_path: str) -> dict:
    """field-id → column-name map from the table metadata's current
    schema ({} when the metadata carries no schema — minimal local
    fixtures)."""
    return _field_names_of(_read_table_metadata(table_path))


def _field_names_of(meta: dict) -> dict:
    return {int(f["id"]): f["name"]
            for f in _current_schema(meta).get("fields", [])
            if "id" in f and "name" in f}


def _py_norm(p: str) -> str:
    import re
    return re.sub("^file:/+", "/", p)


def _table_read_schema(meta: dict, probe_path: str):
    """The table's Spark read schema built from the metadata's current
    Iceberg schema (fields in field-id order), or None — then the
    scan falls back to parquet inference. Scanning with the TABLE
    schema, not a sampled file's, is what makes schema evolution
    sound: a column added in a later snapshot surfaces (null for
    pre-evolution files) regardless of which file inference would
    have sampled.

    Applied when the table schema COVERS ``probe_path``'s footer
    columns (one KB-scale driver read) and every overlapping column's
    physical arrow type matches its declared type — covering, not
    strictly extending: the probe file may be a post-evolution (wide)
    file while OTHER files in the list are narrow, and falling back
    to inference there could sample a narrow file and lose the added
    column. Fallback cases: no/partial schema (the local-fixture
    convention passes schema_fields just to resolve equality ids) or
    a type mismatch (loosely-typed fixtures)."""
    from pyspark.sql.types import StructType
    names = _field_names_of(meta)
    raw_types = {int(f["id"]): f.get("type")
                 for f in _current_schema(meta).get("fields", [])
                 if "id" in f}
    if not names or set(names) - set(raw_types):
        return None
    ddl_by_fid = {fid: _iceberg_type_ddl(raw_types[fid])
                  for fid in names}
    if any(d is None for d in ddl_by_fid.values()):
        return None  # list/map or unmapped primitive — infer
    by_name = {names[fid]: raw_types[fid] for fid in names}
    try:
        import pyarrow.parquet as pq
        fsch = pq.read_schema(_local(probe_path))
        file_cols = set(fsch.names)
    except Exception:
        return None
    # rewritten v3 files MATERIALIZE the reserved row-lineage columns
    # (spec §Row Lineage); they are metadata, never part of the table
    # schema, so they must not flip the coverage check to inference
    file_cols -= {"_row_id", "_last_updated_sequence_number"}
    if file_cols - set(by_name):
        return None  # partial fixture schema — infer instead
    for c in file_cols:
        if not _iceberg_arrow_ok(by_name[c], fsch.field(c).type):
            return None
    ddl = ", ".join(f"`{names[fid]}` {ddl_by_fid[fid]}"
                    for fid in sorted(names))
    try:
        return StructType.fromDDL(ddl)
    except Exception:  # unexpected name/type spelling — infer instead
        return None


def _iceberg_type_ddl(t):
    """Spark DDL for an iceberg type — primitives via the shared map,
    STRUCTS recursively (round 13, so defaulted struct sub-fields
    read under the table schema); list/map return None (those columns
    fall back to parquet inference, as before)."""
    if isinstance(t, str):
        return _ICEBERG_TO_SPARK_TYPE.get(t)
    if isinstance(t, dict) and t.get("type") == "struct":
        subs = []
        for f in t.get("fields", []):
            sub = _iceberg_type_ddl(f.get("type"))
            if sub is None or "name" not in f:
                return None
            subs.append(f"`{f['name']}`: {sub}")
        return "struct<" + ", ".join(subs) + ">"
    return None


def _iceberg_arrow_ok(ityp, at) -> bool:
    """_arrow_type_ok extended over struct types: every arrow
    sub-field present in the file must match its declared sub-type
    (sub-fields the file predates are simply absent — the read
    schema null-fills them)."""
    import pyarrow as pa
    if isinstance(ityp, str):
        return _arrow_type_ok(ityp, at)
    if isinstance(ityp, dict) and ityp.get("type") == "struct":
        if not pa.types.is_struct(at):
            return False
        declared = {f.get("name"): f.get("type")
                    for f in ityp.get("fields", [])}
        for sub in at:
            if sub.name not in declared:
                return False
            if not _iceberg_arrow_ok(declared[sub.name], sub.type):
                return False
        return True
    return False


def _arrow_type_ok(ityp: str, at) -> bool:
    """True when a parquet column of physical arrow type ``at`` reads
    losslessly under the declared iceberg primitive ``ityp``."""
    import pyarrow as pa
    if ityp == "boolean":
        return pa.types.is_boolean(at)
    if ityp == "int":
        return pa.types.is_integer(at) and at.bit_width <= 32
    if ityp == "long":
        return pa.types.is_int64(at)
    if ityp == "float":
        return pa.types.is_float32(at)
    if ityp == "double":
        return pa.types.is_float64(at)
    if ityp == "string":
        return pa.types.is_string(at) or pa.types.is_large_string(at)
    if ityp == "date":
        return pa.types.is_date(at)
    if ityp in ("timestamp", "timestamptz"):
        return pa.types.is_timestamp(at)
    return False


def snapshot_for_ref(table_path: str, ref: str) -> int:
    """snapshot-id of a named BRANCH or TAG (metadata ``refs``, spec
    §Snapshot References — what the jar resolves for
    ``VERSION AS OF 'name'`` / ``.option("branch"/"tag", name)``).
    Unknown names refuse listing the table's refs."""
    meta = _read_table_metadata(table_path)
    refs = meta.get("refs") or {}
    r = refs.get(ref)
    if r is None:
        raise ValueError(
            f"{table_path}: no branch or tag {ref!r} "
            f"(refs: {sorted(refs) or 'none'})")
    return int(r["snapshot-id"])


def set_iceberg_ref(table_dir: str, name: str, snapshot_id: int,
                    kind: str = "tag") -> None:
    """Create or move a named snapshot reference (branch or tag) —
    the metadata-only half of the jar's createTag/createBranch.
    Refuses an id the table does not have (a dangling ref would make
    every later ref read fail)."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"kind must be 'tag' or 'branch', not {kind!r}")
    meta = _read_table_metadata(table_dir)
    have = {int(s["snapshot-id"]) for s in meta.get("snapshots", [])}
    if int(snapshot_id) not in have:
        raise ValueError(
            f"snapshot {snapshot_id} not in {table_dir} "
            f"(have {sorted(have)})")
    refs = dict(meta.get("refs") or {})
    refs[str(name)] = {"snapshot-id": int(snapshot_id), "type": kind}
    meta["refs"] = refs
    _publish_metadata(os.path.join(_local(table_dir), "metadata"),
                      meta)


def drop_iceberg_ref(table_dir: str, name: str) -> None:
    """Remove a named snapshot reference (the jar's dropTag/
    dropBranch); unknown names refuse like snapshot_for_ref."""
    meta = _read_table_metadata(table_dir)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(
            f"{table_dir}: no branch or tag {name!r} "
            f"(refs: {sorted(refs) or 'none'})")
    del refs[name]
    meta["refs"] = refs
    _publish_metadata(os.path.join(_local(table_dir), "metadata"),
                      meta)


def _dv_one_per_file(table_path: str, dvs: list) -> None:
    seen: set = set()
    for d in dvs:
        ref = _py_norm(_local(d["referenced_data_file"]))
        if ref in seen:
            raise ValueError(
                f"{table_path}: data file {ref} is referenced by "
                "two deletion vectors in one snapshot — the spec "
                "allows at most one; table is corrupt")
        seen.add(ref)


def _dv_positions_df(spark, dvs: list):
    """``(__qs_dfp__, __qs_dpos__)`` frame of the given deletion
    vectors' deleted row positions (referenced file normalized via
    _py_norm). The driver handles only the per-file descriptors
    (KBs); the puffin blob decode — O(deleted rows) — runs
    executor-side in a mapInPandas kernel, one task per descriptor
    up to the default parallelism. Shared by the snapshot read and
    the change stream's DV diff."""
    rows = sorted(
        (_py_norm(_local(d["referenced_data_file"])),
         os.path.abspath(_local(d["path"])),
         int(d["content_offset"]), int(d["content_size_in_bytes"]))
        for d in dvs)
    dd = spark.createDataFrame(
        rows, "__qs_dfp__ string, __qs_pf__ string, "
              "__qs_off__ long, __qs_sz__ long")
    par = min(len(rows), spark.sparkContext.defaultParallelism)
    if par > 1:
        dd = dd.repartition(par)

    def _decode_dvs(batches):
        import pandas as pd

        from quokka_spark.sources.puffin import read_puffin_dv_blob
        for pdf in batches:
            for ref, pf, off, sz in zip(
                    pdf["__qs_dfp__"], pdf["__qs_pf__"],
                    pdf["__qs_off__"], pdf["__qs_sz__"]):
                idx = read_puffin_dv_blob(pf, int(off), int(sz))
                yield pd.DataFrame(
                    {"__qs_dfp__": pd.Series([ref] * len(idx),
                                             dtype="object"),
                     "__qs_dpos__": pd.array(idx, dtype="int64")})

    return dd.mapInPandas(_decode_dvs,
                          "__qs_dfp__ string, __qs_dpos__ long")


def _live_df(spark, table_path: str, snapshot_id: int | None,
             keep_position: bool = False,
             partition_filter: str | None = None,
             scan_filter: str | None = None,
             with_lineage: bool = False):
    """Live rows of a snapshot with position AND equality deletes
    applied; with ``keep_position`` the normalized (__qs_fp__,
    __qs_pos__) columns survive — the upsert path needs them to
    address matched rows. ``partition_filter`` prunes the data-file
    list from the manifests' partition values before the scan;
    ``scan_filter`` skips files whose manifest column bounds refute it
    and then applies row-level. ``with_lineage`` (round 12, spec §Row
    Lineage) appends the v3 metadata columns ``_row_id`` (the file's
    first_row_id + row position — null when the file carries no
    lineage) and ``_last_updated_sequence_number`` (the file's data
    sequence number): one KB-scale broadcast of (path → first_row_id,
    seq) joined onto the scan, pure arithmetic per row. Files
    REWRITTEN by lineage-preserving engines materialize the two as
    physical columns; per spec a non-null materialized value wins
    over the inherited one (coalesce)."""
    from pyspark.sql import functions as F
    entries, deletes, eq_deletes, dvs = snapshot_files_full(
        table_path, snapshot_id, with_dvs=True)
    meta = _read_table_metadata(table_path)
    spec_names = []
    if partition_filter:
        entries = _prune_entries(spark, entries, meta, partition_filter)
        spec_names = [f["name"] for f in _partition_spec_fields(meta)]
    if scan_filter:
        entries = _prune_by_bounds(entries, meta, scan_filter)
    paths = [d["path"] for d in entries]
    if not paths:
        raise ValueError(f"{table_path}: snapshot has no data files"
                         + (f" matching {partition_filter or scan_filter!r}"
                            if (partition_filter or scan_filter) else ""))
    rs = _table_read_schema(meta, paths[0])
    if rs is not None and with_lineage:
        # rewritten v3 files materialize the lineage columns — put
        # them in the read schema so coalesce can prefer them; files
        # without them null-fill and fall back to the inherited value
        from pyspark.sql.types import LongType, StructField
        for c in ("_row_id", "_last_updated_sequence_number"):
            rs = rs.add(StructField(c, LongType(), True))
    df = ((spark.read.schema(rs).parquet(*paths)
           if rs is not None else spark.read.parquet(*paths))
          .withColumn("__qs_fp__", _norm_path(F.col("_metadata.file_path")))
          .withColumn("__qs_pos__", F.col("_metadata.row_index")))
    if not with_lineage:
        # a plain read of a table whose rewritten files materialize
        # the reserved lineage columns must not surface them (they
        # can only appear here via schema inference)
        df = df.drop("_row_id", "_last_updated_sequence_number")
    df = _apply_initial_defaults(df, meta, [d["path"] for d in entries],
                                 F.col("__qs_fp__"))
    if partition_filter:
        from .pruning import parse_conjuncts
        atoms = parse_conjuncts(partition_filter)
        # the columns the filter actually references: for transform
        # specs these are the SOURCE columns (live in the data files)
        # even though the spec names (ts_day, id_bucket) are not
        ref = {a[0] for a in atoms} if atoms else set(spec_names)
        if all(n in df.columns for n in ref):
            # partition source columns live in the data files (spec),
            # so the filter also applies row-level — pruning stays a
            # pure optimization even for files kept conservatively
            # (no manifest partition record, bucket range predicates)
            df = df.filter(partition_filter)
        elif any(e.get("partition") is None for e in entries):
            raise NotImplementedError(
                "partition_filter: some manifest entries carry no "
                "partition record and the filter's columns are not "
                "in the data files — cannot evaluate the filter")
    if scan_filter:
        # always row-level too: bounds skipping is a pure optimization
        # (files are dropped only on a proven-empty range), so the
        # filter's exact semantics come from here
        df = df.filter(scan_filter)
    if deletes:
        dd = (spark.read.parquet(*[_local(p) for p in deletes])
              .select(_norm_path(F.col("file_path")).alias("__qs_dfp__"),
                      F.col("pos").cast("long").alias("__qs_dpos__"))
              .distinct())
        df = df.join(dd, (F.col("__qs_fp__") == F.col("__qs_dfp__"))
                     & (F.col("__qs_pos__") == F.col("__qs_dpos__")),
                     "left_anti")
    if dvs:
        # v3 deletion vectors (round 11): same (file, position)
        # anti-join as position deletes; the puffin blob decode runs
        # executor-side (_dv_positions_df). Spec: at most ONE DV per
        # data file per snapshot — duplicates mean a corrupt table,
        # refuse rather than guess (union could mask a writer that
        # forgot to merge).
        _dv_one_per_file(table_path, dvs)
        dd = _dv_positions_df(spark, dvs)
        df = df.join(dd, (F.col("__qs_fp__") == F.col("__qs_dfp__"))
                     & (F.col("__qs_pos__") == F.col("__qs_dpos__")),
                     "left_anti")
    if eq_deletes:
        # each data row carries its file's sequence number (a tiny
        # broadcast path→seq map): an equality delete only removes
        # rows from files with a STRICTLY LOWER sequence (spec §Scan
        # Planning — a delete never applies to rows committed with or
        # after it)
        names = _field_names(table_path)
        seq_df = spark.createDataFrame(
            [(_py_norm(d["path"]), int(d["seq"])) for d in entries],
            "__qs_sfp__ string, __qs_seq__ long")
        df = (df.join(F.broadcast(seq_df),
                      F.col("__qs_fp__") == F.col("__qs_sfp__"), "left")
              .drop("__qs_sfp__"))
        # group delete files sharing (seq, equality_ids): one distinct
        # + one null-safe anti-join per group, fully distributed
        groups: dict = {}
        for d in eq_deletes:
            groups.setdefault(
                (d["seq"], tuple(d["equality_ids"])), []).append(d["path"])
        for (seq, ids), files in sorted(groups.items()):
            dd = spark.read.parquet(*[_local(p) for p in files])
            cols = [names[i] for i in ids] if ids and all(
                i in names for i in ids) else list(dd.columns)
            dd = dd.select(*[F.col(c).alias(f"__qs_eq_{c}__")
                             for c in cols]).distinct()
            cond = F.col("__qs_seq__") < F.lit(int(seq))
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__qs_eq_{c}__"))
            df = df.join(dd, cond, "left_anti")
        df = df.drop("__qs_seq__")
    if with_lineage:
        lin = spark.createDataFrame(
            [(_py_norm(d["path"]),
              (None if d.get("first_row_id") is None
               else int(d["first_row_id"])),
              int(d["seq"])) for d in entries],
            "__qs_lfp__ string, __qs_frid__ long, __qs_lseq__ long")
        df = df.join(F.broadcast(lin),
                     F.col("__qs_fp__") == F.col("__qs_lfp__"), "left")
        rid = F.col("__qs_frid__") + F.col("__qs_pos__")
        seqc = F.col("__qs_lseq__")
        if "_row_id" in df.columns:           # materialized by a rewrite
            df = df.withColumnRenamed("_row_id", "__qs_mrid__")
            rid = F.coalesce(F.col("__qs_mrid__"), rid)
        if "_last_updated_sequence_number" in df.columns:
            df = df.withColumnRenamed(
                "_last_updated_sequence_number", "__qs_mseq__")
            seqc = F.coalesce(F.col("__qs_mseq__"), seqc)
        df = (df.withColumn("_row_id", rid.cast("long"))
              .withColumn("_last_updated_sequence_number",
                          seqc.cast("long"))
              .drop("__qs_lfp__", "__qs_frid__", "__qs_lseq__",
                    "__qs_mrid__", "__qs_mseq__"))
    return df if keep_position else df.drop("__qs_fp__", "__qs_pos__")


def last_txn_version(table_path: str, app_id: str):
    """Latest committed writer version for ``app_id`` from snapshot
    summaries (one ``qs-txn:<app>`` → version key per writer) or None
    — the Iceberg twin of delta_local.last_txn_version. Iceberg has
    no txn action; the summary is the spec's extensible string map,
    where real engines record streaming checkpoints the same way.
    One metadata-JSON read, O(#snapshots) dict lookups. A MISSING
    table maps to None; a corrupt metadata JSON propagates loudly
    (mapping it to None would re-commit already-committed batches)."""
    try:
        meta = _read_table_metadata(table_path)
    except FileNotFoundError:
        return None
    key = f"qs-txn:{app_id}"
    last = None
    for s in meta.get("snapshots", []):
        v = (s.get("summary") or {}).get(key)
        if v is not None:
            last = int(v)
    return last


def snapshot_at_timestamp(table_path: str, ts) -> int:
    """Iceberg ``as-of-timestamp`` resolution: the LATEST snapshot
    whose ``timestamp-ms`` is <= ``ts`` (epoch ms, ISO string, or
    datetime) — the same rule the runtime jar applies. A timestamp
    before the first snapshot refuses."""
    from .delta_local import _to_epoch_ms
    ts_ms = _to_epoch_ms(ts)
    meta = _read_table_metadata(table_path)
    best = None
    for s in meta.get("snapshots", []):
        if int(s.get("timestamp-ms") or 0) <= ts_ms:
            best = s.get("snapshot-id")
    if best is None:
        raise ValueError(
            f"as_of_timestamp {ts!r} is before the table's first "
            "snapshot")
    return int(best)


def read_iceberg_local(spark, table_path: str, snapshot_id: int | None = None,
                       partition_filter: str | None = None,
                       scan_filter: str | None = None,
                       as_of_timestamp=None,
                       with_lineage: bool = False):
    if as_of_timestamp is not None:
        if snapshot_id is not None:
            raise ValueError(
                "pass snapshot_id OR as_of_timestamp, not both")
        snapshot_id = snapshot_at_timestamp(table_path, as_of_timestamp)
    return _read_iceberg_local(spark, table_path, snapshot_id,
                               partition_filter, scan_filter,
                               with_lineage=with_lineage)


def _read_iceberg_local(spark, table_path: str, snapshot_id: int | None = None,
                        partition_filter: str | None = None,
                        scan_filter: str | None = None,
                        with_lineage: bool = False):
    """Spark DataFrame over a local Iceberg table's live data files,
    with v2 POSITION deletes applied as an anti-join on (file, row
    position) and v2 EQUALITY deletes as sequence-scoped null-safe
    anti-joins on their ``equality_ids`` columns.

    ``partition_filter`` (SQL over identity-partition columns) prunes
    the file list from the MANIFESTS' per-file partition values before
    the scan — manifest-level pruning, so a filtered read opens only
    matching data files (identity partition source columns are stored
    in the data files per spec, so no value join-back is needed).

    ``scan_filter`` (SQL over ANY column) is applied row-level AND,
    for ``col op literal [AND ...]`` shapes, skips whole files whose
    manifest ``lower_bounds``/``upper_bounds`` prove the filter false
    — sound min/max file skipping, the other half of manifest-level
    pruning. Unsupported predicate shapes just skip the file-level
    step (the row filter still runs).

    Both delete applications are fully distributed: data files feed
    Spark's native parquet scan with ``_metadata.file_path`` /
    ``row_index`` (no Python, no driver materialization), delete files
    are their own parquet scans, and the anti-joins broadcast the
    delete sets when small (AQE) or sort-merge when not — delete rows
    never pass through the driver. The only driver-side piece is the
    KB-scale (file path → sequence number) map equality scoping
    needs."""
    return _live_df(spark, table_path, snapshot_id,
                    partition_filter=partition_filter,
                    scan_filter=scan_filter,
                    with_lineage=with_lineage)


def upsert_iceberg_local(spark, table_dir: str, df, key_cols,
                         output_line_limit: int = 5_000_000) -> int:
    """MERGE-style upsert, fully distributed: live rows whose key
    matches a row of ``df`` are position-deleted, and ``df`` is
    appended — both in ONE snapshot (readers see the swap atomically,
    time travel sees the pre-upsert state). The matched (file, pos)
    delete set is computed by a Spark semi-join on the _metadata
    columns and written as position-delete parquet by Spark's
    distributed writer — neither the table nor the delete set ever
    passes through the driver; the driver commit is KB of manifests.

    The standard corpus-refresh shape at 100 TB: re-crawled or
    re-scored documents replace their previous versions by key.

    Format-v3 lineage tables (round 12, spec §Row Lineage): an
    UPDATED row keeps its ``_row_id`` — the batch joins the matched
    live rows' ids and the appended files MATERIALIZE the column
    (null for genuine inserts, which then inherit from the new
    file's range; the new snapshot's sequence number is each row's
    ``_last_updated_sequence_number`` either way). Preservation
    applies exactly when a batch key matched ONE live row; a key
    that replaced several rows is a delete+insert and assigns fresh
    ids, as the spec permits."""
    import glob
    import uuid
    from pyspark.sql import functions as F
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    tdir = _local(table_dir)
    tag = uuid.uuid4().hex[:12]
    meta = _read_table_metadata(table_dir)
    lineage = (int(meta.get("format-version") or 1) >= 3
               and "next-row-id" in meta)
    df_evolve = df        # schema evolution must never see _row_id
    live = _live_df(spark, table_dir, None, keep_position=True,
                    with_lineage=lineage)
    batch_keys = df.select(*keys).distinct()
    matched = (live.join(batch_keys, keys, "left_semi")
               .select(F.col("__qs_fp__").alias("file_path"),
                       F.col("__qs_pos__").cast("long").alias("pos")))
    if lineage and "_row_id" not in df.columns:
        # ids come only from keys with exactly ONE live match (semi-
        # joined first so the aggregation is bounded by batch keys,
        # never the table) AND exactly one batch row — stamping one
        # preserved id on several batch rows would commit duplicate
        # row ids (review findings)
        old = (live.join(batch_keys, keys, "left_semi")
               .groupBy(*keys)
               .agg(F.count(F.lit(1)).alias("__qs_kn__"),
                    F.min("_row_id").alias("__qs_krid__"))
               .where("__qs_kn__ = 1")
               .select(*keys, F.col("__qs_krid__").alias("_row_id")))
        bcnt = (df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__qs_bn__")))
        old = (old.join(bcnt, keys)
               .where("__qs_bn__ = 1").drop("__qs_bn__"))
        df = df.join(old, keys, "left")
    ddir = os.path.join(tdir, "metadata", f"upsert-del-{tag}")
    matched.write.mode("errorifexists").parquet(ddir)
    delete_files = sorted(glob.glob(os.path.join(ddir, "*.parquet")))
    adir = os.path.join(tdir, "data", f"upsert-{tag}")
    (df.write.mode("errorifexists")
     .option("maxRecordsPerFile", output_line_limit).parquet(adir))
    add_files = sorted(glob.glob(os.path.join(adir, "*.parquet")))
    # merge-keys in the snapshot summary: read_iceberg_changes pairs
    # this snapshot's deletes+inserts into update_pre/postimage rows
    return commit_snapshot(table_dir, add_files, delete_files,
                           evolve_from_df=df_evolve,
                           summary_extra={"merge-keys":
                                          json.dumps(keys)})


# ----------------------------------------------------------------------
# table construction (spec-shaped local tables: test fixtures and
# snapshotting existing parquet into a time-travelable layout)
# ----------------------------------------------------------------------

def _kv_bytes(name: str, kid: int, vid: int) -> dict:
    """Avro shape of an int-keyed bytes map (array of key/value
    records — the spec's encoding for non-string-keyed maps)."""
    return {"type": "array", "items": {
        "type": "record", "name": name, "fields": [
            {"name": "key", "type": "int", "field-id": kid},
            {"name": "value", "type": "bytes", "field-id": vid}]}}


_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "data_file", "field-id": 2, "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "field-id": 134},
                {"name": "file_path", "type": "string", "field-id": 100},
                {"name": "file_format", "type": "string", "field-id": 101},
                {"name": "record_count", "type": "long", "field-id": 103},
                {"name": "file_size_in_bytes", "type": "long",
                 "field-id": 104},
                {"name": "lower_bounds",
                 "type": ["null", _kv_bytes("kv_lower", 126, 127)],
                 "field-id": 125},
                {"name": "upper_bounds",
                 "type": ["null", _kv_bytes("kv_upper", 129, 130)],
                 "field-id": 128},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}],
                 "field-id": 135},
                # v3 row lineage (spec §Row Lineage, round 12): the
                # first row id assigned to the file's first row; null
                # on v2 entries (and inherited from the manifest's
                # first_row_id by v3 readers when null)
                {"name": "first_row_id",
                 "type": ["null", "long"], "field-id": 142},
                # v3 deletion-vector locator fields (spec: required
                # on DV entries, null elsewhere)
                {"name": "referenced_data_file",
                 "type": ["null", "string"], "field-id": 143},
                {"name": "content_offset",
                 "type": ["null", "long"], "field-id": 144},
                {"name": "content_size_in_bytes",
                 "type": ["null", "long"], "field-id": 145},
            ]}},
    ]}


def _enc_date(v) -> bytes:
    if isinstance(v, datetime.datetime):
        v = v.date()
    if isinstance(v, datetime.date):
        return struct.pack("<i", (v - _EPOCH_DATE).days)
    return struct.pack("<i", int(v))


def _enc_timestamp(v) -> bytes:
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        td = v.replace(tzinfo=None) - _EPOCH_TS
        micros = (td.days * 86_400_000_000 + td.seconds * 1_000_000
                  + td.microseconds)
        return struct.pack("<q", micros)
    return struct.pack("<q", int(v))


_BOUND_ENCODERS = {
    "boolean": lambda v: b"\x01" if v else b"\x00",
    "int": lambda v: struct.pack("<i", int(v)),
    "long": lambda v: struct.pack("<q", int(v)),
    "float": lambda v: struct.pack("<f", float(v)),
    "double": lambda v: struct.pack("<d", float(v)),
    "string": lambda v: str(v).encode("utf-8"),
    "date": _enc_date,
    "timestamp": _enc_timestamp,
    "timestamptz": _enc_timestamp,
}


def _footer_bounds(path: str, wanted: dict) -> tuple:
    """(lower, upper) bounds maps ``{field-id: bytes}`` for the
    columns in ``wanted`` (``{name: (field-id, iceberg type)}``),
    aggregated over the parquet file's row-group statistics — the
    values a real writer puts in the manifest, sourced the same way
    (footer stats), no data read."""
    from .pruning import footer_minmax
    mins, maxs, _ = footer_minmax(_local(path), set(wanted))
    lo, hi = {}, {}
    for name, (fid, ityp) in wanted.items():
        enc = _BOUND_ENCODERS.get(ityp)
        if enc is None:
            continue
        if name in mins:
            lo[fid] = enc(mins[name])
        if name in maxs:
            hi[fid] = enc(maxs[name])
    return lo, hi

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        # v3 row lineage: first row id assigned to this (data)
        # manifest — the inheritance base for entries whose own
        # first_row_id is null; null on v2 lists and delete manifests
        {"name": "first_row_id", "type": ["null", "long"],
         "field-id": 520},
    ]}

_AVRO_PART_TYPES = {
    "int": "int", "long": "long", "string": "string",
    "float": "float", "double": "double", "boolean": "boolean",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamptz": {"type": "long", "logicalType": "timestamp-micros"},
}


def _partition_result_type(transform: str, source_type: str) -> str:
    """Iceberg type of a partition field's VALUE in the manifest —
    the transform's result type, per spec §Partition Transforms:
    bucket[N] → int, year/month/hour → int, day → date,
    identity/truncate[W] → the source type, void → any (null)."""
    t = (transform or "identity").lower()
    if t.startswith("bucket"):
        return "int"
    if t in ("year", "month", "hour"):
        return "int"
    if t == "day":
        return "date"
    if t == "void":
        return "string"  # value is always null; any nullable type
    return source_type  # identity, truncate[W]


def _manifest_entry_schema(partition_spec: list | None) -> dict:
    """The manifest-entry avro schema, with a ``partition`` record
    matching ``partition_spec`` (``[{"name", "type", ...}]``) spliced
    into data_file when the table is partitioned — raw values use the
    spec's avro single-value encoding (dates as int days etc.)."""
    sch = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
    if partition_spec:
        pf = {"name": "partition", "field-id": 102, "type": ["null", {
            "type": "record", "name": "partition_rec", "fields": [
                {"name": f["name"],
                 "type": ["null",
                          _AVRO_PART_TYPES[f.get("type", "string")]],
                 "field-id": f.get("field-id", 1000 + i)}
                for i, f in enumerate(partition_spec)]}]}
        sch["fields"][2]["type"]["fields"].insert(2, pf)
    return sch


def create_local_iceberg_table(table_dir: str, snapshots: list,
                               schema_fields: list | None = None,
                               partition_spec: list | None = None,
                               collect_bounds: list | None = None,
                               partition_specs: list | None = None,
                               default_spec_id: int | None = None,
                               min_last_column_id: int = 0,
                               meta_extra: dict | None = None,
                               format_version: int | None = None
                               ) -> list[int]:
    """Write a spec-shaped Iceberg v2 table whose snapshot N contains
    ``snapshots[N]`` — either a plain list of parquet data-file paths,
    or a dict ``{"data": [...], "deletes": [...], "eq_deletes":
    [...], "dvs": [...]}`` where ``deletes`` are position-delete
    parquet files (columns file_path, pos), ``eq_deletes`` are
    ``{"path": ..., "equality_ids": [...], "seq": N}``
    equality-delete parquet files (``seq`` defaults to the snapshot
    that introduces them; existing files keep their original seq when
    carried forward by commit_snapshot), and ``dvs`` (round 11) are
    v3 deletion-vector dicts ``{"path", "referenced_data_file",
    "content_offset", "content_size_in_bytes"}`` — any dvs stamp the
    table format-version 3. Files are referenced in place, not
    copied — KB of metadata around existing data.
    ``format_version`` (round 12) pins the stamped version explicitly
    — rebuild commits pass the SOURCE table's version so a v3 table
    whose current snapshot happens to carry no DVs is never
    downgraded to v2 (which would also drop v3-only metadata).
    Format-version 3 tables get spec §Row Lineage metadata: every
    data file is assigned a stable ``first_row_id`` range (explicit
    per entry, so rebuilds never renumber a file), snapshots carry
    ``first-row-id``, manifest-list rows ``first_row_id``, data
    entries their REAL parquet ``record_count`` (the inheritance
    arithmetic foreign readers run), and the table metadata the
    advancing ``next-row-id`` mark. A ``next-row-id`` in
    ``meta_extra`` (carried from a rebuilt table) seeds the
    allocation so new files continue past the source's mark; spec
    dict items may carry ``first_row_id``/``record_count`` to keep
    prior assignments (snapshot_files_full returns them).
    ``schema_fields``: optional ``[(field_id, name)]`` or
    ``[(field_id, name, iceberg_type)]`` embedded as the table schema
    so equality_ids and partition types resolve.
    ``partition_spec``: optional ``[{"name", "type", "source-id"?,
    "transform"?}]`` — data spec items then carry their manifest
    partition values as ``{"path", "partition": {name: value}}``
    (raw avro single-value encoding: dates as int days).
    ``collect_bounds``: optional column names whose per-file min/max
    are read from the parquet FOOTER statistics and written into the
    manifests as lower_bounds/upper_bounds (requires typed
    ``schema_fields``) — what a real writer records, enabling
    scan_filter file skipping. Spec items may instead carry explicit
    ``{"lower_bounds": {fid: bytes}, "upper_bounds": ...}``.
    ``partition_specs``: optional MULTI-SPEC table (partition-spec
    evolution) — ``[{"spec-id": N, "fields": [same shape as
    partition_spec]}]``; snapshot dicts may then carry ``"spec_id"``
    to write that snapshot's manifest under a non-default spec
    (manifest-list field 502 records it). ``default_spec_id``
    defaults to the LAST spec's id (the evolved spec, like a real
    table).
    Returns the snapshot ids (1-based)."""
    from .avro_lite import write_container
    meta_dir = os.path.join(_local(table_dir), "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    if partition_specs is not None:
        specs_in = [{"spec-id": int(s.get("spec-id", j)),
                     "fields": list(s.get("fields") or [])}
                    for j, s in enumerate(partition_specs)]
    else:
        specs_in = ([{"spec-id": 0, "fields": list(partition_spec)}]
                    if partition_spec else [])
    default_sid = (int(default_spec_id) if default_spec_id is not None
                   else (specs_in[-1]["spec-id"] if specs_in else 0))
    entry_schemas = {s["spec-id"]:
                     _manifest_entry_schema(s["fields"] or None)
                     for s in specs_in} or {0: _manifest_entry_schema(None)}
    wanted_bounds = {}
    if collect_bounds:
        by_name = {t[1]: (int(t[0]), t[2] if len(t) > 2 else "string")
                   for t in (schema_fields or [])}
        missing = [c for c in collect_bounds if c not in by_name]
        if missing:
            raise ValueError(
                f"collect_bounds columns {missing} not in schema_fields")
        wanted_bounds = {c: by_name[c] for c in collect_bounds}
    bounds_cache: dict = {}

    def bounds_of(path):
        if path not in bounds_cache:
            bounds_cache[path] = _footer_bounds(path, wanted_bounds)
        return bounds_cache[path]

    any_dvs = any(isinstance(s, dict) and s.get("dvs")
                  for s in snapshots)
    if format_version is None:
        # deletion vectors are a format-version 3 feature — a
        # v2-stamped table carrying them would make spec-compliant v2
        # readers accept the table and silently resurrect the deleted
        # rows
        fv = 3 if any_dvs else 2
    else:
        fv = int(format_version)
        if fv not in (2, 3):
            # this writer emits v2 manifest-list shapes — stamping 1
            # would label them as a layout v1 readers can't parse
            raise ValueError(f"format_version {fv}: this writer "
                             "produces format-version 2 or 3")
        if fv < 3 and any_dvs:
            raise ValueError(
                "deletion vectors require format-version 3 — a "
                f"v{fv}-stamped table carrying them would resurrect "
                "deleted rows under spec-compliant readers")
    meta_extra = dict(meta_extra or {})
    # v3 row lineage allocation: continue past a carried mark
    next_row_id = int(meta_extra.pop("next-row-id", 0) or 0)
    lineage_ids: dict = {}    # normalized path → (first_row_id, rows)
    rows_cache: dict = {}

    def rows_of(path) -> int:
        lp = _local(path)
        if lp not in rows_cache:
            import pyarrow.parquet as _pq
            rows_cache[lp] = int(_pq.ParquetFile(lp).metadata.num_rows)
        return rows_cache[lp]

    def lineage_of(spec_item) -> tuple:
        """(first_row_id, record_count) for a data spec item —
        first appearance assigns the next range, later appearances
        (carried-forward files) reuse it, explicit carries win."""
        nonlocal next_row_id
        path = (spec_item["path"] if isinstance(spec_item, dict)
                else spec_item)
        key = _py_norm(_local(path))
        if key not in lineage_ids:
            rc = (spec_item.get("record_count")
                  if isinstance(spec_item, dict) else None)
            rc = int(rc) if rc else rows_of(path)
            explicit = (spec_item.get("first_row_id")
                        if isinstance(spec_item, dict) else None)
            if explicit is not None:
                lineage_ids[key] = (int(explicit), rc)
                next_row_id = max(next_row_id, int(explicit) + rc)
            else:
                lineage_ids[key] = (next_row_id, rc)
                next_row_id += rc
        return lineage_ids[key]

    snap_entries = []
    last_sid = 0
    for i, spec in enumerate(snapshots, start=1):
        operation = "append"
        if isinstance(spec, dict):
            files, dels = spec.get("data", []), spec.get("deletes", [])
            eq_dels = spec.get("eq_deletes", [])
            dv_items = spec.get("dvs", [])
            operation = spec.get("operation") or "append"
            # explicit id: commit_snapshot preserves ORIGINAL snapshot
            # ids/sequence numbers across rebuilds — after
            # expire_snapshots_local, positional renumbering would
            # shift new data files BELOW carried equality deletes'
            # seq and wrongly delete their rows
            sid = int(spec.get("snapshot_id") or max(i, last_sid + 1))
        else:
            files, dels, eq_dels, dv_items = spec, [], [], []
            sid = max(i, last_sid + 1)
        if sid <= last_sid:
            raise ValueError(
                f"snapshot ids must be increasing: {sid} after {last_sid}")
        last_sid = sid

        def entry(p, content, equality_ids=None, seq=None,
                  partition=None, lower=None, upper=None,
                  first_row_id=None, record_count=0):
            def kv(m):
                if not m:
                    return None
                return [{"key": int(k), "value": v}
                        for k, v in sorted(_bounds_map(m).items())]
            return {"status": 1, "snapshot_id": seq or sid, "data_file": {
                "content": content, "file_path": p,
                "file_format": "PARQUET",
                "record_count": int(record_count or 0),
                "file_size_in_bytes": os.path.getsize(_local(p)),
                "partition": partition,
                "first_row_id": first_row_id,
                "lower_bounds": kv(lower), "upper_bounds": kv(upper),
                "equality_ids": ([int(x) for x in equality_ids]
                                 if equality_ids else None)}}

        def data_entry(spec_item):
            # plain path (seq = this snapshot) or {"path", "seq",
            # "partition", "lower_bounds"/"upper_bounds"} —
            # carried-forward files keep their ORIGINAL sequence so
            # equality-delete scoping stays correct across commits,
            # plus their partition values and column bounds. On v3
            # tables every data entry carries its EXPLICIT row-id
            # range and real record_count (spec §Row Lineage)
            frid, rc = lineage_of(spec_item) if fv >= 3 else (None, 0)
            if isinstance(spec_item, dict):
                lo = spec_item.get("lower_bounds")
                hi = spec_item.get("upper_bounds")
                if wanted_bounds and not (lo or hi):
                    lo, hi = bounds_of(spec_item["path"])
                return entry(spec_item["path"], 0,
                             seq=spec_item.get("seq"),
                             partition=spec_item.get("partition"),
                             lower=lo, upper=hi,
                             first_row_id=frid, record_count=rc)
            lo, hi = bounds_of(spec_item) if wanted_bounds else (None, None)
            return entry(spec_item, 0, lower=lo, upper=hi,
                         first_row_id=frid, record_count=rc)

        snap_spec = (int(spec.get("spec_id", default_sid))
                     if isinstance(spec, dict) else default_sid)
        entry_schema = entry_schemas.get(snap_spec)
        if entry_schema is None:
            raise ValueError(
                f"snapshot {i}: spec_id {snap_spec} not among the "
                f"declared partition_specs {sorted(entry_schemas)}")
        manifest = os.path.join(meta_dir, f"manifest-{sid}.avro")
        # a rebuilt snapshot keeps its HISTORICAL first-row-id
        # (review finding: stamping the carried next-row-id seed on
        # prior snapshots would record e.g. first-row-id 15 on the
        # snapshot that assigned rows 0..14 — spec-wrong metadata a
        # foreign reader may use as an inheritance base)
        snap_first = None
        if fv >= 3:
            carried = (spec.get("first_row_id")
                       if isinstance(spec, dict) else None)
            snap_first = (int(carried) if carried is not None
                          else next_row_id)
        write_container(manifest, entry_schema,
                        [data_entry(p) for p in files],
                        extra_meta={"partition-spec-id": snap_spec})
        mlist_rows = [{"manifest_path": manifest,
                       "manifest_length": os.path.getsize(manifest),
                       "partition_spec_id": snap_spec, "content": 0,
                       "added_snapshot_id": sid,
                       "first_row_id": snap_first}]
        if dels or eq_dels or dv_items:
            dmanifest = os.path.join(meta_dir,
                                     f"manifest-{sid}-deletes.avro")

            def dv_entry(d):
                e = entry(d["path"], 1, seq=d.get("seq"))
                e["data_file"].update({
                    "file_format": "PUFFIN",
                    "referenced_data_file": d["referenced_data_file"],
                    "content_offset": int(d["content_offset"]),
                    "content_size_in_bytes":
                        int(d["content_size_in_bytes"])})
                return e

            write_container(
                dmanifest, entry_schema,
                [entry(p, 1) for p in dels]
                + [entry(d["path"], 2, d.get("equality_ids"),
                         d.get("seq")) for d in eq_dels]
                + [dv_entry(d) for d in dv_items])
            mlist_rows.append({"manifest_path": dmanifest,
                               "manifest_length": os.path.getsize(dmanifest),
                               "partition_spec_id": snap_spec, "content": 1,
                               "added_snapshot_id": sid})
        mlist = os.path.join(meta_dir, f"snap-{sid}.avro")
        write_container(mlist, _MANIFEST_FILE_SCHEMA, mlist_rows)
        summary = {"operation": operation}
        if isinstance(spec, dict) and spec.get("summary_extra"):
            summary.update(spec["summary_extra"])
        ts_ms = (int(spec.get("timestamp_ms", 0))
                 if isinstance(spec, dict) else 0)
        snap_entry = {"snapshot-id": sid, "sequence-number": sid,
                      "timestamp-ms": ts_ms, "manifest-list": mlist,
                      "summary": summary}
        if snap_first is not None:
            snap_entry["first-row-id"] = snap_first
        snap_entries.append(snap_entry)
    n = last_sid or len(snapshots)
    schemas = []
    if schema_fields:
        schemas = [{"schema-id": 0, "type": "struct",
                    "fields": [{"id": int(t[0]), "name": t[1],
                                "required": False,
                                "type": (t[2] if len(t) > 2
                                         else "string")}
                               for t in schema_fields]}]
    name_to_fid = {t[1]: int(t[0]) for t in (schema_fields or [])}

    def _meta_spec_fields(fields):
        return [
            {"name": f["name"],
             "transform": f.get("transform", "identity"),
             "source-id": f.get("source-id",
                                name_to_fid.get(f["name"], 1000 + i)),
             "field-id": f.get("field-id", 1000 + i)}
            for i, f in enumerate(fields)]

    meta_specs = ([{"spec-id": s["spec-id"],
                    "fields": _meta_spec_fields(s["fields"])}
                   for s in specs_in]
                  or [{"spec-id": 0, "fields": []}])
    meta = {"format-version": fv, "table-uuid": "0" * 32,
            "location": table_dir, "last-sequence-number": n,
            "current-snapshot-id": n, "snapshots": snap_entries,
            "schemas": schemas, "current-schema-id": 0,
            "default-spec-id": default_sid,
            "partition-specs": meta_specs,
            # spec-required allocation high-water mark: later writers
            # (incl. real Iceberg) must never reuse a retired id.
            # min_last_column_id carries a FOREIGN table's persisted
            # mark through rebuild commits (review finding: a
            # non-evolving rebuild recomputing purely from the schema
            # would regress the mark below retired ids)
            "last-column-id": max(
                [int(min_last_column_id)]
                + [int(f["id"]) for s in schemas
                   for f in s.get("fields", []) if "id" in f])}
    if fv >= 3:
        # spec §Row Lineage: the table-level allocation high-water
        # mark — later writers assign ids from here
        meta["next-row-id"] = next_row_id
    if meta_extra:
        # rebuild-surviving metadata the snapshot specs don't encode
        # (e.g. the refs map — dropping it on every commit would
        # silently delete the table's branches and tags)
        meta.update(meta_extra)
    # shared publish: next non-colliding v<N>.metadata.json +
    # version-hint (readers follow the hint, so N is opaque)
    _publish_metadata(meta_dir, meta)
    return [s["snapshot-id"] for s in snap_entries]


def append_snapshot(table_dir: str, new_files: list[str]) -> int:
    """Commit ``new_files`` as a new snapshot of a local table
    (creating the table when absent). The new snapshot contains every
    live file of the current snapshot plus ``new_files`` — Iceberg
    append semantics. Returns the new snapshot id.

    Metadata-only: rewrites KB of manifests; data files are referenced
    in place. Driver-side by design — a real catalog commit is also a
    single-writer metadata swap; concurrent writers need a catalog
    (the jar path), not this."""
    return commit_snapshot(table_dir, add_files=list(new_files))


_SPARK_TO_ICEBERG = {
    "bigint": "long", "int": "int", "double": "double",
    "float": "float", "string": "string", "boolean": "boolean",
    "date": "date",
    # Spark TimestampType is an INSTANT (UTC-adjusted) → timestamptz;
    # labeling it zone-less would shift values for external readers
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def _evolved_schema_fields(schema_fields, df, floor_id: int = 0):
    """schema_fields triples extended with ``df``'s NEW columns
    (fresh field ids) — the write-side half of schema evolution.
    Best-effort by design: unmappable Spark types and name collisions
    with a different declared type are skipped, never raised — the
    read side only applies the table schema when it matches the
    files' physical types (_table_read_schema), so a skipped
    evolution degrades to inference, not to wrong answers.
    ``floor_id``: lowest id NOT to allocate below (the table's
    last-column-id) — without it, a column dropped by a foreign
    writer would get its retired id reused and old files' dead
    values served as the new column."""
    if df is None:
        return schema_fields
    out = list(schema_fields or [])
    existing = {t[1] for t in out}
    next_fid = max([int(t[0]) for t in out] + [int(floor_id)],
                   default=0) + 1
    for f in df.schema.fields:
        if f.name in existing:
            continue
        it = _SPARK_TO_ICEBERG.get(f.dataType.simpleString())
        if it is None:
            continue
        out.append((next_fid, f.name, it))
        next_fid += 1
    return out or None


def _evolve_meta_schema(meta: dict, df) -> None:
    """Schema evolution on the EXTEND path (multi-spec tables, round
    10): append a NEW schema entry (fresh schema-id) consisting of
    the current fields plus ``df``'s new columns under fresh field
    ids, and point current-schema-id at it — the spec's add-column
    evolution shape (prior schemas stay listed; older files null-fill
    the new columns at read time). Best-effort exactly like
    _evolved_schema_fields: unmappable Spark types are skipped, never
    raised. In-place on ``meta``; the caller publishes."""
    schemas = meta.get("schemas") or []
    if not schemas:
        return                # minimal fixture — no schema to evolve
    cur_id = meta.get("current-schema-id")
    cur = next((s for s in schemas if s.get("schema-id") == cur_id),
               schemas[0])
    fields = list(cur.get("fields", []))
    existing = {f.get("name") for f in fields}
    # fresh ids start past last-column-id AND every id across ALL
    # listed schemas, not just the current one: on a foreign table
    # where a column was dropped (or another schema holds higher
    # ids), reusing a retired field id would silently serve old
    # files' dead-column values as the new column — and a stale
    # last-column-id would let a later real-Iceberg writer allocate
    # the same id for a different column
    all_ids = [int(f["id"]) for s in schemas
               for f in s.get("fields", []) if "id" in f]
    next_fid = max([int(meta.get("last-column-id") or 0)] + all_ids) + 1
    added = []
    for f in df.schema.fields:
        if f.name in existing:
            continue
        it = _SPARK_TO_ICEBERG.get(f.dataType.simpleString())
        if it is None:
            continue
        added.append({"id": next_fid, "name": f.name,
                      "required": False, "type": it})
        next_fid += 1
    if not added:
        return
    new_sid = max(int(s.get("schema-id") or 0) for s in schemas) + 1
    meta["schemas"] = schemas + [
        {"schema-id": new_sid, "type": "struct",
         "fields": fields + added}]
    meta["current-schema-id"] = new_sid
    meta["last-column-id"] = added[-1]["id"]


def _publish_metadata(meta_dir: str, meta: dict) -> int:
    """The commit-publish step shared by every local writer: pick the
    next v<N>.metadata.json (never colliding with an existing file),
    dump, and point version-hint.text at it. Returns N."""
    vs = [int(m.group(1)) for f in os.listdir(meta_dir)
          if (m := re.match(r"v(\d+)\.metadata\.json$", f))]
    nv = (max(vs) + 1) if vs else 1
    with open(os.path.join(meta_dir, f"v{nv}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(nv))
    return nv


def _append_snapshot_fast(table_dir: str, add_files: list, meta: dict,
                          summary_extra: dict | None = None) -> int:
    """O(1) APPEND commit — real Iceberg's append shape: write ONE
    new manifest for the added files, a new manifest LIST that is the
    current list's rows plus the new row, and a new metadata JSON
    with the snapshot appended. No prior manifest is read or
    rewritten, so a long-running streaming sink stays metadata-class
    per batch instead of O(history). Only for unpartitioned
    single-spec tables with no schema change and data-file adds only
    — commit_snapshot routes here and falls back to the general
    rebuild otherwise."""
    from .avro_lite import read_container, write_container
    tdir = _local(table_dir)
    meta_dir = os.path.join(tdir, "metadata")
    snaps = meta.get("snapshots", [])
    cur = snaps[-1]
    new_id = 1 + max(int(s["snapshot-id"]) for s in snaps)
    entry_schema = _manifest_entry_schema(None)
    # v3 row lineage (spec): the O(1) append still assigns each new
    # file its explicit row-id range off the table's next-row-id mark
    # — one footer read per ADDED file, never per history
    fv = int(meta.get("format-version") or 1)
    frid_base = int(meta.get("next-row-id") or 0) if fv >= 3 else None
    running = frid_base or 0
    entries = []
    for p in add_files:
        rc = 0
        frid = None
        if frid_base is not None:
            import pyarrow.parquet as _pq
            rc = int(_pq.ParquetFile(_local(p)).metadata.num_rows)
            frid = running
            running += rc
        entries.append({"status": 1, "snapshot_id": new_id,
                        "data_file": {
            "content": 0, "file_path": p, "file_format": "PARQUET",
            "record_count": rc,
            "file_size_in_bytes": os.path.getsize(_local(p)),
            "partition": None, "first_row_id": frid,
            "lower_bounds": None, "upper_bounds": None,
            "equality_ids": None}})
    manifest = os.path.join(meta_dir, f"manifest-{new_id}.avro")
    write_container(manifest, entry_schema, entries)
    _, prior_rows = read_container(_local(cur["manifest-list"]))
    mlist = os.path.join(meta_dir, f"snap-{new_id}.avro")
    write_container(mlist, _MANIFEST_FILE_SCHEMA, prior_rows + [
        {"manifest_path": manifest,
         "manifest_length": os.path.getsize(manifest),
         "partition_spec_id": int(meta.get("default-spec-id", 0)),
         "content": 0, "added_snapshot_id": new_id,
         "first_row_id": frid_base}])
    ts_ms = max(int(time.time() * 1000),
                max((int(s.get("timestamp-ms") or 0) for s in snaps),
                    default=0))
    summary = {"operation": "append"}
    if summary_extra:
        summary.update({str(k): str(v)
                        for k, v in summary_extra.items()})
    new_snap = {"snapshot-id": new_id, "sequence-number": new_id,
                "timestamp-ms": ts_ms, "manifest-list": mlist,
                "summary": summary}
    if frid_base is not None:
        new_snap["first-row-id"] = frid_base
        meta["next-row-id"] = running
    snaps.append(new_snap)
    meta["snapshots"] = snaps
    meta["current-snapshot-id"] = new_id
    meta["last-sequence-number"] = max(
        int(meta.get("last-sequence-number") or 0), new_id)
    _publish_metadata(meta_dir, meta)
    return new_id


def _extend_snapshot_multispec(table_dir: str, meta: dict,
                               add_files: list,
                               add_delete_files: list,
                               add_eq_delete_files: list,
                               replace: bool,
                               summary_extra: dict | None) -> int:
    """Commit on a table with EVOLVED partition specs (round 10):
    write the NEW files' manifests under the CURRENT (default) spec
    and reference every PRIOR manifest untouched — exactly how real
    Iceberg commits on evolved tables. Older-spec manifests keep
    their own partition records (the reader's per-spec grouping and
    pruning already handle them), so nothing is re-encoded and the
    old rebuild's null-partition corruption risk never arises. With
    ``replace`` the new manifest list carries ONLY the new manifest
    (the compaction shape — everything was rewritten under the
    current spec). O(new files + prior manifest-list rows) per
    commit."""
    from .avro_lite import read_container, write_container
    meta_dir = os.path.join(_local(table_dir), "metadata")
    snaps = meta.get("snapshots", [])
    cur = snaps[-1]
    if "manifest-list" not in cur:
        raise NotImplementedError(
            "multi-spec commit over a v1 inline-manifest snapshot — "
            "no manifest list to extend")
    new_id = 1 + max(int(s["snapshot-id"]) for s in snaps)
    default_sid = int(meta.get("default-spec-id", 0))
    types = _schema_types(meta)
    spec = _partition_spec_fields(meta)
    spec_fields = [
        {"name": f["name"],
         "transform": f.get("transform", "identity"),
         "source-id": f.get("source-id"),
         "field-id": f.get("field-id"),
         "type": _partition_result_type(
             f.get("transform", "identity"),
             types.get(int(f.get("source-id", -1)), "string"))}
        for f in spec] if spec else None
    entry_schema = _manifest_entry_schema(spec_fields)

    def kv(m):
        if not m:
            return None
        return [{"key": int(k), "value": v}
                for k, v in sorted(_bounds_map(m).items())]

    def entry(item, content, equality_ids=None, seq=None):
        if isinstance(item, dict):
            p = item["path"]
            partition = item.get("partition")
            lo, hi = item.get("lower_bounds"), item.get("upper_bounds")
            equality_ids = equality_ids or item.get("equality_ids")
            seq = seq or item.get("seq")
        else:
            p, partition, lo, hi = item, None, None, None
        return {"status": 1, "snapshot_id": seq or new_id,
                "data_file": {
                    "content": content, "file_path": p,
                    "file_format": "PARQUET", "record_count": 0,
                    "file_size_in_bytes": os.path.getsize(_local(p)),
                    "partition": partition,
                    "lower_bounds": kv(lo), "upper_bounds": kv(hi),
                    "equality_ids": ([int(x) for x in equality_ids]
                                     if equality_ids else None)}}

    mlist_rows = ([] if replace else
                  list(read_container(_local(cur["manifest-list"]))[1]))
    if add_files:
        manifest = os.path.join(meta_dir, f"manifest-{new_id}.avro")
        write_container(manifest, entry_schema,
                        [entry(p, 0) for p in add_files],
                        extra_meta={"partition-spec-id": default_sid})
        mlist_rows.append({"manifest_path": manifest,
                           "manifest_length": os.path.getsize(manifest),
                           "partition_spec_id": default_sid,
                           "content": 0, "added_snapshot_id": new_id})
    if add_delete_files or add_eq_delete_files:
        dmanifest = os.path.join(meta_dir,
                                 f"manifest-{new_id}-deletes.avro")
        write_container(
            dmanifest, entry_schema,
            [entry(p, 1) for p in add_delete_files]
            + [entry(d, 2) for d in add_eq_delete_files],
            extra_meta={"partition-spec-id": default_sid})
        mlist_rows.append({"manifest_path": dmanifest,
                           "manifest_length": os.path.getsize(dmanifest),
                           "partition_spec_id": default_sid,
                           "content": 1, "added_snapshot_id": new_id})
    mlist = os.path.join(meta_dir, f"snap-{new_id}.avro")
    write_container(mlist, _MANIFEST_FILE_SCHEMA, mlist_rows)
    summary = {"operation": (
        "replace" if replace
        else "overwrite" if (add_delete_files or add_eq_delete_files)
        else "append")}
    if summary_extra:
        summary.update({str(k): str(v) for k, v in summary_extra.items()})
    ts_ms = max(int(time.time() * 1000),
                max((int(s.get("timestamp-ms") or 0) for s in snaps),
                    default=0))
    snaps.append({"snapshot-id": new_id, "sequence-number": new_id,
                  "timestamp-ms": ts_ms, "manifest-list": mlist,
                  "summary": summary})
    meta["snapshots"] = snaps
    meta["current-snapshot-id"] = new_id
    meta["last-sequence-number"] = max(
        int(meta.get("last-sequence-number") or 0), new_id)
    _publish_metadata(meta_dir, meta)
    return new_id


def commit_snapshot(table_dir: str, add_files: list | None = None,
                    add_delete_files: list | None = None,
                    add_eq_delete_files: list | None = None,
                    replace: bool = False,
                    evolve_from_df=None,
                    summary_extra: dict | None = None,
                    add_dv_files: list | None = None) -> int:
    """General single-writer commit: a new snapshot = current live
    files + ``add_files``, current position-delete files +
    ``add_delete_files``, current equality-delete files +
    ``add_eq_delete_files`` (dicts of ``{"path", "equality_ids"}``) —
    appends, deletes, or both atomically (the one-snapshot upsert
    shape). Carried-forward files keep their original sequence
    numbers. With ``replace`` the new snapshot is EXACTLY
    ``add_files`` with no delete files — the compaction commit shape.
    ``evolve_from_df``: a Spark DataFrame whose new columns extend
    the table schema (write-side schema evolution; see
    _evolved_schema_fields for the best-effort contract).
    ``add_dv_files`` (round 11, format v3): deletion-vector dicts
    ``{"path", "referenced_data_file", "content_offset",
    "content_size_in_bytes"}``; per the spec's replacement rule a new
    DV SUPERSEDES the referenced file's previous DV (callers merge —
    add_deletion_vectors does), and committing any DV stamps the
    table format-version 3. Metadata-only; returns the new snapshot
    id."""
    prior: list[dict] = []
    schema_fields = None
    partition_spec = None
    if os.path.isdir(os.path.join(_local(table_dir), "metadata")):
        meta = _read_table_metadata(table_dir)
        _check_write_defaults(table_dir, meta, add_files)
        if add_dv_files and len(meta.get("partition-specs") or []) > 1:
            raise NotImplementedError(
                "deletion-vector commits on a table with evolved "
                "partition specs — the multispec extend path does "
                "not write DV entries yet")
        if len(meta.get("partition-specs") or []) > 1:
            # EVOLVED partition specs (round 10): never rebuild —
            # re-encoding older-spec manifests under the default
            # spec would null their partition records and pruning
            # would silently drop rows. Instead EXTEND: new manifests
            # under the CURRENT spec, prior manifests untouched (the
            # read side already groups and prunes per spec).
            if evolve_from_df is not None:
                # round 10: new columns EVOLVE the schema in place —
                # a fresh schema entry with fresh field ids; prior
                # manifests stay byte-untouched either way
                _evolve_meta_schema(meta, evolve_from_df)
            return _extend_snapshot_multispec(
                table_dir, meta, list(add_files or []),
                list(add_delete_files or []),
                list(add_eq_delete_files or []), replace, summary_extra)
        names = _field_names(table_dir)
        types = _schema_types(meta)
        if names:
            schema_fields = [(fid, name, types.get(fid, "string"))
                             for fid, name in sorted(names.items())]
        # FAST PATH: a pure data-file append with no schema change on
        # an unpartitioned table writes one manifest + one list +
        # one metadata JSON (real Iceberg's append) — the O(history)
        # rebuild below is only for shapes that must re-encode
        if (add_files and not add_delete_files
                and not add_eq_delete_files and not add_dv_files
                and not replace
                and meta.get("snapshots")
                # v1 inline-manifest snapshots lack a manifest-list
                # file to extend — those rebuild
                and "manifest-list" in meta["snapshots"][-1]
                and not _partition_spec_fields(meta)
                and names
                and (evolve_from_df is None
                     or set(evolve_from_df.columns)
                     <= set(names.values()))):
            return _append_snapshot_fast(table_dir, list(add_files),
                                         meta, summary_extra)
        spec = _partition_spec_fields(meta)
        if spec:
            partition_spec = [
                {"name": f["name"],
                 "transform": f.get("transform", "identity"),
                 "source-id": f.get("source-id"),
                 "field-id": f.get("field-id"),
                 # the manifest stores the TRANSFORM RESULT, not the
                 # source value — bucket[N] yields int whatever the
                 # source type
                 "type": _partition_result_type(
                     f.get("transform", "identity"),
                     types.get(int(f.get("source-id", -1)), "string"))}
                for f in spec]
        for s in meta.get("snapshots", []):
            d, dels, eqs, dvs_ = snapshot_files_full(
                table_dir, s.get("snapshot-id"), with_dvs=True)
            # keep the ORIGINAL snapshot id — positional renumbering
            # after expire_snapshots_local would assign new data files
            # a sequence BELOW carried equality deletes and silently
            # delete their rows (and break time travel to kept ids)
            summ = dict(s.get("summary") or {})
            prior.append({"data": d, "deletes": dels, "eq_deletes": eqs,
                          "dvs": dvs_,
                          "snapshot_id": s.get("snapshot-id"),
                          "operation": summ.pop("operation", None),
                          # summary extras (e.g. merge-keys), the
                          # commit timestamp and the v3 row-lineage
                          # base survive the rebuild — losing them
                          # would strip update pairing, timestamp
                          # time travel, or stamp spec-wrong
                          # first-row-id on history
                          "summary_extra": summ,
                          "first_row_id": s.get("first-row-id"),
                          "timestamp_ms": s.get("timestamp-ms", 0)})
    current = prior[-1] if prior else {"data": [], "deletes": [],
                                       "eq_deletes": []}
    new_id = 1 + max(
        [int(p["snapshot_id"]) for p in prior if p.get("snapshot_id")],
        default=0)
    if replace:
        # real writers stamp rewrite commits "replace" — incremental
        # readers use it to skip pure rearrangements
        new_snap = {"data": list(add_files or []), "deletes": [],
                    "eq_deletes": [], "snapshot_id": new_id,
                    "operation": "replace"}
    else:
        # a new DV supersedes the referenced file's previous DV
        # (spec replacement rule — carrying both would double-apply
        # one and violate the one-DV-per-file invariant)
        new_refs = {_py_norm(_local(d["referenced_data_file"]))
                    for d in (add_dv_files or [])}
        kept_dvs = [d for d in current.get("dvs", [])
                    if _py_norm(_local(d["referenced_data_file"]))
                    not in new_refs]
        new_snap = {
            "data": current["data"] + list(add_files or []),
            "deletes": current["deletes"] + list(add_delete_files or []),
            "eq_deletes": (current["eq_deletes"]
                           + list(add_eq_delete_files or [])),
            "dvs": kept_dvs + list(add_dv_files or []),
            "snapshot_id": new_id,
            "operation": ("overwrite"
                          if (add_delete_files or add_eq_delete_files
                              or add_dv_files)
                          else "append")}
    if summary_extra:
        new_snap["summary_extra"] = dict(summary_extra)
    # real commit timestamp (monotone vs priors even under clock skew)
    new_snap["timestamp_ms"] = max(
        int(time.time() * 1000),
        max([int(p.get("timestamp_ms") or 0) for p in prior],
            default=0))
    floor = 0
    if os.path.isdir(os.path.join(_local(table_dir), "metadata")):
        floor = max(
            [int(meta.get("last-column-id") or 0)]
            + [int(f["id"]) for s in (meta.get("schemas") or [])
               for f in s.get("fields", []) if "id" in f])
    schema_fields = _evolved_schema_fields(schema_fields,
                                           evolve_from_df, floor)
    extra = None
    fv_pin = None
    if os.path.isdir(os.path.join(_local(table_dir), "metadata")):
        src_meta = _read_table_metadata(table_dir)
        # never downgrade the source's format-version on a rebuild
        # (review finding: a v3 table whose snapshot carried no DVs
        # was re-stamped v2, dropping v3-only metadata under strict
        # readers); v1 sources still rebuild as v2 — the rebuild
        # writes v2 manifest-list shapes
        fv_pin = max(int(src_meta.get("format-version") or 1), 2)
        # preserve every top-level key the rebuild does not recompute
        # (refs, table-uuid, properties, next-row-id — the row-id
        # allocation seed — and any foreign keys this engine does not
        # model) instead of silently dropping them
        recomputed = {"format-version", "location",
                      "last-sequence-number", "current-snapshot-id",
                      "snapshots", "schemas", "current-schema-id",
                      "default-spec-id", "partition-specs",
                      "last-column-id"}
        extra = {k: v for k, v in src_meta.items()
                 if k not in recomputed} or None
    if any(bool(s.get("dvs")) for s in prior + [new_snap]):
        fv_pin = max(fv_pin or 2, 3)
    ids = create_local_iceberg_table(table_dir, prior + [new_snap],
                                     schema_fields=schema_fields,
                                     partition_spec=partition_spec,
                                     min_last_column_id=floor,
                                     meta_extra=extra,
                                     format_version=fv_pin)
    return ids[-1]


def _check_write_defaults(table_dir: str, meta: dict,
                          add_files: list | None) -> None:
    """Write-side honesty gate for v3 defaults (round 12): a data
    file that OMITS a column whose ``write-default`` differs from its
    ``initial-default`` would be read back as the initial-default —
    not the value the spec says the writer must have filled. Refuse
    that commit (this engine registers files in place and cannot
    rewrite them). When the two defaults agree — the common ADD
    COLUMN ... DEFAULT case — an omitted column reads correctly and
    commits freely. One KB footer read per ADDED file, only on
    tables that declare diverging defaults (rare)."""
    diverging: set = set()

    def _collect(fields, prefix):
        for f in fields:
            t = f.get("type")
            path = prefix + f.get("name", "?")
            if isinstance(t, str) and "write-default" in f \
                    and f.get("write-default") != f.get(
                        "initial-default"):
                diverging.add(path)
            # struct sub-fields carry defaults too (round 13);
            # list/map-nested defaults refuse at metadata load
            if isinstance(t, dict) and t.get("type") == "struct":
                _collect(t.get("fields", []), path + ".")
    _collect(_current_schema(meta).get("fields", []), "")
    if not diverging or not add_files:
        return
    import pyarrow.parquet as _pq
    for a in add_files:
        p = a["path"] if isinstance(a, dict) else a
        sch = _pq.read_schema(_local(p))
        missing = sorted(c for c in diverging
                         if not _arrow_has_path(sch, c.split(".")))
        if missing:
            raise NotImplementedError(
                f"{table_dir}: data file {p} omits column(s) "
                f"{missing} whose write-default differs from their "
                "initial-default — rows would read back as the "
                "WRONG default; write the column(s) into the batch "
                "or commit with the jar")


def restore_iceberg_local(table_dir: str, snapshot_id: int) -> int:
    """Revert the table to an older snapshot's state as a NEW
    snapshot (the Delta-RESTORE analog of the jar's
    rollback_to_snapshot): the new snapshot REUSES the target's
    manifest-list file byte-for-byte, so its state — data files,
    delete files, per-spec partition records, sequence scoping — is
    identical to the target's, while history and time travel stay
    intact and subsequent commits extend linearly from it (this
    engine's single-writer paths build on the LATEST snapshot, so a
    bare current-snapshot-id pointer move would fork the lineage).
    Metadata-only: one JSON publish, no manifest rewritten."""
    meta = _read_table_metadata(table_dir)
    snaps = meta.get("snapshots") or []
    tgt = next((s for s in snaps
                if s.get("snapshot-id") == snapshot_id), None)
    if tgt is None:
        raise ValueError(
            f"snapshot {snapshot_id} not found "
            f"(have {[s.get('snapshot-id') for s in snaps]})")
    if "manifest-list" not in tgt:
        raise NotImplementedError(
            "restore to a v1 inline-manifest snapshot — no manifest "
            "list to re-reference")
    if not os.path.exists(_local(tgt["manifest-list"])):
        raise ValueError(
            f"restore to snapshot {snapshot_id} needs its manifest "
            f"list {tgt['manifest-list']}, which no longer exists "
            "(expired?)")
    new_id = 1 + max(int(s["snapshot-id"]) for s in snaps)
    ts_ms = max(int(time.time() * 1000),
                max((int(s.get("timestamp-ms") or 0) for s in snaps),
                    default=0))
    snaps.append({"snapshot-id": new_id, "sequence-number": new_id,
                  "timestamp-ms": ts_ms,
                  "manifest-list": tgt["manifest-list"],
                  "summary": {"operation": "rollback",
                              "rolled-back-to": str(snapshot_id)}})
    meta["snapshots"] = snaps
    meta["current-snapshot-id"] = new_id
    meta["last-sequence-number"] = max(
        int(meta.get("last-sequence-number") or 0), new_id)
    _publish_metadata(os.path.join(_local(table_dir), "metadata"),
                      meta)
    return new_id


def rewrite_data_files_local(spark, table_dir: str,
                             target_file_rows: int = 5_000_000) -> int:
    """OPTIMIZE/rewrite_data_files-style compaction: the snapshot's
    live rows (position AND equality deletes APPLIED) are rewritten
    into right-sized files and committed as one new snapshot that
    carries NO delete files — compaction both fixes the small-file
    problem and materializes accumulated deletes, the two costs that
    degrade a long-lived table at 100 TB. Fresh footer bounds are
    recorded for every typed schema column so scan_filter skipping
    keeps working on the compacted files. Time travel still sees the
    old layout (expire_snapshots_local reclaims it).

    Identity-partitioned tables rewrite WITH the partitioning (one
    hive-style write on shadow copies of the partition columns so the
    source columns stay in the data files, per spec) and commit fresh
    manifest partition records parsed back from the directory values
    — partition_filter pruning keeps working on the compacted files.
    Non-identity transforms (bucket/truncate/…) stay gated: the
    transform result can't be recomputed without the transform
    implementation (the jar's job).

    Format-v3 tables preserve ROW LINEAGE across the rewrite (round
    12, spec §Row Lineage): the compacted files MATERIALIZE each
    surviving row's ``_row_id`` and ``_last_updated_sequence_number``
    as physical columns — compaction rearranges rows without
    re-identifying them or faking an update — and the reader's
    lineage path prefers a non-null materialized value over the
    file-range arithmetic."""
    import glob
    import math
    import uuid as _uuid
    from pyspark.sql import functions as F
    meta = _read_table_metadata(table_dir)
    spec = _partition_spec_fields(meta)
    types = _schema_types(meta)
    if spec and any(f.get("transform", "identity") != "identity"
                    for f in spec):
        raise NotImplementedError(
            "compaction of a table partitioned by a non-identity "
            "transform — the manifest partition values are transform "
            "RESULTS this reader cannot recompute; use the runtime jar")
    fv = int(meta.get("format-version") or 1)
    df = _live_df(spark, table_dir, None, with_lineage=fv >= 3)
    n = df.count()
    parts = max(1, math.ceil(n / target_file_rows))
    tdir = _local(table_dir)
    adir = os.path.join(tdir, "data",
                        f"compact-{_uuid.uuid4().hex[:12]}")
    names = _field_names_of(meta)
    wanted = {names[fid]: (fid, t) for fid, t in types.items()
              if fid in names and t in _BOUND_ENCODERS}
    if not spec:
        df.repartition(parts).write.parquet(adir)
        new_files = sorted(glob.glob(os.path.join(adir, "*.parquet")))
        entries = []
        for p in new_files:
            lo, hi = _footer_bounds(p, wanted) if wanted else ({}, {})
            entries.append({"path": p, "lower_bounds": lo,
                            "upper_bounds": hi})
        return commit_snapshot(table_dir, add_files=entries, replace=True)
    pnames = [f["name"] for f in spec]
    ptypes = {f["name"]: types.get(int(f.get("source-id", -1)), "string")
              for f in spec}
    missing = [c for c in pnames if c not in df.columns]
    if missing:
        raise NotImplementedError(
            f"identity partition source columns {missing} are not in "
            "the data files — cannot rewrite per partition")
    # shadow copies drive the hive layout; the real source columns
    # stay inside the files, as the spec requires for identity
    # partitions
    shadows = {c: f"__qs_hp_{c}__" for c in pnames}
    out = df
    for c, sc in shadows.items():
        out = out.withColumn(sc, F.col(c).cast("string"))
    # deterministic row salt: clustering on the partition columns
    # alone would land each partition on ONE task → one oversized
    # file per partition, recreating the problem compaction fixes
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                  F.lit(parts))
    (out.repartition(parts, *pnames, salt)
        .write.partitionBy(*shadows.values()).parquet(adir))
    new_files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(adir)
        for f in fs if f.endswith(".parquet"))
    from .delta_local import _hive_partition_values
    entries = []
    for p in new_files:
        vals = _hive_partition_values(adir, p)
        part = {c: _spec_string_to_raw(ptypes[c], vals.get(shadows[c]))
                for c in pnames}
        lo, hi = _footer_bounds(p, wanted) if wanted else ({}, {})
        entries.append({"path": p, "partition": part,
                        "lower_bounds": lo, "upper_bounds": hi})
    return commit_snapshot(table_dir, add_files=entries, replace=True)


def _spec_string_to_raw(ityp: str, s):
    """A hive-directory partition value string → the raw avro value a
    manifest partition record stores (dates as int days, timestamps
    as int micros — the single-value encoding _prune_entries casts
    back)."""
    if s is None:
        return None
    if ityp in ("int", "long"):
        return int(s)
    if ityp in ("float", "double"):
        return float(s)
    if ityp == "boolean":
        return s == "true"
    if ityp == "date":
        return (datetime.date.fromisoformat(s) - _EPOCH_DATE).days
    if ityp in ("timestamp", "timestamptz"):
        dt = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
        return int((dt.replace(tzinfo=None) - _EPOCH_TS)
                   .total_seconds() * 1_000_000)
    return s


def expire_snapshots_local(table_dir: str, keep_last: int = 1,
                           delete_orphans: bool = False) -> list:
    """Drop all but the last ``keep_last`` snapshots from the table
    metadata (snapshot ids preserved — only the history shrinks).
    With ``delete_orphans``, parquet files under the table root that
    no KEPT snapshot references (old data files, materialized delete
    files) are deleted from disk — the reclaim half. Files outside
    the root (referenced-in-place fixtures) are never touched.
    Returns the kept snapshot ids."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    tdir = _local(table_dir)
    meta_dir = os.path.join(tdir, "metadata")
    meta = _read_table_metadata(table_dir)
    snaps = meta.get("snapshots", [])
    kept = snaps[-keep_last:]
    # branches/tags protect their snapshots (the jar's
    # expireSnapshots never drops a referenced one) — a silently
    # dangling ref would fail every later ref read
    kept_ids = {int(s["snapshot-id"]) for s in kept}
    pinned = {name: int(r["snapshot-id"])
              for name, r in (meta.get("refs") or {}).items()
              if int(r["snapshot-id"]) not in kept_ids}
    if pinned:
        raise ValueError(
            f"expire would drop snapshot(s) still referenced by "
            f"branch/tag {sorted(pinned)} — drop the ref(s) first "
            "(drop_iceberg_ref) or keep more history")
    referenced: set = set()
    if delete_orphans:
        for s in kept:
            d, dels, eqs, dvs_ = snapshot_files_full(
                table_dir, s.get("snapshot-id"), with_dvs=True)
            referenced |= {os.path.abspath(_local(e["path"])) for e in d}
            referenced |= {os.path.abspath(_local(p)) for p in dels}
            referenced |= {os.path.abspath(_local(e["path"]))
                           for e in eqs}
            # puffin DV containers the kept snapshots still need
            referenced |= {os.path.abspath(_local(e["path"]))
                           for e in dvs_}
    # the streaming sinks' exactly-once marks (qs-txn:<app> summary
    # keys) must SURVIVE retention: fold each app's latest mark from
    # the whole history into the newest kept snapshot, else a crash
    # between sink-commit and Spark-checkpoint after an expiry would
    # re-commit an already-committed batch (silent duplicates)
    if kept and len(kept) < len(snaps):
        marks: dict = {}
        for s in snaps:                      # ascending: later wins
            for k, v in (s.get("summary") or {}).items():
                if k.startswith("qs-txn:"):
                    marks[k] = v
        if marks:
            last_sm = dict(kept[-1].get("summary") or {})
            kept[-1] = dict(kept[-1])
            kept[-1]["summary"] = {**marks, **last_sm}
    meta["snapshots"] = kept
    if kept and meta.get("current-snapshot-id") not in \
            [s.get("snapshot-id") for s in kept]:
        meta["current-snapshot-id"] = kept[-1]["snapshot-id"]
    _publish_metadata(meta_dir, meta)
    if delete_orphans:
        root = os.path.abspath(tdir)
        for dp, _, fs in os.walk(root):
            for fn in fs:
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.abspath(os.path.join(dp, fn))
                if p not in referenced:
                    os.unlink(p)
    return [s["snapshot-id"] for s in kept]


def add_position_deletes(table_dir: str,
                         deletes: "dict[str, list[int]]") -> int:
    """Commit a new snapshot that position-deletes the given rows:
    ``deletes`` maps a data-file path to the 0-based row positions to
    remove (Iceberg v2 position-delete semantics). Writes one
    position-delete parquet (file_path, pos — spec-ordered) plus KB of
    manifests; data files untouched. Returns the new snapshot id.

    Same driver-side single-writer caveat as append_snapshot. For
    large delete sets produced by a distributed computation, write the
    (file_path, pos) parquet with Spark and commit via
    commit_snapshot(add_delete_files=...) instead (the upsert path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tdir = _local(table_dir)
    meta = _read_table_metadata(table_dir)
    n = len(meta.get("snapshots", [])) + 1
    rows_fp, rows_pos = [], []
    for path, positions in deletes.items():
        for p in sorted(positions):
            rows_fp.append(path)
            rows_pos.append(int(p))
    import uuid as _uuid
    # uuid suffix: after expire_snapshots_local the count-based name
    # could collide with (and overwrite) a KEPT snapshot's delete file
    dpath = os.path.join(tdir, "metadata",
                         f"delete-{n}-{_uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(pa.table({"file_path": pa.array(rows_fp, pa.string()),
                             "pos": pa.array(rows_pos, pa.int64())}), dpath)
    return commit_snapshot(table_dir, add_delete_files=[dpath])


def add_equality_deletes(table_dir: str, rows: "pa.Table | dict",
                         equality_ids: list | None = None) -> int:
    """Commit a new snapshot that EQUALITY-deletes every live row (of
    older sequence numbers) matching a row of ``rows`` on its columns
    (Iceberg v2 equality-delete semantics — the Flink-CDC delete
    shape). ``rows``: a pyarrow Table or a {column: values} dict of
    the equality columns. ``equality_ids``: the matching field ids
    when the table metadata carries a schema (resolved back to these
    column names at read time); omitted → the reader falls back to
    the delete file's column names. Returns the new snapshot id.

    Same driver-side single-writer caveat as add_position_deletes;
    large delete sets should be written by Spark and committed via
    commit_snapshot(add_eq_delete_files=...)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tdir = _local(table_dir)
    meta = _read_table_metadata(table_dir)
    n = len(meta.get("snapshots", [])) + 1
    table = rows if isinstance(rows, pa.Table) else pa.table(rows)
    import uuid as _uuid
    dpath = os.path.join(tdir, "metadata",
                         f"eq-delete-{n}-{_uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(table, dpath)
    return commit_snapshot(table_dir, add_eq_delete_files=[
        {"path": dpath,
         "equality_ids": [int(x) for x in (equality_ids or [])]}])


def add_deletion_vectors(table_dir: str,
                         deletes: "dict[str, list[int]]") -> int:
    """Commit v3 DELETION VECTORS for the given rows (round 11):
    ``deletes`` maps a data-file path to 0-based row positions. One
    puffin file holds a ``deletion-vector-v1`` blob per touched data
    file; each blob's positions are the UNION of the file's existing
    DV (per the spec's replacement rule a new DV supersedes the old
    one — forgetting the merge would resurrect earlier deletions —
    the same contract as delta_local.delete_rows_delta_local). The
    commit stamps the table format-version 3; existing v2
    position/equality deletes keep applying. Returns the new
    snapshot id. Same driver-side single-writer caveat as
    add_position_deletes; the blob decode on READS runs
    executor-side."""
    import uuid as _uuid

    from .puffin import read_puffin_dv_blob, write_puffin_dv
    tdir = _local(table_dir)
    meta = _read_table_metadata(table_dir)
    data, _pos, _eqs, dvs = snapshot_files_full(table_dir, None,
                                                with_dvs=True)
    live = {_py_norm(_local(d["path"])): d["path"] for d in data}
    by_ref = {_py_norm(_local(d["referenced_data_file"])): d
              for d in dvs}
    dv_map: dict = {}
    for p, positions in deletes.items():
        ref = _py_norm(_local(p))
        if ref not in live:
            raise ValueError(f"{p}: not a live data file of "
                             f"{table_dir}")
        merged = set(int(x) for x in positions)
        if any(x < 0 for x in merged):
            raise ValueError(f"{p}: negative row position")
        old = by_ref.get(ref)
        if old is not None:
            merged |= set(read_puffin_dv_blob(
                os.path.abspath(_local(old["path"])),
                old["content_offset"], old["content_size_in_bytes"]))
        # key by the path string the MANIFESTS use, so the reader's
        # referenced-file normalization matches the data entries
        dv_map[live[ref]] = sorted(merged)
    n = len(meta.get("snapshots", [])) + 1
    ppath = os.path.join(tdir, "metadata",
                         f"dv-{n}-{_uuid.uuid4().hex[:8]}.puffin")
    info = write_puffin_dv(ppath, dv_map)
    return commit_snapshot(table_dir, add_dv_files=[
        {"path": ppath, "referenced_data_file": p,
         "content_offset": info[p]["content_offset"],
         "content_size_in_bytes": info[p]["content_size_in_bytes"]}
        for p in sorted(dv_map)])


# ----------------------------------------------------------------------
# incremental / CDF-style reads (round 8) — completes the trio next to
# delta_local.read_delta_changes and hudi_local.read_hudi_incremental
# ----------------------------------------------------------------------

def snapshot_at_or_after_timestamp(table_path: str, ts) -> int:
    """CDF start-bound resolution, the MIRROR of
    :func:`snapshot_at_timestamp`: the EARLIEST snapshot whose
    ``timestamp-ms`` is >= ``ts``. A timestamp past the newest
    snapshot refuses — an empty stream would hide a units typo."""
    from .delta_local import _to_epoch_ms
    ts_ms = _to_epoch_ms(ts)
    meta = _read_table_metadata(table_path)
    for s in meta.get("snapshots", []):
        if int(s.get("timestamp-ms") or 0) >= ts_ms:
            return int(s.get("snapshot-id"))
    raise ValueError(
        f"from_timestamp {ts!r} is after the table's newest snapshot")


def read_iceberg_changes(spark, table_path: str,
                         from_snapshot: int | None = None,
                         to_snapshot: int | None = None,
                         from_timestamp=None, to_timestamp=None):
    """Row-level changes committed in snapshots ``[from_snapshot,
    to_snapshot]`` (inclusive, metadata order) — derived entirely
    from manifests, no changelog files. Output = the table's data
    columns plus ``_change_type`` ('insert' | 'delete') and
    ``_snapshot_id``.

    Per snapshot, against its predecessor:
    - newly added DATA files → inserts;
    - newly added POSITION-delete files → their (file_path, pos) rows
      fetched by a distributed semi-join over the targeted files;
    - newly added EQUALITY-delete files → the matching rows of
      strictly-older data files (sequence-scoped, null-safe);
    - new or superseded v3 DELETION VECTORS (round 11) → the
      cur-minus-parent positions of each referenced file, decoded
      executor-side (the Delta CDF DV-diff shape); dropping a live
      file's DV (row resurrection) refuses typed;
    - snapshots stamped ``replace`` (compaction/rewrite) → NOTHING;
    - data files REMOVED by a non-replace snapshot (overwrite /
      truncate) → their rows as deletes, gated when the parent
      snapshot carries delete files (the survivors would need the
      full anti-join stack reconstructed per removed file).
    An upsert commit (new files + position deletes in one snapshot)
    whose summary declares its MERGE keys ("merge-keys", stamped by
    upsert_iceberg_local) pairs into ``update_preimage``/
    ``update_postimage`` rows for keys on both sides; without the
    key metadata it keeps the standard delete(old rows) +
    insert(new rows) decomposition.

    Driver cost: manifest reads per snapshot in the range (KB-scale);
    every row-bearing step is a distributed scan. Timestamp bounds
    (round 10) mirror the Delta CDF rule: ``from_timestamp`` picks
    the earliest snapshot at-or-after (past-newest refuses),
    ``to_timestamp`` the latest at-or-before (clamps at newest)."""
    from pyspark.sql import functions as F

    from .changes import ChangeFeed

    if (from_snapshot is None) == (from_timestamp is None):
        raise ValueError(
            "pass exactly one of from_snapshot / from_timestamp")
    if to_snapshot is not None and to_timestamp is not None:
        raise ValueError("pass at most one of to_snapshot / "
                         "to_timestamp")
    if from_timestamp is not None:
        from_snapshot = snapshot_at_or_after_timestamp(table_path,
                                                       from_timestamp)
    if to_timestamp is not None:
        # latest at-or-before: clamps at the newest snapshot,
        # refuses before-first — snapshot_at_timestamp's own rule
        to_snapshot = snapshot_at_timestamp(table_path, to_timestamp)
    meta = _read_table_metadata(table_path)
    snaps = meta.get("snapshots", [])
    ids = [s.get("snapshot-id") for s in snaps]
    if to_snapshot is None:
        to_snapshot = ids[-1] if ids else None
    if from_snapshot not in ids or to_snapshot not in ids:
        raise ValueError(
            f"snapshot range [{from_snapshot}, {to_snapshot}] not in "
            f"the table's snapshots {ids}")
    i0, i1 = ids.index(from_snapshot), ids.index(to_snapshot)
    if i0 > i1:
        raise ValueError(f"from_snapshot {from_snapshot} is newer than "
                         f"to_snapshot {to_snapshot}")
    names = _field_names_of(meta)
    feed = ChangeFeed(spark, "_snapshot_id", "long")

    def _scan(paths):
        # the TABLE read schema, not per-file inference: pre-evolution
        # files surface evolved columns as null, exactly like the
        # normal read path, and the parts union cleanly. Merge-written
        # v3 files MATERIALIZE the reserved lineage columns — never
        # table columns, so they must not leak into the change stream
        # (they can only appear via the inference fallback). v3
        # initial-defaults apply through the SAME helper as the
        # snapshot read (review finding: the stream otherwise
        # null-filled what read_iceberg served).
        fs = [_local(p) for p in sorted(paths)]
        rs = _table_read_schema(meta, fs[0])
        out = (spark.read.schema(rs).parquet(*fs)
               if rs is not None else spark.read.parquet(*fs)
               .drop("_row_id", "_last_updated_sequence_number"))
        return _apply_initial_defaults(
            out, meta, fs, _norm_path(F.col("_metadata.file_path")))

    def _scan_at(paths):
        # raw rows addressed by (file, position) for delete matching
        return (_scan(paths)
                .withColumn("__qs_fp__", _norm_path(
                    F.col("_metadata.file_path")))
                .withColumn("__qs_pos__", F.col("_metadata.row_index")))

    # consecutive insert-only snapshots coalesce into one run
    # (changes.py). It never has to flush early: every ``_scan`` reads
    # through the same latest table metadata, so the run stays open
    # across interrupting snapshots. The path keys follow THIS
    # module's convention (_py_norm/_norm_path), not abspath:
    # externally-written manifests may store file:/ single-slash URIs.
    def _run_scan(paths, keep_path):
        df = _scan(paths)
        return (df.withColumn("__qs_if__", _norm_path(
            F.col("_metadata.file_path"))) if keep_path else df)

    inserts = feed.run(_run_scan, "__qs_if__",
                       lambda p: _py_norm(_local(p)))

    for pos in range(i0, i1 + 1):
        sid = ids[pos]
        op = (snaps[pos].get("summary") or {}).get("operation")
        cur_d, cur_p, cur_e, cur_v = snapshot_files_full(
            table_path, sid, with_dvs=True)
        if pos > 0:
            par_d, par_p, par_e, par_v = snapshot_files_full(
                table_path, ids[pos - 1], with_dvs=True)
        else:
            par_d, par_p, par_e, par_v = [], [], [], []
        cur_paths = {d["path"]: d for d in cur_d}
        par_paths = {d["path"]: d for d in par_d}
        added = [p for p in cur_paths if p not in par_paths]
        removed = [p for p in par_paths if p not in cur_paths]
        new_pos = [p for p in cur_p if p not in set(par_p)]
        par_eq_paths = {d["path"] for d in par_e}
        new_eq = [d for d in cur_e if d["path"] not in par_eq_paths]
        # v3 deletion vectors: a DV is NEW when its referenced file
        # had none before, CHANGED when the blob moved (supersede
        # rule) — either way the change rows are cur-minus-parent
        # positions, the Delta CDF DV-diff shape
        _dv_one_per_file(table_path, cur_v)
        _dv_one_per_file(table_path, par_v)   # a corrupt parent would
        # otherwise collapse silently in the dict (last wins) and the
        # diff re-emit already-dead positions as phantom deletes
        cur_by_ref = {_py_norm(_local(d["referenced_data_file"])): d
                      for d in cur_v}
        par_by_ref = {_py_norm(_local(d["referenced_data_file"])): d
                      for d in par_v}
        new_dvs = [d for ref, d in sorted(cur_by_ref.items())
                   if par_by_ref.get(ref) is None
                   or (par_by_ref[ref]["path"],
                       par_by_ref[ref]["content_offset"])
                   != (d["path"], d["content_offset"])]
        if op == "replace":
            if new_pos or new_eq or new_dvs:
                raise ValueError(
                    f"snapshot {sid}: stamped 'replace' but adds "
                    "delete files — malformed rewrite")
            continue        # contributes nothing; the run stays open
        # a DV disappearing while its data file stays live would
        # RESURRECT rows — not an insert/delete the stream can emit
        live_norm = {_py_norm(_local(p)) for p in cur_paths}
        gone = [r for r in par_by_ref
                if r not in cur_by_ref and r in live_norm]
        if gone:
            raise NotImplementedError(
                f"snapshot {sid} drops the deletion vector of a "
                f"still-live data file ({sorted(gone)[:3]}) — the "
                "resurrected rows have no change-stream shape")
        if added and not removed and not new_pos and not new_eq \
                and not new_dvs:
            inserts.add(int(sid), added)
            continue
        # UPDATE pairing (round 9): an upsert snapshot that declares
        # its MERGE keys in the summary (upsert_iceberg_local stamps
        # "merge-keys") pairs its position-delete rows with its new
        # rows by key in the shared pairing pass (changes.py). Only
        # the clean upsert shape (adds + position deletes, nothing
        # else) pairs; anything mixed keeps the raw decomposition.
        pair_kc = None
        mk_raw = (snaps[pos].get("summary") or {}).get("merge-keys")
        if mk_raw and added and new_pos and not removed \
                and not new_eq and not new_dvs:
            try:
                pair_kc = list(json.loads(mk_raw))
            except (ValueError, TypeError):
                pair_kc = None
        ins_df = _scan(added) if added else None
        if pair_kc and not all(k in ins_df.columns for k in pair_kc):
            pair_kc = None             # schema drift: fall back
        if removed:
            if par_p or par_e or par_v:
                raise NotImplementedError(
                    f"snapshot {sid} removes data files while the "
                    "parent carries delete files — reconstructing "
                    "each removed file's surviving rows is not "
                    "supported here (compact first)")
            feed.add(_scan(removed), "delete", int(sid))
        if added and not pair_kc:
            feed.add(ins_df, "insert", int(sid))
        # parent LIVE rows (full delete stack applied) are the match
        # target whenever the parent carries delete files — matching
        # raw files would re-report rows already deleted earlier
        # (phantom deletes); when the parent is delete-free, a raw
        # scan bounded to the referenced files is cheaper and equal
        par_live = None
        if (new_pos or new_eq or new_dvs) and pos > 0 \
                and (par_p or par_e or par_v):
            par_live = _live_df(spark, table_path, ids[pos - 1],
                                keep_position=True)
        added_norm = {_py_norm(_local(p)): p for p in added}
        dd = None
        if new_pos:
            dd = (spark.read.parquet(*[_local(p) for p in new_pos])
                  .select(_norm_path(F.col("file_path"))
                          .alias("__qs_dfp__"),
                          F.col("pos").cast("long").alias("__qs_dpos__"))
                  .distinct())
        if new_dvs:
            # newly deleted = cur blob minus the file's parent blob
            dv_dd = _dv_positions_df(spark, new_dvs)
            prior = [par_by_ref[r] for r in sorted(
                {_py_norm(_local(d["referenced_data_file"]))
                 for d in new_dvs} & set(par_by_ref))]
            if prior:
                dv_dd = dv_dd.join(
                    _dv_positions_df(spark, prior),
                    ["__qs_dfp__", "__qs_dpos__"], "left_anti")
            dd = dv_dd if dd is None else dd.unionByName(dv_dd)
        if dd is not None:
            # the referenced-path set bounds the target scan; it comes
            # from a distributed distinct (KB-scale: one row per
            # referenced file), NOT a driver read of the delete files
            # — a GDPR-scale wave would otherwise materialize one
            # Python string per deleted row on the driver
            ref_norm = {r["__qs_dfp__"] for r in
                        dd.select("__qs_dfp__").distinct().collect()}
            targets = []
            old_refs = ref_norm - set(added_norm)
            if old_refs:
                if par_live is not None:
                    targets.append(par_live.where(
                        F.col("__qs_fp__").isin(sorted(old_refs))))
                else:
                    old_files = [p for p in par_paths
                                 if _py_norm(_local(p)) in old_refs]
                    if old_files:
                        targets.append(_scan_at(old_files))
            new_refs = [added_norm[n] for n in ref_norm
                        if n in added_norm]
            if new_refs:
                # brand-new files can carry no prior deletes: raw scan
                targets.append(_scan_at(new_refs))
            if targets:
                tgt = targets[0]
                for t in targets[1:]:
                    tgt = tgt.unionByName(t)
                scan = (tgt.join(
                    dd, (F.col("__qs_fp__") == F.col("__qs_dfp__"))
                    & (F.col("__qs_pos__") == F.col("__qs_dpos__")),
                    "left_semi").drop("__qs_fp__", "__qs_pos__"))
                if pair_kc:
                    feed.pair(int(sid), pair_kc, scan, ins_df)
                    pair_kc = None     # consumed
                else:
                    feed.add(scan, "delete", int(sid))
        if pair_kc:
            # pairing armed but the delete side produced no target
            # scan (e.g. every referenced file vanished) — fall back
            # to the plain insert so no rows are lost
            feed.add(ins_df, "insert", int(sid))
        for d in new_eq:
            older = {_py_norm(_local(e["path"])) for e in par_d
                     if int(e["seq"]) < int(d["seq"])}
            if not older:
                continue
            dd = spark.read.parquet(_local(d["path"]))
            ids_ = d.get("equality_ids") or []
            cols = [names[i] for i in ids_] if ids_ and all(
                i in names for i in ids_) else list(dd.columns)
            dd = dd.select(*[F.col(c).alias(f"__qs_eq_{c}__")
                             for c in cols]).distinct()
            if par_live is not None:
                tgt = par_live.where(F.col("__qs_fp__")
                                     .isin(sorted(older)))
            else:
                tgt = _scan_at([p for p in par_paths
                                if _py_norm(_local(p)) in older])
            cond = None
            for c in cols:
                eq = F.col(c).eqNullSafe(F.col(f"__qs_eq_{c}__"))
                cond = eq if cond is None else cond & eq
            feed.add(tgt.join(dd, cond, "left_semi")
                     .drop("__qs_fp__", "__qs_pos__"), "delete", int(sid))
    return feed.result(lambda: _live_df(spark, table_path, to_snapshot))
