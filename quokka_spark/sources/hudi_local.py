"""Pure-Python Apache Hudi table reader (metadata layer only) — the
third lakehouse format next to delta_local and iceberg_local, same
design: resolve the table's live file slices from the ``.hoodie/``
timeline driver-side (KB-scale JSON), then hand the file lists to
distributed Spark scans with full predicate pushdown and column
pruning. No hudi-spark bundle jar needed.

Hudi model (public spec, hudi.apache.org/docs — timeline + file
layout): a table is a set of FILE GROUPS (stable ``fileId``), each a
sequence of FILE SLICES written by successive commits; Copy-on-Write
rewrites a group's base parquet on every update, so the live table is
exactly "the newest base file per surviving group as of an instant".
MERGE_ON_READ instead appends LOG FILES to a slice (cheap writes) and
merges them onto the base at read time; a later compaction ``commit``
or clustering ``replacecommit`` starts a fresh slice. The timeline
under ``.hoodie/`` records one ``<instant>.commit`` JSON per completed
write whose ``partitionToWriteStats`` lists the (partition, fileId,
path) of every file written; ``<instant>.replacecommit`` additionally
lists ``partitionToReplaceFileIds`` — groups whose previous slices
are dead (clustering / insert_overwrite); ``<instant>.deltacommit``
is the MoR write action (new base files for inserts, log files for
updates/deletes). Reading therefore never lists data directories:
the timeline IS the source of truth, exactly like the Delta log
replay in delta_local.

MoR read = one distributed union-merge, Spark-first: base parquet
rows (version 0) union the log records (version = commit instant,
carried in each record's ``_hoodie_commit_time`` per the payload
convention), then ``row_number() OVER (PARTITION BY record key ORDER
BY version DESC) = 1`` keeps the newest and ``_hoodie_is_deleted``
markers drop tombstoned keys — a single shuffle on the record key,
no driver materialization, the exact shape of the Delta DV / Iceberg
position-delete anti-joins. Record keys come from
``hoodie.table.recordkey.fields`` and must be unique per the Hudi
contract.

Scope (documented, test-enforced):
- log files decode per file in EITHER shape, dispatched on the
  leading bytes: plain Avro object container files (this module's
  own MoR writer) or REAL HoodieLogFormat block framing (#HUDI#
  magic, version-1 blocks — sources/hudi_logfmt.py, round 9).
  Framed rollback command blocks apply within their file; delete/
  hfile/parquet/cdc blocks and cross-file rollbacks refuse with
  typed errors rather than risking a silent misread.
- completed instants only (``*.commit`` / ``*.replacecommit`` /
  ``*.deltacommit``); inflight/requested markers are ignored per the
  timeline contract.
- time travel: ``as_of`` keeps only instants ≤ the given timestamp
  (through deltacommits too: an earlier ``as_of`` sees fewer logs).
- the ``_hoodie_*`` meta columns travel with the data files untouched
  (drop them with a select, as on a real Hudi scan).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid


def _local(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://"):]
    return path


def _timeline_dir(table: str) -> str:
    return os.path.join(_local(table), ".hoodie")


def _table_props(table: str) -> dict:
    props = os.path.join(_timeline_dir(table), "hoodie.properties")
    if not os.path.exists(props):
        raise FileNotFoundError(
            f"{table}: no .hoodie/hoodie.properties — not a Hudi table")
    out = {}
    with open(props) as fh:
        for line in fh:
            line = line.strip()
            if line and not line.startswith("#") and "=" in line:
                k, v = line.split("=", 1)
                out[k.strip()] = v.strip()
    tv = out.get("hoodie.table.version")
    if tv and tv.isdigit() and int(tv) > 8:
        # beyond hudi 1.x: refuse typed rather than misread a future
        # timeline layout as empty
        raise NotImplementedError(
            f"{table}: hoodie.table.version {tv} — this reader "
            "implements the 0.x (<= 6) and 1.x (7/8) timeline "
            "layouts")
    return out


def _table_version(table: str) -> int:
    """hoodie.table.version as an int (6 and below = the 0.x layout,
    7/8 = the 1.x layout); properties-less local fixtures are
    0.x-shaped."""
    try:
        tv = _table_props(table).get("hoodie.table.version", "")
    except FileNotFoundError:
        return 6
    return int(tv) if tv.isdigit() else 6


def _refuse_1x_writes(table: str, op: str) -> None:
    """1.x tables are READ-ONLY here (round 13 — CoW snapshot +
    time-travel + incremental reads): this engine's writers emit
    0.x-shaped instants in the 0.x location, which a 1.x timeline
    would never replay — refuse typed instead of committing
    invisible instants (or truncating/cleaning a layout whose
    completion-time semantics they do not model)."""
    if _table_version(table) >= 7:
        raise NotImplementedError(
            f"{table}: {op} on a hoodie.table.version >= 7 (hudi "
            "1.x) table — this engine writes the 0.x timeline "
            "layout only; use a 1.x writer")


def _table_type(table: str) -> str:
    return _table_props(table).get("hoodie.table.type", "COPY_ON_WRITE")


def _is_log(path: str) -> bool:
    return ".log." in os.path.basename(path)


def completed_instants(table: str) -> list:
    """[(instant_ts, action, path)] of COMPLETED timeline instants in
    NUMERIC instant order (real instants are fixed-width
    yyyyMMddHHmmssSSS where lexicographic == numeric, but the API
    accepts any digit string — '10' must replay after '2'). Write
    actions only — clean/rollback/savepoint don't change the live
    file set this reader computes (cleans delete files only older
    than every live slice)."""
    tdir = _timeline_dir(table)
    if not os.path.isdir(tdir):
        raise FileNotFoundError(
            f"{table}: no .hoodie/ directory — not a Hudi table")
    # version gate at THIS chokepoint (every timeline replay shares
    # it): _table_props refuses table versions BEYOND 1.x typed, so
    # no replay-only path (history, incremental, txn marks) can
    # silently see an empty timeline for a future layout
    try:
        _table_props(table)
    except FileNotFoundError:
        pass            # properties-less local fixture — 0.x shaped
    # hudi 1.x (table version 7/8, round 13): the ACTIVE timeline
    # moved under .hoodie/timeline/ and completed instants carry the
    # COMPLETION time in the name — <requested>_<completion>.<action>.
    # 1.x visibility semantics are COMPLETION-time-based (an
    # instant's effects become readable when it COMPLETES, and
    # time-travel / incremental boundaries compare completion
    # times), so 1.x entries are KEYED by their completion time —
    # every consumer (replay order, as_of, incremental ranges,
    # history) then follows the 1.x contract with no special cases.
    # The 0.x pattern is accepted inside timeline/ too (bridge
    # tables); an instant present in BOTH layouts (mid-upgrade copy)
    # counts once, the timeline/ copy winning — double-replay would
    # double-count incremental rows.
    by_req: dict = {}
    for f in os.listdir(tdir):
        m = re.fullmatch(r"(\d+)\.(commit|replacecommit|deltacommit)", f)
        if m:
            by_req[m.group(1)] = (m.group(1), m.group(2),
                                  os.path.join(tdir, f))
    ldir = os.path.join(tdir, "timeline")
    if os.path.isdir(ldir):
        for f in os.listdir(ldir):
            m = re.fullmatch(
                r"(\d+)(?:_(\d+))?\.(commit|replacecommit|deltacommit)",
                f)
            if m:
                by_req[m.group(1)] = (m.group(2) or m.group(1),
                                      m.group(3),
                                      os.path.join(ldir, f))
    return sorted(by_req.values(), key=lambda t: int(t[0]))


def _read_commit_json(table: str, path: str) -> dict:
    """Parse an instant file's HoodieCommitMetadata JSON; non-JSON
    bytes (hudi 1.x can serialize timeline metadata as avro) refuse
    typed at EVERY consumer — snapshot replay, incremental reads,
    history, txn marks, the streaming source — never a raw decode
    error."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise NotImplementedError(
            f"{table}: instant {os.path.basename(path)} carries "
            "non-JSON commit metadata (avro-serialized timeline "
            "metadata) — this reader parses JSON "
            "HoodieCommitMetadata only") from e


def _file_slices(table: str, as_of: str | None = None) -> dict:
    """(partition, fileId) → {"base": path|None, "base_instant": ts,
    "logs": [path, ...]} — the live file slice per group at ``as_of``
    (None = latest): replay the completed write instants in timeline
    order; a parquet write starts a FRESH slice (superseding the
    group's previous base AND its logs — the compaction contract), a
    log write appends to the current slice, a replacecommit kills the
    group."""
    ttype = _table_type(table)
    if ttype == "MERGE_ON_READ" and _table_version(table) >= 7:
        # 1.x MoR stays gated (round 13): log-format blocks and the
        # compaction/completion-time semantics changed in 1.x —
        # merging 0.x-style would serve wrong snapshots
        raise NotImplementedError(
            f"{table}: MERGE_ON_READ under the hudi 1.x timeline — "
            "this reader serves 1.x COPY_ON_WRITE only; read MoR "
            "with a 1.x-aware engine")
    root = _local(table)
    slices: dict = {}
    seen_any = False
    for ts, action, path in completed_instants(table):
        if as_of is not None and int(ts) > int(as_of):
            continue
        if action == "deltacommit" and ttype != "MERGE_ON_READ":
            raise NotImplementedError(
                "deltacommit in a COPY_ON_WRITE timeline — a CoW "
                "table has no log files to merge; the table's "
                "hoodie.properties and its timeline disagree")
        seen_any = True
        commit = _read_commit_json(table, path)
        if action == "replacecommit":
            for part, fids in (commit.get("partitionToReplaceFileIds")
                               or {}).items():
                for fid in fids:
                    slices.pop((part, fid), None)
        for part, stats in (commit.get("partitionToWriteStats")
                            or {}).items():
            for st in stats:
                p = st["path"]
                p = p if os.path.isabs(p) else os.path.join(root, p)
                key = (part, st["fileId"])
                if _is_log(p):
                    slices.setdefault(
                        key, {"base": None, "base_instant": ts,
                              "logs": []})["logs"].append(p)
                else:
                    slices[key] = {"base": p, "base_instant": ts,
                                   "logs": []}
    if not seen_any:
        raise ValueError(
            f"{table}: no completed commit at or before {as_of!r}"
            if as_of is not None else
            f"{table}: timeline has no completed commits (empty table)")
    return slices


def hudi_live_files(table: str, as_of: str | None = None) -> list[str]:
    """Every live file path (base parquet AND log files) at ``as_of``
    — the reference set the cleaner must not delete."""
    out = []
    for s in _file_slices(table, as_of).values():
        if s["base"]:
            out.append(s["base"])
        out.extend(s["logs"])
    return sorted(out)


def _recordkey_fields(table: str) -> list[str]:
    rk = _table_props(table).get("hoodie.table.recordkey.fields", "")
    keys = [k.strip() for k in rk.split(",") if k.strip()]
    if not keys:
        raise ValueError(
            f"{table}: MERGE_ON_READ merge needs "
            "hoodie.table.recordkey.fields in hoodie.properties — "
            "without the record key, log records cannot be matched "
            "to base rows")
    return keys


def _merge_logs(spark, base_df, log_groups: list[list[str]],
                keys: list[str]):
    """Merge MoR log records onto the base rows, Spark-first: union
    the base (version 0) with the log records (version = the
    ``_hoodie_commit_time`` each record carries), keep the newest row
    per record key via one window, drop ``_hoodie_is_deleted``
    tombstones (soft-delete payloads AND delete-block tombstones —
    hudi_logfmt decodes both into the same shape). ONE shuffle on the
    record key; the log scan is its own distributed read
    (avro_source.spark_read_avro). ``log_groups`` is one list per
    FILE SLICE, in timeline order — the slice is the rollback scope
    (a command block may invalidate a block one rolled-over file
    earlier), and the decode parallelizes per slice. Filters on the
    key columns still prune below the window (Catalyst pushes
    predicates through matching PARTITION BY)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .avro_source import _spark_to_avro_field, spark_read_avro
    # spark_read_avro dispatches per file between plain Avro
    # containers (this engine's own logs) and HoodieLogFormat block
    # framing (real hudi-writer logs, sources/hudi_logfmt) — both
    # shapes merge through the same window plan. fallback_schema
    # covers the every-log-is-a-hard-delete-block shape (no payload
    # schema anywhere in the logs): tombstones then type under the
    # BASE schema via the writer's own field mapping.
    fallback = {"type": "record", "name": "row", "fields": (
        [{"name": f.name, "type": _spark_to_avro_field(f)[0]}
         for f in base_df.schema.fields]
        + [{"name": "_hoodie_commit_time", "type": ["null", "string"]},
           {"name": "_hoodie_is_deleted", "type": ["null", "boolean"]}])}
    log_df = spark_read_avro(spark, None, groups=log_groups,
                             key_fields=keys, fallback_schema=fallback)
    data_cols = base_df.columns
    missing = [c for c in data_cols + ["_hoodie_commit_time"]
               if c not in log_df.columns]
    if missing:
        raise ValueError(
            f"log files are missing columns {missing} — every log "
            "record must carry the full row payload plus "
            "_hoodie_commit_time")
    base_types = {f.name: f.dataType for f in base_df.schema.fields}
    lg = log_df.select(
        *[F.col(c).cast(base_types[c]).alias(c) for c in data_cols],
        F.col("_hoodie_commit_time").cast("long").alias("__qs_ord"),
        (F.coalesce(F.col("_hoodie_is_deleted"), F.lit(False))
         if "_hoodie_is_deleted" in log_df.columns
         else F.lit(False)).alias("__qs_del"))
    bs = base_df.select(
        *data_cols,
        F.lit(0).cast("long").alias("__qs_ord"),
        F.lit(False).alias("__qs_del"))
    w = Window.partitionBy(*[F.col(k) for k in keys]) \
        .orderBy(F.desc("__qs_ord"))
    return (bs.unionByName(lg)
            .withColumn("__qs_rn", F.row_number().over(w))
            .where((F.col("__qs_rn") == 1) & ~F.col("__qs_del"))
            .drop("__qs_rn", "__qs_ord", "__qs_del"))


def instant_at_timestamp(table: str, ts) -> str:
    """Hudi as-of by TIMESTAMP: the latest completed instant whose
    timeline timestamp is <= ``ts``. ``ts`` may be a datetime / ISO
    string (compared in the writer's wall-clock convention — the
    same ``yyyyMMddHHmmssSSS`` rendering ``_next_instant`` stamps,
    millisecond precision) or a raw instant-shaped number/string (14
    digits pad to the inclusive end of that second). Instants are
    normalized to a COMMON 17-digit width before comparison — a
    pre-0.x 14-digit instant would otherwise compare three orders of
    magnitude below any 17-digit key and time travel would serve
    future commits. A timestamp before the first instant refuses."""
    import datetime as _dt

    def norm(s: str) -> int:
        if not s.isdigit() or len(s) > 17:
            raise ValueError(f"not an instant timestamp: {s!r}")
        return int(s + "0" * (17 - len(s)))   # second → start-of-sec

    if isinstance(ts, str):
        try:
            ts = _dt.datetime.fromisoformat(ts)
        except ValueError:
            pass                       # raw instant string
    if isinstance(ts, _dt.datetime):
        # millisecond precision, at-or-before: truncate micros → ms
        key = int(ts.strftime("%Y%m%d%H%M%S")
                  + f"{ts.microsecond // 1000:03d}")
    else:
        s = str(int(ts))
        if len(s) > 17:
            raise ValueError(f"not an instant timestamp: {ts!r}")
        # a second-precision ask means "anything within that second"
        key = int(s + "9" * (17 - len(s)))
    cands = [t for t, _, _ in completed_instants(table)
             if norm(t) <= key]
    if not cands:
        raise ValueError(
            f"as_of_timestamp {ts!r} is before the table's first "
            "completed instant")
    return max(cands, key=lambda t: norm(t))


def read_hudi_local(spark, table: str, as_of: str | None = None):
    """DataFrame over the table's live data at ``as_of`` (None =
    latest). CoW (or an all-base MoR snapshot): one native parquet
    scan — pushdown and column pruning behave exactly as on raw
    parquet. MoR with live logs: base scan + distributed log scan +
    the single-shuffle record-key merge (_merge_logs). Either way the
    timeline replay stays a KB-scale driver step; at 100 TB every
    row-bearing path is distributed."""
    slices = _file_slices(table, as_of)
    bases = sorted(s["base"] for s in slices.values() if s["base"])
    # one group per slice, files in timeline (append) order — the
    # rollback scope the decode needs (sorted stably for determinism)
    log_groups = sorted(s["logs"] for s in slices.values() if s["logs"])
    log_only = [k for k, s in slices.items()
                if s["logs"] and not s["base"]]
    if log_only:
        raise NotImplementedError(
            f"file groups {log_only[:3]} have log files but no base "
            "file (log-only first slice) — this module's MoR writer "
            "routes inserts to base parquet, so a log-only group "
            "means a foreign layout this reader has not been "
            "validated on")
    if not bases:
        raise ValueError(f"Hudi table {table} has no live files "
                         f"(everything replaced) at {as_of!r}")
    df = spark.read.parquet(*bases)
    if not log_groups:
        return df
    return _merge_logs(spark, df, log_groups, _recordkey_fields(table))


# ----------------------------------------------------------------------
# writer — spec-shaped fixtures + a working local CoW write path
# ----------------------------------------------------------------------

def _write_properties(table: str, table_type: str = "COPY_ON_WRITE",
                      recordkey: str | None = None,
                      precombine: str | None = None) -> None:
    tdir = _timeline_dir(table)
    os.makedirs(tdir, exist_ok=True)
    props = os.path.join(tdir, "hoodie.properties")
    if not os.path.exists(props):
        lines = [f"hoodie.table.type={table_type}",
                 "hoodie.table.name=%s"
                 % os.path.basename(_local(table).rstrip("/"))]
        if recordkey:
            lines.append(f"hoodie.table.recordkey.fields={recordkey}")
        if precombine:
            lines.append(f"hoodie.table.precombine.field={precombine}")
        with open(props, "w") as fh:
            fh.write("\n".join(lines) + "\n")


def _next_instant(table: str) -> str:
    """A strictly increasing (NUMERICALLY — the ordering replay uses)
    instant timestamp (Hudi uses yyyyMMddHHmmssSSS)."""
    prev = [int(ts) for ts, _, _ in completed_instants(table)] \
        if os.path.isdir(_timeline_dir(table)) else []
    now = int(time.strftime("%Y%m%d%H%M%S") + "000")
    top = max(prev) if prev else 0
    return str(now if now > top else top + 1)


def commit_hudi_local(table: str, writes: dict, replaces: dict | None = None,
                      instant: str | None = None) -> str:
    """Commit base files to a local CoW table: ``writes`` maps
    partition → [(fileId, path)] (new or updated slices; an existing
    fileId means the group's previous base file is superseded),
    ``replaces`` maps partition → [fileId] whose groups die without a
    successor (insert_overwrite / clustering → ``replacecommit``).
    Files are referenced in place (paths stored ABSOLUTE, so reads
    don't depend on the caller's cwd). Returns the instant
    timestamp."""
    _write_properties(table)
    if _table_type(table) != "COPY_ON_WRITE":
        raise NotImplementedError(
            "committing CoW instants into a MERGE_ON_READ timeline — "
            "use upsert_hudi_mor_local / write_hudi_mor_local")
    ts = instant or _next_instant(table)
    action = "replacecommit" if replaces else "commit"
    return _commit_instant(table, writes, replaces, ts, action)


def _commit_instant(table: str, writes: dict, replaces: dict | None,
                    ts: str, action: str,
                    operation: str | None = None,
                    extra_meta: dict | None = None) -> str:
    _refuse_1x_writes(table, "commit")
    doc = {"partitionToWriteStats": {
        part: [{"fileId": fid, "path": os.path.abspath(_local(p)),
                "numWrites": None, "prevCommit": None}
               for fid, p in items]
        for part, items in (writes or {}).items()}}
    if replaces:
        doc["partitionToReplaceFileIds"] = {
            part: list(fids) for part, fids in replaces.items()}
    if extra_meta:
        # Hudi's commit metadata carries an extensible extraMetadata
        # map (real writers store streaming checkpoints there) — the
        # idempotent streaming sink records its high-water mark here
        doc["extraMetadata"] = {str(k): str(v)
                                for k, v in extra_meta.items()}
    if operation:
        # the real writer's commit metadata carries the operation type
        # (insert/upsert/delete/cluster/insert_overwrite) — incremental
        # readers use it to tell data-changing replacecommits from
        # pure rearrangements
        doc["operationType"] = operation
    tdir = _timeline_dir(table)
    tmp = os.path.join(tdir, f".{ts}.{action}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.rename(tmp, os.path.join(tdir, f"{ts}.{action}"))
    return ts


def restore_hudi_local(table: str, instant: str) -> list:
    """Restore the table to ``instant`` by TRUNCATING the timeline —
    Hudi's own restore semantics (savepoint + restore deletes every
    instant after the savepoint; there is no time travel past a
    restore, unlike the history-preserving Delta/Iceberg reverts):
    completed write instants AFTER the target are removed from
    ``.hoodie/`` and the table-local data/log files they wrote are
    deleted (referenced-in-place files outside the root are left).
    Refuses BEFORE touching anything if the target state's files no
    longer exist (a clean may have reclaimed a superseded base the
    restore would resurrect). Returns the removed instant
    timestamps."""
    _refuse_1x_writes(table, "restore")
    insts = completed_instants(table)
    if not any(ts == str(instant) for ts, _, _ in insts):
        raise ValueError(
            f"instant {instant!r} is not a completed write instant "
            f"of {table}")
    # the restored state must be fully scannable — validate first
    slices = _file_slices(table, as_of=str(instant))
    missing = [s["base"] for s in slices.values()
               if s["base"] and not os.path.exists(s["base"])]
    missing += [p for s in slices.values() for p in s["logs"]
                if not os.path.exists(p)]
    if missing:
        raise ValueError(
            f"restore to {instant} needs files that no longer exist "
            f"(cleaned?): {missing[:5]}")
    root = _local(table)
    abs_root = os.path.abspath(root)
    # paths the RESTORED state references must survive — real hudi
    # writers append blocks to a SHARED log file across deltacommits
    # (rollover only on size), so a post-target instant's writeStats
    # can name a file the target-era slices still need. Deleting it
    # would destroy target-era blocks; keeping it verbatim would
    # serve the rolled-back blocks (they win the record-key merge on
    # commit time) — so shared FRAMED logs get ROLLBACK command
    # blocks appended, exactly what real hudi's restore writes, and
    # the slice decode already honors them. A shared container-format
    # log cannot take a command block: refuse BEFORE mutating.
    keep = {os.path.abspath(s["base"]) for s in slices.values()
            if s["base"]}
    keep |= {os.path.abspath(p) for s in slices.values()
             for p in s["logs"]}
    to_remove = [(ts, action, path) for ts, action, path in insts
                 if int(ts) > int(instant)]
    plans = []                      # (instant ts, [paths to delete])
    shared: dict = {}               # shared log path -> [instant ts]
    for ts, action, path in to_remove:
        commit = _read_commit_json(table, path)
        dels = []
        for part, stats in (commit.get("partitionToWriteStats")
                            or {}).items():
            for st in stats:
                p = st["path"]
                p = p if os.path.isabs(p) else os.path.join(root, p)
                ap = os.path.abspath(p)
                inside = os.path.commonpath([abs_root, ap]) == abs_root
                if not inside:
                    continue
                if ap in keep:
                    shared.setdefault(ap, []).append(ts)
                else:
                    dels.append(ap)
        plans.append((ts, path, dels))
    for ap in shared:
        with open(ap, "rb") as fh:
            framed = fh.read(6) == b"#HUDI#"
        if not framed:
            raise NotImplementedError(
                f"restore would roll back blocks inside {ap}, which "
                "is shared with the target state but is a plain Avro "
                "container — only HoodieLogFormat-framed logs can "
                "take the rollback command block a restore appends")
    # rollback blocks FIRST, deletions after (round 11, advisor
    # finding): a crash between the two phases then leaves the
    # rolled-back instants' shared-log blocks VOIDED (harmless — the
    # retried restore re-appends idempotent rollback blocks and
    # finishes the deletes) instead of live blocks whose timeline
    # instants are already gone, which a snapshot read would serve
    # as resurrected rows
    if shared:
        from .hudi_logfmt import rollback_block
        for ap, tss in shared.items():
            with open(ap, "ab") as fh:
                for ts in tss:
                    fh.write(rollback_block(ts))
    for ts, path, dels in plans:
        for ap in dels:
            if os.path.exists(ap):
                os.unlink(ap)
        os.unlink(path)
    return [ts for ts, _p, _d in plans]


def compact_hudi_local(spark, table: str,
                       target_file_rows: int = 5_000_000) -> str:
    """Clustering-style compaction: the live rows rewrite into
    ``ceil(rows / target_file_rows)`` right-sized base files committed
    as ONE replacecommit that retires every previous file group — the
    same small-file fix as compact_delta/compact_iceberg, in Hudi's
    native commit shape. Time travel still sees the old layout.
    Returns the instant timestamp."""
    import math
    df = read_hudi_local(spark, table)
    n = df.count()
    parts = max(1, math.ceil(n / target_file_rows))
    # MoR included: a clustering replacecommit folds base+log slices
    # into fresh right-sized base groups (the read above already
    # merged the logs), exactly the spec's clustering service
    return _write_base_files(df.repartition(parts), table,
                             "overwrite", "commit", operation="cluster")


def clean_hudi_local(table: str, keep_last: int = 1) -> int:
    """Hudi clean: delete table-local base AND log files referenced
    ONLY by instants older than the last ``keep_last`` — the
    disk-reclaim half of compaction. Files outside the table root
    (referenced-in-place fixtures) are never touched; the timeline is
    kept, so time-travel reads of cleaned instants fail at scan time
    (the real cleaner's retention trade). Returns the number of files
    deleted."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    _refuse_1x_writes(table, "clean")
    root = os.path.abspath(_local(table))
    instants = [ts for ts, _, _ in completed_instants(table)]
    if not instants:
        return 0
    referenced: set = set()
    for ts in instants[-keep_last:]:
        referenced |= {os.path.abspath(p)
                       for p in hudi_live_files(table, as_of=ts)}
    deleted = 0
    for dp, _, fs in os.walk(root):
        if ".hoodie" in dp:
            continue
        for f in fs:
            if not (f.endswith(".parquet") or _is_log(f)):
                continue
            p = os.path.abspath(os.path.join(dp, f))
            if p not in referenced:
                os.unlink(p)
                deleted += 1
    return deleted


def write_hudi_local(df, table: str, mode: str = "append",
                     extra_meta: dict | None = None) -> str:
    """Commit a Spark DataFrame as a new CoW instant: "append" adds
    the rows as new file groups; "overwrite" replaces every live
    group (a replacecommit, the insert_overwrite shape). One native
    distributed parquet write + a KB-scale driver commit. Returns the
    instant timestamp. ``extra_meta`` lands in the commit's
    extraMetadata map (the streaming sink's idempotence handshake)."""
    assert mode in ("append", "overwrite"), mode
    _write_properties(table)
    if _table_type(table) != "COPY_ON_WRITE":
        raise NotImplementedError(
            "CoW-append into a MERGE_ON_READ table — use "
            "write_hudi_mor_local / upsert_hudi_mor_local")
    return _write_base_files(df, table, mode, "commit",
                             extra_meta=extra_meta)


def last_txn_version(table: str, app_id: str):
    """Latest committed writer version for ``app_id`` from the
    timeline's extraMetadata maps (``qs.txn.appId`` /
    ``qs.txn.version``) or None — the Hudi twin of
    delta_local.last_txn_version, backing the exactly-once streaming
    sink. Walks the timeline NEWEST-first with early exit: the sink's
    own commit is almost always the latest instant, so the common
    case is one KB-scale read, not O(#instants) per micro-batch. A
    missing table maps to None; corrupt commit JSON propagates loudly
    (mapping it to None would re-commit committed batches)."""
    try:
        instants = completed_instants(table)
    except FileNotFoundError:
        return None
    for _ts, _action, path in reversed(instants):
        doc = _read_commit_json(table, path)
        em = doc.get("extraMetadata") or {}
        if em.get("qs.txn.appId") == str(app_id) \
                and em.get("qs.txn.version") is not None:
            return int(em["qs.txn.version"])
    return None


def _stamp_base_files(data_dir: str, ts: str) -> list:
    """Rename a parquet write's part files to spec-shaped base-file
    names (<fileId>_<token>_<instant>.parquet) with fresh fileIds;
    returns [(fileId, path)]."""
    items = []
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            fid = uuid.uuid4().hex[:12]
            named = os.path.join(data_dir, f"{fid}_0-0-0_{ts}.parquet")
            os.rename(os.path.join(data_dir, f), named)
            items.append((fid, named))
    return items


def _write_base_files(df, table: str, mode: str, base_action: str,
                      operation: str | None = None,
                      extra_meta: dict | None = None) -> str:
    """Write ``df`` as new parquet file groups committed under
    ``base_action`` ("commit" for CoW, "deltacommit" for MoR bulk
    insert); mode="overwrite" retires every previously live group via
    a replacecommit (insert_overwrite / clustering — legal on both
    table types)."""
    root = _local(table)
    ts = _next_instant(table)
    data_dir = os.path.join(root, f"data-{ts}")
    df.write.parquet(data_dir)
    items = _stamp_base_files(data_dir, ts)
    replaces = None
    if mode == "overwrite":
        try:
            live = _file_slices(table, as_of=str(int(ts) - 1))
        except ValueError:          # empty timeline: nothing to retire
            live = {}
        replaces = {}
        for part, fid in live:
            replaces.setdefault(part, []).append(fid)
        replaces = replaces or None
    action = "replacecommit" if replaces else base_action
    if operation is None:
        operation = "insert_overwrite" if mode == "overwrite" else "insert"
    return _commit_instant(table, {"": items}, replaces, ts, action,
                           operation=operation, extra_meta=extra_meta)

# ----------------------------------------------------------------------
# MERGE_ON_READ write path (deltacommits: log files + insert bases)
# ----------------------------------------------------------------------

def write_hudi_mor_local(df, table: str, recordkey: str,
                         mode: str = "append") -> str:
    """Create/bulk-load a MERGE_ON_READ table: the rows land as new
    parquet file groups committed under a DELTACOMMIT (the MoR write
    action — inserts go to base files, per the spec's writer).
    ``recordkey`` (comma-separated column names, unique per row — the
    Hudi record-key contract) is stamped into hoodie.properties on
    first write and is what read-time log merging joins on. Returns
    the instant timestamp."""
    assert mode in ("append", "overwrite"), mode
    _write_properties(table, "MERGE_ON_READ", recordkey=recordkey)
    if _table_type(table) != "MERGE_ON_READ":
        raise ValueError(
            f"{table} exists as a {_table_type(table)} table — "
            "write_hudi_mor_local is for MERGE_ON_READ")
    have = _recordkey_fields(table)
    want = [k.strip() for k in recordkey.split(",") if k.strip()]
    if have != want:
        raise ValueError(
            f"{table}: recordkey {want} does not match the table's "
            f"established {have}")
    _check_no_reserved_cols(df.columns)
    # the unique-key contract is enforced at WRITE time (loud gate —
    # duplicate or null keys would read fine until the first upsert,
    # then the merge window silently collapses them): null keys, dups
    # within the batch, and (for append) overlap with live rows
    from pyspark.sql import functions as F
    null_pred = " OR ".join(f"{k} IS NULL" for k in have)
    if df.where(null_pred).limit(1).count():
        raise ValueError(f"record key columns {have} contain NULLs")
    dup = df.groupBy(*have).count().where("count > 1").limit(1).collect()
    if dup:
        raise ValueError(
            f"bulk-load batch is not key-unique (e.g. {dup[0]})")
    if mode == "append":
        try:
            slices = _file_slices(table)
        except ValueError:           # empty timeline: first load
            slices = {}
        bases = sorted(s["base"] for s in slices.values() if s["base"])
        if bases:
            existing = (df.sparkSession.read.parquet(*bases)
                        .select(*have))
            clash = df.select(*have).join(existing, have, "inner") \
                .limit(1).count()
            if clash:
                raise ValueError(
                    "append batch overlaps live record keys — "
                    "upsert_hudi_mor_local is the update path")
    return _write_base_files(df, table, mode, "deltacommit")


def _check_no_reserved_cols(cols) -> None:
    bad = [c for c in cols if c.startswith("_hoodie_")]
    if bad:
        raise ValueError(
            f"payload columns {bad} collide with the reserved "
            "_hoodie_* meta namespace — the log schema appends "
            "_hoodie_commit_time/_hoodie_is_deleted and duplicate "
            "field names would brick every later read")


def upsert_hudi_mor_local(spark, table: str, df,
                          delete: bool = False) -> str | None:
    """Distributed MoR upsert (or delete, with ``delete=True``):
    route each input row to the file group owning its record key (the
    base scan's ``_metadata.file_path`` joined to a broadcast of the
    KB-scale path→group map), write ONE Avro-container log file per
    touched group FROM THE EXECUTORS (mapInArrow — nullable longs
    stay exact), route unmatched keys (inserts) to new parquet base
    groups, and commit everything as one deltacommit. Every
    row-bearing step is distributed; the driver only sees file names.

    Log records carry the full row payload plus the spec's payload
    meta fields ``_hoodie_commit_time`` (this instant — the version
    read-time merging orders by) and ``_hoodie_is_deleted``
    (tombstone marker). For ``delete=True`` pass just the key
    columns; unknown keys are ignored (the Hudi delete semantics) —
    a delete batch matching NOTHING is a no-op and returns None.
    The input batch must be key-unique — precombine your updates
    first, exactly as a real Hudi writer's preCombine step does.

    Returns the instant timestamp (None for a no-op delete)."""
    import json as _json

    from pyspark.sql import functions as F

    from .avro_source import _spark_to_avro_field
    if _table_type(table) != "MERGE_ON_READ":
        raise ValueError(f"{table} is not a MERGE_ON_READ table")
    keys = _recordkey_fields(table)
    root = _local(table)
    ts = _next_instant(table)
    slices = _file_slices(table)
    bases = {s["base"]: (part_fid, s["base_instant"])
             for part_fid, s in slices.items() if s["base"]}
    if not bases:
        raise ValueError(f"{table}: no base files — bulk-load with "
                         "write_hudi_mor_local first")

    base_df = spark.read.parquet(*sorted(bases))
    data_schema = base_df.schema
    data_cols = base_df.columns
    _check_no_reserved_cols(data_cols)
    base_types = {f.name: f.dataType for f in data_schema.fields}
    missing_keys = [k for k in keys if k not in df.columns]
    if missing_keys:
        raise ValueError(f"input is missing key columns {missing_keys}")
    if delete:
        # tombstones: keys + nulls for every payload column
        df = df.select(*keys, *[
            F.lit(None).cast(base_types[c]).alias(c)
            for c in data_cols if c not in keys])
    extra = set(df.columns) - set(data_cols)
    lost = set(data_cols) - set(df.columns)
    if extra or lost:
        raise ValueError(
            f"upsert payload columns must match the table "
            f"(unexpected {sorted(extra)}, missing {sorted(lost)})")
    # cast to the BASE types: name-matched-but-type-drifted inserts
    # would otherwise land as mixed-physical-type parquet and brick
    # every later read of the table
    df = df.select([F.col(c).cast(base_types[c]).alias(c)
                    for c in data_cols])
    # snapshot the batch: the dup check, the log write and the insert
    # write are three separate jobs — a nondeterministic input could
    # pass the gate then produce same-key log records
    df = df.localCheckpoint()

    null_pred = " OR ".join(f"{k} IS NULL" for k in keys)
    if df.where(null_pred).limit(1).count():
        raise ValueError(
            f"record key columns {keys} contain NULLs — null-keyed "
            "rows would route to new groups unmatchably and later "
            "collapse in the merge window")
    dup = df.groupBy(*keys).count().where("count > 1").limit(1).collect()
    if dup:
        raise ValueError(
            f"input batch is not key-unique (e.g. {dup[0]}) — "
            "precombine duplicates before upserting")

    # KB-scale (one row per live base file) → broadcast; the scan's
    # _metadata.file_path is a URI — normalize to the plain path the
    # timeline stores (same trick as delta_local._plain_path_col)
    from .delta_local import _plain_path_col
    mapping = spark.createDataFrame(
        [(os.path.abspath(p), pf[1], bi)
         for p, (pf, bi) in bases.items()],
        "__qs_bf string, __qs_fid string, __qs_bi string")
    keyed = (base_df
             .select(*keys, _plain_path_col().alias("__qs_bf"))
             .join(F.broadcast(mapping), "__qs_bf")
             .select(*keys, "__qs_fid", "__qs_bi"))
    matched = df.join(keyed, keys, "inner")

    fields = [(f.name, *_spark_to_avro_field(f))
              for f in data_schema.fields]
    avro_schema = {
        "type": "record", "name": "row",
        "fields": ([{"name": n, "type": sch} for n, sch, _ in fields]
                   + [{"name": "_hoodie_commit_time",
                       "type": ["null", "string"]},
                      {"name": "_hoodie_is_deleted",
                       "type": ["null", "boolean"]}])}
    log_dir = os.path.join(root, f"delta-{ts}")
    os.makedirs(log_dir, exist_ok=True)
    schema_json = _json.dumps(avro_schema)
    tombstone = bool(delete)

    def _write_logs(batches):
        import pyarrow as pa

        from quokka_spark.sources.avro_lite import write_container
        from quokka_spark.sources.avro_source import record_value
        sch = _json.loads(schema_json)
        flush_rows = 500_000         # same bound as spark_write_avro
        groups: dict = {}            # (fid, base_instant) -> [records]
        out_fid, out_path = [], []
        seq: dict = {}               # (fid, bi) -> next log version

        def flush(key):
            fid, bi = key
            recs = groups.pop(key)
            n = seq[key] = seq.get(key, 0) + 1
            # spec-shaped log name: .<fileId>_<baseInstant>.log.<v>_<tok>
            p = os.path.join(log_dir, f".{fid}_{bi}.log.{ts}.{n}_0-0-0")
            write_container(p, sch, recs)
            out_fid.append(fid)
            out_path.append(p)

        for batch in batches:
            raw = batch.to_pydict()
            n = len(raw["__qs_fid"])
            for i in range(n):
                rec = {name: record_value(raw[name][i], fn)
                       for name, _s, fn in fields}
                rec["_hoodie_commit_time"] = ts
                rec["_hoodie_is_deleted"] = tombstone or None
                key = (raw["__qs_fid"][i], raw["__qs_bi"][i])
                recs = groups.setdefault(key, [])
                recs.append(rec)
                # bound the Python heap: a huge upsert funneling into
                # few groups flushes as multiple logs per group
                if len(recs) >= flush_rows:
                    flush(key)
        for key in list(groups):
            flush(key)
        yield pa.RecordBatch.from_pydict(
            {"fid": pa.array(out_fid, type=pa.string()),
             "path": pa.array(out_path, type=pa.string())})

    # hash-partition on fid so each group's log is written by exactly
    # one task (wide upserts parallelize across groups)
    log_items = [(r["fid"], r["path"])
                 for r in matched.repartition(F.col("__qs_fid"))
                 .mapInArrow(_write_logs, "fid string, path string")
                 .collect()]

    items = list(log_items)
    if not delete:
        inserts = df.join(keyed.select(*keys), keys, "left_anti")
        ins_dir = os.path.join(root, f"data-{ts}")
        inserts.write.parquet(ins_dir)
        items.extend(_stamp_base_files(ins_dir, ts))
    if not items:
        if delete:
            return None      # every key unknown: documented no-op
        raise ValueError("upsert matched no rows and inserted none "
                         "(empty input batch?)")
    return _commit_instant(table, {"": items}, None, ts, "deltacommit",
                           operation="delete" if delete else "upsert")


# ----------------------------------------------------------------------
# incremental reads (round 8) — Hudi's headline consumption mode
# ----------------------------------------------------------------------

def read_hudi_incremental(spark, table: str, begin: str,
                          end: str | None = None):
    """Rows written in instants ``[begin, end]`` (inclusive) — the
    incremental-query mode real Hudi pipelines chain on. Output = the
    table's data columns plus ``_change_type`` ('upsert' | 'delete')
    and ``_commit_instant``.

    Per instant, from the timeline alone:
    - ``commit``/``deltacommit`` parquet writes of NEW file groups →
      their rows are upserts;
    - deltacommit LOG files → the records themselves (full-row
      payloads), tombstones (``_hoodie_is_deleted``) as deletes, the
      rest as upserts — each already stamped with its commit time;
    - ``replacecommit`` with operationType "cluster" (compaction) →
      NOTHING (pure rearrangement);
    - ``replacecommit`` with operationType "insert_overwrite" → the
      new files' rows as upserts (retired rows are not signaled —
      matching Hudi's incremental contract, which exposes deletes
      only via tombstone payloads).
    Shapes whose changed rows are NOT reconstructible from this
    layout refuse loudly: a commit re-adding an existing file group
    (the rewritten base mixes changed and carried-over rows; real
    Hudi filters them by the ``_hoodie_commit_time`` meta column its
    files embed and ours don't), and foreign replacecommits without
    an operationType.

    Driver cost: the usual KB-scale timeline replay; row-bearing
    steps are native parquet scans and the distributed Avro log scan."""
    from pyspark.sql import functions as F

    from .changes import ChangeFeed
    from .delta_local import _plain_path_col

    instants = completed_instants(table)
    if not instants:
        raise ValueError(f"{table}: empty timeline")
    if end is None:
        end = instants[-1][0]
    if int(begin) > int(end):
        raise ValueError(f"begin {begin} is newer than end {end} — a "
                         "reversed range would silently return no "
                         "changes")
    live_groups: set = set()
    feed = ChangeFeed(spark, "_commit_instant", "string",
                      insert_type="upsert")

    # instants whose contribution is ONLY new base files coalesce into
    # one run (changes.py); no timeline state changes the base scan,
    # so the run stays open across log-bearing instants
    def _bases(files, keep_path):
        df = spark.read.parquet(*sorted(files))
        return df.withColumn("__qs_bf__", _plain_path_col()) \
            if keep_path else df

    bases = feed.run(_bases, "__qs_bf__", os.path.abspath)

    for ts, action, path in instants:
        if int(ts) > int(end):
            break
        in_range = int(ts) >= int(begin)
        commit = _read_commit_json(table, path)
        op = commit.get("operationType")
        root = _local(table)
        new_bases, logs = [], []
        touched_existing = []
        for part, stats in (commit.get("partitionToWriteStats")
                            or {}).items():
            for st in stats:
                p = st["path"]
                p = p if os.path.isabs(p) else os.path.join(root, p)
                key = (part, st["fileId"])
                if _is_log(p):
                    logs.append(p)
                elif key in live_groups:
                    touched_existing.append(key)
                else:
                    new_bases.append(p)
                live_groups.add(key)
        if action == "replacecommit":
            for part, fids in (commit.get("partitionToReplaceFileIds")
                               or {}).items():
                live_groups -= {(part, f) for f in fids}
            live_groups |= set(touched_existing)
        if not in_range:
            continue
        if action == "replacecommit":
            if op == "cluster":
                continue                 # pure rearrangement
            if op != "insert_overwrite":
                raise NotImplementedError(
                    f"instant {ts}: replacecommit without a known "
                    "operationType — cannot tell clustering (no "
                    "changes) from insert_overwrite (all-new rows)")
        elif touched_existing:
            raise NotImplementedError(
                f"instant {ts}: a base file was rewritten for live "
                f"group(s) {touched_existing[:3]} — its rows mix "
                "changed and carried-over records, and these files "
                "carry no _hoodie_commit_time meta column to filter "
                "by")
        if new_bases and not logs:
            bases.add(ts, new_bases)
            continue
        if new_bases:
            feed.add(spark.read.parquet(*sorted(new_bases)), "upsert", ts)
        if logs:
            from .avro_source import spark_read_avro
            # key_fields let delete-block tombstones decode into
            # _change_type='delete' rows (key columns + commit time,
            # other columns null — deletes are signaled by key)
            lg = spark_read_avro(spark, sorted(logs),
                                 key_fields=_recordkey_fields(table))
            data_cols = [c for c in lg.columns
                         if not c.startswith("_hoodie_")]
            ctype = F.when(
                F.coalesce(F.col("_hoodie_is_deleted"), F.lit(False)),
                F.lit("delete")).otherwise(F.lit("upsert")) \
                if "_hoodie_is_deleted" in lg.columns else F.lit("upsert")
            # one select: the tombstone flag must evaluate BEFORE the
            # meta columns drop
            feed.add(lg.select(*data_cols, ctype.alias("_change_type")),
                     None, ts)
    # align log-record types to the base schema where both appear
    return feed.result(lambda: read_hudi_local(spark, table, as_of=end),
                       align=True)
