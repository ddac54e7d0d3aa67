"""Catalog-backed Iceberg reads via pyiceberg — no runtime jar.

The reference reads catalog (Glue) Iceberg tables through the PUBLIC
``pyiceberg`` package (reference df.py:802-832: pyiceberg catalog →
``scan().plan_files()`` → parquet file list → its own scan); this
module is the same split re-expressed Spark-first: pyiceberg plans
the FILES (driver-side, KB of metadata), Spark's native parquet scan
reads them (pushdown/pruning as on raw parquet).

Import-gated: ``pyiceberg`` is an optional dependency — absent, the
caller (QuokkaContext.read_iceberg) keeps its typed jar/local-dir
error. Row-level DELETE files on the planned scan apply through the
same distributed anti-joins the local-directory reader uses (round
11): pyiceberg attaches each task's APPLICABLE delete files
(its planner already enforces the spec's sequence-number and
partition rules), so position deletes anti-join on (file, row
position) and equality deletes on the equality columns, scoped to
each delete file's applicable data files.
"""

from __future__ import annotations

import re


def _snapshot_at_timestamp(tbl, ts_ms: int):
    """Newest snapshot with timestamp_ms <= ts_ms (Iceberg's
    as-of-timestamp contract), from the table metadata pyiceberg
    already holds — no extra catalog round-trip. Resolves via the
    SNAPSHOT LOG (the main-branch lineage) when present: a rolled-
    back snapshot stays in metadata.snapshots until expiration but
    leaves the log, and the jar's as-of-timestamp follows the log —
    picking it from the flat snapshot list would serve rolled-back
    data."""
    log = list(getattr(tbl.metadata, "snapshot_log", None) or [])
    if log:
        cands = [(int(e.timestamp_ms), int(e.snapshot_id))
                 for e in log if int(e.timestamp_ms) <= int(ts_ms)]
        if not cands:
            raise ValueError(
                f"no snapshot at or before timestamp {ts_ms} ms — "
                "the table's earliest snapshot-log entry is newer")
        return max(cands)[1]
    best = None
    for s in tbl.metadata.snapshots:
        if int(s.timestamp_ms) <= int(ts_ms) and (
                best is None or int(s.timestamp_ms)
                > int(best.timestamp_ms)):
            best = s
    if best is None:
        raise ValueError(
            f"no snapshot at or before timestamp {ts_ms} ms — the "
            "table's earliest snapshot is newer")
    return int(best.snapshot_id)


def read_iceberg_catalog(spark, table: str, snapshot: int | None = None,
                         partition_filter: str | None = None,
                         scan_filter: str | None = None,
                         as_of_timestamp=None,
                         catalog: str | None = None,
                         ref: str | None = None):
    """DataFrame over a CATALOG Iceberg table: pyiceberg resolves the
    table and plans the file set (its planner applies partition and
    metrics pruning when the filter parses); Spark's native parquet
    scan reads the planned files. Both filters additionally apply
    ROW-LEVEL in Spark, so any filter shape stays exact even when
    pyiceberg's string parser cannot push it down."""
    from pyiceberg.catalog import load_catalog

    cat = load_catalog(catalog) if catalog else load_catalog()
    tbl = cat.load_table(table)
    if ref is not None:
        # named branch/tag (spec §Snapshot References): resolve from
        # the metadata pyiceberg already holds
        refs = getattr(tbl.metadata, "refs", None) or {}
        r = refs.get(ref)
        if r is None:
            raise ValueError(
                f"{table}: no branch or tag {ref!r} "
                f"(refs: {sorted(refs) or 'none'})")
        sid = getattr(r, "snapshot_id", None)
        if sid is None and isinstance(r, dict):
            sid = r.get("snapshot-id")
        if sid is None:
            raise ValueError(
                f"{table}: ref {ref!r} carries no snapshot id")
        snapshot = int(sid)
    if as_of_timestamp is not None:
        from .delta_local import _to_epoch_ms
        snapshot = _snapshot_at_timestamp(tbl,
                                          _to_epoch_ms(as_of_timestamp))
    scan_kwargs: dict = {}
    if snapshot is not None:
        scan_kwargs["snapshot_id"] = int(snapshot)
    # best-effort pushdown: pyiceberg's row_filter accepts simple SQL
    # strings; an unparseable filter falls back to plan-everything
    # (the Spark row filter below keeps the result exact either way).
    # Only offered under a UTC session timezone: pyiceberg binds
    # timestamp literals as UTC while Spark binds them in the session
    # tz, and a tz-divergent prune DROPS files the row filter can
    # never restore (QuokkaContext pins UTC, so the normal path
    # pushes down).
    tz = "UTC"
    try:
        from pyspark.sql import SparkSession
        sess = SparkSession.getActiveSession()
        if sess is not None:
            tz = sess.conf.get("spark.sql.session.timeZone") or "UTC"
    except Exception:
        pass
    pushdown = " AND ".join(f"({f})" for f in
                            [partition_filter, scan_filter] if f) \
        if tz in ("UTC", "Etc/UTC", "GMT") else ""
    if pushdown:
        try:
            scan = tbl.scan(row_filter=pushdown, **scan_kwargs)
            tasks = list(scan.plan_files())
        except Exception:
            tasks = list(tbl.scan(**scan_kwargs).plan_files())
    else:
        tasks = list(tbl.scan(**scan_kwargs).plan_files())
    # collect the planned delete files (round 11): pyiceberg attaches
    # to each task exactly the delete files APPLICABLE to it (its
    # planner enforces the spec's sequence-number + partition rules),
    # so this reader only has to apply them row-level. Position
    # deletes are global (their rows name the data file); equality
    # deletes are scoped to each delete file's applicable data files
    # — merging two eq-delete files with different scopes would
    # delete matching rows from files the spec says they never touch.
    pos_apply: dict = {}          # delete path → {applicable data files}
    eq_apply: dict = {}           # (equality_ids, delete path) → {data files}
    dv_files: list = []           # v3 puffin deletion vectors
    for t in tasks:
        for d in (getattr(t, "delete_files", None) or []):
            content = getattr(d, "content", None)
            c = int(content) if content is not None else 1
            fmt = str(getattr(d, "file_format", "") or "").upper()
            is_puffin = "PUFFIN" in fmt \
                or str(d.file_path).endswith(".puffin")
            if c == 1 and is_puffin:
                # v3 deletion vector: locate the blob via the
                # spec-required manifest fields, refuse typed when a
                # planner doesn't surface them (feeding a puffin
                # container to the parquet pos-delete scan would die
                # with a raw not-a-parquet error)
                ref_file = getattr(d, "referenced_data_file", None)
                off = getattr(d, "content_offset", None)
                sz = getattr(d, "content_size_in_bytes", None)
                if not ref_file or off is None or sz is None:
                    raise NotImplementedError(
                        f"catalog table {table}: deletion vector "
                        f"{d.file_path} lacks the referenced_data_"
                        "file/content_offset/content_size_in_bytes "
                        "locator fields — upgrade pyiceberg or read "
                        "as a local table directory")
                dv_files.append((str(ref_file), str(d.file_path),
                                 int(off), int(sz)))
            elif c == 1:          # DataFileContent.POSITION_DELETES
                pos_apply.setdefault(str(d.file_path), set()).add(
                    str(t.file.file_path))
            elif c == 2:          # DataFileContent.EQUALITY_DELETES
                ids = tuple(int(i) for i in
                            (getattr(d, "equality_ids", None) or ()))
                eq_apply.setdefault((ids, str(d.file_path)),
                                    set()).add(str(t.file.file_path))
            else:
                raise NotImplementedError(
                    f"catalog table {table}: delete file "
                    f"{d.file_path} has unknown content {content!r}")
    files = sorted(t.file.file_path for t in tasks)
    # v3 default values (round 13 — was a blanket typed refusal):
    # SERVE primitive initial-defaults on top-level and struct
    # sub-fields through the same per-file footer-presence split the
    # local-directory reader uses (iceberg_local._apply_defaults).
    # Still refused typed: defaults under list/map or on composite
    # fields (splicing repeated elements is the jar's job), and
    # tables whose planned files are not local-filesystem paths (the
    # presence check reads footers driver-side).
    cat_defaults: dict = {}

    def _collect_defaults(field, label, under_collection):
        ftype = getattr(field, "field_type", None)
        s = str(ftype)
        subs = None if s.startswith(("list<", "map<")) \
            else (getattr(ftype, "fields", None) or None)
        init = getattr(field, "initial_default", None)
        if init is not None:
            if under_collection or subs \
                    or s.startswith(("list<", "map<")):
                raise NotImplementedError(
                    f"catalog table {table}: field {label!r} "
                    "declares a v3 default on a list/map element or "
                    "composite field — primitive defaults on "
                    "top-level and struct sub-fields only; use the "
                    "runtime jar")
            cat_defaults[label] = (init, s)
        for sub in (subs or []):
            _collect_defaults(sub, f"{label}.{sub.name}",
                              under_collection)
        for attr in ("element_field", "key_field", "value_field"):
            sub = getattr(ftype, attr, None)
            if sub is not None:
                _collect_defaults(sub, f"{label}.{attr}", True)
    for f in tbl.schema().fields:
        _collect_defaults(f, f.name, False)
    # read under the TABLE schema (mapped from pyiceberg), never
    # footer inference: after schema evolution an inferred schema can
    # sample a pre-evolution file and silently drop the new column,
    # where the jar null-fills. (Metadata-only RENAMES still read the
    # renamed column as null from pre-rename files — exact rename
    # resolution needs per-file field ids, the jar's job; new-column
    # null-fill is the case that actually bites pipelines.)
    from pyspark.sql.types import (BinaryType, BooleanType, DateType,
                                   DecimalType, DoubleType, FloatType,
                                   IntegerType, LongType, StringType,
                                   StructField, StructType,
                                   TimestampType)
    by_name = {"boolean": BooleanType(), "int": IntegerType(),
               "long": LongType(), "float": FloatType(),
               "double": DoubleType(), "date": DateType(),
               "string": StringType(),
               # uuid is stored as FIXED_LEN_BYTE_ARRAY(16) — a
               # string read schema fails mid-scan; binary reads it
               # losslessly (review finding)
               "uuid": BinaryType(),
               "binary": BinaryType(),
               "timestamptz": TimestampType(),
               "timestamp": TimestampType()}

    def _spark_type(ftype, label):
        """pyiceberg type → Spark type, STRUCTS recursively (round
        13); unmapped types refuse typed — the old StringType
        fallback made Spark reject the scan with an opaque parquet
        schema-mismatch error (or, worse, could misread)."""
        s = str(ftype)
        if s in by_name:
            return by_name[s]
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", s)
        if m:
            return DecimalType(int(m.group(1)), int(m.group(2)))
        # list/map stay refused below (some pyiceberg versions expose
        # a .fields view on them too — matching it would mis-map a
        # repeated type as a struct)
        subs = None if s.startswith(("list<", "map<")) \
            else getattr(ftype, "fields", None)
        if subs:
            return StructType([
                StructField(sf.name,
                            _spark_type(sf.field_type,
                                        f"{label}.{sf.name}"), True)
                for sf in subs])
        raise NotImplementedError(
            f"catalog table {table}: column {label!r} has iceberg "
            f"type {s!r}, which this reader cannot map to a Spark "
            "read schema — read with the runtime jar")

    rs = StructType(
        [StructField(f.name, _spark_type(f.field_type, f.name), True)
         for f in tbl.schema().fields])
    if not files:
        df = spark.createDataFrame([], rs)
    else:
        df = spark.read.schema(rs).parquet(
            *[f.removeprefix("file://") for f in files])
    if files and cat_defaults:
        import os

        from pyspark.sql import functions as F

        from .iceberg_local import _apply_defaults, _norm_path
        local_files = [f.removeprefix("file://") for f in files]
        remote = [p for p in local_files if not os.path.exists(p)]
        if remote:
            raise NotImplementedError(
                f"catalog table {table}: serving v3 defaults needs "
                "per-file footer presence checks, and planned file "
                f"{remote[0]} is not on the local filesystem — use "
                "the runtime jar")
        df = (df.withColumn("__qs_defp__",
                            _norm_path(F.col("_metadata.file_path"))))
        df = _apply_defaults(df, cat_defaults, local_files,
                             F.col("__qs_defp__")).drop("__qs_defp__")
    if files and (pos_apply or eq_apply or dv_files):
        from pyspark.sql import functions as F

        from .iceberg_local import _dv_positions_df, _norm_path, _py_norm
        df = (df.withColumn("__qs_fp__",
                            _norm_path(F.col("_metadata.file_path")))
              .withColumn("__qs_pos__",
                          F.col("_metadata.row_index")))
        if dv_files:
            # the local reader's executor-side decode and (file,
            # position) anti-join; descriptors only on the driver
            dd = _dv_positions_df(spark, [
                {"referenced_data_file": ref, "path": pf,
                 "content_offset": off, "content_size_in_bytes": sz}
                for ref, pf, off, sz in dv_files])
            df = df.join(
                dd, (F.col("__qs_fp__") == F.col("__qs_dfp__"))
                & (F.col("__qs_pos__") == F.col("__qs_dpos__")),
                "left_anti")
        if pos_apply:
            # the same (file, row position) anti-join as
            # iceberg_local's local-directory reader, but scoped to
            # the planner's per-task attachment: a delete row only
            # builds if its named file is one the planner attached
            # that delete file to (sequence-number scoping — without
            # it, pathological data-file path reuse across rewrites
            # would resurrect old deletes). Groups sharing an
            # applicable set merge into one scan; one union'd build
            # side keeps a single anti-join. distinct keeps
            # re-deleted positions from inflating the build side.
            groups: dict = {}
            for dpath, dfiles in pos_apply.items():
                groups.setdefault(frozenset(dfiles), set()).add(dpath)
            dd = None
            for dfiles, dpaths in sorted(groups.items(), key=str):
                part = (spark.read.parquet(
                    *[p.removeprefix("file://")
                      for p in sorted(dpaths)])
                    .select(_norm_path(F.col("file_path"))
                            .alias("__qs_dfp__"),
                            F.col("pos").cast("long")
                            .alias("__qs_dpos__"))
                    .where(F.col("__qs_dfp__").isin(
                        [_py_norm(p) for p in sorted(dfiles)])))
                dd = part if dd is None else dd.unionByName(part)
            dd = dd.distinct()
            df = df.join(
                dd, (F.col("__qs_fp__") == F.col("__qs_dfp__"))
                & (F.col("__qs_pos__") == F.col("__qs_dpos__")),
                "left_anti")
        if eq_apply:
            id2name = {}
            for f in tbl.schema().fields:
                fid = getattr(f, "field_id", None)
                if fid is not None:
                    id2name[int(fid)] = f.name
            # one null-safe anti-join per (equality ids, applicable
            # data-file set) group — delete files sharing both merge
            # into one join; the applicability list is bounded by the
            # planned task count, never row counts
            groups: dict = {}
            for (ids, dpath), dfiles in eq_apply.items():
                groups.setdefault((ids, frozenset(dfiles)),
                                  set()).add(dpath)
            for (ids, dfiles), dpaths in sorted(groups.items(),
                                                key=str):
                dd = spark.read.parquet(
                    *[p.removeprefix("file://")
                      for p in sorted(dpaths)])
                cols = ([id2name[i] for i in ids]
                        if ids and all(i in id2name for i in ids)
                        else list(dd.columns))
                dd = dd.select(*[F.col(c).alias(f"__qs_eq_{c}__")
                                 for c in cols]).distinct()
                cond = F.col("__qs_fp__").isin(
                    [_py_norm(p) for p in sorted(dfiles)])
                for c in cols:
                    cond = cond & F.col(c).eqNullSafe(
                        F.col(f"__qs_eq_{c}__"))
                df = df.join(dd, cond, "left_anti")
        df = df.drop("__qs_fp__", "__qs_pos__")
    if partition_filter:
        df = df.filter(partition_filter)
    if scan_filter:
        df = df.filter(scan_filter)
    return df


def write_iceberg_catalog(spark, df, table: str, mode: str = "append",
                          catalog: str | None = None,
                          output_line_limit: int = 5_000_000):
    """Commit a Spark DataFrame to a CATALOG Iceberg table through
    pyiceberg transactions (round 12 — iceberg_catalog.py was
    read-only; local table DIRECTORIES already write via
    iceberg_local). The data path stays distributed: Spark's parquet
    writer lands right-sized files in a fresh staging prefix under
    the TABLE's own location, then pyiceberg registers them — one
    ``add_files`` commit for ``append``, one delete-everything +
    ``add_files`` transaction for ``overwrite`` (atomic: readers see
    either the old or the new table) — so only KB-scale metadata
    passes through the driver, never rows. IDENTITY-partitioned
    tables (round 13) stage VALUE-PURE files — partitionBy on a
    duplicate hive column, so each file holds one partition value
    AND keeps the source column in its data (pyiceberg's add_files
    infers identity partition values from per-file column statistics,
    which demand min == max; plain partitionBy would drop the column
    and null-fill every read-back). Transform-partitioned
    (bucket/truncate/day/...) tables refuse typed. Requires pyiceberg
    >= 0.7 (the add_files API); callers without the package get a
    typed error. MERGE upserts refuse typed: pyiceberg's row-level
    upsert materializes Arrow on the driver — read + merge through
    the jar, or mirror the table locally."""
    import os
    import uuid

    try:
        from pyiceberg.catalog import load_catalog
    except ImportError as e:
        raise RuntimeError(
            "write_iceberg to a catalog table needs pyiceberg "
            "(`pip install pyiceberg`); local Iceberg table "
            "directories write without it") from e
    if mode not in ("append", "overwrite"):
        raise NotImplementedError(
            f"write_iceberg_catalog mode {mode!r}: append and "
            "overwrite commit via pyiceberg; MERGE upserts would "
            "materialize the batch on the driver — use the jar, or "
            "a local table directory (write_iceberg mode='upsert')")
    cat = load_catalog(catalog) if catalog else load_catalog()
    tbl = cat.load_table(table)
    spec = getattr(tbl, "spec", None)
    spec_fields = list(getattr(spec() if callable(spec) else spec,
                               "fields", None) or [])
    part_cols: list = []
    if spec_fields:
        # IDENTITY-partitioned tables (round 13 — round-12 verdict
        # #3): stage value-pure files and let add_files register
        # them. pyiceberg >= 0.7 infers identity partition values
        # from each file's parquet column statistics and REQUIRES
        # min == max per file, so the stage must be value-pure AND
        # keep the source column in the data (Spark's plain
        # partitionBy would drop it and null-fill every read) — the
        # write partitions on a DUPLICATE hive column and drops only
        # the duplicate from the registered files' schema readers.
        # Transform partitions (bucket/truncate/day/...) still refuse
        # typed: their manifest values are transform RESULTS no
        # file statistic can stand in for.
        non_identity = [
            f for f in spec_fields
            if str(getattr(f, "transform", "identity")).lower()
            not in ("identity", "identitytransform()")]
        if non_identity:
            raise NotImplementedError(
                f"write_iceberg_catalog: table {table} is partitioned "
                "by non-identity transforms "
                f"({[str(getattr(f, 'transform', '?')) for f in non_identity]}) — "
                "add_files cannot derive transform partition values; "
                "write through the runtime jar, or to a local table "
                "directory")
        id2name = {}
        for f in tbl.schema().fields:
            fid = getattr(f, "field_id", None)
            if fid is not None:
                id2name[int(fid)] = f.name
        try:
            part_cols = [id2name[int(f.source_id)]
                         for f in spec_fields]
        except (KeyError, TypeError, AttributeError) as e:
            raise NotImplementedError(
                f"write_iceberg_catalog: table {table}'s partition "
                "spec references fields this writer cannot resolve "
                "to column names") from e
        missing = [c for c in part_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"write_iceberg_catalog: DataFrame lacks partition "
                f"source columns {missing} for table {table}")
    loc = str(tbl.location()).rstrip("/")
    staging = f"{loc}/data/qs-{uuid.uuid4().hex[:12]}"
    writer = (df.write.mode("errorifexists")
              .option("maxRecordsPerFile", output_line_limit))
    if part_cols:
        from pyspark.sql import functions as F
        hive = {c: f"__qs_hp_{c}__" for c in part_cols}
        staged = df
        for c, d in hive.items():
            staged = staged.withColumn(d, F.col(c))
        # co-locate each partition value before the dynamic-partition
        # write: without this every task writes one file per value it
        # holds (tasks × values small files, all registered — the
        # canonical lakehouse small-file failure); with it each value
        # lands in one task and maxRecordsPerFile right-sizes the
        # output. Skewed values serialize into one task but still
        # split into bounded files; AQE rebalances when enabled.
        staged = staged.repartition(*[F.col(d) for d in hive.values()])
        writer = (staged.write.mode("errorifexists")
                  .option("maxRecordsPerFile", output_line_limit)
                  .partitionBy(*hive.values()))
    writer.parquet(staging)
    plain = staging.removeprefix("file://")

    def _drop_staging():
        # a failed registration must not leave orphan parquet inside
        # the table's own data prefix (each failure would otherwise
        # accumulate files that look like table data to directory
        # tooling); best-effort — the commit error is the one that
        # propagates
        try:
            if os.path.isdir(plain):
                import shutil
                shutil.rmtree(plain, ignore_errors=True)
            else:
                sc = spark.sparkContext
                hp = sc._jvm.org.apache.hadoop.fs.Path(staging)
                hp.getFileSystem(
                    sc._jsc.hadoopConfiguration()).delete(hp, True)
        except Exception:  # noqa: BLE001 - cleanup only
            pass

    if os.path.isdir(plain):
        # recursive: identity-partitioned stages nest files under
        # hive directories; unpartitioned stages sit at the top level
        files = sorted(os.path.join(r, f)
                       for r, _, fs_ in os.walk(plain) for f in fs_
                       if f.endswith(".parquet"))
    else:
        # remote locations: list through Hadoop's FileSystem (the
        # same connector Spark just wrote with)
        sc = spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(staging)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        it = fs.listFiles(hpath, True)
        files = []
        while it.hasNext():
            p = str(it.next().getPath())
            if p.endswith(".parquet"):
                files.append(p)
        files.sort()
    if not files:
        _drop_staging()
        raise ValueError(
            f"{table}: the staged write produced no parquet files "
            f"under {staging} — nothing to commit")
    try:
        if mode == "append":
            tbl.add_files(file_paths=files)
            return
        from pyiceberg.expressions import AlwaysTrue
        tx = tbl.transaction()
        tx.delete(AlwaysTrue())
        tx.add_files(file_paths=files)
        tx.commit_transaction()
    except BaseException:
        _drop_staging()
        raise
