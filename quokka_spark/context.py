"""QuokkaContext — session/driver object (reference pyquokka/df.py:13-134).

Wraps a SparkSession. Every ``read_*`` returns a DataStream backed by a
lazy Spark scan; Catalyst handles split planning, predicate pushdown to
parquet row groups, and column pruning — the machinery the reference
implements in dataset/*_readers.py is Spark-native here.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .datastream import DataStream
from .memo import MISS, Memo
from .orderedstream import OrderedStream
from .session import build_spark
from .sqldialect import duckdb_to_spark_sql


# what read_parquet learned from an input's footer: (Spark-inferred
# schema, or None for anything but a local regular file; its
# TIMESTAMP(NANOS) columns), keyed by (path, stat signature, reader
# options, _SCHEMA_CONFS values)
_PARQUET_FOOTERS = Memo("context.parquet_footers", cap=256)

# the SQL confs Spark 4.1's parquet schema inference reads: the eight
# flags of ParquetToSparkSchemaConverter, then ParquetOptions' merge
# default, the summary-file rule and the shredded-variant gate. Read
# with one conf.get each: conf.getAll costs ~50x more.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.variant.allowReadingShredded",
)


def _stat_signature(path: str):
    """(inode, size, mtime, ctime, is a regular file) of a local path,
    None when it cannot be stat'ed (remote URI, glob). ctime moves on
    any rewrite, even one that restores mtime with os.utime. A
    directory's signature moves when entries are added, removed or
    renamed in, not when a file inside it is rewritten in place."""
    try:
        st = os.stat(path.removeprefix("file://"))
    except (OSError, ValueError):
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns,
            stat.S_ISREG(st.st_mode))


def _nanos_timestamp_columns(path: str) -> list:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer inspection;
    local paths only — remote stores return [] and rely on the writer
    using µs, the common case). read_parquet memoizes the answer in
    ``_PARQUET_FOOTERS`` next to the inferred schema, so a file
    rewritten at the same path re-probes."""
    try:
        import pyarrow.dataset as pads
        import pyarrow as pa
        schema = pads.dataset(path, format="parquet").schema
    except Exception:
        return []
    return [f.name for f in schema
            if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"]


def _parquet_footer(spark, path: str, options: dict) -> tuple:
    """(the schema Spark infers for parquet ``path`` under
    ``options``, None unless a local regular file; its TIMESTAMP(NANOS)
    columns), memoized in ``_PARQUET_FOOTERS``: read_parquet and the
    Hudi base scan (sources/hudi_local) resolve schemas here."""
    sig = _stat_signature(path)
    key = (path, sig, tuple(sorted(options.items())),
           tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    footer = _PARQUET_FOOTERS.get(key)
    if footer is MISS:
        # the probe frame is dropped, so its schema is the memo's own
        schema = (spark.read.options(**options).parquet(path).schema
                  if sig is not None and sig[-1] else None)
        footer = (schema, _nanos_timestamp_columns(path))
        _PARQUET_FOOTERS.put(key, footer)
    return footer


class LocalCluster:
    """API-parity placeholder: the reference distinguishes
    LocalCluster/EC2Cluster (pyquokka/utils.py); under Spark the cluster
    is wherever the SparkSession's master points."""

    def __init__(self, cpus: int | None = None):
        self.cpus = cpus


class QuokkaContext:
    def __init__(self, cluster: LocalCluster | None = None,
                 spark: SparkSession | None = None, **config):
        if spark is None:
            cpus = cluster.cpus if cluster else None
            spark = build_spark(cpus=cpus, extra_conf=config)
        # a session passed in keeps its own static confs, among them
        # the generated-code cache cap (session.CODEGEN_CACHE_ENTRIES)
        self.spark = spark
        self._observations: dict = {}
        try:
            # read TIMESTAMP(NANOS) parquet columns (Spark has no ns type);
            # read_parquet converts them back to (truncated-to-µs) timestamps
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # naive parquet timestamps must round-trip unshifted regardless
            # of the host timezone (externally-created sessions included)
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass

    # ------------------------------------------------------------------
    # sources (SURVEY §2.1)
    # ------------------------------------------------------------------
    def observed_metrics(self, name: str) -> dict:
        """Metrics recorded by DataStream.observe(name, ...) — available
        after any action has executed the observed stream (blocks until
        one has). Free: computed by accumulators during the job itself,
        no second scan."""
        return dict(self._observations[name].get)

    def read_parquet(self, path: str, name_column: str | None = None,
                     **options) -> DataStream:
        """Parquet file/dir/prefix (reference df.py:413-562).
        ``name_column`` adds the originating filename per row.

        Spark infers a parquet schema with a footer-reading job. For a
        local regular file that job runs once: the inferred schema is
        memoized (``_PARQUET_FOOTERS``, with the file's TIMESTAMP(NANOS)
        columns) and a later read of the unchanged file under the same
        options and schema confs passes it to the reader, which then
        runs no job. Directories, globs and remote URIs let Spark
        infer on every read."""
        schema, nanos = _parquet_footer(self.spark, path, options)
        reader = self.spark.read.options(**options)
        df = (reader if schema is None else reader.schema(schema)).parquet(path)
        for c in nanos:
            # nanosAsLong read the column as int64 nanos; restore a
            # timestamp (µs truncation — matches DuckDB/Arrow semantics)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        if name_column:
            df = df.withColumn(name_column, F.input_file_name())
        return DataStream(self, df)

    def read_csv(self, path: str, schema: list | None = None,
                 has_header: bool = False, sep: str = ",", **options) -> DataStream:
        """CSV file/dir/prefix (reference df.py:264-411). ``schema`` is a
        name list (reference-style, untyped → types inferred).

        Scale note: inference (`inferSchema`) is an EXTRA full scan of
        the CSV before the real read. At lake scale either pass
        ``samplingRatio=0.001`` (rides through ``**options``) to infer
        from a sample, or land the data as parquet/ORC once and read
        that — CSV re-parsing per query is the anti-pattern, not just
        the inference pass."""
        reader = (self.spark.read.option("header", str(has_header).lower())
                  .option("sep", sep).option("inferSchema", "true")
                  .options(**options))
        df = reader.csv(path)
        if schema is not None and not has_header:
            assert len(schema) == len(df.columns)
            df = df.toDF(*schema)
        return DataStream(self, df)

    def read_json(self, path: str, **options) -> DataStream:
        """Newline-delimited JSON (reference unordered_readers.py:445-594)."""
        return DataStream(self, self.spark.read.options(**options).json(path))

    def read_avro(self, path: str) -> DataStream:
        """Avro object-container files (file or directory) WITHOUT the
        spark-avro jar: a binaryFile scan (one task per container)
        feeding the pure-Python avro_lite codec, Arrow-batched per
        file — the same codec the Iceberg manifest reader uses. Type
        mapping incl. date / timestamp-micros logical types; richer
        shapes raise clear NotImplementedErrors (sources/avro_source.py)."""
        from .sources.avro_source import spark_read_avro
        return DataStream(self, spark_read_avro(self.spark, path))

    def read_orc(self, path: str, **options) -> DataStream:
        """ORC file/dir (parity-plus source — the reference reads
        csv/parquet/iceberg/lance; ORC rounds out Spark's native
        columnar formats with zero extra dependencies). Predicate
        pushdown and column pruning work exactly as on parquet
        (ORC carries row-group min/max + bloom stats; plan-tested in
        tests/test_functions.py)."""
        return DataStream(self, self.spark.read.options(**options).orc(path))

    def read_files(self, path: str, **options) -> DataStream:
        """Whole files as (filename, object) rows (reference df.py:213-253).
        At scale: binaryFile splits per file; combine with
        ``spark.sql.files.maxPartitionBytes`` for many-small-files dirs."""
        df = (self.spark.read.format("binaryFile").options(**options).load(path)
              .select(F.col("path").alias("filename"),
                      F.col("content").alias("object")))
        return DataStream(self, df)

    def read_sorted_parquet(self, path: str, sorted_by: str,
                            mode: str = "stride", **options) -> OrderedStream:
        """Sorted source → OrderedStream carrying the sort contract
        (reference df.py:790-800, ordered_readers.py:28-116). The data is
        range-repartitioned and sorted within partitions so that every
        partition holds a contiguous, internally-ordered key range —
        the Spark equivalent of the reference's channel range assignment."""
        ds = self.read_parquet(path, **options)
        return self._sorted_stream(ds.df, sorted_by, mode)

    def read_sorted_csv(self, path: str, sorted_by: str,
                        schema: list | None = None, has_header: bool = False,
                        sep: str = ",", mode: str = "stride", **options) -> OrderedStream:
        ds = self.read_csv(path, schema=schema, has_header=has_header, sep=sep,
                           **options)
        return self._sorted_stream(ds.df, sorted_by, mode)

    def _sorted_stream(self, df, sorted_by: str, mode: str) -> OrderedStream:
        """The sort contract is DECLARATIVE: we record the key; each
        consuming operator (windows, as-of, shift, CEP) establishes the
        per-key order it needs inside its own shuffle. Materializing a
        global range-partition+sort here would add two extra exchanges
        in front of every keyed operator — measured on the as-of plan,
        it doubled the shuffle count for zero benefit. Call
        ``.materialize_sort()`` on the stream when a physically
        range-sorted layout is genuinely wanted (e.g. before writing a
        sorted dataset)."""
        return OrderedStream(self, df, sorted={sorted_by: mode})

    def read_delta(self, table: str, version: int | None = None,
                   partition_filter: str | None = None,
                   scan_filter: str | None = None,
                   timestamp_as_of=None,
                   with_row_tracking: bool = False) -> DataStream:
        """Delta Lake table, optional time travel by ``version``
        (extension source — lakehouse parity next to read_iceberg).
        Pure-Python log replay (sources/delta_local.py) incl.
        checkpoint parquet (long-lived tables whose early JSON commits
        were cleaned up) and partitioned tables (partitionValues join
        back as typed columns; ``partition_filter`` — SQL over the
        partition columns — prunes the FILE LIST before the scan, the
        log-level pruning real Delta does). ``scan_filter`` (SQL over
        any column) is Delta data skipping: files whose add-action
        stats (minValues/maxValues) refute a ``col op literal``
        conjunction are skipped before the scan, and the filter also
        applies row-level so any shape stays exact. The live file set
        feeds ONE native parquet scan, so pushdown and pruning behave
        exactly as on raw parquet. Local single-writer tables;
        deletion vectors raise clear NotImplementedErrors.
        ``timestamp_as_of`` (epoch ms, ISO string, or datetime) time
        travels to the latest version committed at-or-before that
        instant — the jar's timestampAsOf rule (commitInfo timestamp
        when recorded, else the commit file's mtime).
        ``with_row_tracking`` (round 12, protocol §Row Tracking — the
        Delta analog of Iceberg row lineage) appends the ``_row_id``
        and ``_row_commit_version`` metadata columns: baseRowId + row
        position / defaultRowCommitVersion per add action, overridden
        by non-null MATERIALIZED per-row values on files the jar
        rewrote."""
        from .sources.delta_local import read_delta_local
        return DataStream(self, read_delta_local(
            self.spark, table, version, partition_filter=partition_filter,
            scan_filter=scan_filter, timestamp_as_of=timestamp_as_of,
            with_row_tracking=with_row_tracking))

    def read_iceberg_stream(self, table: str,
                            starting_snapshot: int | None = None,
                            ignore_deletes: bool = False,
                            ignore_changes: bool = False):
        """Streaming SOURCE over a local Iceberg table: a STREAMING
        DataFrame tailing the snapshot list's added data files, one
        offset per snapshot. Append-only contract mirroring
        read_delta_stream: delete-adding snapshots need
        ignore_deletes, overwrites need ignore_changes (new files
        streamed in full), `replace` compactions are invisible. See
        streaming/iceberg_source.py."""
        from .streaming.iceberg_source import IcebergStreamDataSource
        self.spark.dataSource.register(IcebergStreamDataSource)
        r = (self.spark.readStream.format("iceberg_local_stream")
             .option("ignore_deletes", str(ignore_deletes).lower())
             .option("ignore_changes", str(ignore_changes).lower()))
        if starting_snapshot is not None:
            r = r.option("starting_snapshot", str(starting_snapshot))
        return r.load(table)

    def read_iceberg_changes(self, table: str,
                             from_snapshot: int | None = None,
                             to_snapshot: int | None = None,
                             from_timestamp=None,
                             to_timestamp=None) -> DataStream:
        """CDF-style incremental read of a local Iceberg table:
        row-level changes of snapshots [from_snapshot, to_snapshot]
        (inclusive) — data columns plus `_change_type`
        ('insert'/'delete') and `_snapshot_id`. Added data files are
        inserts, added position/equality delete files surface their
        deleted rows, `replace` (compaction) snapshots contribute
        nothing. Timestamp bounds mirror the Delta CDF rule.
        See sources/iceberg_local.read_iceberg_changes."""
        from .sources.iceberg_local import read_iceberg_changes
        return DataStream(self, read_iceberg_changes(
            self.spark, table, from_snapshot, to_snapshot,
            from_timestamp=from_timestamp, to_timestamp=to_timestamp))

    def read_delta_stream(self, table: str,
                          starting_version: int = 0,
                          ignore_deletes: bool = False,
                          ignore_changes: bool = False):
        """Streaming SOURCE over a local Delta table (the reverse of
        the exactly-once streaming sink): a STREAMING DataFrame whose
        micro-batches tail the log's dataChange appends, one offset
        per version. Append-only contract: ignore_deletes skips pure
        delete versions; ignore_changes additionally skips DV
        rewrites (no re-transmission — they add no rows) and streams
        rewrite versions' new files in full (surviving rows ARE
        re-transmitted, the ignoreChanges contract). Returns a plain
        streaming DataFrame — chain watermarks/windows/writeStream as
        usual. See streaming/delta_source.py."""
        from .streaming.delta_source import DeltaStreamDataSource
        # register() replaces an existing registration, so repeated
        # calls are safe; real failures must surface
        self.spark.dataSource.register(DeltaStreamDataSource)
        r = (self.spark.readStream.format("delta_local_stream")
             .option("starting_version", str(starting_version))
             .option("ignore_deletes", str(ignore_deletes).lower())
             .option("ignore_changes", str(ignore_changes).lower()))
        return r.load(table)

    def read_delta_changes(self, table: str,
                           from_version: int | None = None,
                           to_version: int | None = None,
                           from_timestamp=None,
                           to_timestamp=None) -> DataStream:
        """CDF-style incremental read of a local Delta table: the
        row-level changes of versions [from_version, to_version]
        (inclusive) — data columns plus `_change_type` and
        `_commit_version`. Commits carrying protocol ``cdc`` actions
        are served from their Change Data Files (round 10); others
        reconstruct from the log (dataChange adds → inserts, removed
        files / DV deltas → deletes; compaction contributes nothing).
        Timestamp bounds mirror the jar: `from_timestamp` picks the
        earliest commit at-or-after, `to_timestamp` the latest
        at-or-before. See sources/delta_local.read_delta_changes."""
        from .sources.delta_local import read_delta_changes
        return DataStream(self, read_delta_changes(
            self.spark, table, from_version, to_version,
            from_timestamp=from_timestamp, to_timestamp=to_timestamp))

    def read_hudi(self, table: str, as_of: str | None = None,
                  as_of_timestamp=None) -> DataStream:
        """Apache Hudi table (COPY_ON_WRITE and MERGE_ON_READ),
        optional time travel by instant timestamp (extension source —
        completes the lakehouse trio next to read_delta/read_iceberg).
        Pure-Python timeline replay (sources/hudi_local.py): the
        ``.hoodie/*`` instants resolve the live file slice per file
        group driver-side. CoW: ONE native parquet scan — pushdown
        and pruning as on raw parquet. MoR: base scan + distributed
        Avro log scan + a single-shuffle record-key merge
        (deltacommit updates/deletes served exactly; real
        HoodieLogFormat-framed logs decode via sources/hudi_logfmt).
        ``as_of_timestamp`` (datetime / ISO string / instant-shaped
        number) time travels to the latest completed instant at-or-
        before that moment; ``as_of`` takes an exact instant."""
        from .sources.hudi_local import instant_at_timestamp, read_hudi_local
        if as_of_timestamp is not None:
            if as_of is not None:
                raise ValueError("pass as_of OR as_of_timestamp, not both")
            as_of = instant_at_timestamp(table, as_of_timestamp)
        return DataStream(self, read_hudi_local(self.spark, table, as_of))

    def read_hudi_incremental(self, table: str, begin: str,
                              end: str | None = None) -> DataStream:
        """Hudi incremental query: rows written in instants
        [begin, end] (inclusive) — data columns plus `_change_type`
        ('upsert'/'delete') and `_commit_instant`. New base files are
        upserts, deltacommit log records carry their own tombstone
        flag, clustering replacecommits contribute nothing. See
        sources/hudi_local.read_hudi_incremental."""
        from .sources.hudi_local import read_hudi_incremental
        return DataStream(self, read_hudi_incremental(
            self.spark, table, begin, end))

    def read_hudi_stream(self, table: str,
                         starting_instant: str | None = None,
                         ignore_deletes: bool = False,
                         ignore_changes: bool = False):
        """Streaming SOURCE over a local Hudi table: a STREAMING
        DataFrame tailing the timeline — new base files plus
        deltacommit log upserts per instant (Hudi's incremental-query
        semantics fed into Structured Streaming). Clustering is
        invisible; delete deltacommits need ignore_deletes;
        insert_overwrite needs ignore_changes. See
        streaming/hudi_source.py."""
        from .streaming.hudi_source import HudiStreamDataSource
        self.spark.dataSource.register(HudiStreamDataSource)
        r = (self.spark.readStream.format("hudi_local_stream")
             .option("ignore_deletes", str(ignore_deletes).lower())
             .option("ignore_changes", str(ignore_changes).lower()))
        if starting_instant is not None:
            r = r.option("starting_instant", str(starting_instant))
        return r.load(table)

    def read_iceberg(self, table: str, snapshot: int | None = None,
                     partition_filter: str | None = None,
                     scan_filter: str | None = None,
                     as_of_timestamp=None,
                     ref: str | None = None,
                     with_lineage: bool = False) -> DataStream:
        """Iceberg table, optional time travel (reference df.py:802-832).

        Prefers the iceberg-spark runtime jar. When the jar is absent
        and ``table`` is a local Iceberg table directory, falls back
        to the pure-Python metadata reader (sources/iceberg_local.py):
        snapshot → manifest-list → manifests → live parquet files →
        native Spark parquet scan, with v2 position AND equality
        deletes applied as distributed anti-joins.
        ``partition_filter`` (SQL over identity-partition columns)
        prunes the FILE LIST from the manifests' per-file partition
        values before the scan; ``scan_filter`` (SQL over any column)
        applies row-level AND skips files whose manifest column
        bounds refute simple ``col op literal`` conjunctions —
        manifest-level pruning, so filtered reads open only matching
        files (on the jar path both filters are pushed down and the
        jar prunes natively). ``with_lineage`` (round 12) appends the
        v3 row-lineage metadata columns ``_row_id`` and
        ``_last_updated_sequence_number`` (spec §Row Lineage) —
        served by the pure-Python local-directory reader; jar/catalog
        paths refuse typed rather than silently omit them."""
        import os
        if sum(x is not None
               for x in (snapshot, as_of_timestamp, ref)) > 1:
            raise ValueError(
                "pass at most one of snapshot / as_of_timestamp / ref")
        if with_lineage and not os.path.isdir(os.path.join(
                table.removeprefix("file://"), "metadata")):
            raise NotImplementedError(
                "with_lineage=True is served by the local-directory "
                "metadata reader; jar/catalog reads would silently "
                "omit the lineage columns — read the table directory, "
                "or SELECT _row_id via the jar's own metadata columns")
        if ref is not None:
            # named BRANCH/TAG (spec §Snapshot References, round 11):
            # resolve to its snapshot-id from the table metadata —
            # local directories via the pure-Python reader, catalog
            # tables via pyiceberg below; the jar path is skipped
            # because silently reading main instead of the ref would
            # be wrong, and branch-vs-tag needs the metadata anyway
            if os.path.isdir(os.path.join(
                    table.removeprefix("file://"), "metadata")):
                from .sources.iceberg_local import snapshot_for_ref
                snapshot = snapshot_for_ref(table, ref)
                ref = None
        reader = self.spark.read.format("iceberg")
        if ref is not None:
            # catalog table: let read_iceberg_catalog resolve via
            # pyiceberg metadata (the jar fallback would mis-serve)
            try:
                import pyiceberg  # noqa: F401
            except ImportError as e:
                raise RuntimeError(
                    "read_iceberg(ref=...) on a catalog table needs "
                    "pyiceberg to resolve the branch/tag; local "
                    "table directories resolve without it") from e
            from .sources.iceberg_catalog import read_iceberg_catalog
            return DataStream(
                self, read_iceberg_catalog(
                    self.spark, table,
                    partition_filter=partition_filter,
                    scan_filter=scan_filter, ref=ref))
        if snapshot is not None:
            reader = reader.option("snapshot-id", snapshot)
        if as_of_timestamp is not None:
            from .sources.delta_local import _to_epoch_ms
            reader = reader.option("as-of-timestamp",
                                   str(_to_epoch_ms(as_of_timestamp)))
        if with_lineage:
            # local directory (checked above): straight to the
            # pure-Python reader — the jar path can't serve the flag
            from .sources.iceberg_local import read_iceberg_local
            return DataStream(
                self, read_iceberg_local(
                    self.spark, table, snapshot,
                    partition_filter=partition_filter,
                    scan_filter=scan_filter,
                    as_of_timestamp=as_of_timestamp,
                    with_lineage=True))
        try:
            df = reader.load(table)
            if partition_filter:
                df = df.filter(partition_filter)
            if scan_filter:
                df = df.filter(scan_filter)
            return DataStream(self, df)
        except Exception as e:
            if "iceberg" not in str(e).lower() and "DATA_SOURCE" not in str(e):
                raise
            if os.path.isdir(os.path.join(table.removeprefix("file://"),
                                          "metadata")):
                from .sources.iceberg_local import read_iceberg_local
                return DataStream(
                    self, read_iceberg_local(
                        self.spark, table, snapshot,
                        partition_filter=partition_filter,
                        scan_filter=scan_filter,
                        as_of_timestamp=as_of_timestamp))
            # catalog tables without the jar: pyiceberg (the exact
            # public package the reference itself reads Glue tables
            # with, df.py:802-832) plans the files; Spark's native
            # parquet scan reads them (sources/iceberg_catalog.py)
            try:
                import pyiceberg  # noqa: F401
            except ImportError:
                pyiceberg = None
            if pyiceberg is not None:
                from .sources.iceberg_catalog import read_iceberg_catalog
                return DataStream(
                    self, read_iceberg_catalog(
                        self.spark, table, snapshot,
                        partition_filter=partition_filter,
                        scan_filter=scan_filter,
                        as_of_timestamp=as_of_timestamp))
            raise RuntimeError(
                "read_iceberg needs the iceberg-spark-runtime jar on the "
                "Spark classpath (spark.jars.packages "
                "org.apache.iceberg:iceberg-spark-runtime-*) for catalog "
                "tables — or `pip install pyiceberg`, which plans "
                "catalog tables' files for the native parquet scan; "
                "local Iceberg table DIRECTORIES are readable without "
                "either via the built-in metadata fallback. None "
                "applies to this input."
            ) from e

    def read_lance(self, path: str, vec_column: str = "vec",
                   pushdown: bool = False,
                   native_handle=None) -> DataStream:
        """Vector dataset scan (reference df.py:564-652). The lance
        package is absent here, so the scan runs through the Spark 4
        Python DataSource in sources/lancelike.py over the portable
        fragment layout (directory of parquet fragments — what lance
        exports to): one input partition per fragment.
        ``pushdown=True`` additionally pushes comparison filters into
        the per-fragment parquet read — opt-in because the loaded
        relation caches its pushed-filter planning (see
        sources/lancelike.py), so use it load-scan-once. ANN top-k over
        the result goes through DataStream.vector_nn_join; when the
        layout carries an ANN sidecar (functions/ann_index.
        write_ann_index), the join pushes its probes into the source
        and reads only index-selected fragments — the Spark
        counterpart of the reference's __push_ann__ pass
        (df.py:1264-1352)."""
        if not getattr(self, "_lancelike_registered", False):
            from .sources.lancelike import LanceLikeDataSource
            self.spark.dataSource.register(LanceLikeDataSource)
            try:  # runtime-settable; required for the pushFilters path
                self.spark.conf.set(
                    "spark.sql.python.filterPushdown.enabled", "true")
            except Exception:  # noqa: BLE001 — older/locked sessions
                pass
            self._lancelike_registered = True
        reader = (self.spark.read.format("lancelike")
                  .option("pushdown", str(bool(pushdown)).lower()))
        if native_handle is not None:
            # adapter hook for native .lance datasets (and tests): the
            # handle rides the options channel because Spark 4 plans
            # Python DataSources in a separate worker process
            from .sources.lancelike import encode_handle
            reader = reader.option("native_handle",
                                   encode_handle(native_handle))
        df = reader.load(path)
        assert vec_column in df.columns, \
            f"vector column {vec_column!r} not in {df.columns}"
        ds = DataStream(self, df)
        # provenance marker for the __push_ann__-style probe pushdown:
        # survives only on the raw scan — every verb returns a fresh
        # DataStream, so any transform invalidates it naturally
        from .functions.ann_index import has_ann_index
        if has_ann_index(path):
            ds._ann_index_path = path
        return ds

    def read_rest_get(self, url: str, params_list: list, headers: dict | None = None,
                      batch_size: int = 100) -> DataStream:
        """Paginated REST source (reference df.py:655-663,
        dataset/crypto_dataset.py). Parameter rows are distributed;
        each partition fetches its own pages (requests not available
        here → raises at execution unless it is)."""
        from .sources.rest import rest_get_stream
        return DataStream(self, rest_get_stream(self.spark, url, params_list,
                                                headers, batch_size))

    def read_rest_post(self, url: str, params_list: list,
                       headers: dict | None = None,
                       batch_size: int = 100) -> DataStream:
        """POST variant of the REST source (reference df.py:655-663)."""
        from .sources.rest import rest_post_stream
        return DataStream(self, rest_post_stream(self.spark, url, params_list,
                                                 headers, batch_size))

    # ------------------------------------------------------- maintenance

    def compact_delta(self, table: str,
                      target_file_rows: int = 5_000_000) -> int:
        """OPTIMIZE-style small-file compaction for a local Delta
        table (sources/delta_local.compact_delta_local): live rows
        rewritten into right-sized files, swapped in one atomic
        commit with fresh data-skipping stats. Returns the version."""
        from .sources.delta_local import compact_delta_local
        return compact_delta_local(self.spark, table, target_file_rows)

    def vacuum_delta(self, table: str, keep_last: int = 1) -> int:
        """Reclaim table-local files referenced only by versions older
        than the last ``keep_last`` (delta_local.vacuum_delta_local).
        Returns the number of files deleted."""
        from .sources.delta_local import vacuum_delta_local
        return vacuum_delta_local(table, keep_last)

    def delta_history(self, table: str) -> DataStream:
        """DESCRIBE HISTORY: one row per version — (version,
        timestamp epoch-ms, operation, operationParameters JSON) from
        each commit's commitInfo (operation null for bare commits).
        Driver reads KB of log metadata; no data files touched."""
        import json as _json

        from .sources.delta_local import (_commit_info,
                                          _commit_timestamp,
                                          list_versions)
        rows = []
        for v in list_versions(table):
            try:
                ts = _commit_timestamp(table, v)
            except FileNotFoundError:
                continue                  # checkpoint-only version
            ci = _commit_info(table, v)
            rows.append((v, ts, ci.get("operation"),
                         _json.dumps(ci.get("operationParameters"))
                         if ci.get("operationParameters") else None))
        df = self.spark.createDataFrame(
            rows, "version long, timestamp long, operation string, "
                  "operationParameters string")
        return DataStream(self, df, materialized=True)

    def iceberg_history(self, table: str) -> DataStream:
        """Snapshot history: one row per snapshot — (snapshot_id,
        timestamp epoch-ms, operation, is_current). Metadata-only."""
        from .sources.iceberg_local import _read_table_metadata
        meta = _read_table_metadata(table)
        cur = meta.get("current-snapshot-id")
        rows = [(int(s.get("snapshot-id")),
                 int(s.get("timestamp-ms") or 0),
                 (s.get("summary") or {}).get("operation"),
                 s.get("snapshot-id") == cur)
                for s in meta.get("snapshots") or []]
        df = self.spark.createDataFrame(
            rows, "snapshot_id long, timestamp long, operation string, "
                  "is_current boolean")
        return DataStream(self, df, materialized=True)

    def hudi_history(self, table: str) -> DataStream:
        """Completed timeline: one row per write instant —
        (instant, action, operation). Metadata-only."""
        from .sources.hudi_local import _Timeline
        tl = _Timeline(table)
        rows = [(c.ts, c.action, c.op)
                for c in map(tl.commit, range(len(tl.instants)))]
        df = self.spark.createDataFrame(
            rows, "instant string, action string, operation string")
        return DataStream(self, df, materialized=True)

    def restore_delta(self, table: str, version: int) -> int:
        """RESTORE the table to an older version's state as a new
        commit — history preserved, removes/re-adds derived by diff
        (delta_local.restore_delta_local, the jar's RESTORE TABLE).
        Returns the committed version."""
        from .sources.delta_local import restore_delta_local
        return restore_delta_local(table, version)

    def restore_iceberg(self, table: str, snapshot_id: int) -> int:
        """Revert the table to an older snapshot's state as a NEW
        snapshot that re-references the target's manifest list
        byte-for-byte (iceberg_local.restore_iceberg_local — the
        rollback_to_snapshot analog, metadata-only). Returns the new
        snapshot id."""
        from .sources.iceberg_local import restore_iceberg_local
        return restore_iceberg_local(table, snapshot_id)

    def compact_iceberg(self, table: str,
                        target_file_rows: int = 5_000_000) -> int:
        """rewrite_data_files-style compaction for a local Iceberg
        table: live rows (deletes APPLIED) rewritten and committed as
        one delete-free snapshot with fresh column bounds
        (iceberg_local.rewrite_data_files_local). Returns the new
        snapshot id."""
        from .sources.iceberg_local import rewrite_data_files_local
        return rewrite_data_files_local(self.spark, table,
                                        target_file_rows)

    def expire_iceberg_snapshots(self, table: str, keep_last: int = 1,
                                 delete_orphans: bool = False) -> list:
        """Drop all but the last ``keep_last`` snapshots; with
        ``delete_orphans`` also delete table-local files no kept
        snapshot references (iceberg_local.expire_snapshots_local).
        Returns the kept snapshot ids."""
        from .sources.iceberg_local import expire_snapshots_local
        return expire_snapshots_local(table, keep_last, delete_orphans)

    def compact_hudi(self, table: str,
                     target_file_rows: int = 5_000_000) -> str:
        """Clustering-style compaction for a local Hudi CoW table:
        live rows rewritten into right-sized file groups via one
        replacecommit (hudi_local.compact_hudi_local). Returns the
        instant timestamp."""
        from .sources.hudi_local import compact_hudi_local
        return compact_hudi_local(self.spark, table, target_file_rows)

    def clean_hudi(self, table: str, keep_last: int = 1) -> int:
        """Reclaim table-local base files referenced only by instants
        older than the last ``keep_last``
        (hudi_local.clean_hudi_local). Returns the number of files
        deleted."""
        from .sources.hudi_local import clean_hudi_local
        return clean_hudi_local(table, keep_last)

    def restore_hudi(self, table: str, instant: str) -> list:
        """Restore to ``instant`` by truncating the timeline — Hudi's
        own (destructive) restore semantics: later instants and their
        table-local files are deleted
        (hudi_local.restore_hudi_local). Returns the removed instant
        timestamps."""
        from .sources.hudi_local import restore_hudi_local
        return restore_hudi_local(table, instant)

    def delete_delta_rows(self, table: str, deletes: dict) -> int:
        """Row-level delete WITHOUT rewriting data files: commit
        deletion vectors for ``{file path: [row positions]}``
        (delta_local.delete_rows_delta_local — merges with each
        file's existing DV per protocol). Returns the version."""
        from .sources.delta_local import delete_rows_delta_local
        return delete_rows_delta_local(table, deletes,
                                       spark=self.spark)

    def from_pandas(self, pdf) -> DataStream:
        return DataStream(self, self.spark.createDataFrame(pdf), materialized=True)

    def from_arrow(self, table) -> DataStream:
        return DataStream(self, self.spark.createDataFrame(table.to_pandas()),
                          materialized=True)

    def from_polars(self, pldf) -> DataStream:
        return DataStream(self, self.spark.createDataFrame(pldf.to_pandas()),
                          materialized=True)

    def read_dataset(self, dataset: DataStream) -> DataStream:
        """Re-read a cached DataSet (reference df.py:665-689): computed
        streams are persisted DataFrames, so this is identity."""
        assert isinstance(dataset, DataStream)
        return dataset

    def read_ray_dataset(self, ray_ds) -> DataStream:
        """Ray Dataset ingestion (reference df.py read_ray_dataset — a
        Ray-runtime source there). Spark has no Ray integration; the
        portable path is Ray → Arrow → Spark. ``to_arrow_refs()``
        results that are already local Arrow tables are consumed
        directly (ray.get on local objects is identity), so the
        plumbing is testable without ray; true ObjectRefs need the ray
        package (absent here → clean error). For datasets larger than
        driver memory, write parquet from Ray and read_parquet."""
        try:
            tables = list(ray_ds.to_arrow_refs())
        except AttributeError as e:
            raise TypeError(
                "read_ray_dataset expects a ray.data.Dataset "
                "(to_arrow_refs missing)") from e
        import pyarrow as pa
        if not all(isinstance(t, pa.Table) for t in tables):
            try:
                import ray
                tables = ray.get(tables)
            except ImportError as e:
                raise RuntimeError(
                    "read_ray_dataset needs the ray package to resolve "
                    "ObjectRefs (not in this environment); export the "
                    "dataset to parquet and use read_parquet instead") from e
        return self.from_arrow(pa.concat_tables(tables))

    def get_config(self, key: str):
        """Engine config read (reference df.py get_config — cluster
        knobs there, Spark SQL conf here)."""
        return self.spark.conf.get(key)

    def set_config(self, key: str, value) -> None:
        """Engine config write (reference df.py set_config). Runtime-
        settable Spark SQL confs only (static confs raise, as in
        vanilla Spark)."""
        self.spark.conf.set(key, value)

    # ------------------------------------------------------------------
    # SQL entry (SURVEY §2.10)
    # ------------------------------------------------------------------
    def sql(self, query: str, tables: dict | None = None) -> DataStream:
        """SQL over registered DataStreams. Replaces the reference's
        DuckDB-plan→DataStream code generator (pyquokka/sql.py) with
        Catalyst; DuckDB dialect accepted via the shim."""
        for name, ds in (tables or {}).items():
            ds.df.createOrReplaceTempView(name)
        return DataStream(self, self.spark.sql(duckdb_to_spark_sql(query)))

    def register(self, name: str, ds: DataStream):
        ds.df.createOrReplaceTempView(name)

    def mingle(self, streams: list, executor, new_schema,
               required_columns: list, by: str | list | None = None) -> DataStream:
        """Multi-stream custom operator (reference df.py:837-848): the
        input streams are union-tagged with ``__stream_id__`` and fed to
        the stateful executor, which sees the tag column — the Spark
        shape of the reference's per-stream ``execute(…, stream_id)``
        dispatch."""
        from pyspark.sql import functions as F
        assert len(streams) >= 2
        cols = list(dict.fromkeys(
            required_columns + ([by] if isinstance(by, str) else (by or []))))
        tagged = None
        for i, s in enumerate(streams):
            t = s.df.select(*cols).withColumn("__stream_id__", F.lit(i))
            tagged = t if tagged is None else tagged.unionByName(t)
        ds = DataStream(self, tagged)
        return ds.stateful_transform(executor, new_schema,
                                     cols + ["__stream_id__"], by=by)
