"""The benchmark's workloads: which operations run, in which order, and
how each result is checked.

An operation (``Op``) runs in two timed parts, ``build`` (the driver-side
call into the engine that returns a DataFrame, or performs a write) and
``execute`` (the Spark action). Query workloads run registry entries of
``__spark_entry__.queries()``; their outputs are checked against the
entry's DuckDB oracle in the warm-up pass. The lakehouse workload keeps
its own model of every table (live rows, per-version totals and per-commit
changes) and checks every read against it.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Callable

TPCH = [f"tpch_q{i}" for i in range(1, 23)]
TIMESERIES_LLM = [
    "ts_asof_join", "ts_sliding", "ts_session", "ts_cep_funnel",
    "ts_resample", "bench_asof_micro", "dedup_minhash", "dedup_embedding",
    "sim_topk", "text_tfidf", "text_tokens", "stream_tumbling", "stream_join",
]


@dataclass
class Op:
    """One closed-loop operation. ``prepare`` draws its parameters
    (untimed); ``build`` returns a DataFrame (or None for a write);
    ``execute`` runs it and returns what ``check`` needs; ``check``
    returns None when the output is right, else a message."""
    kind: str
    build: Callable
    execute: Callable
    check: Callable = lambda result: None
    writes: bool = False
    rows_written: int = 0
    tables: tuple = ()
    round: int = 0

    def prepare(self) -> None:
        pass


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------------------
# query workloads (tpch, timeseries_llm)
# ----------------------------------------------------------------------

class QueryWorkload:
    """Registry entries in a seeded order per round. Timed passes execute
    through the noop sink; the warm-up pass collects and compares each
    result to its oracle (oracle time is measured and kept apart)."""

    def __init__(self, names: list[str], data_dir: str):
        import __spark_entry__ as entry
        self.names = names
        self.data_dir = data_dir
        self.registry = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.conftest = _load_conftest()
        self.oracle_s = 0.0

    def setup(self, spark) -> None:
        pass

    def _op(self, name: str, execute, check=lambda r: None,
            rnd: int = 0) -> Op:
        fn = self.registry[name]
        return Op(kind=name, build=lambda spark: fn(spark, self.data_dir),
                  execute=execute, check=check, round=rnd)

    def warmup_ops(self, rng: random.Random) -> list[Op]:
        order = list(self.names)
        rng.shuffle(order)
        return [self._op(n, lambda df: df.toPandas(),
                         lambda pdf, n=n: self._compare(n, pdf))
                for n in order]

    def timed_ops(self, rng: random.Random, rounds: int) -> list[Op]:
        ops = []
        for r in range(rounds):
            order = list(self.names)
            rng.shuffle(order)
            ops += [self._op(n, _noop, rnd=r) for n in order]
        return ops

    def _compare(self, name: str, sdf_raw) -> str | None:
        import time
        sql = self.oracle_sql.get(name)
        if sql is None:
            return None
        t0 = time.perf_counter()
        con = self.conftest.duck_con(self.data_dir)
        try:
            odf_raw = con.execute(sql).fetchdf()
        finally:
            con.close()
            self.oracle_s += time.perf_counter() - t0
        return compare_frames(sdf_raw, odf_raw, self.conftest.canonicalize)


def _load_conftest():
    """The engine's test conftest, for its DuckDB views and canonical
    form, so results are compared under exactly the rules of its oracle
    tests."""
    import importlib.util

    import __spark_entry__ as entry
    path = os.path.join(os.path.dirname(os.path.abspath(entry.__file__)),
                        "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("_engine_conftest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare_frames(sdf_raw, odf_raw, canonicalize,
                   atol: float = 1e-9) -> str | None:
    """None when the engine's result equals the oracle's, else the first
    difference: integer/float kind drift, column names, row count, then
    values (floats within ``atol``) — the checks of the engine's
    ``assert_matches_oracle``, returned instead of raised."""
    import numpy as np
    import pandas as pd
    for c in sdf_raw.columns:
        if c in odf_raw.columns:
            kinds = {sdf_raw[c].dtype.kind, odf_raw[c].dtype.kind}
            if kinds & set("iu") and "f" in kinds:
                return (f"column {c} dtype kind drift: "
                        f"{sdf_raw[c].dtype} vs {odf_raw[c].dtype}")
    sdf, odf = canonicalize(sdf_raw), canonicalize(odf_raw)
    if list(sdf.columns) != list(odf.columns):
        return f"columns {list(sdf.columns)} != {list(odf.columns)}"
    if len(sdf) != len(odf):
        return f"rows {len(sdf)} != {len(odf)}"
    for c in sdf.columns:
        a, b = sdf[c], odf[c]
        if pd.api.types.is_float_dtype(a):
            bad = ~np.isclose(a.fillna(np.nan), b.fillna(np.nan), atol=atol,
                              rtol=0, equal_nan=True)
        else:
            bad = ~((a == b) | (a.isna() & b.isna()))
        bad = np.asarray(bad)
        if bad.any():
            i = int(np.nonzero(bad)[0][0])
            return (f"column {c} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r} "
                    f"({int(bad.sum())} rows differ)")
    return None


# ----------------------------------------------------------------------
# lakehouse
# ----------------------------------------------------------------------

BASE_ROWS = 2000
CP_COMMITS = 500
WINDOW = 2
UPSERT_ROWS = 20
DELETE_ROWS = 10
SINK_ROWS = 50
SINK_APP = "perfbench"

# A round runs every write kind once and one upsert, whose format
# alternates between rounds, then every read kind once. The costliest
# writer paths (Delta copy-on-write MERGE, Hudi deletes) are left out to
# fit the run budget.
LAKE_READS = ["delta_snapshot_cp", "delta_time_travel", "delta_changes",
              "iceberg_snapshot", "iceberg_changes", "hudi_incremental",
              "hudi_mor_snapshot"]
LAKE_WRITES = ["delta_stream_sink", "delta_delete", "iceberg_delete"]
LAKE_UPSERTS = ["iceberg_upsert", "hudi_upsert"]


class KeyedTable:
    """Model of one keyed table (columns ``id`` long, ``v`` double with
    integer values, so every sum is exact). ``versions`` lists the
    format's version handles (Delta version, Iceberg snapshot id, Hudi
    instant) in commit order, ``totals`` the (rows, sum(v)) live at each,
    and ``changes`` the (rows, sum(v)) of the change records each commit
    produced."""

    def __init__(self, path: str):
        self.path = path
        self.first = 0  # index of the first commit that holds rows
        self.rows: dict[int, float] = {}
        self.versions: list = []
        self.totals: list[tuple[int, float]] = []
        self.changes: list[tuple[int, float]] = []
        self.next_id = 0

    def commit(self, handle, change_rows: int, change_sum: float) -> None:
        self.versions.append(handle)
        self.totals.append((len(self.rows), float(sum(self.rows.values()))))
        self.changes.append((change_rows, change_sum))

    def change_range(self, i: int, j: int) -> tuple[int, float]:
        sel = self.changes[i:j + 1]
        return sum(c for c, _ in sel), float(sum(s for _, s in sel))

    def insert(self, ids, vals, handle) -> None:
        self.rows.update(zip(ids, vals))
        self.next_id = max(self.rows) + 1
        self.commit(handle, len(ids), float(sum(vals)))

    def upsert(self, rows, handle, pair_updates: bool) -> None:
        """Delta and Iceberg report an update as a pre-image plus a
        post-image; Hudi reports one upsert record."""
        n, s = 0, 0.0
        for k, x in rows:
            if k in self.rows and pair_updates:
                n, s = n + 2, s + self.rows[k] + x
            else:
                n, s = n + 1, s + x
            self.rows[k] = x
        self.commit(handle, n, s)

    def delete(self, keys, handle) -> None:
        """A delete record carries the deleted row."""
        s = sum(self.rows.pop(k) for k in keys)
        self.commit(handle, len(keys), float(s))


def _count_sum(df):
    from pyspark.sql import functions as F
    r = df.agg(F.count("*").alias("n"),
               F.coalesce(F.sum("v"), F.lit(0.0)).alias("s")).collect()[0]
    return int(r["n"]), float(r["s"])


def _expect(got, want) -> str | None:
    return None if (got[0], got[1]) == (want[0], float(want[1])) else \
        f"(rows, sum(v)) {got} != expected {want}"


class LakehouseWorkload:
    """Delta, Iceberg and Hudi-MoR tables built through the engine's
    writers, then a seeded mix of reads and writes. Every read is checked
    against the model; writes grow the histories later reads replay."""

    def __init__(self, root: str):
        self.root = root
        self.qc = None
        self.spark = None

    # -- setup ------------------------------------------------------------

    def setup(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        import quokka_spark.sources.delta_local as dl
        import quokka_spark.sources.hudi_local as hl
        import quokka_spark.sources.iceberg_local as il
        from quokka_spark import QuokkaContext

        self.spark = spark
        self.qc = QuokkaContext(spark=spark)
        os.makedirs(self.root, exist_ok=True)
        base_ids = list(range(BASE_ROWS))
        base_vals = [float(i % 100) for i in base_ids]
        base_file = os.path.join(self.root, "base.parquet")
        pq.write_table(pa.table({"id": pa.array(base_ids, pa.int64()),
                                 "v": pa.array(base_vals, pa.float64())}),
                       base_file)

        # 1. checkpointed Delta table: CP_COMMITS metadata-only appends of
        # hard links to one 100-row file (a checkpoint every 10 commits);
        # the timed streaming sink then appends real commits to it
        seed_file = os.path.join(self.root, "seed.parquet")
        pq.write_table(pa.table({"id": pa.array(range(100), pa.int64()),
                                 "v": pa.array([float(i % 10) for i in
                                                range(100)], pa.float64())}),
                       seed_file)
        cp_dir = os.path.join(self.root, "delta_cp")
        os.makedirs(cp_dir)
        links = []
        for i in range(CP_COMMITS):
            p = os.path.join(cp_dir, f"seed-{i:05d}.parquet")
            os.link(seed_file, p)
            links.append(p)
        schema = spark.read.parquet(seed_file).schema
        dl.create_local_delta_table(
            cp_dir, [links[:i + 1] for i in range(CP_COMMITS)], schema.json())
        self.cp = {"path": cp_dir, "rows": 100 * CP_COMMITS,
                   "sum": 450.0 * CP_COMMITS, "batches": 0,
                   "source": os.path.join(self.root, "sink_source"),
                   "checkpoint": os.path.join(self.root, "sink_checkpoint"),
                   "schema": schema}
        os.makedirs(self.cp["source"])

        # 2. CDF-enabled Delta table. The engine has no public setter for
        # table properties, so version 0 is committed directly with
        # delta.enableChangeDataFeed; every later commit goes through the
        # public writers.
        self.delta = KeyedTable(os.path.join(self.root, "delta_cdf"))
        os.makedirs(self.delta.path)
        dl._commit(self.delta.path, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": {"id": "perfbench-cdf",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema.json(),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.enableChangeDataFeed": "true"},
                          "createdTime": 0}}])
        self.delta.commit(0, 0, 0.0)
        self.delta.first = 1
        v = dl.write_delta_local(spark.read.parquet(base_file).coalesce(2),
                                 self.delta.path, mode="append")
        self.delta.insert(base_ids, base_vals, v)

        # 3. Iceberg table over the base file
        self.ice = KeyedTable(os.path.join(self.root, "iceberg"))
        snap = il.create_local_iceberg_table(self.ice.path, [[base_file]])[-1]
        self.ice.insert(base_ids, base_vals, snap)

        # 4. Hudi merge-on-read table
        self.hudi = KeyedTable(os.path.join(self.root, "hudi_mor"))
        inst = hl.write_hudi_mor_local(
            spark.read.parquet(base_file).repartition(4), self.hudi.path,
            recordkey="id")
        self.hudi.insert(base_ids, base_vals, inst)

    # -- op generation ----------------------------------------------------

    def warmup_ops(self, rng: random.Random) -> list[Op]:
        writes = LAKE_WRITES + LAKE_UPSERTS
        reads = list(LAKE_READS)
        rng.shuffle(writes)
        rng.shuffle(reads)
        return [_LazyOp(self, k, rng) for k in writes + reads]

    def timed_ops(self, rng: random.Random, rounds: int) -> list[Op]:
        """Each round runs its writes, then its reads, each group in
        seeded order, so every read finds a history of the same shape
        whatever the seed. The parameters of each op are drawn when it is
        prepared, from the table state the earlier ops left, so one seed
        always gives the same sequence."""
        kinds = []
        for r in range(rounds):
            writes = LAKE_WRITES + [LAKE_UPSERTS[r % 2]]
            reads = list(LAKE_READS)
            rng.shuffle(writes)
            rng.shuffle(reads)
            kinds += [(k, r) for k in writes + reads]
        return [_LazyOp(self, k, rng, r) for k, r in kinds]

    def _make(self, kind: str, rng: random.Random) -> Op:
        return getattr(self, "_op_" + kind)(rng)

    # -- reads ------------------------------------------------------------

    def _read_op(self, kind, build, want, table) -> Op:
        return Op(kind=kind, build=build, execute=_count_sum,
                  check=lambda got: _expect(got, want), tables=(table,))

    def _op_delta_snapshot_cp(self, rng):
        return self._read_op(
            "delta_snapshot_cp",
            lambda spark: self.qc.read_delta(self.cp["path"]).df,
            (self.cp["rows"], self.cp["sum"]), self.cp["path"])

    def _op_delta_time_travel(self, rng):
        """A past version after at least one deletion-vector commit."""
        t = self.delta
        i = rng.randrange(t.first + 1, len(t.versions))
        return self._read_op(
            "delta_time_travel",
            lambda spark: self.qc.read_delta(t.path,
                                             version=t.versions[i]).df,
            t.totals[i], t.path)

    @staticmethod
    def _window(t: KeyedTable) -> tuple:
        """The last WINDOW commits."""
        j = len(t.versions) - 1
        i = max(t.first, j - WINDOW + 1)
        return t.versions[i], t.versions[j], t.change_range(i, j)

    def _op_delta_changes(self, rng):
        lo, hi, want = self._window(self.delta)
        return self._read_op(
            "delta_changes",
            lambda spark: self.qc.read_delta_changes(self.delta.path,
                                                     lo, hi).df,
            want, self.delta.path)

    def _op_iceberg_changes(self, rng):
        lo, hi, want = self._window(self.ice)
        return self._read_op(
            "iceberg_changes",
            lambda spark: self.qc.read_iceberg_changes(self.ice.path,
                                                       lo, hi).df,
            want, self.ice.path)

    def _op_iceberg_snapshot(self, rng):
        return self._read_op(
            "iceberg_snapshot",
            lambda spark: self.qc.read_iceberg(self.ice.path).df,
            self.ice.totals[-1], self.ice.path)

    def _op_hudi_incremental(self, rng):
        lo, hi, want = self._window(self.hudi)
        return self._read_op(
            "hudi_incremental",
            lambda spark: self.qc.read_hudi_incremental(self.hudi.path,
                                                        lo, hi).df,
            want, self.hudi.path)

    def _op_hudi_mor_snapshot(self, rng):
        return self._read_op(
            "hudi_mor_snapshot",
            lambda spark: self.qc.read_hudi(self.hudi.path).df,
            self.hudi.totals[-1], self.hudi.path)

    # -- writes -----------------------------------------------------------

    def _write_op(self, kind, do, rows_written, table) -> Op:
        return Op(kind=kind, build=do, execute=lambda _: None, writes=True,
                  rows_written=rows_written, tables=(table,))

    def _batch(self, t: KeyedTable, rng):
        """Upsert rows: three quarters are live keys given a new value
        (always different from the old one), the rest fresh keys."""
        n_new = UPSERT_ROWS // 4
        old = rng.sample(sorted(t.rows), UPSERT_ROWS - n_new)
        new = list(range(t.next_id, t.next_id + n_new))
        t.next_id += n_new
        return [(k, t.rows[k] + rng.randrange(1, 50)) for k in old] + \
            [(k, float(rng.randrange(0, 100))) for k in new]

    def _df(self, rows):
        return self.spark.createDataFrame(rows, "id long, v double") \
            .coalesce(1)

    def _op_delta_stream_sink(self, rng):
        """One micro-batch of the exactly-once streaming Delta sink: a new
        file lands in the source directory and an availableNow query
        carries it into the checkpointed table (txn handshake plus an
        append commit)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from quokka_spark.streaming.stream import streaming_write_delta
        cp = self.cp
        vals = [float(rng.randrange(0, 100)) for _ in range(SINK_ROWS)]
        batch = cp["batches"]
        pq.write_table(
            pa.table({"id": pa.array(range(SINK_ROWS), pa.int64()),
                      "v": pa.array(vals, pa.float64())}),
            os.path.join(cp["source"], f"batch-{batch:05d}.parquet"))

        def do(spark):
            stream = spark.readStream.schema(cp["schema"]).parquet(
                cp["source"])
            q = streaming_write_delta(stream, cp["path"], cp["checkpoint"],
                                      app_id=SINK_APP) \
                .trigger(availableNow=True).start()
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("sink batch did not finish in 120 s")
            cp["batches"] += 1
            cp["rows"] += SINK_ROWS
            cp["sum"] += float(sum(vals))
        return self._write_op("delta_stream_sink", do, SINK_ROWS, cp["path"])

    def _op_delta_delete(self, rng):
        import pyarrow.parquet as pq

        import quokka_spark.sources.delta_local as dl
        t = self.delta
        keys = set(rng.sample(sorted(t.rows), DELETE_ROWS))

        def do(spark):
            # deletion vectors address rows by file position: find the
            # doomed keys in the live files, as a delete-by-key writer does
            deletes = {}
            for uri in self.qc.read_delta(t.path).df.inputFiles():
                f = uri.removeprefix("file:")
                ids = pq.read_table(f, columns=["id"]).column("id") \
                    .to_pylist()
                pos = [i for i, k in enumerate(ids) if k in keys]
                if pos:
                    deletes[f] = pos
            t.delete(keys, dl.delete_rows_delta_local(t.path, deletes,
                                                      spark=spark))
        return self._write_op("delta_delete", do, len(keys), t.path)

    def _op_iceberg_upsert(self, rng):
        import quokka_spark.sources.iceberg_local as il
        t = self.ice
        rows = self._batch(t, rng)

        def do(spark):
            t.upsert(rows, il.upsert_iceberg_local(spark, t.path,
                                                   self._df(rows), ["id"]),
                     pair_updates=True)
        return self._write_op("iceberg_upsert", do, len(rows), t.path)

    def _op_iceberg_delete(self, rng):
        import quokka_spark.sources.iceberg_local as il
        t = self.ice
        keys = rng.sample(sorted(t.rows), DELETE_ROWS)

        def do(spark):
            t.delete(keys, il.add_equality_deletes(t.path, {"id": keys}))
        return self._write_op("iceberg_delete", do, len(keys), t.path)

    def _op_hudi_upsert(self, rng):
        import quokka_spark.sources.hudi_local as hl
        t = self.hudi
        rows = self._batch(t, rng)

        def do(spark):
            t.upsert(rows, hl.upsert_hudi_mor_local(spark, t.path,
                                                    self._df(rows)),
                     pair_updates=False)
        return self._write_op("hudi_upsert", do, len(rows), t.path)


class _LazyOp(Op):
    """An op whose kind is fixed when the sequence is made and whose
    parameters are drawn from the model when it is prepared."""

    def __init__(self, wl: LakehouseWorkload, kind: str, rng: random.Random,
                 rnd: int = 0):
        self._wl, self._rng, self._op = wl, rng, None
        super().__init__(kind=kind, build=self._build, execute=self._execute,
                         check=self._check,
                         writes=kind in LAKE_WRITES + LAKE_UPSERTS, round=rnd)

    def prepare(self) -> None:
        self._op = self._wl._make(self.kind, self._rng)
        self.rows_written = self._op.rows_written
        self.tables = self._op.tables

    def _build(self, spark):
        return self._op.build(spark)

    def _execute(self, df):
        return self._op.execute(df)

    def _check(self, result):
        return self._op.check(result)


def make(name: str, data_dir: str, lake_root: str):
    if name == "tpch":
        return QueryWorkload(TPCH, data_dir)
    if name == "timeseries_llm":
        return QueryWorkload(TIMESERIES_LLM, data_dir)
    if name == "lakehouse":
        return LakehouseWorkload(lake_root)
    raise ValueError(f"unknown workload {name!r}")
