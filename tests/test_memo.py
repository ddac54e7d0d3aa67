"""The one driver-side cache policy (quokka_spark/memo.py).

Every driver cache is a bounded LRU ``Memo`` whose key names what the
value depends on: for read_parquet's footer entries (inferred schema
and TIMESTAMP(NANOS) columns) the file's stat signature, the reader
options and the schema confs; for the Delta sink handshake's txn fold
the table's identity (commit 0's ``metaData.id``). Pinned here: the
memo's own semantics, the two stale results the old ad-hoc caches
returned (a parquet file rewritten at the same path; a Delta log
rewritten in place with restored inodes, sizes and mtimes), the
re-read of an unchanged parquet file that runs no inference job, the
fold's older-probe rule, the cap under a many-table soak, and an ast
guard that keeps new module-level dict caches and functools caches
out of the package.
"""
import ast
import os
import pathlib
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conftest import jobs_run_by  # noqa: E402
from quokka_spark.memo import MISS, Memo  # noqa: E402

PKG = pathlib.Path(__file__).resolve().parent.parent / "quokka_spark"


# ----------------------------------------------------------------------
# the memo itself
# ----------------------------------------------------------------------

def test_memo_lru_eviction_counters_and_callback():
    evicted = []
    m = Memo("test.lru", cap=2, on_evict=evicted.append)
    m.put("a", 1)
    m.put("b", 2)
    assert m.get("a") == 1              # refreshes "a": "b" is now oldest
    m.put("c", 3)
    assert evicted == [2]               # one callback per evicted entry
    assert m.get("b") is MISS
    assert (m.get("a"), m.get("c")) == (1, 3)
    assert len(m) == 2
    assert m.stats() == {"hits": 3, "misses": 1, "evictions": 1,
                         "size": 2, "cap": 2}


def test_memo_cached_none_is_a_hit():
    m = Memo("test.none", cap=4)
    assert m.get("k") is MISS
    m.put("k", None)
    assert m.get("k") is None
    assert m.get("other", None) is None  # explicit default on a miss
    assert (m.hits, m.misses) == (1, 2)


def test_memo_concurrent_puts_stay_capped():
    """More threads than cores hammering one memo with a tiny switch
    interval: a lost update would break the cap or the counter sums."""
    m = Memo("test.threads", cap=16)
    n_threads, n_ops = 2 * (os.cpu_count() or 4), 2000

    def work(t):
        for i in range(n_ops):
            m.put((t, i), i)
            m.get((t, i - 1))

    threads = [threading.Thread(target=work, args=(t,))
               for t in range(n_threads)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(m) == 16
    assert m.evictions == n_threads * n_ops - 16
    assert m.hits + m.misses == n_threads * n_ops


# ----------------------------------------------------------------------
# read_parquet's TIMESTAMP(NANOS) footer probe
# ----------------------------------------------------------------------

def test_read_parquet_rewritten_file_reprobes_nanos_columns(qc, tmp_path):
    """A file rewritten at the same path with a TIMESTAMP(NANOS) column
    must come back as a timestamp: a probe memoized on the path alone
    kept the old (µs, nothing to convert) answer and the column read
    as nanosAsLong's bigint."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ts.parquet")
    ts = [datetime.datetime(2024, 1, 1, 0, 0, s) for s in range(3)]

    def write(unit):
        t = pa.array(ts, pa.timestamp(unit, tz="UTC"))
        pq.write_table(pa.table({"id": [1, 2, 3], "t": t}), p,
                       version="2.6")

    def read():
        df = qc.read_parquet(p).df
        return dict(df.dtypes)["t"], sorted(r["t"] for r in df.collect())

    write("us")
    dtype, micros = read()
    assert dtype == "timestamp"
    write("ns")
    assert read() == ("timestamp", micros)


def _footer_hits():
    from quokka_spark import memo
    return memo.stats().get("context.parquet_footers", {}).get("hits")


def test_read_parquet_reread_runs_no_inference_job(spark, qc, tmp_path):
    """The first read of a local file lets Spark infer the schema (a
    footer-reading job); a re-read of the unchanged file hits the
    footer memo and hands Spark that schema, so it runs no job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3], "s": ["a", "b", "c"]}), p)
    first, jobs = jobs_run_by(spark, lambda: qc.read_parquet(p).df)
    assert jobs, "the first read should infer the schema with a job"
    hits = _footer_hits()
    again, jobs = jobs_run_by(spark, lambda: qc.read_parquet(p).df)
    assert jobs == []
    assert again.schema == first.schema
    assert _footer_hits() == hits + 1
    assert sorted(again.collect()) == sorted(first.collect())
    # the memo holds its own copy: a caller's in-place edit of a
    # returned schema (StructType.add) must not reach later reads
    first.schema.add("not_in_file", "integer")
    assert qc.read_parquet(p).df.columns == ["id", "s"]


def test_read_parquet_schema_memo_follows_file_and_confs(spark, qc,
                                                        tmp_path):
    """The memoized schema is only reused for the same bytes under the
    same schema confs: a rewrite with an extra column (mtime restored)
    shows the column, binaryAsString flips a binary column's type both
    ways, and directory and glob reads still infer with a job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), p)
    assert qc.read_parquet(p).df.columns == ["id"]
    mtime = os.stat(p).st_mtime_ns
    pq.write_table(pa.table({"id": [1, 2], "extra": [3.0, 4.0]}), p)
    os.utime(p, ns=(mtime, mtime))
    df = qc.read_parquet(p).df
    assert df.columns == ["id", "extra"]
    assert sorted(r["extra"] for r in df.collect()) == [3.0, 4.0]

    b = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"payload": pa.array([b"x", b"y"],
                                                 pa.binary())}), b)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key, None)

    def payload_type():
        return dict(qc.read_parquet(b).df.dtypes)["payload"]

    try:
        spark.conf.set(key, "false")
        assert payload_type() == "binary"
        spark.conf.set(key, "true")
        assert payload_type() == "string"
        spark.conf.set(key, "false")
        assert payload_type() == "binary"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"id": [1, 2]}), str(d / "part-0.parquet"))
    for path in (str(d), str(d / "*.parquet")):
        qc.read_parquet(path)
        df, jobs = jobs_run_by(spark, lambda: qc.read_parquet(path).df)
        assert jobs, f"{path}: a re-read should still infer with a job"
        assert df.columns == ["id"]


# ----------------------------------------------------------------------
# the Delta sink handshake's incremental txn fold
# ----------------------------------------------------------------------

def _txn_table(path, txn_versions, app="s"):
    """A driver-only Delta table: one commit per txn mark, commit 0
    carrying protocol + metaData (a fresh table id)."""
    from quokka_spark.sources import delta_local as dl
    for v, tv in enumerate(txn_versions):
        actions = [{"txn": {"appId": app, "version": tv}}]
        if v == 0:
            actions = dl._meta_actions(None) + actions
        dl._commit(path, v, actions)
    return path


def _count_folds(monkeypatch):
    from quokka_spark.sources import delta_local as dl
    folds = []
    orig = dl._fold_txn_commit

    def counted(table, v, txns):
        folds.append(v)
        return orig(table, v, txns)

    monkeypatch.setattr(dl, "_fold_txn_commit", counted)
    return folds


def test_txn_memo_keyed_on_table_identity_not_file_stats(tmp_path):
    """Table A (marks 0-4) is probed, then its commit files are
    rewritten IN PLACE with table B's bytes (marks 5-9): same inodes,
    same sizes, mtimes restored. An inode/mtime/size signature cannot
    see the recreation and answered 4; the memo keys on commit 0's
    metaData.id, so the probe re-folds and answers 9."""
    from quokka_spark.sources import delta_local as dl

    a = _txn_table(str(tmp_path / "a"), range(0, 5))
    b = _txn_table(str(tmp_path / "b"), range(5, 10))
    assert dl.last_txn_version(a, "s") == 4
    for v in range(5):
        pa_, pb = dl._version_path(a, v), dl._version_path(b, v)
        before = os.stat(pa_)
        with open(pb, "rb") as fh:
            data = fh.read()
        assert len(data) == before.st_size
        with open(pa_, "r+b") as fh:
            fh.write(data)
        os.utime(pa_, ns=(before.st_atime_ns, before.st_mtime_ns))
        after = os.stat(pa_)
        assert (after.st_ino, after.st_size, after.st_mtime_ns) == \
            (before.st_ino, before.st_size, before.st_mtime_ns)
    assert dl.last_txn_version(a, "s") == 9


def test_txn_memo_older_probe_keeps_newer_fold(tmp_path, monkeypatch):
    """A historical probe at an older version folds from scratch but
    must not replace the memoized newer fold: the next steady-state
    probe folds only the new commit."""
    from quokka_spark.sources import delta_local as dl

    tbl = _txn_table(str(tmp_path / "t"), range(8))
    assert dl.last_txn_version(tbl, "s") == 7
    folds = _count_folds(monkeypatch)
    assert dl._txn_state(tbl, 3) == {"s": 3}
    assert folds == [0, 1, 2, 3]
    folds.clear()
    dl._commit(tbl, 8, [{"txn": {"appId": "s", "version": 8}}])
    assert dl.last_txn_version(tbl, "s") == 8
    assert folds == [8], folds


def test_txn_memo_soak_stays_capped(tmp_path, monkeypatch):
    """1,000 distinct tables probed by one long-lived driver: the fold
    memo never holds more than its cap, and the most recent tables
    still hit (zero folds on a repeat probe)."""
    from quokka_spark.sources import delta_local as dl

    memo = dl._TXN_FOLDS
    tables = []
    for i in range(1000):
        tbl = _txn_table(str(tmp_path / f"t{i}"), [i])
        assert dl.last_txn_version(tbl, "s") == i
        assert len(memo) <= memo.cap
        tables.append(tbl)
    assert len(memo) == memo.cap
    folds = _count_folds(monkeypatch)
    for tbl in tables[-memo.cap:]:
        dl.last_txn_version(tbl, "s")
    assert folds == []


# ----------------------------------------------------------------------
# one policy: no ad-hoc caches in the package
# ----------------------------------------------------------------------

# introspection records of the last probe, overwritten on every call
_ALLOWED_MODULE_DICTS = {("operators/windows.py", "last_bucket_probe"),
                         ("operators/windows.py", "last_hot_key_probe")}
_DICT_FACTORIES = {"dict", "OrderedDict", "defaultdict"}
_CACHE_DECORATORS = {"lru_cache", "cache"}


def _name(node):
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def test_no_ad_hoc_driver_caches():
    """Driver-side memoization goes through quokka_spark.memo.Memo: a
    module-level empty dict or a functools cache decorator is an
    unbounded (or differently bounded) second policy."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            empty_dict = (isinstance(value, ast.Dict) and not value.keys) \
                or (isinstance(value, ast.Call)
                    and _name(value) in _DICT_FACTORIES
                    and not value.keywords
                    and (not value.args or _name(value) == "defaultdict"))
            if not empty_dict:
                continue
            for t in targets:
                if (rel, _name(t)) not in _ALLOWED_MODULE_DICTS:
                    offenders.append(f"{rel}:{node.lineno} {_name(t)}")
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for d in node.decorator_list:
                    if _name(d) in _CACHE_DECORATORS:
                        offenders.append(
                            f"{rel}:{d.lineno} @{_name(d)} on {node.name}")
    assert offenders == [], offenders


def test_every_memo_is_capped():
    """The memos the package creates at import are all bounded."""
    import quokka_spark  # noqa: F401
    import quokka_spark.functions.dedup  # noqa: F401
    import quokka_spark.operators.windows  # noqa: F401
    import quokka_spark.sources.delta_local  # noqa: F401
    from quokka_spark import memo

    stats = memo.stats()
    for name in ("context.parquet_footers", "delta.id_layout",
                 "delta.checkpoint_interval", "delta.txn_folds",
                 "windows.bucket_decisions", "windows.hot_key_decisions",
                 "dedup.embedding_broadcasts"):
        assert name in stats, name
        assert 0 < stats[name]["cap"] <= 16384
        assert stats[name]["size"] <= stats[name]["cap"]


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
