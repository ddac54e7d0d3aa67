"""Pure-Python local Delta Lake tables — no delta-spark jar.

Extension source (the reference reads csv/parquet/iceberg/lance;
Delta rounds out the lakehouse trio). The Delta transaction log is
the simplest of the table formats: ``_delta_log/<20-digit>.json``
files of newline-delimited JSON actions (``protocol`` / ``metaData``
/ ``add`` / ``remove`` / ``txn`` / ``domainMetadata``), replayed in
version order — state is simply the set of added-and-not-removed
files plus the latest of each other kind.

ONE fold rebuilds that state: :func:`_snapshot` (the Delta Lake
paper's snapshot, VLDB 2020 §3.2) lists the log once, reads one
checkpoint candidate once and parses each later commit once, yielding
files, metaData, protocol, txn marks and domain metadata together.
Every reader and writer takes its state from it; a writer commits at
the snapshot's version plus one, so a commit that landed meanwhile
fails as a conflict. The checkpoint it starts from:

1. the newest checkpoint version with a complete, readable candidate
   (an unreadable or incomplete one falls back to older checkpoints,
   then to the JSON history);
2. within that version, a candidate carrying the ``txn`` and
   ``protocol`` columns;
3. one lacking them only when no sibling has them — the kinds it
   lacks then come from the JSON history below it while that exists;
4. over a cleaned history a missing protocol is the (1, 2) default
   and missing txn marks are unknowable: ``last_txn_version`` raises,
   reads still work.

ONE data-file scan, :func:`_scan_files`, reads the rows: the
snapshot read (and so compaction), the upsert's survivor scan, the
DV-delete change files and every change-feed part (inserts, deletes,
DV deltas, Change Data Files) call it. It reads under the log's
schema and decides the column-mapping mode, the deletion-vector
anti-join, the partition rejoin and row tracking inside; callers ask
only for the extra columns they need (file path, row index, literal
columns).

- :func:`read_delta_local` folds the log up to ``version`` (time
  travel) and hands the live file list to Spark's native parquet
  scan — pushdown/pruning work exactly as on raw parquet.
- :func:`write_delta_local` commits Spark-written parquet as new
  versions (append / overwrite), and
  :func:`create_local_delta_table` lays versions over EXISTING
  parquet files in place (the oracle-gate pattern shared with
  iceberg_local).

Covered beyond the JSON log: **checkpoint parquet replay** (single
and multi-part ``<v>.checkpoint[.<i>.<n>].parquet`` + the
``_last_checkpoint`` pointer — state starts from the newest
checkpoint at or below the target version and only the trailing JSON
commits replay on top, exactly how long-lived tables whose early
JSON commits were cleaned up stay readable) and **partitioned
tables** (``add.partitionValues`` become real typed columns via a
broadcast file-path→values join on ``_metadata.file_path``; a
``partition_filter`` prunes the live FILE LIST before the scan — the
log-level pruning real Delta does, so a partition-filtered query
reads only matching files even at 100 TB) and **deletion vectors**
(inline Z85 and ``.bin`` storage per the protocol, decoded by
sources/dv.py's pure-Python RoaringBitmapArray reader and applied as
a distributed (file, row-index) anti-join; delete_rows_delta_local
commits them, merging per-file with any existing DV) and
**columnMapping.mode=name** (the scan reads PHYSICAL parquet names
via the schema's physicalName metadata and renames to the logical
schema; stats keys translate; APPENDS and compaction rename the
batch logical→physical so new files carry physical names and
physical-keyed footer stats) and **columnMapping.mode=id reads**
(columns resolve by the PARQUET FIELD IDS in each file's footer —
files may disagree on physical names; the scan groups files by
resolved layout and unions). Round 9 closes the remaining mapped
gaps: id-mode WRITES stamp parquet field ids via the native writer's
``parquet.field.id`` column metadata, mapped schema EVOLUTION
assigns fresh physicalName/id + maxColumnId in both modes, and
PARTITIONED mapped tables read/write/compact/stream in BOTH modes
(hive directories and partitionValues key by the PHYSICAL
partition-column name — the SCHEMA's physicalName, stable across
files even in id mode since partition columns never live in the
data files), and MERGE upserts and the CHANGE FEED
(read_delta_changes) work in both modes too, through the same scan
(physical scan → logical match → physical rewrite).
``metaData.schemaString`` is written spec-correctly (it IS Spark's
schema JSON) and read back as the scan's read schema and for
partition-column types; only a minimal log without one leaves the
data columns to Spark's footer inference.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time
import uuid
from typing import NamedTuple

from ..memo import MISS, Memo


def _log_dir(table: str) -> str:
    return os.path.join(table.removeprefix("file://"), "_delta_log")


def _version_path(table: str, v: int) -> str:
    return os.path.join(_log_dir(table), f"{v:020d}.json")


_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet$")
# V2 checkpoints (protocol "V2 Checkpoint Spec"): ONE top-level file
# named <version>.checkpoint.<uniqueStr>.{json|parquet} holding the
# non-file actions plus ``sidecar`` pointers; the file actions live
# in parquet sidecars under _delta_log/_sidecars/. uniqueStr has no
# dots, so classic multipart names can never match this pattern.
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-zA-Z_-]+)\.(parquet|json)$")


def _scan_log(table: str) -> tuple[list, dict]:
    """One log-directory listing → (sorted JSON commit versions,
    {checkpoint version: sorted list of its part paths}) — classic
    single/multipart parquet checkpoints and V2 checkpoints both."""
    d = _log_dir(table)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {table}")
    commits, checkpoints = [], {}
    for f in os.listdir(d):
        stem, ext = os.path.splitext(f)
        if ext == ".json" and stem.isdigit():
            commits.append(int(stem))
        else:
            m = _CHECKPOINT_RE.match(f) or _CHECKPOINT_V2_RE.match(f)
            if m:
                checkpoints.setdefault(int(m.group(1)), []).append(
                    os.path.join(d, f))
    return sorted(commits), {v: sorted(ps) for v, ps in checkpoints.items()}


def _checkpoint_action_rows(path: str, columns=None) -> tuple:
    """ONE checkpoint file → (the columns it carries, [action dict
    ({action name: payload}), ...]) — classic/multipart/v2-top-level
    parquet, or the v2 JSON flavor, whose inline actions carry every
    kind (columns ``None``). ``columns`` prunes the parquet read: a
    state-only fold touches a handful of rows among potentially a
    million adds."""
    if path.endswith(".json"):
        with open(path) as fh:
            return None, [json.loads(ln) for ln in fh if ln.strip()]
    import pyarrow.parquet as pq
    with pq.ParquetFile(path) as pf:
        names = pf.schema_arrow.names
        cols = (None if columns is None
                else [c for c in columns if c in names])
        rows = pf.read(columns=cols).to_pylist() if cols != [] else []
    return names, [{k: v for k, v in r.items() if v is not None}
                   for r in rows]


def list_versions(table: str) -> list:
    """Every version the log knows about — JSON commits plus
    checkpointed versions (a checkpoint at v proves v exists even
    when its JSON commit was cleaned up)."""
    commits, checkpoints = _scan_log(table)
    return sorted(set(commits) | set(checkpoints))


def _checkpoint_candidates(paths: list) -> list:
    """Group one version's checkpoint files into independent
    CANDIDATES (round 11, advisor finding): a classic checkpoint, a
    complete multipart set, and each v2 uniqueStr are separate,
    spec-legal checkpoints of the same state — concatenating them
    would double-absorb actions, and one abandoned/incomplete v2
    attempt would fail the whole read even though a complete sibling
    exists. Returns ``[[paths of candidate], ...]`` — classic
    flavors first, then v2 by uniqueStr; an INCOMPLETE multipart set
    (missing parts) is dropped here, other validation happens at
    read time."""
    classic_single: list = []
    multi: dict = {}               # num_parts -> [paths]
    v2: dict = {}                  # uniqueStr -> [paths]
    for p in paths:
        f = os.path.basename(p)
        m = _CHECKPOINT_RE.match(f)
        if m:
            if m.group(2) is None:
                classic_single.append(p)
            else:
                multi.setdefault(int(m.group(3)), []).append(p)
            continue
        m = _CHECKPOINT_V2_RE.match(f)
        if m:
            v2.setdefault(m.group(2), []).append(p)
    out = [[p] for p in sorted(classic_single)]
    for n, parts in sorted(multi.items()):
        if len(parts) == n:        # all declared parts present
            out.append(sorted(parts))
    for u in sorted(v2):
        out.append(sorted(v2[u]))
    return out


# the non-file columns a state-only fold (files=False) reads
_STATE_COLUMNS = ["protocol", "metaData", "txn", "domainMetadata"]
_DEFAULT_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


def _fold_txns(txns: dict, marks) -> None:
    """Raise each appId's high-water mark by the given ``txn`` actions."""
    for x in marks:
        if x and x.get("appId") is not None:
            txns[x["appId"]] = max(txns.get(x["appId"], -1),
                                   int(x["version"]))


def _read_checkpoint(paths: list, files: bool) -> dict:
    """One checkpoint version's state. ``paths`` group into
    independent candidates (_checkpoint_candidates); the first that
    reads completely AND carries the ``txn`` and ``protocol`` columns
    wins, else the first readable one. State: ``live`` {path key:
    add} (empty unless ``files``), ``meta``, ``protocol`` (None
    without a row), ``txns`` (None without a txn column) and
    ``domains`` — _snapshot fills what is None. Multi-part
    candidates concatenate their parts; V2 candidates read their
    top-level actions and, with ``files``, every ``sidecar`` parquet
    under _delta_log/_sidecars/ (where the file actions live, per the
    V2 Checkpoint spec). A candidate whose part or sidecar is missing
    or unreadable falls back to the next; none readable raises.
    Driver-side pyarrow — a checkpoint row is ~100 bytes of metadata
    per data file."""
    cands = _checkpoint_candidates(paths)
    if not cands:
        raise FileNotFoundError(
            f"no complete checkpoint candidate among {paths}")
    errors, lacking = [], None
    for cand in cands:
        st = {"live": {}, "meta": {}, "protocol": None, "txns": {},
              "domains": {}}
        absent: set = set()
        try:
            for p in cand:
                names, rows = _checkpoint_action_rows(
                    p, None if files else _STATE_COLUMNS)
                if names is not None:
                    absent |= {"txn", "protocol"} - set(names)
                sidecars = [r["sidecar"] for r in rows if r.get("sidecar")]
                if files:
                    sdir = os.path.join(os.path.dirname(p), "_sidecars")
                    for sc in sidecars:
                        # relative to _sidecars/; the spec allows
                        # absolute paths too, possibly in the file: URI
                        # form this codebase strips everywhere else
                        sp = os.path.join(sdir, re.sub(
                            "^file:/+", "/", sc.get("path") or ""))
                        if not os.path.exists(sp):
                            raise FileNotFoundError(
                                f"{p}: sidecar {sc.get('path')!r} is "
                                "missing — the checkpoint state is "
                                "incomplete")
                        rows = rows + _checkpoint_action_rows(sp)[1]
                for r in rows:
                    a, x = r.get("add"), r.get("protocol")
                    if a and files:
                        if isinstance(a.get("partitionValues"), list):
                            # arrow map → list of pairs
                            a["partitionValues"] = dict(a["partitionValues"])
                        st["live"][a["path"]] = a
                    if r.get("metaData"):
                        st["meta"] = dict(r["metaData"])
                    if x and x.get("minReaderVersion") is not None:
                        st["protocol"] = {k: v for k, v in x.items()
                                          if v is not None}
                    _fold_txns(st["txns"], [r.get("txn")])
                    d = r.get("domainMetadata")
                    if d and d.get("domain"):
                        st["domains"][d["domain"]] = dict(d)
        except (OSError, ValueError) as e:
            errors.append(f"{[os.path.basename(p) for p in cand]}: "
                          f"{type(e).__name__}: {e}")
            continue
        if "txn" in absent:
            st["txns"] = None
        if not absent:
            return st
        lacking = lacking or st
    if lacking:
        return lacking
    raise FileNotFoundError(
        "every checkpoint candidate at this version failed to read: "
        + "; ".join(errors))


class _Snapshot(NamedTuple):
    """The table state at one version (see _snapshot)."""
    version: int
    files: list | None     # absolute live data-file paths, sorted
    meta: dict             # the metaData action
    keys: list | None      # each file's add path key, aligned
    adds: list | None      # each file's add action, aligned
    protocol: dict
    txns: dict | None      # {appId: high-water mark}; None = unknowable
    domains: dict          # {domain: latest domainMetadata}, tombstones too


def _snapshot(table: str, version: int | None = None,
              files: bool = True, scan=None) -> _Snapshot:
    """The state at ``version`` (inclusive; None = latest) — the ONE
    fold behind every reader and writer (the Delta Lake paper's
    snapshot: the newest usable checkpoint plus the JSON commits after
    it, yielding every kind of action at once). Lists the log once
    (``scan`` reuses a _scan_log listing), reads one checkpoint
    candidate once (the rule in the module docstring) and parses each
    tail commit once (_commit_parsed). ``files=False`` skips the
    checkpoint's add column and sidecars for the state-only callers
    (protocol checks, txn marks, the checkpoint interval); its
    files/keys/adds are None. ``files``, ``keys`` and ``adds`` are
    ALIGNED (same sort), so writers remove by the exact key each file
    was added under."""
    commits, checkpoints = scan or _scan_log(table)
    versions = sorted(set(commits) | set(checkpoints))
    if not versions:
        raise FileNotFoundError(f"empty _delta_log in {table}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} not in table {table}; have {versions}")
    have = set(commits)
    st, base, cp_err = None, -1, None
    # newest-first with fallback (review finding): an unreadable
    # checkpoint (e.g. a foreign writer's crash left only part 1 of a
    # 2-part set) must not brick the table when an older checkpoint
    # or the full JSON history can serve the same state — the spec
    # tells readers to ignore incomplete checkpoints
    for cv in sorted((c for c in checkpoints if c <= version),
                     reverse=True):
        try:
            st = _read_checkpoint(checkpoints[cv], files)
        except (OSError, ValueError) as e:
            cp_err = e
            continue
        base, cp_err = cv, None
        break
    tail = range(base + 1, version + 1)
    if not have.issuperset(tail):
        if cp_err is not None:
            # the JSON history cannot cover and every usable
            # checkpoint failed — the checkpoint error is the root
            # cause, surface it
            raise cp_err
        missing = sorted(set(tail) - have)
        raise FileNotFoundError(
            f"cannot reconstruct version {version} of {table}: JSON "
            f"commits {missing} are missing and no checkpoint at or "
            f"below covers them (log was cleaned up? write a newer "
            f"checkpoint first)")
    st = st or {"live": {}, "meta": {}, "protocol": None, "txns": {},
                "domains": {}}
    # a foreign checkpoint without a protocol row or txn column takes
    # those kinds from the JSON history below it while that exists;
    # over a cleaned history the protocol is the (1, 2) default and
    # the txn marks stay unknowable (None)
    fill = [k for k in ("protocol", "txns") if st[k] is None]
    if fill and base >= 0 and have.issuperset(range(base + 1)):
        st["txns"] = {} if st["txns"] is None else st["txns"]
        for v in range(base + 1):
            c = _commit_parsed(table, v)
            if "protocol" in fill and c.protocol is not None:
                st["protocol"] = c.protocol
            if "txns" in fill:
                _fold_txns(st["txns"], c.txns)
    live, meta, proto = st["live"], st["meta"], st["protocol"]
    txns, domains = st["txns"], st["domains"]
    for v in tail:
        c = _commit_parsed(table, v)
        # a commit is reconciled ATOMICALLY: removes before adds. The
        # spec keys reconciliation by (path, dv uniqueId), so a
        # DV-update commit may serialize the add (new DV) BEFORE the
        # remove (old DV) of the same path — applied in file order
        # that would pop the freshly added entry and silently drop
        # every row of the file. (An add carrying a deletionVector
        # REPLACES the path's previous add; the scan applies the DV
        # as a row-position anti-join, _apply_deletion_vectors.)
        for k in c.removes:
            live.pop(k, None)
        live.update(c.adds)
        meta = c.meta if c.meta is not None else meta
        proto = c.protocol if c.protocol is not None else proto
        if txns is not None:
            _fold_txns(txns, c.txns)
        for d in c.domains:
            domains[d["domain"]] = dict(d)
    if isinstance(meta.get("configuration"), list):
        # arrow map → list of pairs
        meta = dict(meta, configuration=dict(meta["configuration"]))
    cm = (meta.get("configuration") or {}).get("delta.columnMapping.mode")
    if cm and cm not in ("none", "name", "id"):
        # name mode resolves via the schema's physicalName metadata
        # (_column_mapping); id mode via per-file parquet field ids
        # (_id_mapping + the grouped scan in read_delta_local)
        raise NotImplementedError(
            f"delta.columnMapping.mode={cm!r} is not a protocol mode "
            "this reader knows (none/name/id)")
    proto = proto or dict(_DEFAULT_PROTOCOL)
    if not files:
        return _Snapshot(version, None, meta, None, None, proto, txns,
                         domains)
    root = table.removeprefix("file://")
    pairs = sorted(((k if os.path.isabs(k) else os.path.join(root, k)), k)
                   for k in live)
    return _Snapshot(version, [f for f, _ in pairs], meta,
                     [k for _, k in pairs], [live[k] for _, k in pairs],
                     proto, txns, domains)


def _replay(table: str, version: int | None):
    """(files, metaData, keys, adds) of _snapshot — the 4-tuple view."""
    s = _snapshot(table, version)
    return s.files, s.meta, s.keys, s.adds


class _Commit(NamedTuple):
    """One parsed commit file (see _commit_parsed)."""
    adds: dict             # {path: add}
    removes: dict          # {path: remove}
    meta: dict | None      # the commit's metaData action, if any
    info: dict             # commitInfo (first-line convention) or {}
    cdcs: list             # cdc actions (Change Data Files)
    protocol: dict | None  # the commit's protocol action, if any
    txns: list             # txn actions
    domains: list          # domainMetadata actions


def _commit_parsed(table: str, v: int) -> _Commit:
    """ONE pass over a commit file → every action kind the fold, the
    change feed and the streaming source need (separate helpers
    would re-parse a 100k-add commit once per question). The ``cdc``
    actions (protocol: Change Data Files under _change_data/, written
    by CDF-enabled writers for update/delete/merge commits) matter
    ONLY to the change feed; the fold and the batch scan ignore them
    (they are dataChange=false by spec)."""
    c = _Commit({}, {}, None, {}, [], None, [], [])
    first = True
    with open(_version_path(table, v)) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "add" in action:
                c.adds[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                c.removes[action["remove"]["path"]] = action["remove"]
            elif "metaData" in action:
                c = c._replace(meta=action["metaData"])
            elif "protocol" in action:
                c = c._replace(protocol=action["protocol"])
            elif "txn" in action:
                c.txns.append(action["txn"])
            elif "cdc" in action:
                c.cdcs.append(action["cdc"])
            elif (action.get("domainMetadata") or {}).get("domain"):
                c.domains.append(action["domainMetadata"])
            elif first and "commitInfo" in action:
                # first-line convention only — see _commit_info
                c = c._replace(info=action["commitInfo"] or {})
            first = False
    return c


def _to_epoch_ms(ts) -> int:
    """timestamp-as-of input → epoch milliseconds: int/float epoch
    ms pass through; ISO-8601 strings and datetimes convert (naive
    values count as UTC — the convention every engine's
    timestampAsOf shares)."""
    import datetime as _dt
    if isinstance(ts, bool):
        raise TypeError("timestamp_as_of: bool is not a timestamp")
    if isinstance(ts, (int, float)):
        return int(ts)
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return int(ts.timestamp() * 1000)
    raise TypeError(f"unsupported timestamp_as_of value {ts!r}")


def _commit_timestamp(table: str, v: int) -> int:
    """One version's commit timestamp in epoch ms: the commitInfo
    timestamp when the writer recorded one, else the commit file's
    modification time — exactly the jar's timestampAsOf source."""
    p = _version_path(table, v)
    if not os.path.exists(p):
        raise FileNotFoundError(p)
    ci = _commit_info(table, v)
    # inCommitTimestamp (the ICT table feature) is the authoritative,
    # clock-skew-proof commit time when a writer recorded one — the
    # jar prefers it for time travel on ICT tables
    if ci.get("inCommitTimestamp") is not None:
        return int(ci["inCommitTimestamp"])
    if ci.get("timestamp") is not None:
        return int(ci["timestamp"])
    return int(os.path.getmtime(p) * 1000)


class TimestampAfterLatestError(ValueError):
    """``timestamp_as_of`` past the table's newest commit — a
    DEDICATED type so read_delta_changes' documented end-bound clamp
    catches the case structurally instead of matching error text
    (a reworded message must never silently turn the clamp into a
    refusal)."""


def version_at_timestamp(table: str, ts) -> int:
    """Delta ``timestampAsOf`` resolution: the LATEST version whose
    commit timestamp is <= ``ts`` (epoch ms, ISO string, or
    datetime). A timestamp before the earliest available commit OR
    after the latest commit refuses, exactly the jar's two error
    shapes (an after-latest ask is usually a units typo — seconds
    where ms belong — and silently serving the full table would hide
    it); checkpoint-only versions (JSON commit cleaned up) carry no
    timestamp and are skipped — they are always the oldest, so this
    only narrows the refusal window honestly."""
    ts_ms = _to_epoch_ms(ts)
    best = None
    earliest = latest = None
    for v in list_versions(table):
        try:
            ct = _commit_timestamp(table, v)
        except FileNotFoundError:
            continue
        earliest = ct if earliest is None else min(earliest, ct)
        latest = ct if latest is None else max(latest, ct)
        if ct <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp_as_of {ts!r} is before the table's earliest "
            f"available commit"
            + (f" ({earliest} ms)" if earliest is not None else ""))
    if latest is not None and ts_ms > latest:
        raise TimestampAfterLatestError(
            f"timestamp_as_of {ts!r} is after the table's latest "
            f"commit ({latest} ms) — pass that timestamp or read "
            "the table without time travel (matches the jar's "
            "refusal; a huge value here is usually seconds vs ms)")
    return best


def _commit_info(table: str, v: int) -> dict:
    """The commit's ``commitInfo`` action or {}. Only the FIRST
    non-empty line is examined: the protocol convention (and both
    this writer and the jar) put commitInfo first, and scanning the
    whole file would make per-version metadata lookups O(total log
    bytes) on a 100k-add commit — timestamp resolution and CDF
    pairing call this once per version."""
    with open(_version_path(table, v)) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "commitInfo" in action:
                return action["commitInfo"] or {}
            return {}
    return {}


def _footer_stats(path: str) -> str | None:
    """Spec-shaped per-file ``stats`` JSON (numRecords, minValues,
    maxValues) from the parquet FOOTER statistics — what a real Delta
    writer records with every add action, enabling data-skipping
    reads. Top-level primitive columns only; dates/timestamps as ISO
    strings (the JSON forms real stats use)."""
    from .pruning import footer_minmax
    mins, maxs, num_rows = footer_minmax(path)

    def enc(v):
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        if isinstance(v, (bool, int, float, str)):
            return v
        return None

    mins = {k: e for k, v in mins.items() if (e := enc(v)) is not None}
    maxs = {k: e for k, v in maxs.items() if (e := enc(v)) is not None}
    return json.dumps({"numRecords": num_rows,
                       "minValues": mins, "maxValues": maxs})


def _stats_of(add: dict):
    """An add action's stats as a dict, or None (missing/unparseable
    — the conservative answer)."""
    st = add.get("stats")
    if isinstance(st, str):
        try:
            st = json.loads(st)
        except ValueError:
            return None
    return st if isinstance(st, dict) else None


def _coerce_pair(stat, lit):
    """(stat, literal) lifted to ONE comparison type, or None when the
    pair is incomparable (keep the file). Handles the ISO-string
    date/timestamp forms real stats use. A date literal against a
    timestamp-string stat compares in DATETIME space with the literal
    at midnight — Spark's own cast for ``ts > date'...'`` — never by
    truncating the stat, which would move a max bound DOWN and make
    ``>`` pruning drop files that contain matching rows."""
    if stat is None:
        return None
    if isinstance(lit, datetime.datetime) and isinstance(stat, str):
        try:
            return (datetime.datetime.fromisoformat(
                stat.replace("Z", "+00:00")).replace(tzinfo=None), lit)
        except ValueError:
            return None
    if isinstance(lit, datetime.date) \
            and not isinstance(lit, datetime.datetime) \
            and isinstance(stat, str):
        try:
            return (datetime.date.fromisoformat(stat), lit)
        except ValueError:
            pass
        try:
            return (datetime.datetime.fromisoformat(
                stat.replace("Z", "+00:00")).replace(tzinfo=None),
                datetime.datetime.combine(lit, datetime.time.min))
        except ValueError:
            return None
    if isinstance(lit, (int, float)) and not isinstance(lit, bool) \
            and isinstance(stat, (int, float)) \
            and not isinstance(stat, bool):
        return (stat, lit)
    if isinstance(lit, str) and isinstance(stat, str):
        return (stat, lit)
    return None


def _prune_by_stats(files: list, adds: list, scan_filter: str,
                    cmap: dict | None = None):
    """Data skipping: keep only (file, add) pairs whose stats ADMIT
    the filter — a file drops only when a supported ``col op
    literal`` conjunct is provably false over its [min, max]; missing
    stats, unsupported shapes, or incomparable types keep the file
    (the caller always row-filters too, so this is a pure
    optimization). ``cmap`` maps logical → physical stats keys; a
    CALLABLE cmap (round 13, id mode) resolves per FILE — id mode
    allows each file its own physical names."""
    from .pruning import interval_refutes, parse_conjuncts
    atoms = parse_conjuncts(scan_filter)
    if not atoms:
        return files, adds
    out_f, out_a = [], []
    for f, a in zip(files, adds):
        st = _stats_of(a)
        keep = True
        if st:
            fmap = cmap(f) if callable(cmap) else cmap
            if callable(cmap) and not fmap:
                # a per-file resolver that could not produce a
                # mapping (footer unreadable, no field ids) means
                # the stats keys are UNKNOWN for this file — keep it
                # unpruned; falling through to logical-name lookup
                # could falsely refute on name-swapped physical
                # layouts (review finding)
                out_f.append(f)
                out_a.append(a)
                continue
            mins = st.get("minValues") or {}
            maxs = st.get("maxValues") or {}
            for col, op, v in atoms:
                if fmap:
                    if callable(cmap) and col not in fmap:
                        # this FILE has no physical column for the
                        # logical name (pre-evolution file) — its
                        # stats cannot speak to this atom
                        continue
                    # stats keys are PHYSICAL names under mapping
                    col = fmap.get(col, col)
                # each bound coerced with ITS OWN lifted literal, so a
                # date-vs-timestamp pair compares soundly per bound
                lo_p = _coerce_pair(mins.get(col), v)
                hi_p = _coerce_pair(maxs.get(col), v)
                try:
                    if (lo_p is not None
                            and interval_refutes(op, lo_p[1], lo_p[0],
                                                 None)) \
                        or (hi_p is not None
                            and interval_refutes(op, hi_p[1], None,
                                                 hi_p[0])):
                        keep = False
                        break
                except (TypeError, ValueError):
                    continue
        if keep:
            out_f.append(f)
            out_a.append(a)
    return out_f, out_a


def _mapped_fields(meta: dict, mode: str, key: str) -> list:
    """[(StructField, field metadata value of ``key``)] for a mapped
    table's schema — the shared parse for both mapping modes; a field
    missing its mapping metadata errors loudly (guessing would read
    the wrong column)."""
    from pyspark.sql.types import StructType
    try:
        full = StructType.fromJson(json.loads(meta["schemaString"]))
    except (KeyError, ValueError, TypeError) as e:
        raise NotImplementedError(
            f"columnMapping.mode={mode} without a parseable "
            "schemaString — the column mapping is unknowable") from e
    out = []
    for f in full.fields:
        v = (f.metadata or {}).get(key)
        if v is None or v == "":
            raise ValueError(
                f"column {f.name!r}: columnMapping.mode={mode} but "
                f"the schema field carries no {key}")
        out.append((f, v))
    return out


def _column_mapping(meta: dict):
    """{logical name: physical parquet name} when the table uses
    ``delta.columnMapping.mode=name`` (each schema field carries its
    ``delta.columnMapping.physicalName`` metadata, per protocol),
    else None."""
    if _cm_mode(meta) != "name":
        return None
    return {f.name: phys for f, phys in _mapped_fields(
        meta, "name", "delta.columnMapping.physicalName")}


def _cm_mode(meta: dict) -> str:
    conf = meta.get("configuration") or {}
    if isinstance(conf, list):
        conf = dict(conf)
    return conf.get("delta.columnMapping.mode") or "none"


def _id_mapping(meta: dict):
    """{field id: (logical name, Spark DataType)} when the table uses
    ``delta.columnMapping.mode=id`` (each schema field carries its
    ``delta.columnMapping.id``, per protocol; parquet columns match
    by the field ids stored in the file schemas), else None."""
    if _cm_mode(meta) != "id":
        return None
    return {int(fid): (f.name, f.dataType) for f, fid in _mapped_fields(
        meta, "id", "delta.columnMapping.id")}


# each data file's resolved field-id layout, keyed by (absolute path,
# mtime_ns, size) so an overwritten file re-resolves: at extreme file
# counts the per-file driver footer read is the id-mode scan's only
# super-constant metadata term, and Delta data files are immutable
# once committed — a repeat scan (time travel, retries, dashboards)
# should pay one os.stat per file, not one footer read. Entries are a
# handful of (int, str) pairs; past the cap the least recently
# scanned files re-read their footers.
_ID_LAYOUT = Memo("delta.id_layout", cap=16384)


def _file_id_layout(f: str) -> dict:
    """{parquet field id: column name} for one data file, memoized
    (see _ID_LAYOUT)."""
    import pyarrow.parquet as pq
    st = os.stat(f)
    key = (os.path.abspath(f), st.st_mtime_ns, st.st_size)
    hit = _ID_LAYOUT.get(key)
    if hit is not MISS:
        return hit
    id2name = {}
    for fld in pq.read_schema(f):
        md = fld.metadata or {}
        fid = md.get(b"PARQUET:field_id")
        if fid is not None:
            id2name[int(fid)] = fld.name
    _ID_LAYOUT.put(key, id2name)
    return id2name


def _log_schema(meta: dict):
    """The table schema parsed from the log's ``schemaString``, or
    None when the log carries no usable one (minimal fixtures)."""
    from pyspark.sql.types import StructType
    try:
        return StructType.fromJson(json.loads(meta["schemaString"]))
    except (KeyError, ValueError, TypeError):
        return None


def _empty_frame(spark, meta: dict, row_tracking: bool = False):
    """The typed empty result: the log schema, plus ``_row_id`` /
    ``_row_commit_version`` when row tracking is asked for (empty and
    non-empty results carry the same columns); None when the log has
    no usable schema — the caller then scans and lets Spark infer."""
    schema = _log_schema(meta)
    if schema is None or not schema.fields:
        return None
    if row_tracking:
        schema = schema.add("_row_id", "long") \
                       .add("_row_commit_version", "long")
    return spark.createDataFrame([], schema)


def _partition_schema(meta: dict):
    """(partition column names, {name: Spark DataType}) from the
    table metaData; empty when unpartitioned."""
    pcols = meta.get("partitionColumns") or []
    if not pcols:
        return [], {}
    from pyspark.sql.types import StructType
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    return list(pcols), {f.name: f.dataType for f in schema.fields
                         if f.name in pcols}


def partition_value_py(s, dtype, tz_name: str = "UTC"):
    """One Delta-spec partition-value STRING → a Python value of the
    declared Spark type — the pure-Python (executor-side) twin of the
    batch reader's ``F.col(...).cast(ptypes[c])``, used where a typed
    value is needed outside a Spark plan (the streaming source builds
    Arrow arrays per file). Timestamps parse as wall time in
    ``tz_name`` (the session timezone, matching Spark's string→
    timestamp cast) and come back as aware-UTC datetimes, ready for
    Arrow's ``timestamp[us, tz=UTC]``."""
    from pyspark.sql import types as T
    if s is None:
        return None
    if isinstance(dtype, T.StringType):
        return s
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
        return int(s)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(s)
    if isinstance(dtype, T.BooleanType):
        return s.lower() == "true"
    if isinstance(dtype, T.DecimalType):
        import decimal
        return decimal.Decimal(s)
    if isinstance(dtype, T.DateType):
        import datetime
        return datetime.date.fromisoformat(s)
    if isinstance(dtype, T.TimestampNTZType):
        import datetime
        return datetime.datetime.fromisoformat(s)
    if isinstance(dtype, T.TimestampType):
        import datetime
        from zoneinfo import ZoneInfo
        return (datetime.datetime.fromisoformat(s)
                .replace(tzinfo=ZoneInfo(tz_name))
                .astimezone(datetime.timezone.utc))
    raise NotImplementedError(
        f"partition column of type {dtype.simpleString()} — no "
        "spec string decoding wired up")


def _partition_values_frame(spark, files, adds, pcols, ptypes, pv_key):
    """Tiny broadcast-side frame (``__qs_path__``, *typed LOGICAL
    partition columns*) mapping each file's absolute path to its add
    action's partitionValues — the one scan's partition rejoin and
    partition pruning (_scan_files).
    ``pv_key`` maps logical → the partitionValues KEY (physical name
    on mapped tables). O(#files) driver rows,
    all string-typed then cast (inference would crash on an all-null
    column, e.g. every file under __HIVE_DEFAULT_PARTITION__)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType
    rows = [(os.path.abspath(f),
             *[a.get("partitionValues", {}).get(pv_key[c])
               for c in pcols])
            for f, a in zip(files, adds)]
    map_schema = StructType(
        [StructField("__qs_path__", StringType(), False)]
        + [StructField(f"__qs_p_{c}__", StringType(), True)
           for c in pcols])
    mapping = spark.createDataFrame(rows, map_schema)
    return mapping.select(
        "__qs_path__",
        *[F.col(f"__qs_p_{c}__").cast(ptypes[c]).alias(c)
          for c in pcols])


def _plain_path_col():
    """``_metadata.file_path`` (a percent-encoded URI) → the plain
    filesystem path the log/map uses. A literal '+' in a path is a
    '+' in the URI (Hadoop encodes space as %20, never '+'), but
    url_decode is form-decoding — protect it first."""
    from pyspark.sql import functions as F
    return F.url_decode(F.regexp_replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
        "\\+", "%2B"))


def _check_dv_descriptor(f: str, dv: dict) -> None:
    """Descriptor-level validation, driver-side (O(#files) metadata,
    no position decode) so an unsupported storage type gates LOUDLY
    at plan time, not mid-job in an executor — shared by the scan's
    DV application and the change stream's DV-delta path."""
    if dv.get("storageType") not in ("i", "u", "p"):
        raise NotImplementedError(
            f"deletion vector storageType {dv.get('storageType')!r}")
    if not dv.get("pathOrInlineDv"):
        raise ValueError(
            f"{f}: deletionVector descriptor has no pathOrInlineDv — "
            "the deleted positions are unknowable (refusing to "
            "resurrect deleted rows)")
    if dv["storageType"] in ("u", "p") and dv.get("offset") is None:
        raise ValueError(
            f"{f}: file-storage deletionVector descriptor has no "
            "offset")


def _apply_deletion_vectors(spark, df, files, adds, root):
    """Drop each file's DV-marked row positions via an anti-join on
    (file path, row index) — the same distributed mechanism as
    Iceberg position deletes (iceberg_local position-delete scans).

    The driver handles only DESCRIPTORS (one small JSON dict per
    DV'd file, KBs each); the Z85/roaring DECODE — O(deleted rows)
    — runs executor-side in a mapInPandas kernel (sources/dv.py is
    pure Python, shipped with the package), so a GDPR-scale delete
    wave (10^9 positions) never materializes on the driver. The
    anti-join is left un-hinted: AQE broadcasts the position side
    when it is small and falls back to a shuffled join when the
    deleted set is genuinely huge."""
    import json as _json

    from pyspark.sql import functions as F
    rows = []
    for f, a in zip(files, adds):
        dv = a.get("deletionVector")
        if not dv:
            continue
        _check_dv_descriptor(f, dv)
        rows.append((os.path.abspath(f), _json.dumps(dv)))
    if not rows:
        return df
    dd = spark.createDataFrame(
        rows, "__qs_dfp__ string, __qs_dvj__ string")
    # one task per descriptor (bounded by parallelism): each file's
    # DV decodes independently, so a wide delete wave decodes across
    # the cluster instead of serially in one task
    par = min(len(rows), spark.sparkContext.defaultParallelism)
    if par > 1:
        dd = dd.repartition(par)
    abs_root = os.path.abspath(root)

    def _decode(batches):
        import pandas as pd

        from quokka_spark.sources.dv import dv_row_indexes
        for pdf in batches:
            for fp, dj in zip(pdf["__qs_dfp__"], pdf["__qs_dvj__"]):
                idx = dv_row_indexes(abs_root, _json.loads(dj))
                yield pd.DataFrame(
                    {"__qs_dfp__": pd.Series([fp] * len(idx),
                                             dtype="object"),
                     "__qs_dpos__": pd.array(idx, dtype="int64")})

    positions = dd.mapInPandas(
        _decode, "__qs_dfp__ string, __qs_dpos__ long")
    # UNIQUE internal names (round-13 review finding: these used to
    # be __qs_fp__/__qs_pos__, which clobbered the id-mode scan's
    # pre-materialized position column and crashed every DV-carrying
    # row-tracking read)
    return (df.withColumn("__qs_dvfp__", _plain_path_col())
            .withColumn("__qs_dvpos__", F.col("_metadata.row_index"))
            .join(positions,
                  (F.col("__qs_dvfp__") == F.col("__qs_dfp__"))
                  & (F.col("__qs_dvpos__") == F.col("__qs_dpos__")),
                  "left_anti")
            .drop("__qs_dvfp__", "__qs_dvpos__"))


def _rt_col_names(meta: dict) -> tuple:
    """(materialized row-id column name, materialized
    row-commit-version column name) from the table configuration —
    None where unconfigured. The ONE resolver for the two
    delta.rowTracking.materialized*ColumnName keys (round-13 review:
    five hand-rolled copies)."""
    conf = meta.get("configuration") or {}
    if isinstance(conf, list):
        conf = dict(conf)
    return (conf.get("delta.rowTracking.materializedRowIdColumnName"),
            conf.get("delta.rowTracking."
                     "materializedRowCommitVersionColumnName"))


def _apply_row_tracking(spark, df, files, adds, meta):
    """Serve the ROW TRACKING metadata columns (protocol §Row
    Tracking, round 12 — the Delta analog of Iceberg v3 row lineage):
    ``_row_id`` = the add action's baseRowId + the row's position,
    ``_row_commit_version`` = defaultRowCommitVersion, each
    overridden by a non-null MATERIALIZED value when the table's
    configuration names materialized columns (files rewritten by
    UPDATE/MERGE under the jar store per-row values there). One
    KB-scale broadcast of (path → baseRowId, defaultRowCommitVersion)
    joined onto the scan; pure arithmetic per row. DV-deleted rows
    are already gone and survivors keep position-stable ids. ``df``
    is the scan's frame: it carries the plain path ``__qs_path__``
    and the file row index ``__qs_pos__`` (see _scan_files)."""
    from pyspark.sql import functions as F
    mat_rid, mat_rcv = _rt_col_names(meta)
    if not (mat_rid or mat_rcv
            or any(a.get("baseRowId") is not None for a in adds)):
        raise NotImplementedError(
            "with_row_tracking=True: the table carries no row "
            "tracking metadata (no baseRowId on any live file, no "
            "materialized column names) — enable delta.enableRowTracking"
            " with a writer that supports it")
    rows = [(os.path.abspath(f),
             None if a.get("baseRowId") is None
             else int(a["baseRowId"]),
             None if a.get("defaultRowCommitVersion") is None
             else int(a["defaultRowCommitVersion"]))
            for f, a in zip(files, adds)]
    m = spark.createDataFrame(
        rows, "__qs_rtp__ string, __qs_brid__ long, __qs_dcv__ long")
    df = df.join(F.broadcast(m),
                 F.col("__qs_path__") == F.col("__qs_rtp__"), "left")
    rid = F.col("__qs_brid__") + F.col("__qs_pos__")
    rcv = F.col("__qs_dcv__")
    if mat_rid and mat_rid in df.columns:
        df = df.withColumnRenamed(mat_rid, "__qs_mrid__")
        rid = F.coalesce(F.col("__qs_mrid__"), rid)
    if mat_rcv and mat_rcv in df.columns:
        df = df.withColumnRenamed(mat_rcv, "__qs_mrcv__")
        rcv = F.coalesce(F.col("__qs_mrcv__"), rcv)
    return (df.withColumn("_row_id", rid.cast("long"))
            .withColumn("_row_commit_version", rcv.cast("long"))
            .drop("__qs_rtp__", "__qs_brid__", "__qs_dcv__",
                  "__qs_mrid__", "__qs_mrcv__"))


def _scan_files(spark, root: str, meta: dict, files: list, adds: list,
                pcols: list, ptypes: dict, *, path: bool = False,
                pos: bool = False, dv: bool = True, extra=(),
                row_tracking: bool = False,
                partition_filter: str | None = None):
    """The ONE Delta data-file scan, behind the snapshot read (and so
    compaction), the upsert, the DV-delete change files and every
    change-feed part: ``files`` — with their ``adds`` (add or cdc
    actions) — through Spark's native parquet scan, returned under
    ``meta``'s LOGICAL schema, in schema order.

    - The read schema is the log's ``schemaString`` minus the
      partition columns: a column a later version added surfaces
      (null for older files) and no footer-sampling job runs. Without
      a schemaString (minimal fixtures) Spark infers.
    - Column mapping is decided here. Name mode reads the schema's
      physicalName and renames. Id mode resolves each file by the
      parquet field ids in its footer (memoized, see _ID_LAYOUT),
      groups files sharing a layout, scans each group and unions:
      files may disagree on physical names, a file without field ids
      refuses, a missing id null-fills like unmapped evolution.
    - Deletion vectors drop their rows unless ``dv=False`` (the
      change feed and the DV-delete change files pick raw positions
      themselves).
    - ``pcols``/``ptypes`` is the partition scheme the files were
      written under — an argument because the change feed reads
      removed files under the pre-commit scheme. Partition values
      rejoin typed from each action's partitionValues, keyed by the
      schema's physicalName on mapped tables. ``partition_filter``
      prunes the file list first (log-level pruning); when nothing
      is left the result is the typed empty frame.
    - On request, after the schema columns: ``extra`` (name,
      DataType) columns stored literally in the files (the
      ``_change_type`` of Change Data Files), ``__qs_path__`` (the
      plain absolute path), ``__qs_pos__`` (the file row index,
      taken before the DV join) and, with ``row_tracking``,
      ``_row_id``/``_row_commit_version``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType
    cm = _cm_mode(meta)
    if pcols:
        pv_key = ({f.name: p for f, p in _mapped_fields(
                      meta, cm, "delta.columnMapping.physicalName")}
                  if cm != "none" else {c: c for c in pcols})
        mapping = _partition_values_frame(spark, files, adds, pcols,
                                          ptypes, pv_key)
        if partition_filter:
            keep = {r["__qs_path__"]
                    for r in mapping.filter(partition_filter)
                    .select("__qs_path__").collect()}
            kept = [(f, a) for f, a in zip(files, adds)
                    if os.path.abspath(f) in keep]
            if not kept:
                return _empty_frame(spark, meta, row_tracking)
            files, adds = [f for f, _ in kept], [a for _, a in kept]
    mat = [c for c in _rt_col_names(meta) if c]
    # row tracking reads the MATERIALIZED columns (configuration-named
    # physical columns, never schema fields) literally by name
    lits = list(extra) + ([(c, LongType()) for c in mat]
                          if row_tracking else [])
    need_path = path or bool(pcols) or row_tracking
    need_pos = pos or row_tracking
    fid = ({f.name: int(i) for f, i in _mapped_fields(
        meta, "id", "delta.columnMapping.id")} if cm == "id" else None)
    phys = _column_mapping(meta) or {}
    schema = _log_schema(meta)
    data = (None if schema is None
            else [f for f in schema.fields if f.name not in pcols])
    # groups: (layout [(logical, physical | None, StructField)], files,
    # adds); a None layout lets Spark infer
    groups = [(None if data is None else
               [(d.name, phys.get(d.name, d.name), d) for d in data],
               files, adds)]
    if fid:
        by_key: dict = {}
        for f, a in zip(files, adds):
            id2name = _file_id_layout(f)
            if not id2name:
                raise ValueError(
                    f"{f}: parquet schema carries no field ids at all — "
                    "id-mode column resolution is impossible for this "
                    "file (foreign writer?)")
            key = tuple(sorted((fid[d.name], id2name.get(fid[d.name]))
                               for d in data))
            by_key.setdefault(key, []).append((f, a))
        groups = [([(d.name, dict(key)[fid[d.name]], d) for d in data],
                   [f for f, _ in pairs], [a for _, a in pairs])
                  for key, pairs in sorted(by_key.items(),
                                           key=lambda kv: str(kv[0]))]
    parts = []
    for layout, gf, ga in groups:
        if layout is None:
            d = spark.read.parquet(*gf)
            skip = {n for n, _ in extra} | set(mat)
            layout = [(c, c, None) for c in d.columns if c not in skip]
            glits = [(n, t) for n, t in lits if n in d.columns]
        else:
            glits = lits
            d = spark.read.schema(StructType(
                [StructField(p, f.dataType, f.nullable)
                 for _, p, f in layout if p is not None]
                + [StructField(n, t, True) for n, t in lits])
            ).parquet(*gf)
        # path and position BEFORE the DV anti-join: positions must be
        # the FILE positions, and a union does not resolve _metadata
        hidden = []
        if need_path:
            d = d.withColumn("__qs_path__", _plain_path_col())
            hidden.append("__qs_path__")
        if need_pos:
            d = d.withColumn("__qs_pos__", F.col("_metadata.row_index"))
            hidden.append("__qs_pos__")
        if dv:
            d = _apply_deletion_vectors(spark, d, gf, ga, root)
        parts.append(d.select(
            *[(F.col(p) if p is not None
               else F.lit(None).cast(f.dataType)).alias(n)
              for n, p, f in layout],
            *[n for n, _ in glits], *hidden))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if row_tracking:
        out = _apply_row_tracking(spark, out, files, adds, meta)
    if pcols:
        out = out.join(F.broadcast(mapping), "__qs_path__")
    names = ([f.name for f in schema.fields] if schema is not None
             else [n for n, _, _ in layout] + list(pcols))
    return out.select(
        *names, *[n for n, _ in extra],
        *(["__qs_path__"] if path else []),
        *(["__qs_pos__"] if pos else []),
        *(["_row_id", "_row_commit_version"] if row_tracking else []))


def read_delta_local(spark, table: str, version: int | None = None,
                     partition_filter: str | None = None,
                     scan_filter: str | None = None,
                     timestamp_as_of=None,
                     with_row_tracking: bool = False):
    """DataFrame over the table's live files at ``version`` (time
    travel; None = latest). One native parquet scan — pushdown and
    column pruning behave exactly as on raw parquet.

    Partitioned tables: partition values live in the LOG, not the
    data files, so they join back in as typed columns via a broadcast
    (file path → values) map on ``_metadata.file_path`` — zero extra
    shuffles, the map is O(#files). ``partition_filter`` (a SQL
    boolean over the partition columns, e.g. ``"year >= 2024"``)
    prunes the live file list BEFORE the scan — log-level partition
    pruning, the same trick real Delta uses, so filtered reads touch
    only matching files.

    ``scan_filter`` (SQL over any column) is Delta data skipping: for
    ``col op literal [AND ...]`` shapes, files whose add-action
    ``stats`` (minValues/maxValues) refute the predicate are skipped
    before the scan; the filter then also applies row-level, so any
    predicate shape stays exact and stats-less files are simply
    kept."""
    if timestamp_as_of is not None:
        if version is not None:
            raise ValueError(
                "pass version OR timestamp_as_of, not both")
        version = version_at_timestamp(table, timestamp_as_of)
    return _read_snapshot(spark, table, _snapshot(table, version),
                          partition_filter, scan_filter,
                          with_row_tracking)


def _read_snapshot(spark, table: str, snap: _Snapshot,
                   partition_filter: str | None = None,
                   scan_filter: str | None = None,
                   with_row_tracking: bool = False):
    """read_delta_local over an already-folded snapshot — compaction
    scans exactly the snapshot it commits over."""
    _check_read_protocol(snap.protocol)
    files, meta, adds = snap.files, snap.meta, snap.adds
    if not files:
        raise ValueError(
            f"Delta table {table} has no live files at version "
            f"{snap.version}")
    pcols, ptypes = _partition_schema(meta)
    # validate BEFORE any stats-pruning early return, so a bogus
    # partition_filter errors regardless of what scan_filter prunes
    if partition_filter and not pcols:
        raise ValueError("partition_filter on an unpartitioned table")
    if scan_filter:
        if _cm_mode(meta) == "id":
            # id-mode stats key by each file's OWN physical names:
            # logical name → schema field id → that file's footer
            # layout (memoized, the scan reads it anyway). A missing
            # layout keeps the file; the row filter stays exact
            fid = {f.name: int(i) for f, i in _mapped_fields(
                meta, "id", "delta.columnMapping.id")}

            def stats_keys(f):
                try:
                    layout = _file_id_layout(f)
                except Exception:
                    return {}
                return {n: layout[i] for n, i in fid.items()
                        if layout.get(i)}
        else:
            stats_keys = _column_mapping(meta)
        pf, pa_ = _prune_by_stats(files, adds, scan_filter,
                                  cmap=stats_keys)
        if pf:
            files, adds = pf, pa_
        else:
            empty = _empty_frame(spark, meta, with_row_tracking)
            if empty is not None:
                return empty
            # schema unknown: keep the files; the row filter below
            # still yields the correct (empty) result
    df = _scan_files(spark, table.removeprefix("file://"), meta, files,
                     adds, pcols, ptypes, row_tracking=with_row_tracking,
                     partition_filter=partition_filter)
    return df.filter(scan_filter) if scan_filter else df


def _commit(table: str, version: int, actions: list) -> None:
    os.makedirs(_log_dir(table), exist_ok=True)
    path = _version_path(table, version)
    if os.path.exists(path):
        raise FileExistsError(
            f"commit conflict: version {version} already exists in {table}")
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    os.rename(tmp, path)  # atomic single-writer commit
    _maybe_checkpoint(table, version, actions)


CHECKPOINT_INTERVAL_DEFAULT = 10  # the jar's delta.checkpointInterval
# {absolute log dir: delta.checkpointInterval}
_INTERVALS = Memo("delta.checkpoint_interval", cap=1024)


def _checkpoint_interval(table: str, version: int, actions: list) -> int:
    """The table's effective ``delta.checkpointInterval`` (default 10,
    like the jar; ≤0 disables). Memoized per log directory so the
    common no-metaData commit costs a lookup; any ``metaData``
    action flowing through _commit refreshes the entry (config
    changes only ever enter the log that way). First sight of an
    existing table (or of one evicted since) resolves via one
    state-only snapshot (files=False: no add column is read)."""
    key = os.path.abspath(_log_dir(table))
    for a in actions:
        m = a.get("metaData")
        if m is not None:
            _INTERVALS.put(key, _interval_of(m))
    interval = _INTERVALS.get(key)
    if interval is MISS:
        try:
            interval = _interval_of(
                _snapshot(table, version, files=False).meta)
        except Exception:
            return CHECKPOINT_INTERVAL_DEFAULT
        _INTERVALS.put(key, interval)
    return interval


def _interval_of(meta: dict) -> int:
    conf = meta.get("configuration") or {}
    try:
        return int(conf.get("delta.checkpointInterval",
                            CHECKPOINT_INTERVAL_DEFAULT))
    except (TypeError, ValueError):
        return CHECKPOINT_INTERVAL_DEFAULT


def _maybe_checkpoint(table: str, version: int, actions: list) -> None:
    """Auto-checkpoint every ``delta.checkpointInterval`` commits
    (default 10), exactly like the jar — without this, a long-running
    streaming sink accumulates one JSON commit per batch and every
    ``last_txn_version`` handshake (and every read) replays O(total
    batches) JSON per batch, O(n²) over the sink's lifetime. With it,
    the fold (_snapshot) starts from the newest checkpoint and parses
    at most ``interval`` trailing commits (test-pinned in
    tests/test_delta_checkpoint_auto.py). The checkpoint writer takes
    its own listing and snapshot of ``version``. Best-effort: the data
    commit already succeeded atomically, so a checkpoint failure
    warns instead of raising — the next interval boundary retries."""
    if version <= 0:
        return
    interval = _checkpoint_interval(table, version, actions)
    if interval <= 0 or version % interval != 0:
        return
    try:
        write_checkpoint_local(table, version)
    except Exception as e:  # pragma: no cover - exercised via warns
        import warnings
        warnings.warn(
            f"auto-checkpoint of {table} at version {version} failed "
            f"({e}); reads fall back to JSON replay until the next "
            "interval boundary", RuntimeWarning)


def _add_action(root: str, path: str,
                partition_values: dict | None = None,
                stats: str | None = None,
                data_change: bool = True) -> dict:
    inside = os.path.commonpath(
        [os.path.abspath(root), os.path.abspath(path)]) \
        == os.path.abspath(root)
    rel = os.path.relpath(path, root) if inside else path
    a = {"path": rel,
         "partitionValues": partition_values or {},
         "size": os.path.getsize(path),
         "modificationTime": int(time.time() * 1000),
         "dataChange": data_change}
    if stats:
        a["stats"] = stats
    return {"add": a}


def _meta_actions(schema_json: str | None,
                  partition_columns: list | None = None) -> list:
    return [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": str(uuid.uuid4()), "format":
                      {"provider": "parquet", "options": {}},
                      "schemaString": schema_json or "{}",
                      "partitionColumns": list(partition_columns or []),
                      "configuration": {},
                      "createdTime": int(time.time() * 1000)}},
    ]


# Incremental fold memo for _txn_state (the sink handshake would
# otherwise re-read its trailing history on every probe — a 50-batch
# sink run paid O(n^2) commit-file reads, and a long-running
# exactly-once sink pays its full history per batch). Keyed by
# (absolute table path, commit 0's metaData.id): the table's identity,
# so a table dropped and recreated at the same path is a new key
# whatever its commit files' inodes, sizes and mtimes. An entry is
# (folded version, txns); a later probe folds only the commits AFTER
# the folded version. Correct under: log cleanup (txn state at v is
# immutable — removing older files cannot change it) and new
# checkpoints (the cached state already covers their range); the memo
# answers only where the log itself has no gap, so the loud-gap
# contract is the fold's either way.
_TXN_FOLDS = Memo("delta.txn_folds", cap=64)


def _table_id(table: str):
    """metaData.id of commit 0 (the table's identity), or None when
    commit 0 is unreadable or carries no metaData."""
    try:
        with open(_version_path(table, 0)) as fh:
            for line in fh:
                if '"metaData"' in line:
                    md = json.loads(line).get("metaData")
                    if md is not None:
                        return md.get("id")
    except (OSError, ValueError):
        pass
    return None


def _fold_txn_commit(table: str, v: int, txns: dict) -> None:
    _fold_txns(txns, _commit_parsed(table, v).txns)


def _txn_state(table: str, version: int | None = None,
               scan=None) -> dict:
    """{appId: highest committed txn version} at ``version`` — the
    idempotence handshake streaming sinks use. The memo path folds
    only the commits after a memoized fold (or, on a log without a
    checkpoint yet, every commit); anything else is the snapshot's
    txns (_snapshot with files=False: the checkpoint's ``txn`` rows,
    persisted by write_checkpoint_local so log cleanup cannot forget
    a sink's progress, plus the tail commits'). ``scan`` reuses a
    _scan_log listing.

    Loud on unknowable state (the fold's gapless contract): a missing
    JSON tail, or a checkpoint without a ``txn`` column hiding cleaned
    commits, raises instead of returning a mark that may be too low —
    an under-reported high-water mark makes an "exactly-once" sink
    double-commit."""
    commits, checkpoints = scan = scan or _scan_log(table)
    if not commits and not checkpoints:
        return {}
    if version is None:
        version = max(commits[-1:] + list(checkpoints))
    base = max((c for c in checkpoints if c <= version), default=-1)
    have = set(commits)
    key, cached, start = None, MISS, None
    if have.issuperset(range(base + 1, version + 1)):
        tid = _table_id(table)
        if tid is not None:
            key = (os.path.abspath(table), tid)
            cached = _TXN_FOLDS.get(key)
        if cached is not MISS and cached[0] <= version \
                and have.issuperset(range(cached[0] + 1, version + 1)):
            start, txns = cached[0] + 1, dict(cached[1])
        elif base < 0:
            start, txns = 0, {}
    if start is None:
        try:
            s = _snapshot(table, version, files=False, scan=scan)
        except FileNotFoundError as e:
            raise FileNotFoundError(
                f"cannot reconstruct txn state of {table} at {version}: "
                f"{e}") from e
        if s.txns is None:
            raise ValueError(
                f"a checkpoint of {table} at or below version {version} "
                "carries no txn column but covers cleaned commits — the "
                "sink high-water mark is unknowable (idempotent sinks on "
                "this table may double-commit; write_checkpoint_local "
                "resets the marks to empty)")
        txns = dict(s.txns)
    else:
        for v in range(start, version + 1):
            _fold_txn_commit(table, v, txns)
    # a memoized fold newer than ``version`` (an older probe) stays
    if key is not None and (cached is MISS or cached[0] < version):
        _TXN_FOLDS.put(key, (version, dict(txns)))
    return txns


# reader features this engine IMPLEMENTS (spec: a reader MUST refuse
# a reader-3 table listing any feature it does not support — ignoring
# e.g. v2Checkpoint would silently serve stale or wrong data)
_SUPPORTED_READER_FEATURES = {"deletionVectors", "columnMapping",
                              "timestampNtz", "v2Checkpoint"}
# writer features this engine implements; the conditional ones
# (appendOnly/invariants/checkConstraints/generatedColumns/
# identityColumns) are "supported" per spec by ENFORCING them when
# the table actually uses them — _check_write_protocol refuses
# writes that would violate, instead of writing blind
_SUPPORTED_WRITER_FEATURES = _SUPPORTED_READER_FEATURES | {
    "appendOnly", "invariants", "checkConstraints",
    "generatedColumns", "identityColumns", "changeDataFeed",
    # round 12: appends/overwrites ASSIGN baseRowId ranges and
    # advance the delta.rowTracking high-water mark; checkpoints
    # persist domainMetadata and the per-add row-tracking fields; DV
    # deletes and restore carry adds wholesale; MERGE and compaction
    # PRESERVE row identity by materializing the ids into rewritten
    # files, composing with columnMapping in BOTH modes (round 13;
    # the materialized columns are physical names outside the
    # schema — they pass through the projection literally and the
    # id-mode scan reads them by name).
    "domainMetadata", "rowTracking"}
# v2Checkpoint is in BOTH sets: reads decode the v2 layout
# (_read_checkpoint) and the spec allows writers on such tables to
# keep producing classic checkpoints, which this writer does.


def _check_read_protocol(proto: dict) -> None:
    """Spec compliance gate for reads: refuse minReaderVersion > 3
    and any reader-3 feature outside the supported set — a reader
    that ignores an unknown feature can silently misread."""
    r = int(proto.get("minReaderVersion", 1))
    if r > 3:
        raise NotImplementedError(
            f"minReaderVersion {r} — this reader implements the "
            "protocol up to reader 3 (table features)")
    if r == 3:
        unknown = set(proto.get("readerFeatures") or []) \
            - _SUPPORTED_READER_FEATURES
        if unknown:
            raise NotImplementedError(
                f"table requires reader features {sorted(unknown)} "
                "this reader does not implement — reading anyway "
                "could silently return wrong data")


def _check_write_protocol(proto: dict, meta: dict | None,
                          data_change_removes: bool,
                          new_data: bool = True) -> None:
    """Spec compliance gate for writers, called by every public write
    path on its snapshot's ``protocol`` and ``meta`` BEFORE any data
    lands: refuse unknown writer versions/
    features and enforce delta.appendOnly (no dataChange removes).
    Invariants / CHECK constraints / generated / identity columns
    are no longer refused here — the new-data write paths evaluate,
    compute, or allocate them (round 11:
    _apply_identity_columns → _apply_generated_columns →
    _validate_constraints). Maintenance shapes pass
    ``new_data=False``: compaction re-encodes existing rows, restore
    re-adds previously committed files and DV deletes only remove —
    none can violate a row constraint, and the jar allows them on
    constrained tables too. Compaction also passes
    data_change_removes=False: appendOnly allows dataChange=false
    rearrangements."""
    _check_read_protocol(proto)          # a writer reads first
    w = int(proto.get("minWriterVersion", 2))
    if w > 7:
        raise NotImplementedError(
            f"minWriterVersion {w} — this writer implements the "
            "protocol up to writer 7 (table features)")
    feats = (set(proto.get("writerFeatures") or []) if w == 7
             else set(_legacy_features(proto)[1]))
    unknown = feats - _SUPPORTED_WRITER_FEATURES
    if unknown:
        raise NotImplementedError(
            f"table requires writer features {sorted(unknown)} this "
            "writer does not implement — writing anyway would break "
            "the feature's contract for other readers")
    if meta is None:
        return
    conf = meta.get("configuration") or {}
    if isinstance(conf, list):
        conf = dict(conf)
    if data_change_removes and \
            str(conf.get("delta.appendOnly", "")).lower() == "true":
        raise ValueError(
            "delta.appendOnly=true forbids removing or rewriting "
            "data (appends and dataChange=false compaction only)")
    if not new_data:
        return
    # CHECK constraints, column invariants, GENERATED columns and
    # IDENTITY columns are all EVALUATED/ALLOCATED, not refused
    # (round 11): every new-data write path runs
    # _apply_identity_columns → _apply_generated_columns →
    # _validate_constraints on its incoming batch before any file
    # lands.


def _constraint_exprs(meta: dict) -> list:
    """``[(name, sql_expression)]`` of every row constraint the
    table declares: CHECK constraints (``delta.constraints.<name>``
    table configuration, PROTOCOL.md §CHECK Constraints) and legacy
    column invariants (``delta.invariants`` field metadata, a JSON
    wrapper ``{"expression": {"expression": "<sql>"}}`` — the shape
    the reference-era delta writers produced). Expressions reference
    LOGICAL column names, so callers validate BEFORE any
    columnMapping physical rename."""
    out = []
    conf = meta.get("configuration") or {}
    if isinstance(conf, list):
        conf = dict(conf)
    for k, v in sorted(conf.items()):
        ks = str(k)
        if ks.startswith("delta.constraints."):
            out.append((ks[len("delta.constraints."):], str(v)))
    try:
        fields = json.loads(meta.get("schemaString") or "{}") \
            .get("fields") or []
    except ValueError:
        return out
    for f in fields:
        inv = (f.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        try:
            expr = json.loads(inv)["expression"]["expression"]
        except (ValueError, KeyError, TypeError):
            raise ValueError(
                f"column {f.get('name')!r} declares an invariant "
                f"this writer cannot parse: {inv!r} — expected "
                '{"expression": {"expression": "<sql>"}}')
        out.append((f"invariant:{f.get('name')}", expr))
    return out


def _apply_identity_columns(df, meta: dict, allocate: bool = True):
    """Allocate the table's IDENTITY column values on an incoming
    batch, like the jar (round 11; PROTOCOL.md §Identity Columns):
    an identity column ABSENT from the batch gets a dense run of
    fresh values — past the high-water mark, never below ``start`` —
    and the caller commits the advanced mark in the same commit's
    metaData (_identity_meta_action); a column PROVIDED by the batch
    refuses unless the field declares ``allowExplicitInsert``, in
    which case the mark still advances past any explicit value
    beyond it. Returns ``(df, aggs, finalize)`` — ``aggs`` are
    (alias, aggregation Column) pairs to fold into the caller's
    SINGLE pre-pass (_prepare_write_batch) and ``finalize(row)``
    turns the agg row into the ``{column: new high-water mark}``
    dict, so identity adds NO Spark job of its own.

    Scale note (round 12): dense allocation on a MULTI-partition
    batch uses the jar's per-partition RANGE scheme — one
    count-per-partition job over a lazily localCheckpoint-pinned
    batch (the pin guarantees the count job, the shared pre-pass and
    the data write all see the SAME partition layout; it also stops
    the batch lineage recomputing three times), the driver
    prefix-sums the counts into per-partition bases, and each
    partition numbers its own rows (spark_partition_id + the low 33
    bits of monotonically_increasing_id, which Spark defines as the
    consecutive in-partition record number) — so a bulk initial load
    never funnels through a single task. This is the one Spark job
    identity adds, and only on multi-partition allocating batches.
    Single-partition batches keep the global row_number window (its
    SinglePartition exchange is the batch's own single partition —
    no extra movement, no count job, no checkpoint). Both paths
    allocate the exact dense VALUE SET base + step·[0, N)."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType
    from pyspark.sql.window import Window
    try:
        fields = StructType.fromJson(
            _json.loads(meta["schemaString"])).fields
    except (KeyError, ValueError, TypeError):
        return df, [], lambda row: {}

    def num(md, key, default):
        # explicit None test: "or default" would coerce a declared 0
        # (START WITH 0 is legal) into the default
        v = md.get(key)
        return default if v is None else int(v)

    aggs: list = []
    pending: list = []
    need_count = False
    part_offsets: dict | None = None   # pid → allocated range offset
    part_total = 0                     # shared across alloc columns
    for f in fields:
        md = f.metadata or {}
        if not any(str(k).startswith("delta.identity.") for k in md):
            continue
        step = num(md, "delta.identity.step", 1)
        if step == 0:
            raise ValueError(
                f"column {f.name!r}: delta.identity.step is 0")
        start = num(md, "delta.identity.start", 1)
        hwm = md.get("delta.identity.highWaterMark")
        allow = md.get("delta.identity.allowExplicitInsert", False)
        allow = (allow is True
                 or str(allow).lower() == "true")
        if f.name in df.columns:
            if not allow:
                raise ValueError(
                    f"column {f.name!r} is GENERATED ALWAYS AS "
                    "IDENTITY (allowExplicitInsert=false) — the "
                    "batch must not provide values for it")
            alias = f"__qs_idx_{len(aggs)}__"
            agg = F.max if step > 0 else F.min
            aggs.append((alias, agg(F.col(f.name))))
            pending.append(("explicit", f.name, step, hwm, alias))
            continue
        if not allocate:
            # MERGE batches must carry identity values themselves:
            # matched rows are replaced whole, so generating here
            # would silently REASSIGN existing rows' identities (the
            # jar also refuses identity generation inside MERGE)
            raise NotImplementedError(
                f"upsert batch omits identity column {f.name!r} — "
                "identity generation inside a MERGE would reassign "
                "matched rows' values; provide the column "
                "(allowExplicitInsert) or use append")
        # never allocate below the declared start, even when an
        # explicit insert left the mark there (review finding)
        base = start if hwm is None else int(hwm) + step
        base = max(base, start) if step > 0 else min(base, start)
        if part_offsets is None and df.rdd.getNumPartitions() > 1:
            # pin the partitioning BEFORE counting (review finding):
            # the count job, the pre-pass agg, and the data write are
            # separate jobs — under a non-deterministic upstream or a
            # runtime-replanned shuffle they could otherwise observe
            # different partition layouts, and a partition writing
            # more rows than were counted would overlap the next
            # partition's range (duplicate identities) while an
            # uncounted partition id would null its values. The lazy
            # localCheckpoint materializes on the count job
            # (MEMORY_AND_DISK, spills at bulk size) and every later
            # job reads the SAME stored partitions — which also stops
            # the batch lineage recomputing for the pre-pass + write.
            df = df.localCheckpoint(eager=False)
            counts = sorted(
                (int(r["__qs_pid__"]), int(r["__qs_n__"]))
                for r in df.groupBy(
                    F.spark_partition_id().alias("__qs_pid__"))
                .agg(F.count(F.lit(1)).alias("__qs_n__"))
                .collect())
            part_offsets, part_total = {}, 0
            for pid, n in counts:
                part_offsets[pid] = part_total
                part_total += n
        if part_offsets is not None:
            if part_offsets:
                omap = F.create_map(*[
                    F.lit(x) for pid, off in part_offsets.items()
                    for x in (pid, off)])
                idx = (F.element_at(omap, F.spark_partition_id())
                       + F.monotonically_increasing_id()
                       .bitwiseAND(F.lit((1 << 33) - 1)))
                df = df.withColumn(
                    f.name,
                    (F.lit(base) + F.lit(step) * idx)
                    .cast(f.dataType))
            else:  # counted empty — keep schema, nothing allocates
                df = df.withColumn(
                    f.name, F.lit(None).cast(f.dataType))
            pending.append(("ranged", f.name, step, base, part_total))
        else:
            w = Window.orderBy(F.monotonically_increasing_id())
            df = df.withColumn(
                f.name,
                (F.lit(base)
                 + F.lit(step) * (F.row_number().over(w) - 1))
                .cast(f.dataType))
            pending.append(("alloc", f.name, step, base, None))
            need_count = True
    if need_count:
        aggs.append(("__qs_idn__", F.count(F.lit(1))))
    if pending:
        names = [f.name for f in fields]
        if set(df.columns) == set(names):
            df = df.select(*names)

    def finalize(row) -> dict:
        updates: dict = {}
        for kind, name, step, extra, alias in pending:
            if kind == "ranged":
                # mark comes from the count job's own total — the
                # values it allocated — not the pre-pass row count
                if alias > 0:
                    updates[name] = extra + step * (alias - 1)
            elif kind == "alloc":
                n = int(row["__qs_idn__"] or 0)
                if n > 0:
                    updates[name] = extra + step * (n - 1)
            else:
                ext = row[alias]
                hwm = extra
                if ext is not None and (
                        hwm is None
                        or (step > 0 and int(ext) > int(hwm))
                        or (step < 0 and int(ext) < int(hwm))):
                    updates[name] = int(ext)
        return updates

    return df, aggs, finalize


def _identity_meta_action(meta: dict, evolve_actions: list,
                          updates: dict):
    """Fold advanced identity high-water marks into the commit's
    metaData: patches an evolution metaData action IN PLACE when the
    commit already carries one (two metaData actions in one commit
    would make replay order load-bearing), else returns a fresh
    action based on ``meta``. None when there is nothing to record —
    a write that allocated values but failed to commit the advanced
    mark would hand the next writer the same range (duplicate
    identities)."""
    if not updates:
        return None
    target = None
    for a in evolve_actions or []:
        if "metaData" in a:
            target = a["metaData"]
    base = target if target is not None \
        else json.loads(json.dumps(meta))
    sch = json.loads(base["schemaString"])
    for f in sch.get("fields", []):
        if f.get("name") in updates:
            fmd = f.setdefault("metadata", {})
            fmd["delta.identity.highWaterMark"] = \
                int(updates[f["name"]])
    base["schemaString"] = json.dumps(sch)
    return None if target is not None else {"metaData": base}


def _apply_generated_columns(df, meta: dict):
    """Evaluate the table's GENERATED columns on an incoming batch,
    like the jar (round 11; PROTOCOL.md §Writer Requirements for
    Generated Columns): a generated column ABSENT from the batch is
    computed from its ``delta.generationExpression``; one PROVIDED by
    the batch is validated null-safe-equal to the expression (the
    jar enforces it as an implicit constraint) contributes a
    null-safe-equality check folded into the caller's SINGLE
    pre-pass (_prepare_write_batch). Columns compute in schema
    order, so a generation expression may reference an earlier
    generated column. Returns ``(batch, checks)`` — checks are
    (label, ok Column, detail, kind) tuples."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType
    try:
        fields = StructType.fromJson(
            _json.loads(meta["schemaString"])).fields
    except (KeyError, ValueError, TypeError):
        return df, []
    checks = []
    for f in fields:
        expr = (f.metadata or {}).get("delta.generationExpression")
        if not expr:
            continue
        if f.name in df.columns:
            checks.append((
                f.name,
                F.col(f.name).eqNullSafe(
                    F.expr(expr).cast(f.dataType)),
                f"({expr})", "generated"))
        else:
            df = df.withColumn(
                f.name, F.expr(expr).cast(f.dataType))
    # schema-order the batch when it now covers the schema exactly
    # (the computed column was APPENDED; partitioned/hive writes and
    # foreign readers expect the declared order)
    names = [f.name for f in fields]
    if set(df.columns) == set(names):
        df = df.select(*names)
    return df, checks


def _prepare_write_batch(df, meta: dict, allocate: bool = True):
    """The ONE distributed pre-pass every new-data write runs
    (review finding: separate identity/generated/constraint passes
    launched up to four jobs over the batch): identity values
    allocate via row_number (no job of their own), absent generated
    columns compute, then a SINGLE ``df.agg`` collects CHECK
    constraint / invariant violation counts (delta-spark
    CheckDeltaInvariant semantics — an expression must come out TRUE
    for every row; false AND null both violate), generated-column
    contradictions, the batch row count, and explicit identity
    extremes. Any violation aborts BEFORE any data file lands, so it
    costs one scan of the batch and leaves the table untouched;
    success returns ``(batch, {identity column: new high-water
    mark})``. Scale note: the batch is computed twice (this pre-pass
    + the write); the jar folds validation into the write job, but
    the pre-pass keeps the single-atomic-rename commit path and the
    cost is one map-side scan of the INCOMING batch, never of the
    table."""
    from pyspark.sql import functions as F
    df, id_aggs, id_final = _apply_identity_columns(df, meta,
                                                    allocate)
    df, checks = _apply_generated_columns(df, meta)
    checks = [(name, F.expr(sql).eqNullSafe(F.lit(True)),
               f"CHECK ({sql})", "constraint")
              for name, sql in _constraint_exprs(meta)] + checks
    aggs = [F.sum(F.when(ok, 0).otherwise(1)).alias(f"c{i}")
            for i, (_n, ok, _d, _k) in enumerate(checks)]
    aggs += [col.alias(name) for name, col in id_aggs]
    if not aggs:
        # no pre-pass needed — but ranged identity allocation already
        # counted its partitions, so its marks finalize row-free
        return df, id_final(None)
    row = df.agg(*aggs).first()
    bad = [(name, detail, kind, int(row[f"c{i}"] or 0))
           for i, (name, _ok, detail, kind) in enumerate(checks)
           if (row[f"c{i}"] or 0) > 0]
    if bad:
        msgs = []
        cons = [b for b in bad if b[2] == "constraint"]
        gens = [b for b in bad if b[2] == "generated"]
        if cons:
            msgs.append(
                "write violates table constraint(s): " + "; ".join(
                    f"{n} ({c} row{'s' if c != 1 else ''} fail {d})"
                    for n, d, _k, c in cons))
        if gens:
            msgs.append(
                "write provides generated column values that "
                "contradict their generation expressions: "
                + "; ".join(
                    f"{n} ({c} row{'s' if c != 1 else ''} != {d})"
                    for n, d, _k, c in gens))
        raise ValueError("; AND ".join(msgs)
                         + " — no data was committed")
    return df, id_final(row)


def _legacy_features(proto: dict) -> tuple[list, list]:
    """(readerFeatures, writerFeatures) IMPLIED by a legacy protocol's
    version numbers (spec §Protocol Evolution) — needed when
    upgrading to table features (reader 3 / writer 7), where only
    listed features are honored."""
    r = int(proto.get("minReaderVersion", 1))
    w = int(proto.get("minWriterVersion", 2))
    rf: list = []
    wf: list = []
    if w >= 2:
        wf += ["appendOnly", "invariants"]
    if w >= 3:
        wf += ["checkConstraints"]
    if w >= 4:
        wf += ["generatedColumns", "changeDataFeed"]
    if w >= 5:
        wf += ["columnMapping"]
    if w >= 6:
        wf += ["identityColumns"]
    if r >= 2:
        rf += ["columnMapping"]
    return rf, wf


def last_txn_version(table: str, app_id: str):
    """The highest ``{"txn": {"appId", "version"}}`` committed for
    ``app_id``, or None — how an idempotent writer decides whether a
    redelivered micro-batch was already committed. One log listing;
    the marks come from the memoized incremental fold or a state-only
    snapshot, so no checkpoint ``add`` column is ever read. Only a
    NOT-YET-EXISTING table maps to None; an unknowable state (gapped
    log, txn-less foreign checkpoint over cleaned commits) propagates
    _txn_state's loud error — swallowing it would re-enable the
    double-commit the loud contract exists to prevent."""
    try:
        scan = _scan_log(table)
    except FileNotFoundError:
        return None  # table does not exist yet — first commit
    return _txn_state(table, scan=scan).get(app_id)


def delete_rows_delta_local(table: str, deletes: dict,
                            spark=None) -> int:
    """Commit DELETION VECTORS for the given rows: ``deletes`` maps a
    live data-file path to the 0-based row positions to delete. Each
    touched file gets remove + re-add with a fresh DV ``.bin``
    (sources/dv.py) whose positions are the UNION of its existing DV
    (per protocol, a new DV replaces the old one — forgetting the
    merge would resurrect earlier deletions). Data files untouched —
    the row-level delete without a copy-on-write rewrite, which is
    the whole point of DVs at 100 TB. Returns the committed version;
    compact_delta_local materializes accumulated DVs away.

    On a table with delta.enableChangeDataFeed=true the commit also
    records the NEWLY deleted rows as Change Data Files + ``cdc``
    actions (round 10 — what the protocol requires of CDF writers for
    row-level deletes); that scan needs a SparkSession (``spark`` or
    the active one)."""
    from .dv import dv_row_indexes, write_dv_file
    snap = _snapshot(table)
    files, meta, keys, adds = snap.files, snap.meta, snap.keys, snap.adds
    _check_write_protocol(snap.protocol, meta, data_change_removes=True,
                          new_data=False)
    root = table.removeprefix("file://")
    conf = meta.get("configuration") or {}
    if isinstance(conf, list):
        conf = dict(conf)
    cdf_on = str(conf.get("delta.enableChangeDataFeed",
                          "")).lower() == "true"
    if cdf_on:
        # validate the cdc-emission preconditions BEFORE any DV .bin
        # lands on disk — a late refusal would orphan them
        if _id_mapping(meta):
            # the id-mode cdc scan resolves each touched file by its
            # parquet field ids; a file without them (foreign writer)
            # would only fail inside _delete_cdc_actions, AFTER the
            # bins were written (review finding) — check the KB-scale
            # footers now (memoized, see _ID_LAYOUT)
            for p in deletes:
                if not _file_id_layout(os.path.abspath(p)):
                    raise ValueError(
                        f"{p}: parquet schema carries no field ids — "
                        "id-mode cdc emission cannot resolve this "
                        "file; rewrite it with field ids or disable "
                        "delta.enableChangeDataFeed")
        if spark is None:
            from pyspark.sql import SparkSession
            spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                "delete_rows_delta_local on a "
                "delta.enableChangeDataFeed table writes Change Data "
                "Files, which needs a SparkSession — pass spark= or "
                "run inside an active one")
    by_abs = {os.path.abspath(f): (k, a)
              for f, k, a in zip(files, keys, adds)}
    dv_dir = os.path.join(root, "_dv")
    os.makedirs(dv_dir, exist_ok=True)
    ts = int(time.time() * 1000)
    actions: list = []
    # the protocol requires reader 3 + readerFeatures for DV tables —
    # without the upgrade, spec-compliant external readers accept the
    # table at protocol 1, IGNORE the deletionVector field, and
    # silently resurrect every deleted row
    proto = snap.protocol
    if "deletionVectors" not in (proto.get("readerFeatures") or []):
        # crossing to reader 3 / writer 7: ONLY listed features are
        # honored there, so features the old legacy version numbers
        # implied (e.g. columnMapping at reader 2) must be folded in
        # or external readers stop honoring them
        legacy_r, legacy_w = _legacy_features(proto)
        actions.append({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(set(
                (proto.get("readerFeatures") or [])
                + legacy_r + ["deletionVectors"])),
            "writerFeatures": sorted(set(
                (proto.get("writerFeatures") or [])
                + legacy_w + ["deletionVectors"]))}})
    new_positions: dict = {}
    for p, positions in deletes.items():
        ap = os.path.abspath(p)
        if ap not in by_abs:
            raise ValueError(f"{p}: not a live file of {table}")
        k, a = by_abs[ap]
        merged = set(int(x) for x in positions)
        if any(x < 0 for x in merged):
            raise ValueError(f"{p}: negative row position")
        # validate against the file's row count (stats when present,
        # else one footer read) — an out-of-range position is a
        # caller bug (1-based indexes, wrong file) that would
        # otherwise commit a DV that silently deletes nothing
        st = _stats_of(a)
        nrec = st.get("numRecords") if st else None
        if nrec is None:
            import pyarrow.parquet as pq
            nrec = pq.ParquetFile(ap).metadata.num_rows
        bad = [x for x in merged if x >= int(nrec)]
        if bad:
            raise ValueError(
                f"{p}: row positions {sorted(bad)[:5]} out of range "
                f"(file has {nrec} rows; positions are 0-based)")
        old = (set(dv_row_indexes(root, a["deletionVector"]))
               if a.get("deletionVector") else set())
        newly = sorted(merged - old)
        if newly:
            new_positions[ap] = newly
        merged |= old
        dvp = os.path.join(dv_dir,
                           f"deletion_vector_{uuid.uuid4().hex}.bin")
        desc = write_dv_file(dvp, sorted(merged))
        na = dict(a)
        na["deletionVector"] = desc
        na["dataChange"] = True
        actions.append({"remove": {"path": k, "deletionTimestamp": ts,
                                   "dataChange": True}})
        actions.append({"add": na})
    if cdf_on and new_positions:
        actions += _delete_cdc_actions(spark, root, meta,
                                       new_positions, by_abs)
    # commit over the version read: a commit that landed meanwhile
    # makes _commit refuse instead of being silently built over
    _commit(table, snap.version + 1, actions)
    return snap.version + 1


def _delete_cdc_actions(spark, root: str, meta: dict,
                        new_positions: dict, by_abs: dict) -> list:
    """Change Data Files for a DV-delete commit on a CDF-enabled
    table (round 10): scan the NEWLY deleted (file, position) rows —
    a distributed (path, row_index) semi-join, never a driver row
    path — and write them under _change_data/ with
    ``_change_type='delete'``. The rows come from the one scan, raw
    (``dv=False`` — the positions being emitted are exactly the rows
    the new DV hides; id mode reads each file by its OWN field-id
    layout); the files are written like the upsert's change files
    (_write_change_files: physical names, field ids in id mode,
    partition values in the hive layout). The caller validates the
    preconditions (a live SparkSession) BEFORE writing any DV file —
    see delete_rows_delta_local — so a refusal never orphans on-disk
    state."""
    import uuid as _uuid

    from pyspark.sql import functions as F
    pcols, ptypes = _partition_schema(meta)
    files = sorted(new_positions)
    pos = spark.createDataFrame(
        [(f, int(p)) for f in files for p in new_positions[f]],
        "__qs_dfp__ string, __qs_dpos__ long")
    scan = (_scan_files(spark, root, meta, files,
                        [by_abs[f][1] for f in files], pcols, ptypes,
                        path=True, pos=True, dv=False)
            .join(pos, (F.col("__qs_path__") == F.col("__qs_dfp__"))
                  & (F.col("__qs_pos__") == F.col("__qs_dpos__")),
                  "left_semi")
            .drop("__qs_path__", "__qs_pos__")
            .withColumn("_change_type", F.lit("delete")))
    return _write_change_files(root, scan, meta, pcols,
                               _uuid.uuid4().hex[:12])


def _write_change_files(root: str, frame, meta: dict, pcols: list,
                        tag: str) -> list:
    """Write a LOGICAL change frame (data columns plus
    ``_change_type``) as Change Data Files under
    ``_change_data/cdc-<tag>`` and return their ``cdc`` actions
    (dataChange=false). The files follow data-file rules: the
    schema's physical names on mapped tables (field ids too in id
    mode; ``_change_type`` is not a schema field and keeps its name),
    and partition values ride in hive directories under the physical
    partition names, never in the files."""
    cm = _cm_mode(meta)
    out_pcols = pcols
    if cm != "none":
        frame, mapping = _physical_projection(
            frame, meta, cm, passthrough=("_change_type",))
        out_pcols = [mapping[c][0] for c in pcols]
    d = os.path.join(root, "_change_data", f"cdc-{tag}")
    w = frame.write
    if out_pcols:
        w = w.partitionBy(*out_pcols)
    w.parquet(d)
    return [{"cdc": {"path": os.path.relpath(p, root),
                     "partitionValues": (_hive_partition_values(d, p)
                                         if pcols else {}),
                     "size": os.path.getsize(p),
                     "dataChange": False}}
            for p in sorted(os.path.join(dp, f)
                            for dp, _, fs in os.walk(d)
                            for f in fs if f.endswith(".parquet"))]


def restore_delta_local(table: str, version: int) -> int:
    """RESTORE the table to an older version's state as a NEW commit
    (the jar's ``RESTORE TABLE ... VERSION AS OF``): live files absent
    from the target version become removes, target files not
    currently live become re-adds carrying their ORIGINAL
    partitionValues/stats/deletionVector, a file whose DV changed is
    remove+re-added under the target's DV, and the target's metaData
    is re-committed when the schema/partitioning/configuration
    changed since. History is preserved — time travel still reaches
    every version, and a restore of a restore works. Every
    re-referenced file (data + DV bins) must still exist on disk:
    vacuum may have reclaimed them, and committing a table that
    cannot be scanned would be strictly worse than refusing."""
    from .dv import dv_file_path
    root = table.removeprefix("file://")
    scan = _scan_log(table)
    now = _snapshot(table, scan=scan)
    _check_write_protocol(now.protocol, now.meta,
                          data_change_removes=True, new_data=False)
    then = _snapshot(table, version, scan=scan)
    cur = dict(zip(now.keys, now.adds))
    tgt = dict(zip(then.keys, then.adds))
    missing = []
    for f, a in zip(then.files, then.adds):
        if not os.path.exists(f):
            missing.append(f)
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p") \
                and not os.path.exists(dv_file_path(root, dv)):
            missing.append(dv_file_path(root, dv))
    if missing:
        raise ValueError(
            f"restore to version {version} needs files that no "
            f"longer exist (vacuumed?): {missing[:5]}")
    ts = int(time.time() * 1000)
    actions: list = []
    if then.meta != now.meta:
        actions.append({"metaData": then.meta})

    def _same(a, b):
        return a.get("deletionVector") == b.get("deletionVector")

    for k in cur:
        if k not in tgt or not _same(cur[k], tgt[k]):
            actions.append({"remove": {"path": k,
                                       "deletionTimestamp": ts,
                                       "dataChange": True}})
    for k, a in tgt.items():
        if k not in cur or not _same(cur[k], a):
            na = dict(a)
            na["dataChange"] = True
            actions.append({"add": na})
    newv = now.version + 1
    if not actions:
        return now.version             # already at the target state
    actions.insert(0, {"commitInfo": {
        "timestamp": ts, "operation": "RESTORE",
        "operationParameters": {"version": str(version)}}})
    _commit(table, newv, actions)
    return newv


def _cp_arrow_types() -> dict:
    """The typed arrow action schema shared by the classic checkpoint
    writer's single parquet and the v2 writer's sidecars."""
    import pyarrow as pa
    pv_t = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct([("storageType", pa.string()),
                      ("pathOrInlineDv", pa.string()),
                      ("offset", pa.int64()),
                      ("sizeInBytes", pa.int64()),
                      ("cardinality", pa.int64())])
    add_t = pa.struct([("path", pa.string()), ("partitionValues", pv_t),
                       ("size", pa.int64()),
                       ("modificationTime", pa.int64()),
                       ("dataChange", pa.bool_()),
                       ("stats", pa.string()),
                       ("deletionVector", dv_t),
                       # row tracking (round 12): dropping these on a
                       # checkpoint would erase every file's row-id
                       # base once the JSON log is cleaned up
                       ("baseRowId", pa.int64()),
                       ("defaultRowCommitVersion", pa.int64())])
    dm_t = pa.struct([("domain", pa.string()),
                      ("configuration", pa.string()),
                      ("removed", pa.bool_())])
    meta_t = pa.struct([
        ("id", pa.string()),
        ("format", pa.struct([("provider", pa.string())])),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pv_t),
        ("createdTime", pa.int64())])
    proto_t = pa.struct([("minReaderVersion", pa.int32()),
                         ("minWriterVersion", pa.int32()),
                         ("readerFeatures", pa.list_(pa.string())),
                         ("writerFeatures", pa.list_(pa.string()))])
    txn_t = pa.struct([("appId", pa.string()), ("version", pa.int64()),
                       ("lastUpdated", pa.int64())])
    return {"pv": pv_t, "dv": dv_t, "add": add_t, "meta": meta_t,
            "proto": proto_t, "txn": txn_t, "dm": dm_t}


def _cp_add_payload(k: str, a: dict) -> dict:
    """One live add action → the typed checkpoint add row (shared by
    the classic parquet and the v2 sidecar writers)."""
    dv = a.get("deletionVector")
    return {"path": k,
            "partitionValues": a.get("partitionValues") or {},
            "size": int(a.get("size") or 0),
            "modificationTime": int(a.get("modificationTime") or 0),
            "dataChange": False,
            "stats": a.get("stats"),
            "deletionVector": (
                {"storageType": dv.get("storageType"),
                 "pathOrInlineDv": dv.get("pathOrInlineDv"),
                 "offset": int(dv.get("offset") or 0),
                 "sizeInBytes": int(dv.get("sizeInBytes") or 0),
                 "cardinality": int(dv.get("cardinality") or 0)}
                if dv else None),
            "baseRowId": (None if a.get("baseRowId") is None
                          else int(a["baseRowId"])),
            "defaultRowCommitVersion": (
                None if a.get("defaultRowCommitVersion") is None
                else int(a["defaultRowCommitVersion"]))}


def _row_tracking_base(snap: _Snapshot) -> int | None:
    """The next row id to assign, or None when the snapshot's table
    does not carry the rowTracking writer feature. The high-water
    mark lives in the ``delta.rowTracking`` domain's configuration
    (rowIdHighWaterMark; -1 before any assignment)."""
    proto = snap.protocol
    w = int(proto.get("minWriterVersion", 2))
    feats = (set(proto.get("writerFeatures") or []) if w == 7
             else set())
    if "rowTracking" not in feats:
        return None
    dm = snap.domains.get("delta.rowTracking")
    hwm = -1
    if dm and not dm.get("removed"):
        try:
            hwm = int(json.loads(dm.get("configuration") or "{}")
                      .get("rowIdHighWaterMark", -1))
        except (ValueError, TypeError):
            pass
    return hwm + 1


def write_v2_checkpoint_local(table: str,
                              version: int | None = None) -> int:
    """Write a V2 CHECKPOINT (protocol 'V2 Checkpoint Spec') — the v2
    twin of :func:`write_checkpoint_local`: a top-level
    ``<v>.checkpoint.<uuid>.json`` carrying checkpointMetadata, the
    protocol, the metaData, every sink txn mark, and one ``sidecar``
    pointer, with the add actions in a parquet sidecar under
    ``_delta_log/_sidecars/``. A table carrying v2 checkpoints must
    DECLARE the v2Checkpoint feature, so when the current protocol
    lacks it a protocol-upgrade commit (reader 3 / writer 7, legacy
    features folded in) is appended first — which requires
    ``version`` to be None (latest); pass an explicit version only on
    already-upgraded tables. Returns the checkpointed version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = _snapshot(table)
    cur = snap.protocol
    _check_write_protocol(cur, None, data_change_removes=False)
    feats = set(cur.get("readerFeatures") or [])
    if "v2Checkpoint" not in feats \
            or int(cur.get("minReaderVersion", 1)) < 3:
        if version is not None:
            raise ValueError(
                "write_v2_checkpoint_local at an explicit version "
                "needs the table to already declare the v2Checkpoint "
                "feature — call with version=None to auto-upgrade")
        lr, lw = _legacy_features(cur)
        proto = {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(set(
                (cur.get("readerFeatures") or []) + lr
                + ["v2Checkpoint"])),
            "writerFeatures": sorted(set(
                (cur.get("writerFeatures") or []) + lw
                + ["v2Checkpoint"]))}
        _commit(table, snap.version + 1, [{"protocol": proto}])
        # the upgrade commit changes nothing but the protocol
        snap = snap._replace(version=snap.version + 1, protocol=proto)
    if version not in (None, snap.version):
        snap = _snapshot(table, version)
    version = snap.version
    types = _cp_arrow_types()
    log = _log_dir(table)
    sdir = os.path.join(log, "_sidecars")
    os.makedirs(sdir, exist_ok=True)
    sname = f"{uuid.uuid4().hex}.parquet"
    sp = os.path.join(sdir, sname)
    pq.write_table(
        pa.Table.from_pylist(
            [{"add": _cp_add_payload(k, a)}
             for k, a in zip(snap.keys, snap.adds)],
            schema=pa.schema([("add", types["add"])])), sp)
    acts = [{"checkpointMetadata": {"version": version}},
            {"protocol": snap.protocol},
            {"metaData": snap.meta}]
    # an UNKNOWABLE prior txn state resets to empty, as in
    # write_checkpoint_local
    acts += [{"txn": {"appId": a_, "version": int(v_),
                      "lastUpdated": 0}}
             for a_, v_ in sorted((snap.txns or {}).items())]
    acts += [{"domainMetadata": dict(d)} for d in sorted(
        snap.domains.values(), key=lambda x: x["domain"])]
    acts.append({"sidecar": {"path": sname,
                             "sizeInBytes": os.path.getsize(sp),
                             "modificationTime": 0}})
    cp = os.path.join(
        log, f"{version:020d}.checkpoint.{uuid.uuid4().hex[:12]}.json")
    tmp = cp + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        for act in acts:
            fh.write(json.dumps(act) + "\n")
    os.replace(tmp, cp)
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version,
                   "size": len(acts) + len(snap.keys)}, fh)
    return version


def write_checkpoint_local(table: str, version: int | None = None) -> int:
    """Write a spec-shaped checkpoint parquet for ``version`` (None =
    latest) plus the ``_last_checkpoint`` pointer — the state of one
    snapshot (_snapshot). After this the JSON commits at or below the
    checkpoint are no longer needed to read any version ≥ the
    checkpoint — the log-cleanup contract long-lived tables rely on
    (Delta checkpoints every 10 commits by default). Returns the
    checkpointed version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = _snapshot(table, version)
    version, meta, proto = snap.version, snap.meta, snap.protocol
    # a checkpoint persists FOLDED state with a fixed action schema
    # (protocol/metaData/txn/domainMetadata/add): on a table using
    # features this engine doesn't implement it would snapshot misread
    # state and DROP the unknown features' auxiliary actions — after
    # log cleanup that broken state becomes authoritative. Refuse like
    # every other write path (no meta → usage checks don't apply;
    # _maybe_checkpoint catches this and skips, warning).
    _check_write_protocol(proto, None, data_change_removes=False)
    types = _cp_arrow_types()
    rows = [{"protocol": {
                "minReaderVersion": int(proto.get("minReaderVersion", 1)),
                "minWriterVersion": int(proto.get("minWriterVersion", 2)),
                "readerFeatures": proto.get("readerFeatures"),
                "writerFeatures": proto.get("writerFeatures")}},
            {"metaData": {
                 "id": meta.get("id", str(uuid.uuid4())),
                 "format": {"provider": "parquet"},
                 "schemaString": meta.get("schemaString", "{}"),
                 "partitionColumns": meta.get("partitionColumns") or [],
                 "configuration": meta.get("configuration") or {},
                 "createdTime": meta.get("createdTime",
                                         int(time.time() * 1000))}}]
    # persist sink progress: without these rows, log cleanup would
    # erase an idempotent writer's high-water mark and a restarted
    # stream could double-commit. An UNKNOWABLE prior state (txn-less
    # foreign checkpoint over cleaned commits) resets to empty — the
    # marks are already lost; a fresh checkpoint at least
    # re-establishes a consistent state going forward.
    rows += [{"txn": {"appId": app_id, "version": int(tv),
                      "lastUpdated": 0}}
             for app_id, tv in sorted((snap.txns or {}).items())]
    # domain metadata (round 12): a checkpoint is the authoritative
    # state after log cleanup — dropping domains would erase e.g. the
    # row-tracking high-water mark; tombstones persist per spec
    rows += [{"domainMetadata": {"domain": d["domain"],
                                 "configuration": d.get("configuration"),
                                 "removed": bool(d.get("removed"))}}
             for d in sorted(snap.domains.values(),
                             key=lambda x: x["domain"])]
    rows += [{"add": _cp_add_payload(k, a)}
             for k, a in zip(snap.keys, snap.adds)]
    tbl = pa.Table.from_pylist(rows, schema=pa.schema(
        [("protocol", types["proto"]), ("metaData", types["meta"]),
         ("add", types["add"]), ("txn", types["txn"]),
         ("domainMetadata", types["dm"])]))
    cp = os.path.join(_log_dir(table), f"{version:020d}.checkpoint.parquet")
    tmp = cp + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, cp)
    with open(os.path.join(_log_dir(table), "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    return version


def create_local_delta_table(table: str, versions: list,
                             schema_json: str | None = None) -> None:
    """Lay a Delta log over EXISTING parquet files, referenced in
    place (absolute paths — permitted by the spec): ``versions`` is a
    list of file lists, one per version; each version's state is
    EXACTLY its list (removes are emitted for files that drop out).
    The iceberg_local oracle-gate pattern."""
    root = table.removeprefix("file://")
    os.makedirs(root, exist_ok=True)
    prev: list = []
    for v, files in enumerate(versions):
        actions = _meta_actions(schema_json) if v == 0 else []
        ts = int(time.time() * 1000)
        for p in prev:
            if p not in files:
                actions.append({"remove": {"path": p,
                                           "deletionTimestamp": ts,
                                           "dataChange": True}})
        for p in files:
            if p not in prev:
                actions.append(_add_action(root, os.path.abspath(p)))
        _commit(table, v, actions)
        prev = list(files)


def _hive_partition_values(data_dir: str, path: str) -> dict:
    """Parse ``col=val`` segments between data_dir and the file into
    Delta partitionValues strings (URL-unescaped; Spark's null dir
    marker → JSON null)."""
    from urllib.parse import unquote
    out = {}
    for seg in os.path.relpath(os.path.dirname(path), data_dir).split(os.sep):
        if "=" in seg:
            k, v = seg.split("=", 1)
            v = unquote(v)
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return out


def _evolve_schema_actions(meta: dict, df, mode: str,
                           pcols: list) -> list:
    """Schema-evolution metaData action(s) for a non-initial commit
    (``meta`` = the replayed table metaData; the caller has already
    resolved/validated ``pcols``): on append, NEW nullable columns
    merge into the table schema (Delta's mergeSchema) while a type
    conflict on an existing column errors; columns the frame omits
    are fine (the log-schema read yields null for them). On
    overwrite, the frame's schema AND ``pcols`` replace the table's
    when different (overwriteSchema — the metaData must record the
    new partitionColumns or later reads crash joining back partition
    values that no longer exist). Returns [] when nothing changed."""
    from pyspark.sql.types import StructType
    try:
        cur = StructType.fromJson(json.loads(meta["schemaString"]))
    except (KeyError, ValueError, TypeError):
        return []
    table_pcols = meta.get("partitionColumns") or []
    cur_types = {f.name: f.dataType for f in cur.fields}
    new_fields = []
    for f in df.schema.fields:
        have = cur_types.get(f.name)
        if have is None:
            new_fields.append(f)
        elif have != f.dataType and mode == "append":
            raise ValueError(
                f"column {f.name!r}: incoming type "
                f"{f.dataType.simpleString()} conflicts with the "
                f"table's {have.simpleString()} (append never "
                "rewrites history; use overwrite to replace the "
                "schema)")
    if mode == "overwrite":
        # same-name same-type columns KEEP the table's field — its
        # metadata carries generation/identity/invariant declarations
        # a plain batch schema never has; adopting df.schema verbatim
        # would silently strip those contracts (review finding)
        cur_by_name = {f.name: f for f in cur.fields}
        merged = StructType([
            cur_by_name[f.name]
            if (f.name in cur_by_name
                and cur_by_name[f.name].dataType == f.dataType)
            else f
            for f in df.schema.fields])
        out_pcols = list(pcols or [])
        if merged == cur and out_pcols == table_pcols:
            return []
    else:
        out_pcols = table_pcols
        if not new_fields:
            return []
        merged = StructType(list(cur.fields) + new_fields)
    md = _meta_actions(merged.json(), out_pcols)[1]
    md["metaData"]["id"] = meta.get("id") or md["metaData"]["id"]
    # a metaData action replaces the table state WHOLESALE on replay:
    # the configuration (CDF flag, appendOnly, constraints, …) must
    # ride along or an evolution commit silently drops it
    conf = meta.get("configuration") or {}
    md["metaData"]["configuration"] = dict(conf)
    return [md]


def _physical_projection(df, meta: dict, cm: str, passthrough=()):
    """Rename a LOGICAL-schema batch to the table's physical layout
    (the schema metadata's physicalName per column); id mode also
    stamps each column's parquet field id via the native writer's
    ``parquet.field.id`` column metadata. Shared by the mapped write
    path and mapped compaction. ``passthrough`` columns are NOT
    schema fields and keep their literal names (the change feed's
    ``_change_type`` in Change Data Files, per protocol)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType
    mapping = {}
    for f in StructType.fromJson(json.loads(meta["schemaString"])).fields:
        md = f.metadata or {}
        phys = md.get("delta.columnMapping.physicalName")
        fid = md.get("delta.columnMapping.id")
        if not phys or fid in (None, ""):
            raise ValueError(
                f"column {f.name!r}: columnMapping.mode={cm} but the "
                "schema field carries no physicalName/id — refusing "
                "to guess a physical layout")
        mapping[f.name] = (phys, int(fid))
    out = df.select(*[
        F.col(c) if c in passthrough
        else F.col(c).alias(mapping[c][0],
                            metadata={"parquet.field.id": mapping[c][1]})
        if cm == "id" else F.col(c).alias(mapping[c][0])
        for c in df.columns])
    return out, mapping


def _evolve_mapped_schema_actions(meta: dict, df, mode: str):
    """Schema evolution on a columnMapping table (round 9): a NEW
    column gets a fresh ``delta.columnMapping.id`` (maxColumnId+1…)
    and a fresh opaque ``physicalName`` (``col-<uuid>``, the same
    convention real Delta uses — physical names never derive from
    logical ones, that is the whole point of mapping), and the
    metaData action bumps ``maxColumnId``. Existing columns must
    type-match on append, the same rule as unmapped evolution; on
    OVERWRITE a type change updates the schema field in place
    (physicalName/id kept) — the new files carry the new type under
    the same physical name, so metadata must follow or a successful
    write would leave the table unreadable. Returns (metaData
    actions, the updated meta dict) — the caller renames against the
    UPDATED schema so the new column lands under its assigned
    physical name."""
    from pyspark.sql.types import StructField, StructType
    cur = StructType.fromJson(json.loads(meta["schemaString"]))
    cur_types = {f.name: f.dataType for f in cur.fields}
    new_fields = []
    retyped = {}
    for f in df.schema.fields:
        have = cur_types.get(f.name)
        if have is None:
            new_fields.append(f)
        elif have != f.dataType:
            if mode == "append":
                raise ValueError(
                    f"column {f.name!r}: incoming type "
                    f"{f.dataType.simpleString()} conflicts with the "
                    f"table's {have.simpleString()} (append never "
                    "rewrites history)")
            # overwrite: the new files carry the new type under the
            # SAME physicalName/id, so the schema must follow —
            # keeping the old type would leave the table unreadable
            # (scan schema vs parquet type mismatch)
            retyped[f.name] = f.dataType
    if not new_fields and not retyped:
        return [], meta
    if retyped:
        cur = StructType([
            StructField(f.name, retyped.get(f.name, f.dataType),
                        f.nullable, f.metadata)
            for f in cur.fields])
    conf = dict(meta.get("configuration") or {})
    ids = [int((f.metadata or {}).get("delta.columnMapping.id") or 0)
           for f in cur.fields]
    maxid = max([int(conf.get("delta.columnMapping.maxColumnId") or 0)]
                + ids)
    out_fields = list(cur.fields)
    for f in new_fields:
        maxid += 1
        md = dict(f.metadata or {})
        md["delta.columnMapping.id"] = maxid
        md["delta.columnMapping.physicalName"] = \
            f"col-{uuid.uuid4().hex[:16]}"
        out_fields.append(StructField(f.name, f.dataType, True, md))
    conf["delta.columnMapping.maxColumnId"] = str(maxid)
    new_meta = dict(meta)
    new_meta["schemaString"] = StructType(out_fields).json()
    new_meta["configuration"] = conf
    return [{"metaData": new_meta}], new_meta


def write_delta_local(df, table: str, mode: str = "append",
                      partition_by=None, txn: tuple | None = None) -> int:
    """Commit a Spark DataFrame as a new Delta version. ``mode``:
    "append" adds the new files; "overwrite" also removes every
    previously live file. Data lands under ``<table>/part-*/`` via
    one native parquet write; the commit is a single atomic rename.
    Returns the committed version.

    ``partition_by``: column(s) to partition on — the parquet write
    partitions natively (Spark's hive layout) and each file's
    directory values become its ``partitionValues`` (the columns are
    NOT in the data files, per spec; the reader joins them back).
    Appends to a partitioned table INHERIT the table's partitioning
    when ``partition_by`` is omitted (and refuse a different one —
    unpartitioned adds would read back null partition values);
    overwrite may change the partitioning, and its metaData records
    the new ``partitionColumns``.

    ``txn``: an ``(appId, version)`` pair committed as a ``txn``
    action alongside the adds — the protocol's idempotent-writer
    handshake (check ``last_txn_version`` before writing; see
    streaming/stream.streaming_write_delta)."""
    assert mode in ("append", "overwrite"), mode
    pcols = ([partition_by] if isinstance(partition_by, str)
             else list(partition_by or []))
    root = table.removeprefix("file://")
    try:
        commits, checkpoints = _scan_log(table)
    except FileNotFoundError:              # a new table
        commits, checkpoints = [], {}
    snap = (_snapshot(table, scan=(commits, checkpoints))
            if commits or checkpoints else None)
    version = snap.version + 1 if snap else 0
    # validate + resolve schema/partition evolution BEFORE the
    # distributed write: a refused commit must not burn a full data
    # write and orphan its directory
    evolve: list = []
    ident_updates: dict = {}
    if snap:
        meta = snap.meta
        _check_write_protocol(snap.protocol, meta,
                              data_change_removes=(mode == "overwrite"))
        # identity allocation, generated-column computation, and
        # constraint/invariant validation in ONE distributed
        # pre-pass — all on logical names, before any columnMapping
        # physical rename, and before the data write (a violation
        # must not burn the write or orphan files)
        df, ident_updates = _prepare_write_batch(df, meta)
        table_pcols = meta.get("partitionColumns") or []
        if mode == "append":
            if pcols and pcols != table_pcols:
                raise ValueError(
                    f"partition_by {pcols} differs from the table's "
                    f"partitionColumns {table_pcols}")
            pcols = table_pcols
        cm = _cm_mode(meta)
        if cm != "none":
            # mapped tables: data files carry PHYSICAL names — rename
            # the batch before the write (footer stats then key by
            # physical name automatically, what the mapped reader's
            # stats-skipping translation expects); id mode also
            # stamps each column's parquet field id via the native
            # writer's ``parquet.field.id`` column metadata. A batch
            # with NEW columns evolves the mapped schema first
            # (fresh physicalName/id + maxColumnId bump).
            # PARTITIONED mapped tables write in BOTH modes (name
            # round 9, id round 10): the hive directories — and
            # therefore partitionValues keys — use the PHYSICAL
            # partition-column names per the protocol (the SCHEMA's
            # physicalName: partition columns never live in data
            # files, so only data columns may vary physically per
            # file in id mode); partitioning CHANGES stay gated.
            if table_pcols or pcols:
                if mode == "overwrite" and pcols != table_pcols:
                    # includes overwrite WITHOUT partition_by, which
                    # would otherwise commit unpartitioned files
                    # under metadata still declaring partitions
                    raise NotImplementedError(
                        "changing the partitioning of a mapped table "
                        "on overwrite — metaData partitionColumns "
                        "rewrite for mapped specs is not wired up")
            evolve, meta = _evolve_mapped_schema_actions(meta, df, mode)
            df, mapping = _physical_projection(df, meta, cm)
            # the batch now carries physical names: partition under
            # the PHYSICAL partition-column names so hive directory
            # values (and the partitionValues keys extracted from
            # them) follow the protocol's mapped-table convention
            pcols = [mapping[c][0] for c in pcols]
        else:
            evolve = _evolve_schema_actions(meta, df, mode, pcols)
    data_dir = os.path.join(root, f"data-{uuid.uuid4().hex[:12]}")
    if pcols:
        df.write.partitionBy(*pcols).parquet(data_dir)
        new_files = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(data_dir)
            for f in fs if f.endswith(".parquet"))
    else:
        df.write.parquet(data_dir)
        new_files = sorted(
            os.path.join(data_dir, f) for f in os.listdir(data_dir)
            if f.endswith(".parquet"))
    actions: list = []
    if version == 0:
        actions += _meta_actions(df.schema.json(), pcols)
    else:
        # the identity high-water mark advances IN THE SAME COMMIT as
        # the allocated values (patched into the evolution metaData
        # when one exists, else a fresh metaData action)
        ia = _identity_meta_action(meta, evolve, ident_updates) \
            if ident_updates else None
        actions += evolve
        if ia:
            actions.append(ia)
    ts = int(time.time() * 1000)
    if mode == "overwrite" and snap:
        # remove by the exact path KEY each add used (absolute for
        # referenced-in-place files, relative for table-local data)
        for k in snap.keys:
            actions.append({"remove": {"path": k,
                                       "deletionTimestamp": ts,
                                       "dataChange": True}})
    # row tracking (round 12, protocol §Row Tracking): hand every new
    # file a fresh baseRowId range off the domain high-water mark and
    # advance the mark IN THE SAME COMMIT (losing the mark would hand
    # the next writer the same range — duplicate row ids)
    next_rid = _row_tracking_base(snap) if snap else None
    for p in new_files:
        act = _add_action(
            root, p, _hive_partition_values(data_dir, p) if pcols else None,
            stats=_footer_stats(p))
        if next_rid is not None:
            import pyarrow.parquet as _pq
            n = int(_pq.ParquetFile(p).metadata.num_rows)
            act["add"]["baseRowId"] = next_rid
            act["add"]["defaultRowCommitVersion"] = version
            next_rid += n
        actions.append(act)
    if next_rid is not None:
        actions.append({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps(
                {"rowIdHighWaterMark": next_rid - 1}),
            "removed": False}})
    if txn is not None:
        app_id, tv = txn
        actions.append({"txn": {"appId": str(app_id),
                                "version": int(tv),
                                "lastUpdated": ts}})
    _commit(table, version, actions)
    return version


def compact_delta_local(spark, table: str,
                        target_file_rows: int = 5_000_000) -> int:
    """OPTIMIZE-style compaction: rewrite the live rows into
    ``ceil(rows / target_file_rows)`` right-sized files and commit the
    swap as ONE new version (removes for every old file, adds with
    fresh footer stats for the new ones). The small-file problem is
    the canonical lakehouse failure at 100 TB — a streaming or
    per-partition writer leaves thousands of KB-files whose per-file
    task overhead dominates the scan; compaction restores full-scan
    throughput while time travel still sees the pre-compaction
    layout (old files stay on disk until vacuum).

    Partitioned tables rewrite with the same partitionBy so the
    log-level pruning contract survives.

    ROW TRACKING tables (round 12, protocol §Row Tracking) preserve
    row identity across the rewrite the jar's way: the compacted
    files MATERIALIZE each row's _row_id and _row_commit_version as
    the configuration-named physical columns (names generated and
    committed into the configuration when the table has none yet),
    so compaction rearranges rows without re-identifying them or
    faking an update; the new files still get fresh baseRowId ranges
    and the high-water mark advances in the same commit per spec.
    rowTracking + columnMapping compose in BOTH modes (round 13):
    the materialized columns are PHYSICAL names per protocol, so
    they pass through the physical projection by their literal
    names (no field ids in id mode — they are not schema fields,
    and the reader resolves them by name)."""
    import math
    snap = _snapshot(table)
    meta = snap.meta
    # compaction removes are dataChange=false — allowed on appendOnly
    _check_write_protocol(snap.protocol, meta, data_change_removes=False,
                          new_data=False)
    if not snap.files:
        raise ValueError(f"Delta table {table} has no live files")
    root = table.removeprefix("file://")
    pcols = meta.get("partitionColumns") or []
    cm = _cm_mode(meta)
    rt_base = _row_tracking_base(snap)
    meta_update = None
    mat_rid = mat_rcv = None
    if rt_base is not None:
        conf = dict(meta.get("configuration") or {})
        mat_rid, mat_rcv = _rt_col_names(meta)
        if not (mat_rid and mat_rcv):
            sfx = uuid.uuid4().hex[:8]
            mat_rid = mat_rid or f"_row-id-col-{sfx}"
            mat_rcv = mat_rcv or f"_row-commit-version-col-{sfx}"
            conf["delta.rowTracking."
                 "materializedRowIdColumnName"] = mat_rid
            conf["delta.rowTracking."
                 "materializedRowCommitVersionColumnName"] = mat_rcv
            meta_update = dict(meta)
            meta_update["configuration"] = conf
        df = (_read_snapshot(spark, table, snap, with_row_tracking=True)
              .withColumnRenamed("_row_id", mat_rid)
              .withColumnRenamed("_row_commit_version", mat_rcv))
    else:
        df = _read_snapshot(spark, table, snap)
    if cm != "none":
        # the mapped read surfaced LOGICAL names; rewritten files must
        # carry the physical ones (footer stats then key physically —
        # id mode additionally stamps field ids, round 9), and a
        # partitioned mapped table re-partitions under the PHYSICAL
        # partition-column names. Materialized row-tracking columns
        # (round 13) are ALREADY physical per protocol — they pass
        # through the projection by their literal names
        df, mapping = _physical_projection(
            df, meta, cm,
            passthrough=tuple(c for c in (mat_rid, mat_rcv) if c))
        pcols = [mapping[c][0] for c in pcols]
    n = df.count()
    parts = max(1, math.ceil(n / target_file_rows))
    data_dir = os.path.join(root, f"data-compact-{uuid.uuid4().hex[:12]}")
    w = df.repartition(parts).write
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(data_dir)
    new_files = sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(data_dir)
        for f in fs if f.endswith(".parquet"))
    version = snap.version + 1         # a commit meanwhile conflicts
    ts = int(time.time() * 1000)
    actions: list = []
    if meta_update is not None:
        actions.append({"metaData": meta_update})
    for k in snap.keys:
        actions.append({"remove": {"path": k, "deletionTimestamp": ts,
                                   "dataChange": False}})
    next_rid = rt_base
    for p in new_files:
        # a compaction rearranges rows without changing the data: per
        # protocol BOTH sides mark dataChange=false, else a streaming
        # consumer re-reads the compacted rows as fresh appends
        act = _add_action(
            root, p,
            _hive_partition_values(data_dir, p) if pcols else None,
            stats=_footer_stats(p), data_change=False)
        if next_rid is not None:
            import pyarrow.parquet as _pq
            act["add"]["baseRowId"] = next_rid
            act["add"]["defaultRowCommitVersion"] = version
            next_rid += int(_pq.ParquetFile(p).metadata.num_rows)
        actions.append(act)
    if next_rid is not None:
        actions.append({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps(
                {"rowIdHighWaterMark": next_rid - 1}),
            "removed": False}})
    _commit(table, version, actions)
    return version


def vacuum_delta_local(table: str, keep_last: int = 1) -> int:
    """Delete table-local data files referenced ONLY by versions older
    than the last ``keep_last`` — the disk-reclaim half of compaction
    / overwrite. Files outside the table root (referenced-in-place
    fixtures) are never touched; the log itself is kept, so
    time-travel reads of vacuumed versions fail at scan time (the
    real VACUUM trade — retention is version-count-based here, the
    local single-writer analog of the retention window). Returns the
    number of files deleted."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    root = os.path.abspath(table.removeprefix("file://"))
    scan = _scan_log(table)
    kept = sorted(set(scan[0]) | set(scan[1]))[-keep_last:]
    referenced = set()
    for v in kept:
        s = _snapshot(table, v, scan=scan)
        files, adds = s.files, s.adds
        referenced |= {os.path.abspath(f) for f in files}
        for a in adds:
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") in ("u", "p"):
                from .dv import dv_file_path
                referenced.add(os.path.abspath(dv_file_path(root, dv)))
        # Change Data Files of kept versions stay readable through
        # read_delta_changes (cdc actions, round 10); older versions'
        # cdc files reclaim with their version, the VACUUM trade.
        # Substring-gated line scan, not a second full JSON parse —
        # a 100k-add commit would otherwise parse twice per vacuum
        try:
            with open(_version_path(table, v)) as fh:
                for line in fh:
                    if '"cdc"' not in line:
                        continue
                    c = json.loads(line).get("cdc")
                    if not c:
                        continue
                    p = c.get("path", "")
                    referenced.add(os.path.abspath(
                        p if os.path.isabs(p)
                        else os.path.join(root, p)))
        except FileNotFoundError:
            pass                      # checkpoint-only kept version
    deleted = 0
    for dp, _, fs in os.walk(root):
        if "_delta_log" in dp:
            continue
        for f in fs:
            # data parquet AND superseded deletion-vector bins
            if not (f.endswith(".parquet") or f.endswith(".bin")):
                continue
            p = os.path.abspath(os.path.join(dp, f))
            if p not in referenced:
                os.unlink(p)
                deleted += 1
    return deleted


def upsert_delta_local(spark, table: str, df, key_cols) -> int:
    """MERGE-style copy-on-write upsert: Delta's row-level
    replace here rewrites files, so the files that CONTAIN a matched key
    are rewritten without those rows, untouched files stay referenced
    as-is, and ``df`` is appended — all in ONE commit (readers see the
    swap atomically; time travel sees the pre-upsert state).

    Distributed end to end: the affected-file set comes from a
    semi-join of the live scan's file paths against the
    incoming keys (only file PATHS reach the driver, KBs); the
    surviving-row rewrite is an anti-join executed by Spark's parquet
    writer. The rewrite cost is proportional to the affected files —
    the standard Delta copy-on-write trade; cluster the table by key
    (write_parquet(zorder=...)) to keep that set small at 100 TB.

    PARTITIONED tables upsert too (round 9): the live scan rejoins
    log partition values so the key match sees the full logical row,
    and the survivor rewrite + append re-partition under the table's
    partitionColumns (putting the partition columns in ``key_cols``
    keeps the affected-file set partition-local — the natural MERGE
    shape). MAPPED tables upsert in BOTH modes (name round 9, id
    round 10): physical scan → logical match → physical rewrite; id
    mode's survivor scan resolves each file by its parquet field ids
    (_scan_files), and the rewrite stamps fresh ids."""
    import uuid
    from pyspark.sql import functions as F
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    root = table.removeprefix("file://")
    snap = _snapshot(table)
    files, meta, live_keys, adds = (snap.files, snap.meta, snap.keys,
                                    snap.adds)
    _check_write_protocol(snap.protocol, meta, data_change_removes=True)
    # row tracking (round 12): the merge PRESERVES row identity the
    # jar's way — survivors and single-match updated rows materialize
    # their ids into the rewritten/appended files (reader coalesces
    # materialized over baseRowId arithmetic); genuine inserts and
    # multi-row replacements take fresh ids, as the spec permits.
    # column mapping composes in BOTH modes (round 13): the
    # materialized columns are PHYSICAL names per protocol and pass
    # through the physical projection literally; the live scan reads
    # them by name.
    rt_base = _row_tracking_base(snap)
    mat_rid = mat_rcv = None
    meta_update = None
    if rt_base is not None:
        conf_rt = dict(meta.get("configuration") or {})
        mat_rid, mat_rcv = _rt_col_names(meta)
        if not (mat_rid and mat_rcv):
            sfx = uuid.uuid4().hex[:8]
            mat_rid = mat_rid or f"_row-id-col-{sfx}"
            mat_rcv = mat_rcv or f"_row-commit-version-col-{sfx}"
            conf_rt["delta.rowTracking."
                    "materializedRowIdColumnName"] = mat_rid
            conf_rt["delta.rowTracking."
                    "materializedRowCommitVersionColumnName"] = mat_rcv
            meta_update = dict(meta)
            meta_update["configuration"] = conf_rt
    # every row a MERGE can land comes from the batch (matched rows
    # are replaced whole, unmatched inserted; survivors were
    # validated at their own write), so the single write pre-pass
    # (identity validation, generated columns, constraints) over the
    # batch covers the result — before any scan or rewrite work
    df, ident_updates = _prepare_write_batch(df, meta,
                                             allocate=False)
    pcols, ptypes = _partition_schema(meta)
    if pcols and not all(c in df.columns for c in pcols):
        raise ValueError(
            f"upsert batch is missing partition column(s) "
            f"{[c for c in pcols if c not in df.columns]}")
    cm = _cm_mode(meta)
    # the live rows under the logical schema (partition values
    # rejoined, DV-deleted rows gone, row ids served on rowTracking
    # tables), each with the plain path of the file holding it
    live = _scan_files(spark, root, meta, files, adds, pcols, ptypes,
                       path=True, row_tracking=rt_base is not None)
    new_keys = df.select(*keys).distinct()
    if rt_base is not None:
        # single-match updated rows keep their id: semi-join bounds
        # the aggregation to batch keys; keys with several live rows
        # OR several batch rows assign fresh (delete+insert)
        old_ids = (live.join(new_keys, keys, "left_semi")
                   .groupBy(*keys)
                   .agg(F.count(F.lit(1)).alias("__qs_kn__"),
                        F.min("_row_id").alias("__qs_krid__"))
                   .where("__qs_kn__ = 1")
                   .select(*keys, F.col("__qs_krid__").alias(mat_rid)))
        bcnt = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__qs_bn__"))
        old_ids = (old_ids.join(bcnt, keys)
                   .where("__qs_bn__ = 1").drop("__qs_bn__"))
        df = (df.join(old_ids, keys, "left")
              .withColumn(mat_rcv, F.lit(None).cast("long")))
    affected = [r["__qs_path__"]
                for r in (live.join(new_keys, keys, "left_semi")
                          .select("__qs_path__").distinct().collect())]
    # commit over the version read: a commit that landed during the
    # scan (say, a DV delete of a row this rewrite would carry) makes
    # _commit refuse instead of being silently built over
    version = snap.version + 1
    ts = int(time.time() * 1000)
    actions: list = []
    tag = uuid.uuid4().hex[:12]
    rt_next = {"v": rt_base}

    def _write_and_add(frame, dirname):
        """Write a rewrite/append frame (partitionBy on partitioned
        tables — the hive directory values become each file's
        partitionValues; mapped tables project back to PHYSICAL
        names first) and append its add actions (with fresh
        baseRowId ranges on rowTracking tables)."""
        d = os.path.join(root, dirname)
        out_pcols = pcols
        if cm != "none":
            # materialized row-id columns are already physical names
            # — pass through the projection (round 13)
            frame, mapping = _physical_projection(
                frame, meta, cm,
                passthrough=tuple(c for c in (mat_rid, mat_rcv) if c))
            out_pcols = [mapping[c][0] for c in pcols]
        w = frame.write
        if out_pcols:
            w = w.partitionBy(*out_pcols)
        w.parquet(d)
        out = sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(d)
            for f in fs if f.endswith(".parquet"))
        for p in out:
            act = _add_action(
                root, p,
                _hive_partition_values(d, p) if pcols else None,
                stats=_footer_stats(p))
            if rt_next["v"] is not None:
                import pyarrow.parquet as _pq
                act["add"]["baseRowId"] = rt_next["v"]
                act["add"]["defaultRowCommitVersion"] = version
                rt_next["v"] += int(
                    _pq.ParquetFile(p).metadata.num_rows)
            actions.append(act)

    if affected:
        survivors = (live.filter(F.col("__qs_path__").isin(affected))
                     .drop("__qs_path__")
                     .join(new_keys, keys, "left_anti"))
        if rt_base is not None:
            # survivors keep BOTH their id and their last-updated
            # commit (they were not modified by this merge)
            survivors = (survivors
                         .withColumnRenamed("_row_id", mat_rid)
                         .withColumnRenamed("_row_commit_version",
                                            mat_rcv))
        _write_and_add(survivors, f"data-{tag}-rewrite")
        # remove by the exact key each file was added under
        affected_set = set(affected)
        for k, fpath in zip(live_keys, files):
            if os.path.abspath(fpath) in affected_set:
                actions.append({"remove": {"path": k,
                                           "deletionTimestamp": ts,
                                           "dataChange": True}})
    _write_and_add(df, f"data-{tag}-append")
    conf = meta.get("configuration") or {}
    if isinstance(conf, list):
        conf = dict(conf)
    if str(conf.get("delta.enableChangeDataFeed", "")).lower() == "true":
        # CDF-enabled table (round 10): record this MERGE's exact
        # change rows as Change Data Files under _change_data/ plus
        # protocol ``cdc`` actions (dataChange=false) — the shape the
        # jar's CDF reader consumes; read_delta_changes prefers them
        # over add/remove reconstruction for this commit too. Matched
        # keys can only live in the AFFECTED files, so the pre-image
        # pass scans exactly those (not the whole table). Like the
        # jar, a matched row whose values did not change still pairs
        # as update_preimage/update_postimage — the one shape the
        # log-only reconstruction cannot recover (byte-identical rows
        # cancel there); the cdc form is the authoritative one.
        # row-tracking metadata/materialized columns are never table
        # columns — they must not leak into the change feed's schema
        live_cdc = live if rt_base is None else live.drop(
            "_row_id", "_row_commit_version")
        df_cdc = df if rt_base is None else df.drop(mat_rid, mat_rcv)
        if affected:
            base = live_cdc.filter(F.col("__qs_path__").isin(affected))
            mk = base.select(*keys).join(new_keys, keys,
                                         "left_semi").distinct()
            pre = (base.drop("__qs_path__")
                   .join(mk, keys, "left_semi")
                   .withColumn("_change_type",
                               F.lit("update_preimage")))
            post = (df_cdc.join(mk, keys, "left_semi")
                    .withColumn("_change_type",
                                F.lit("update_postimage")))
            ins = (df_cdc.join(mk, keys, "left_anti")
                   .withColumn("_change_type", F.lit("insert")))
            cdc = pre.unionByName(post).unionByName(ins)
        else:
            cdc = df_cdc.withColumn("_change_type", F.lit("insert"))
        actions += _write_change_files(root, cdc, meta, pcols, tag)
    # an explicit identity value beyond the high-water mark advances
    # it in this same commit
    mu_actions = []
    if meta_update is not None:
        # the generated materialized-column names commit WITH the
        # files that use them; identity marks patch this same
        # metaData (two metaData actions in one commit would make
        # replay order load-bearing)
        mu_actions.append({"metaData": meta_update})
        actions.insert(0, mu_actions[0])
    ia = _identity_meta_action(meta, mu_actions, ident_updates)
    if ia:
        actions.append(ia)
    if rt_next["v"] is not None:
        actions.append({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps(
                {"rowIdHighWaterMark": rt_next["v"] - 1}),
            "removed": False}})
    # commitInfo with the MERGE keys (what real writers record in
    # operationParameters): read_delta_changes uses it to pair this
    # version's removes+adds into update_preimage/update_postimage
    # rows instead of the raw delete+insert decomposition
    actions.insert(0, {"commitInfo": {
        "timestamp": ts, "operation": "MERGE",
        "operationParameters": {"keyColumns": json.dumps(keys)}}})
    _commit(table, version, actions)
    return version


# ----------------------------------------------------------------------
# incremental / CDF-style reads (round 8)
# ----------------------------------------------------------------------

def version_at_or_after_timestamp(table: str, ts) -> int:
    """CDF ``startingTimestamp`` resolution (the jar's rule, the
    MIRROR of version_at_timestamp): the EARLIEST version whose
    commit timestamp is >= ``ts``. A timestamp after the latest
    commit refuses — there are no changes to serve and silently
    returning an empty stream would hide a units typo."""
    ts_ms = _to_epoch_ms(ts)
    best = None
    latest = None
    for v in list_versions(table):
        try:
            ct = _commit_timestamp(table, v)
        except FileNotFoundError:
            continue
        latest = ct if latest is None else max(latest, ct)
        if ct >= ts_ms and best is None:
            best = v
    if best is None:
        raise ValueError(
            f"startingTimestamp {ts!r} is after the table's latest "
            f"commit" + (f" ({latest} ms)" if latest is not None
                         else ""))
    return best


def _cancel_survivors(rows, group_cols):
    """The Delta count step in front of the shared update pairing
    (sources/changes.py). A rewrite re-sends every row it keeps, so
    per distinct row value (and version) with pre-multiplicity a and
    post-multiplicity b only max(a-b,0) pre / max(b-a,0) post copies
    changed — the exceptAll multiset in one aggregate; byte-identical
    survivors cancel."""
    from pyspark.sql import functions as F

    from .changes import _POST_N, _PRE, _PRE_N
    m = rows.groupBy(*group_cols).agg(
        F.sum(_PRE).alias("__qs_npre__"),
        F.sum(F.lit(1) - F.col(_PRE)).alias("__qs_npost__"))
    diff = F.col("__qs_npre__") - F.col("__qs_npost__")
    m = m.select(*group_cols,
                 F.greatest(diff, F.lit(0)).cast("int").alias(_PRE_N),
                 F.greatest(-diff, F.lit(0)).cast("int").alias(_POST_N))
    return m.where((F.col(_PRE_N) > 0) | (F.col(_POST_N) > 0))


def read_delta_changes(spark, table: str,
                       from_version: int | None = None,
                       to_version: int | None = None,
                       from_timestamp=None, to_timestamp=None):
    """Row-level changes committed in versions ``[from_version,
    to_version]`` (inclusive, like Delta CDF's startingVersion).
    Output = the table's data columns plus ``_change_type`` and
    ``_commit_version``. A commit carrying protocol ``cdc`` actions
    (a CDF-enabled writer's Change Data Files, round 10) reads THOSE
    files — they are authoritative, exactly the jar's CDF-reader
    rule; every other commit reconstructs from the log alone, no
    _change_data files needed.

    Per reconstructed commit, exactly the protocol's change semantics
    for non-CDC writers:
    - an add of a NEW path with dataChange=true → its surviving rows
      (minus the add's own DV) are inserts;
    - an add RE-ADDing a live path (the DV-update commit shape) →
      the NEW-minus-OLD deletion-vector positions are deletes and the
      OLD-minus-NEW positions are inserts (a restore shrinks the DV —
      rows resurrect), fetched by a distributed (path, pos) join with
      both DVs decoded executor-side;
    - a remove with dataChange=true whose path is not re-added in the
      same commit → the file's pre-commit surviving rows are deletes;
    - dataChange=false actions (compaction/clustering) contribute
      NOTHING — exactly why the writer marks them false.
    An upsert whose commit declares its MERGE key columns
    (commitInfo.operationParameters.keyColumns — upsert_delta_local
    stamps them) surfaces as PAIRED ``update_preimage``/
    ``update_postimage`` rows for changed keys, with byte-identical
    survivor re-transmissions cancelled (exceptAll) — the CDC-grade
    decomposition. A rewrite without key metadata keeps the standard
    delete(old rows) + insert(new rows) form.

    Driver cost is the usual KB-scale log replay; every row-bearing
    step is a distributed scan. PARTITIONED tables rejoin their log
    partition values on every part (round 9), tracking the ACTIVE
    partition spec per version — a repartitioning overwrite scans its
    removed files under the pre-commit scheme and its new files under
    the post-commit one. columnMapping NAME-mode tables translate
    physical→logical on every part (round 9); ID-mode tables resolve
    data columns per file by parquet field ids through the same
    grouped scan as the batch reader (round 10); mid-range
    mapping-MODE changes stay gated."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from .changes import ChangeFeed

    # timestamp bounds (round 10 — the jar's startingTimestamp /
    # endingTimestamp): start resolves to the EARLIEST commit at or
    # after, end to the LATEST commit at or before (time-travel rule)
    if (from_version is None) == (from_timestamp is None):
        raise ValueError(
            "pass exactly one of from_version / from_timestamp")
    if to_version is not None and to_timestamp is not None:
        raise ValueError("pass at most one of to_version / "
                         "to_timestamp")
    if from_timestamp is not None:
        from_version = version_at_or_after_timestamp(table,
                                                     from_timestamp)
    if to_timestamp is not None:
        # the END bound CLAMPS at the newest commit ("changes up to
        # now" is the natural call); only a START past-latest refuses
        # (nothing to serve — usually a units typo). Before-earliest
        # still refuses via version_at_timestamp.
        try:
            to_version = version_at_timestamp(table, to_timestamp)
        except TimestampAfterLatestError:
            to_version = None              # → versions[-1] below
    # one listing serves both snapshots (the end state's schema and
    # protocol, the pre-range live set)
    scan = _scan_log(table)
    end = _snapshot(table, to_version, files=False, scan=scan)
    to_version = end.version
    _check_read_protocol(end.protocol)
    if from_version > to_version:
        raise ValueError(f"from_version {from_version} > to_version "
                         f"{to_version}")
    # the replay needs the JSON commit BODIES — a checkpoint-only
    # version (its commit cleaned up) cannot contribute change rows
    json_commits = set(scan[0])
    missing = [v for v in range(from_version, to_version + 1)
               if v not in json_commits]
    if missing:
        raise ValueError(
            f"versions {missing[:5]} have no JSON commit in the log "
            "(cleaned up after checkpointing?) — the change stream "
            "would be incomplete")

    # pre-state for DV diffs and remove-row reconstruction; the OUTPUT
    # schema is taken at TO_VERSION — a change range spanning a schema
    # evolution must surface the newest columns (null-filled for
    # pre-evolution files), exactly like the batch reader and the
    # streaming source
    meta = end.meta
    if from_version > 0:
        pre = _snapshot(table, from_version - 1, scan=scan)
        cur_meta, pre_live = pre.meta, dict(zip(pre.keys, pre.adds))
    else:
        cur_meta, pre_live = None, {}
    # every part scans under the END meta (schema and column mapping:
    # a mapping only grows, so its physical names cover every version)
    # and the partition scheme its files were written under
    end_cm = _cm_mode(meta)
    root = table.removeprefix("file://")

    def _scheme(m, prev):
        # PER-VERSION partition metadata (round 9): partition values
        # live in the LOG and the active partitionColumns can CHANGE
        # inside the range (an overwrite may repartition), so the
        # scheme folds forward with each metaData action
        if m is None:
            return prev
        if _cm_mode(m) != end_cm:
            raise NotImplementedError(
                "read_delta_changes: the range crosses a columnMapping "
                "MODE change — unsupported")
        return _partition_schema(m)

    scheme = _scheme(cur_meta, ([], {}))

    def _abs(k):
        return k if os.path.isabs(k) else os.path.join(root, k)

    def _part(files_, adds_, st, **kw):
        # ``st``: the partition scheme the part's FILES were written
        # under — the post-commit scheme for the insert side, the
        # PRE-commit scheme for the delete/DV sides (a repartitioning
        # overwrite removes files whose partitionValues key by the old
        # scheme)
        return _scan_files(spark, root, meta, files_, adds_, *st, **kw)

    feed = ChangeFeed(spark, "_commit_version", "long",
                      cancel=_cancel_survivors)
    # a streaming sink's history is hundreds of consecutive pure-insert
    # commits: they coalesce into one run (changes.py), items are
    # (path, add) pairs; a run flushes before the scheme changes
    inserts = feed.run(
        lambda items, keep: _part([f for f, _ in items],
                                  [a for _, a in items], scheme,
                                  path=keep),
        "__qs_path__", lambda item: os.path.abspath(item[0]))

    def _dv_delta_rows(v, pairs, st):
        """pairs: [(path key, new add, old add|None)] → 'delete' rows
        at positions new-DV minus old-DV PLUS 'insert' rows at
        old-minus-new (DV shrink = resurrection, the restore shape),
        decoded executor-side; ``st``: the partition scheme the DV'd
        files live under (the pre-commit scheme — a DV rewrite never
        repartitions)."""
        rows = []
        for k, na, oa in pairs:
            # abspath, NOT _abs: the semi-join compares against
            # _plain_path_col()'s absolute scan paths — a relative
            # table path would silently match nothing
            for side in (na, oa or {}):
                dv = side.get("deletionVector")
                if dv:
                    _check_dv_descriptor(k, dv)
            rows.append((os.path.abspath(_abs(k)),
                         _json.dumps(na.get("deletionVector")),
                         _json.dumps((oa or {}).get("deletionVector"))))
        dd = spark.createDataFrame(
            rows, "__qs_dfp__ string, __qs_new__ string, __qs_old__ string")
        par = min(len(rows), spark.sparkContext.defaultParallelism)
        if par > 1:
            dd = dd.repartition(par)
        abs_root = os.path.abspath(root)

        def _decode(batches):
            import pandas as pd

            from quokka_spark.sources.dv import dv_row_indexes
            for pdf in batches:
                for fp, nj, oj in zip(pdf["__qs_dfp__"],
                                      pdf["__qs_new__"],
                                      pdf["__qs_old__"]):
                    new = _json.loads(nj)
                    old = _json.loads(oj)
                    npos = set(dv_row_indexes(abs_root, new)) if new \
                        else set()
                    opos = set(dv_row_indexes(abs_root, old)) if old \
                        else set()
                    # new-minus-old = deletes; old-minus-new =
                    # RESURRECTIONS (a restore re-adds the path under
                    # a smaller DV) — CDF must emit those as inserts
                    # or applying the feed diverges from time travel
                    dels = sorted(npos - opos)
                    ress = sorted(opos - npos)
                    pos = dels + ress
                    kinds = (["delete"] * len(dels)
                             + ["insert"] * len(ress))
                    yield pd.DataFrame(
                        {"__qs_dfp__": pd.Series([fp] * len(pos),
                                                 dtype="object"),
                         "__qs_dpos__": pd.array(pos, dtype="int64"),
                         "__qs_kind__": pd.Series(kinds,
                                                  dtype="object")})

        positions = dd.mapInPandas(
            _decode,
            "__qs_dfp__ string, __qs_dpos__ long, __qs_kind__ string")
        # RAW rows (dv=False): the join picks exactly the DV-delta
        # positions, tagged delete/insert
        scan = _part([r[0] for r in rows], [na for _, na, _ in pairs], st,
                     path=True, pos=True, dv=False)
        cols = scan.columns[:-2]
        feed.add(scan.join(positions,
                           (F.col("__qs_path__") == F.col("__qs_dfp__"))
                           & (F.col("__qs_pos__") == F.col("__qs_dpos__")))
                 .select(*cols, F.col("__qs_kind__").alias("_change_type")),
                 None, v)

    # Change Data Files of ONE commit (protocol ``cdc`` actions, round
    # 10 — CDF-writer interop) already carry the exact change rows
    # plus a literal ``_change_type`` column (not a schema field: it
    # reads by name); their partition values rejoin from the cdc
    # actions' partitionValues exactly like adds. They coalesce like
    # inserts; the run keeps each file's literal _change_type and
    # stamps only the version
    cdc_run = feed.run(
        lambda cs, keep: _part([_abs(c["path"]) for c in cs], cs, scheme,
                               path=keep, dv=False,
                               extra=(("_change_type", StringType()),)),
        "__qs_path__", lambda c: os.path.abspath(_abs(c["path"])),
        keep_ctype=True)

    def _roll(adds, removes):
        # the pre-state moves forward by the commit's file actions
        # (removes before adds, the per-commit reconcile rule;
        # dataChange=false actions still change the live set)
        for k in removes:
            pre_live.pop(k, None)
        for k, a in adds.items():
            pre_live[k] = a

    for v in range(from_version, to_version + 1):
        # fold this commit's metaData forward BEFORE scanning it (a
        # commit that changes the partitioning writes its new files
        # under the new scheme in the same version), keeping the
        # PRE-commit scheme for the delete/DV sides whose files
        # predate the change
        prev_scheme = scheme
        c = _commit_parsed(table, v)
        adds, removes, cdcs = c.adds, c.removes, c.cdcs
        if c.meta is not None:
            # a run stays open across interrupting commits (their own
            # parts read their own files) until the table state its
            # scan reads under changes
            feed.flush()
        scheme = _scheme(c.meta, scheme)
        if cdcs:
            # Change Data Files are AUTHORITATIVE for their commit
            # (the jar's CDF reader rule): read them instead of
            # reconstructing from add/remove — which in such commits
            # would double-count (the writer records both the file
            # actions AND the cdc rows). The live-set fold below
            # still applies the commit's file actions.
            cdc_run.add(v, cdcs)
            _roll(adds, removes)
            continue
        ins_files, ins_adds = [], []
        dv_pairs = []
        for k, a in adds.items():
            if not a.get("dataChange", True):
                continue
            if k in pre_live:
                dv_pairs.append((k, a, pre_live[k]))
            else:
                ins_files.append(_abs(k))
                ins_adds.append(a)
        del_files, del_adds = [], []
        for k, r in removes.items():
            if not r.get("dataChange", True) or k in adds:
                continue
            old = pre_live.get(k)
            if old is None:
                raise ValueError(
                    f"version {v} removes {k!r} which is not live at "
                    f"version {v - 1} — malformed log")
            del_files.append(_abs(k))
            del_adds.append(old)
        if ins_files and not del_files and not dv_pairs:
            inserts.add(v, zip(ins_files, ins_adds))
            _roll(adds, removes)
            continue
        ins_df = _part(ins_files, ins_adds, scheme) if ins_files \
            else None
        del_df = _part(del_files, del_adds, prev_scheme) if del_files \
            else None
        # UPDATE pairing (round 9): a rewrite that declares its MERGE
        # key columns (commitInfo.operationParameters.keyColumns —
        # upsert_delta_local stamps them) queues for the shared
        # pairing pass; without them it stays delete + insert
        kc = None
        if ins_df is not None and del_df is not None:
            raw = (c.info.get("operationParameters")
                   or {}).get("keyColumns")
            if raw:
                try:
                    kc = list(json.loads(raw))
                except (ValueError, TypeError):
                    kc = None
                if kc and not all(k in ins_df.columns for k in kc):
                    kc = None          # schema drift: fall back
        if kc:
            feed.pair(v, kc, del_df, ins_df)
        else:
            if ins_df is not None:
                feed.add(ins_df, "insert", v)
            if del_df is not None:
                feed.add(del_df, "delete", v)
        if dv_pairs:
            _dv_delta_rows(v, dv_pairs, prev_scheme)
        _roll(adds, removes)

    def _empty():
        # the LOG's schema when it has one (a metadata-only range has
        # no live files for a scan to type from)
        empty = _empty_frame(spark, meta)
        return (read_delta_local(spark, table, to_version)
                if empty is None else empty)

    return feed.result(_empty)
