"""Pure-Python local Delta Lake tables — no delta-spark jar.

Extension source (the reference reads csv/parquet/iceberg/lance;
Delta rounds out the lakehouse trio). The Delta transaction log is
the simplest of the table formats: ``_delta_log/<20-digit>.json``
files of newline-delimited JSON actions (``protocol`` / ``metaData``
/ ``add`` / ``remove``), replayed in version order — state is simply
the set of added-and-not-removed files. That makes a spec-shaped
local implementation ~150 lines:

- :func:`read_delta_local` replays the log up to ``version`` (time
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
data files), and MERGE upserts work in both modes too (physical
scan → logical match → physical rewrite; round 10's id-mode
survivor scan resolves each file by its parquet field ids), and the
CHANGE FEED (read_delta_changes) handles BOTH modes — id mode routes
every change part through the same grouped field-id scan.
``metaData.schemaString`` is written spec-correctly (it IS Spark's
schema JSON) and read back for partition-column types; data columns
trust the parquet footers, which is what Spark's scan enforces
anyway.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time
import uuid


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


def _checkpoint_action_rows(path: str, columns=None):
    """Yield action dicts ({action name: payload}) from ONE
    checkpoint file — classic/multipart/v2-top-level parquet or the
    v2 JSON flavor. ``columns`` prunes the parquet read (txn and
    protocol lookups touch a handful of rows among potentially a
    million adds); a parquet file lacking every asked column yields
    nothing, exactly like the old schema check."""
    if path.endswith(".json"):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)
        return
    import pyarrow.parquet as pq
    names = pq.read_schema(path).names
    cols = ([c for c in columns if c in names]
            if columns is not None else None)
    if columns is not None and not cols:
        return
    t = pq.read_table(path, columns=cols)
    for r in t.to_pylist():
        yield {k: v for k, v in r.items() if v is not None}


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


def _read_checkpoint(paths: list) -> tuple[dict, dict]:
    """Load a checkpoint's full state: (live add-actions by path,
    metaData dict). ``paths`` are every checkpoint file at one
    version; they group into independent candidates
    (_checkpoint_candidates) and the FIRST one that reads completely
    wins — a candidate whose sidecar or part is missing falls back
    to the next instead of failing the read. Multi-part candidates
    concatenate their parts; V2 candidates read their top-level
    non-file actions and then every ``sidecar`` parquet under
    _delta_log/_sidecars/ (where the file actions live, per the V2
    Checkpoint spec). Driver-side pyarrow read — a checkpoint row is
    ~100 bytes of metadata per data file, so even a million-file
    table is ~100 MB here; a distributed scan would be the next step
    past that."""
    cands = _checkpoint_candidates(paths)
    if not cands:
        raise FileNotFoundError(
            f"no complete checkpoint candidate among {paths}")
    errors = []
    for cand in cands:
        try:
            return _read_checkpoint_candidate(cand)
        except (FileNotFoundError, OSError, ValueError) as e:
            errors.append(f"{[os.path.basename(p) for p in cand]}: "
                          f"{type(e).__name__}: {e}")
    raise FileNotFoundError(
        "every checkpoint candidate at this version failed to read: "
        + "; ".join(errors))


def _read_checkpoint_candidate(paths: list) -> tuple[dict, dict]:
    live, meta = {}, {}

    def absorb(r):
        nonlocal meta
        m = r.get("metaData")
        a = r.get("add")
        if m:
            meta = dict(m)
            if isinstance(meta.get("configuration"), list):
                # arrow map columns round-trip as pair lists
                meta["configuration"] = dict(meta["configuration"])
        if a:
            pv = a.get("partitionValues")
            if isinstance(pv, list):      # arrow map → list of pairs
                a["partitionValues"] = dict(pv)
            live[a["path"]] = a

    for p in paths:
        sidecars = []
        for r in _checkpoint_action_rows(p):
            sc = r.get("sidecar")
            if sc:
                sidecars.append(sc)
                continue
            absorb(r)
        sdir = os.path.join(os.path.dirname(p), "_sidecars")
        for sc in sidecars:
            # the spec allows absolute sidecar paths, possibly in the
            # file: URI form this codebase strips everywhere else
            sp = re.sub("^file:/+", "/", sc.get("path") or "")
            sp = sp if os.path.isabs(sp) else os.path.join(sdir, sp)
            if not os.path.exists(sp):
                raise FileNotFoundError(
                    f"{p}: sidecar {sc.get('path')!r} is missing — "
                    "the checkpoint state is incomplete")
            for r in _checkpoint_action_rows(sp):
                absorb(r)
    return live, meta


def _replay(table: str, version: int | None):
    """State at ``version`` (inclusive; None = latest): start from the
    newest checkpoint ≤ version when one exists, then replay the
    trailing JSON commits. Returns (live file paths, metaData dict,
    add keys, add actions) — all four lists ALIGNED (same sort), so
    upsert can remove by the exact key each file was added under."""
    commits, checkpoints = _scan_log(table)
    versions = sorted(set(commits) | set(checkpoints))
    if not versions:
        raise FileNotFoundError(f"empty _delta_log in {table}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} not in table {table}; have {versions}")
    live: dict = {}
    meta: dict = {}
    usable = sorted([v for v in checkpoints if v <= version],
                    reverse=True)
    base = -1
    cp_err = None
    # newest-first with fallback (review finding): an unreadable
    # checkpoint (e.g. a foreign writer's crash left only part 1 of
    # a 2-part set) must not brick the table when an older
    # checkpoint or the full JSON history can serve the same state —
    # the spec tells readers to ignore incomplete checkpoints
    for cv in usable:
        try:
            live, meta = _read_checkpoint(checkpoints[cv])
            base = cv
            cp_err = None
            break
        except (OSError, ValueError) as e:
            cp_err = e
            live, meta = {}, {}
    tail = [v for v in commits if base < v <= version]
    # the replay must be gapless: checkpoint (or 0) .. version
    expect = list(range(base + 1, version + 1))
    if tail != expect:
        if cp_err is not None:
            # the JSON history cannot cover and every usable
            # checkpoint failed — the checkpoint error is the root
            # cause, surface it
            raise cp_err
        missing = sorted(set(expect) - set(tail))
        raise FileNotFoundError(
            f"cannot reconstruct version {version} of {table}: JSON "
            f"commits {missing} are missing and no checkpoint at or "
            f"below covers them (log was cleaned up? write a newer "
            f"checkpoint first)")
    root = table.removeprefix("file://")
    for v in tail:
        # a commit is reconciled ATOMICALLY: buffer its file actions
        # and apply removes before adds. The spec keys reconciliation
        # by (path, dv uniqueId), so a DV-update commit may serialize
        # the add (new DV) BEFORE the remove (old DV) of the same
        # path — applied in file order that would pop the freshly
        # added entry and silently drop every row of the file.
        commit_adds: list = []
        commit_removes: list = []
        with open(_version_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    # an add carrying a deletionVector REPLACES the
                    # path's previous add (the DV-update commit shape);
                    # the scan applies the DV as a row-position
                    # anti-join (see _apply_deletion_vectors)
                    commit_adds.append(action["add"])
                elif "remove" in action:
                    commit_removes.append(action["remove"])
        for r in commit_removes:
            live.pop(r["path"], None)
        for a in commit_adds:
            live[a["path"]] = a
    conf = meta.get("configuration") or {}
    if isinstance(conf, list):  # arrow map → list of pairs
        conf = dict(conf)
        meta = dict(meta)
        meta["configuration"] = conf
    cm = conf.get("delta.columnMapping.mode")
    if cm and cm not in ("none", "name", "id"):
        # name mode resolves via the schema's physicalName metadata
        # (_column_mapping); id mode via per-file parquet field ids
        # (_id_mapping + the grouped scan in read_delta_local)
        raise NotImplementedError(
            f"delta.columnMapping.mode={cm!r} is not a protocol mode "
            "this reader knows (none/name/id)")
    pairs = sorted(
        ((k if os.path.isabs(k) else os.path.join(root, k)), k)
        for k in live)
    files = [f for f, _ in pairs]
    keys = [k for _, k in pairs]
    return files, meta, keys, [live[k] for k in keys]


def _commit_parsed(table: str, v: int) -> tuple[dict, dict,
                                                dict | None, dict,
                                                list]:
    """ONE pass over a commit file → ({path: add}, {path: remove},
    metaData | None, commitInfo, [cdc action, ...]) — the change feed
    and streaming source need all of them per version, and separate
    helpers would re-parse a 100k-add commit once per question. The
    ``cdc`` actions (protocol: Change Data Files under _change_data/,
    written by CDF-enabled writers for update/delete/merge commits)
    matter ONLY to the change feed; replay and the batch scan ignore
    them (they are dataChange=false by spec)."""
    adds: dict = {}
    removes: dict = {}
    md = None
    ci: dict = {}
    cdcs: list = []
    first = True
    with open(_version_path(table, v)) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "add" in action:
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                removes[action["remove"]["path"]] = action["remove"]
            elif "metaData" in action:
                md = action["metaData"]
            elif "cdc" in action:
                cdcs.append(action["cdc"])
            elif first and "commitInfo" in action:
                # first-line convention only — see _commit_info
                ci = action["commitInfo"] or {}
            first = False
    return adds, removes, md, ci, cdcs


def _commit_actions(table: str, v: int) -> tuple[dict, dict]:
    """One commit's file actions, buffered: ({path: add}, {path:
    remove}) — the per-commit parse shared by _replay, the change
    stream and the streaming source (reconciliation is per-commit,
    never per-line)."""
    adds, removes, _, _, _ = _commit_parsed(table, v)
    return adds, removes


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


# session-scoped memo of each data file's resolved field-id layout,
# keyed by (absolute path, mtime_ns, size) so an overwritten file
# re-resolves: at extreme file counts the per-file driver footer read
# is the id-mode scan's only super-constant metadata term, and Delta
# data files are immutable once committed — a repeat scan (time
# travel, retries, dashboards) should pay one os.stat per file, not
# one footer read. Entries are a handful of (int, str) pairs — KBs
# per 10k files, no eviction needed driver-side.
_ID_LAYOUT_CACHE: dict = {}


def _file_id_layout(f: str) -> dict:
    """{parquet field id: column name} for one data file, memoized
    per session (see _ID_LAYOUT_CACHE)."""
    import pyarrow.parquet as pq
    st = os.stat(f)
    key = (os.path.abspath(f), st.st_mtime_ns, st.st_size)
    hit = _ID_LAYOUT_CACHE.get(key)
    if hit is not None:
        return hit
    id2name = {}
    for fld in pq.read_schema(f):
        md = fld.metadata or {}
        fid = md.get(b"PARQUET:field_id")
        if fid is not None:
            id2name[int(fid)] = fld.name
    _ID_LAYOUT_CACHE[key] = id2name
    return id2name


def _id_mode_scan(spark, files, adds, idmap, root, with_path=False,
                  with_pos=False, apply_dv=True, extra_cols=()):
    """id-mode scan: resolve each file's columns by the PARQUET FIELD
    IDS in its footer (one KB-scale footer read per file on FIRST
    touch — repeat scans hit the session layout cache and pay only an
    os.stat), group files sharing a resolved id→name layout, scan
    each group natively, rename to the logical schema and union.
    Files may legitimately disagree on physical names (id mode exists
    for exactly that); a file missing a schema field id refuses
    loudly — guessing by name would read the wrong column.
    ``with_path`` adds a ``__qs_path__`` plain-path column (the
    partition rejoin / upsert survivor-scan hook); ``with_pos`` adds
    the ``_metadata.row_index`` as ``__qs_pos__`` and ``apply_dv=
    False`` keeps deleted rows — the change feed's DV-diff part needs
    the RAW rows to semi-join its new-minus-old positions against.
    ``extra_cols``: (name, DataType) pairs of UNMAPPED columns stored
    literally in the files (the change feed's ``_change_type`` in
    _change_data files — not a schema field, so it has no field id);
    they read and select by name verbatim."""
    from pyspark.sql.types import StructField, StructType

    from pyspark.sql import functions as F
    groups: dict = {}
    for f, a in zip(files, adds):
        id2name = _file_id_layout(f)
        if not id2name:
            raise ValueError(
                f"{f}: parquet schema carries no field ids at all — "
                "id-mode column resolution is impossible for this "
                "file (foreign writer?)")
        # a file may lack SOME schema ids — that is ordinary schema
        # evolution (the column was added after the file was written)
        # and null-fills, exactly like unmapped evolution; only an
        # id-less file refuses above
        key = tuple(sorted((i, id2name.get(i)) for i in idmap))
        groups.setdefault(key, []).append((f, a))
    parts = []
    for key, pairs in sorted(groups.items(),
                             key=lambda kv: str(kv[0])):
        phys = dict(key)
        gf = [f for f, _ in pairs]
        ga = [a for _, a in pairs]
        rs = StructType([StructField(phys[i], dt, True)
                         for i, (_n, dt) in sorted(idmap.items())
                         if phys[i] is not None]
                        + [StructField(n, dt, True)
                           for n, dt in extra_cols])
        d = spark.read.schema(rs).parquet(*gf)
        # materialize path/position BEFORE the DV anti-join: the
        # join output no longer resolves the scan's _metadata
        # pseudo-column, and positions must be the FILE positions
        # (DV survivors keep their original row_index)
        if with_path:
            d = d.withColumn("__qs_path__", _plain_path_col())
        if with_pos:
            d = d.withColumn("__qs_pos__",
                             F.col("_metadata.row_index"))
        if apply_dv:
            d = _apply_deletion_vectors(spark, d, gf, ga, root)
        cols = [(F.col(phys[i]) if phys[i] is not None
                 else F.lit(None).cast(dt)).alias(n)
                for i, (n, dt) in sorted(idmap.items())] \
            + [F.col(n) for n, _dt in extra_cols]
        if with_path:
            cols.append(F.col("__qs_path__"))
        if with_pos:
            cols.append(F.col("__qs_pos__"))
        parts.append(d.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _log_read_schema(meta: dict, pcols: list, cmap: dict | None = None):
    """The table's Spark read schema from the log's ``schemaString``,
    MINUS partition columns (they live in the log, not the files), or
    None when the log carries no usable schema (minimal fixtures —
    fall back to inference). Reading with the LOG's schema, not a
    sampled file's, is what makes schema evolution sound: a column
    added in a later version must surface (null for older files)
    even when inference happens to sample an old file — and it skips
    the footer-sampling pass entirely, which is not free at 100 TB
    file counts. With ``cmap`` (columnMapping name mode) the read
    schema uses the PHYSICAL parquet names; the caller renames back
    to logical after the scan."""
    from pyspark.sql.types import StructField, StructType
    try:
        full = StructType.fromJson(json.loads(meta["schemaString"]))
    except (KeyError, ValueError, TypeError):
        return None
    drop = set(pcols or [])
    fields = [StructField(cmap[f.name] if cmap else f.name,
                          f.dataType, f.nullable)
              for f in full.fields if f.name not in drop]
    return StructType(fields) if fields else None


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


def _partition_values_frame(spark, files, adds, pcols, ptypes,
                            pv_key=None):
    """Tiny broadcast-side frame (``__qs_path__``, *typed LOGICAL
    partition columns*) mapping each file's absolute path to its add
    action's partitionValues — the partition rejoin shared by the
    partitioned scan, the change feed, and the upsert rewrite.
    ``pv_key`` maps logical → the partitionValues KEY (physical name
    on mapped tables); identity by default. O(#files) driver rows,
    all string-typed then cast (inference would crash on an all-null
    column, e.g. every file under __HIVE_DEFAULT_PARTITION__)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType
    pv_key = pv_key or {c: c for c in pcols}
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


def _apply_row_tracking(spark, df, files, adds, meta,
                        fp_col=None, pos_col=None):
    """Serve the ROW TRACKING metadata columns (protocol §Row
    Tracking, round 12 — the Delta analog of Iceberg v3 row lineage):
    ``_row_id`` = the add action's baseRowId + the row's position,
    ``_row_commit_version`` = defaultRowCommitVersion, each
    overridden by a non-null MATERIALIZED value when the table's
    configuration names materialized columns (files rewritten by
    UPDATE/MERGE under the jar store per-row values there). One
    KB-scale broadcast of (path → baseRowId, defaultRowCommitVersion)
    joined onto the scan; pure arithmetic per row. DV-deleted rows
    are already gone and survivors keep position-stable ids.
    ``fp_col``/``pos_col`` (round 13): names of existing plain-path /
    row-position columns to use instead of deriving them from
    ``_metadata`` — the id-mode scan's unioned frame has no metadata
    columns but carries ``__qs_path__``/``__qs_pos__``; the named
    columns are preserved, the derived ones dropped as before."""
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
    drop = ["__qs_rtp__", "__qs_brid__", "__qs_dcv__",
            "__qs_mrid__", "__qs_mrcv__"]
    if fp_col is None:
        df = df.withColumn("__qs_rtfp__", _plain_path_col())
        fp_col = "__qs_rtfp__"
        drop.append("__qs_rtfp__")
    if pos_col is None:
        df = df.withColumn("__qs_rtpos__",
                           F.col("_metadata.row_index"))
        pos_col = "__qs_rtpos__"
        drop.append("__qs_rtpos__")
    df = df.join(F.broadcast(m),
                 F.col(fp_col) == F.col("__qs_rtp__"), "left")
    rid = F.col("__qs_brid__") + F.col(pos_col)
    rcv = F.col("__qs_dcv__")
    if mat_rid and mat_rid in df.columns:
        df = df.withColumnRenamed(mat_rid, "__qs_mrid__")
        rid = F.coalesce(F.col("__qs_mrid__"), rid)
    if mat_rcv and mat_rcv in df.columns:
        df = df.withColumnRenamed(mat_rcv, "__qs_mrcv__")
        rcv = F.coalesce(F.col("__qs_mrcv__"), rcv)
    return (df.withColumn("_row_id", rid.cast("long"))
            .withColumn("_row_commit_version", rcv.cast("long"))
            .drop(*drop))


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
    _check_read_protocol(_protocol_state(table, version))
    files, meta, _, adds = _replay(table, version)
    if not files:
        raise ValueError(
            f"Delta table {table} has no live files at version {version}")
    pcols, ptypes = _partition_schema(meta)
    # validate BEFORE any stats-pruning early return, so a bogus
    # partition_filter errors regardless of what scan_filter prunes
    if partition_filter and not pcols:
        raise ValueError("partition_filter on an unpartitioned table")
    cmap = _column_mapping(meta)
    idmap = _id_mapping(meta)
    if idmap:
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StructType
        root = table.removeprefix("file://")
        # row tracking under ID mode (round 13): the per-file-group
        # scan carries __qs_path__/__qs_pos__ and reads the
        # MATERIALIZED columns literally by their configured names
        # (they are physical columns outside the schema, so they
        # have no field ids); the shared arithmetic then serves
        # _row_id/_row_commit_version exactly like the plain path
        rt_extra = ()
        if with_row_tracking:
            rt_extra = tuple((c, LongType())
                             for c in _rt_col_names(meta) if c)
        # id-mode data skipping (round 13): stats keys are each
        # file's OWN physical names, so the logical filter column
        # resolves per file — logical name → schema field id → that
        # file's footer layout (already read + session-cached for
        # the scan's grouping). Missing layouts/stats keep the file;
        # the row-level filter below keeps semantics exact either way
        if scan_filter:
            name_to_fid = {nd[0]: i for i, nd in idmap.items()}

            def _per_file_cmap(f):
                try:
                    layout = _file_id_layout(f)
                except Exception:
                    return {}
                return {ln: layout[fid]
                        for ln, fid in name_to_fid.items()
                        if layout.get(fid)}
            pf, pa_ = _prune_by_stats(files, adds, scan_filter,
                                      cmap=_per_file_cmap)
            if pf:
                files, adds = pf, pa_
            else:
                full = StructType.fromJson(
                    json.loads(meta["schemaString"]))
                if full.fields:
                    if with_row_tracking:
                        full = full.add("_row_id", "long") \
                                   .add("_row_commit_version", "long")
                    return spark.createDataFrame([], full)
        if not pcols:
            df = _id_mode_scan(spark, files, adds, idmap, root,
                               with_path=with_row_tracking,
                               with_pos=with_row_tracking,
                               extra_cols=rt_extra)
            if with_row_tracking:
                df = _apply_row_tracking(
                    spark, df, files, adds, meta,
                    fp_col="__qs_path__", pos_col="__qs_pos__")
                df = df.drop("__qs_path__", "__qs_pos__")
            return df.filter(scan_filter) if scan_filter else df
        # PARTITIONED id mode (round 10): partition columns never
        # live in the data files, so only DATA columns resolve by
        # per-file field ids; partitionValues key by the SCHEMA's
        # physicalName — stable across files (only data columns may
        # vary physically in id mode), exactly like name mode
        phys = {f.name: p for f, p in _mapped_fields(
            meta, "id", "delta.columnMapping.physicalName")}
        pv_key = {c: phys[c] for c in pcols}
        mapping = _partition_values_frame(spark, files, adds, pcols,
                                          ptypes, pv_key)
        if partition_filter:
            keep = {r["__qs_path__"]
                    for r in mapping.filter(partition_filter)
                    .select("__qs_path__").collect()}
            kept = [(f, a) for f, a in zip(files, adds)
                    if os.path.abspath(f) in keep]
            files = [f for f, _ in kept]
            adds = [a for _, a in kept]
            if not files:
                full = StructType.fromJson(
                    json.loads(meta["schemaString"]))
                if with_row_tracking:
                    # empty results carry the SAME schema as
                    # non-empty ones (review finding)
                    full = full.add("_row_id", "long") \
                               .add("_row_commit_version", "long")
                return spark.createDataFrame([], full)
        data_idmap = {i: nd for i, nd in idmap.items()
                      if nd[0] not in pcols}
        df = _id_mode_scan(spark, files, adds, data_idmap, root,
                           with_path=True,
                           with_pos=with_row_tracking,
                           extra_cols=rt_extra)
        if with_row_tracking:
            df = _apply_row_tracking(
                spark, df, files, adds, meta,
                fp_col="__qs_path__", pos_col="__qs_pos__")
            df = df.drop("__qs_pos__")
        df = df.join(F.broadcast(mapping), "__qs_path__") \
               .drop("__qs_path__")
        full = StructType.fromJson(json.loads(meta["schemaString"]))
        df = df.select(*([f.name for f in full.fields]
                         + (["_row_id", "_row_commit_version"]
                            if with_row_tracking else [])))
        return df.filter(scan_filter) if scan_filter else df

    def _empty_typed():
        from pyspark.sql.types import StructType
        try:
            full = StructType.fromJson(json.loads(meta["schemaString"]))
        except (KeyError, ValueError):
            return None
        if not full.fields:
            return None
        if with_row_tracking:
            # empty results carry the SAME schema as non-empty ones
            full = full.add("_row_id", "long") \
                       .add("_row_commit_version", "long")
        return spark.createDataFrame([], full)

    if scan_filter:
        pf, pa_ = _prune_by_stats(files, adds, scan_filter, cmap=cmap)
        if pf:
            files, adds = pf, pa_
        else:
            empty = _empty_typed()
            if empty is not None:
                return empty
            # schema unknown: keep the files; the row filter below
            # still yields the correct (empty) result
    root = table.removeprefix("file://")
    rs = _log_read_schema(meta, pcols, cmap=cmap)
    if with_row_tracking and rs is not None:
        # the MATERIALIZED row-tracking columns (configuration-named
        # physical columns, never in schemaString) must be in the
        # read schema so coalesce can prefer them; files without them
        # null-fill and fall back to baseRowId arithmetic
        from pyspark.sql.types import LongType, StructField
        for c in _rt_col_names(meta):
            if c and c not in rs.fieldNames():
                rs = rs.add(StructField(c, LongType(), True))
    if not pcols:
        df = (spark.read.schema(rs).parquet(*files)
              if rs is not None else spark.read.parquet(*files))
        df = _apply_deletion_vectors(spark, df, files, adds, root)
        if with_row_tracking:
            df = _apply_row_tracking(spark, df, files, adds, meta)
        elif rs is None:
            # inference fallback: configured MATERIALIZED row-tracking
            # columns are metadata, never table columns — a plain
            # read must not surface them
            df = df.drop(*[c for c in _rt_col_names(meta) if c])
        if cmap:
            # physical parquet names → the logical schema the user
            # queries; the row filter below then sees logical names
            from pyspark.sql import functions as F
            df = df.select(*([F.col(phys).alias(logical)
                              for logical, phys in cmap.items()]
                             + (["_row_id", "_row_commit_version"]
                                if with_row_tracking else [])))
        return df.filter(scan_filter) if scan_filter else df
    from pyspark.sql import functions as F

    # one tiny mapping frame: (absolute file path, *typed values).
    # On a name-mapped table the partitionValues map keys by the
    # PHYSICAL partition-column name, per the protocol's column-
    # mapping rules — fetch by it, alias logical.
    pv_key = {c: (cmap[c] if cmap else c) for c in pcols}
    mapping = _partition_values_frame(spark, files, adds, pcols,
                                      ptypes, pv_key)
    if partition_filter:
        keep = {r["__qs_path__"]
                for r in mapping.filter(partition_filter)
                .select("__qs_path__").collect()}
        kept_pairs = [(f, a) for f, a in zip(files, adds)
                      if os.path.abspath(f) in keep]
        files = [f for f, _ in kept_pairs]
        adds = [a for _, a in kept_pairs]
        if not files:
            # empty-but-typed result with the full table schema
            # (plus the row-tracking columns when requested — empty
            # and non-empty results must agree)
            from pyspark.sql.types import StructType
            full = StructType.fromJson(json.loads(meta["schemaString"]))
            if with_row_tracking:
                full = full.add("_row_id", "long") \
                           .add("_row_commit_version", "long")
            return spark.createDataFrame([], full)
    # _metadata.file_path is a percent-ENCODED URI ("file:/…%2F…");
    # decode to the plain filesystem path the log/map uses. A literal
    # '+' in a path is a '+' in the URI (Hadoop encodes space as %20,
    # never '+'), but url_decode is form-decoding — protect it first.
    df = (spark.read.schema(rs).parquet(*files)
          if rs is not None else spark.read.parquet(*files))
    df = _apply_deletion_vectors(spark, df, files, adds, root)
    if with_row_tracking:
        df = _apply_row_tracking(spark, df, files, adds, meta)
    df = df.withColumn("__qs_path__", _plain_path_col())
    rt_cols = ["_row_id", "_row_commit_version"] \
        if with_row_tracking else []
    if cmap:
        # physical parquet names → logical for the DATA columns
        # (partition columns join back under logical names below)
        df = df.select("__qs_path__", *rt_cols,
                       *[F.col(cmap[l]).alias(l)
                         for l in cmap if l not in pcols])
    df = df.join(F.broadcast(mapping), "__qs_path__").drop("__qs_path__")
    # present columns in table-schema order (partition cols last in
    # the files, spec order in the schemaString)
    from pyspark.sql.types import StructType
    full = StructType.fromJson(json.loads(meta["schemaString"]))
    df = df.select(*[f.name for f in full.fields], *rt_cols)
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
_interval_cache: dict = {}


def _checkpoint_interval(table: str, version: int, actions: list) -> int:
    """The table's effective ``delta.checkpointInterval`` (default 10,
    like the jar; ≤0 disables). Cached per log directory so the
    common no-metaData commit costs a dict lookup; any ``metaData``
    action flowing through _commit refreshes the cache (config
    changes only ever enter the log that way). First sight of an
    existing table resolves via one bounded _replay — bounded because
    replay itself starts from the newest checkpoint."""
    key = os.path.abspath(_log_dir(table))
    for a in actions:
        m = a.get("metaData")
        if m is not None:
            conf = m.get("configuration") or {}
            try:
                _interval_cache[key] = int(
                    conf.get("delta.checkpointInterval",
                             CHECKPOINT_INTERVAL_DEFAULT))
            except (TypeError, ValueError):
                _interval_cache[key] = CHECKPOINT_INTERVAL_DEFAULT
    if key not in _interval_cache:
        try:
            _, meta, _, _ = _replay(table, version)
            conf = meta.get("configuration") or {}
            _interval_cache[key] = int(
                conf.get("delta.checkpointInterval",
                         CHECKPOINT_INTERVAL_DEFAULT))
        except Exception:
            return CHECKPOINT_INTERVAL_DEFAULT
    return _interval_cache[key]


def _maybe_checkpoint(table: str, version: int, actions: list) -> None:
    """Auto-checkpoint every ``delta.checkpointInterval`` commits
    (default 10), exactly like the jar — without this, a long-running
    streaming sink accumulates one JSON commit per batch and every
    ``last_txn_version`` handshake (and every read) replays O(total
    batches) JSON per batch, O(n²) over the sink's lifetime. With it,
    _replay/_txn_state start from the newest checkpoint and read at
    most ``interval`` trailing JSON files (test-pinned in
    tests/test_delta_checkpoint_auto.py). Best-effort: the data
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


# Incremental fold memo for _txn_state (round 14, guide §1.2 step 1:
# the sink handshake re-read the WHOLE trailing JSON history on every
# probe — a 50-batch sink run paid O(n^2) commit-file reads, and a
# long-running exactly-once sink pays its full history per batch).
# Keyed by table path; an entry records (folded version, stat
# signature of that version's commit file, txns). A later call folds
# only the commits AFTER the cached version. Correct under: log
# cleanup (txn state at v is immutable — removing older files cannot
# change it), table recreation (the recorded signature of the folded
# commit no longer matches -> full rebuild), gaps (the gapless tail
# check runs on the incremental range too), and new checkpoints (the
# cached state already covers their range).
_txn_fold_cache: dict = {}


def _commit_sig(table: str, v: int):
    try:
        st = os.stat(_version_path(table, v))
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _fold_txn_commit(table: str, v: int, txns: dict) -> None:
    with open(_version_path(table, v)) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            x = json.loads(line).get("txn")
            if x and x.get("appId") is not None:
                txns[x["appId"]] = max(
                    txns.get(x["appId"], -1), int(x["version"]))


def _txn_state(table: str, version: int | None = None,
               _scan=None) -> dict:
    """{appId: highest committed txn version} at ``version`` — the
    idempotence handshake streaming sinks use. Starts from the newest
    checkpoint's ``txn`` rows (persisted by write_checkpoint_local,
    so log cleanup cannot forget a sink's progress) and applies the
    trailing JSON commits' txn actions on top.

    Loud on unknowable state (the same gapless contract as _replay):
    a missing JSON tail, or a checkpoint without a ``txn`` column
    hiding cleaned commits, raises instead of returning a mark that
    may be too low — an under-reported high-water mark makes an
    "exactly-once" sink double-commit."""
    import pyarrow.parquet as pq
    commits, checkpoints = _scan or _scan_log(table)
    versions = sorted(set(commits) | set(checkpoints))
    if not versions:
        return {}
    if version is None:
        version = versions[-1]
    cached = _txn_fold_cache.get(table)
    if cached is not None:
        cv, sig, ctxns = cached
        # Hit ONLY in the checkpoint-free, fully-gapless case — the
        # one where the old path re-read the whole history and where
        # its loud-gap / foreign-checkpoint contracts cannot be in
        # play, so cached and uncached behavior are identical by
        # construction (a gap, a checkpoint, or a recreated table all
        # fall through to the full path).
        if cv <= version and sig is not None \
                and not any(c <= version for c in checkpoints) \
                and commits[:version + 1] == list(range(version + 1)) \
                and _commit_sig(table, cv) == sig:
            txns = dict(ctxns)
            for v in range(cv + 1, version + 1):
                _fold_txn_commit(table, v, txns)
            if version > cv:
                _txn_fold_cache[table] = (
                    version, _commit_sig(table, version), dict(txns))
            return txns
    txns: dict = {}
    usable = [v for v in checkpoints if v <= version]
    base = -1
    if usable:
        base = max(usable)
        # candidate-aware like _read_checkpoint (round 11): prefer a
        # candidate that CARRIES txn marks over demoting to a full
        # JSON replay — a foreign txn-less classic next to this
        # engine's v2 (txn inline) must use the v2, or every sink
        # handshake degrades to O(full history) per batch (review
        # finding); broken siblings fall back
        chosen = None                 # the winning candidate's txn dict
        demote_ok = False             # a txn-less candidate allows it
        errors: list = []
        for cand in _checkpoint_candidates(checkpoints[base]):
            try:
                # a v2 JSON checkpoint keeps non-file actions (incl.
                # txn) inline — the format implies completeness; a
                # PARQUET part lacking the txn column is a foreign
                # checkpoint that never recorded sink marks
                if any(not p.endswith(".json")
                       and "txn" not in pq.read_schema(p).names
                       for p in cand):
                    # foreign checkpoint without txn rows: usable
                    # only when the full JSON history below it still
                    # exists — keep looking for a sibling WITH marks
                    if set(commits).issuperset(range(base + 1)):
                        demote_ok = True
                        continue
                    raise ValueError(
                        f"checkpoint {base} of {table} carries "
                        "no txn column but covers cleaned "
                        "commits — the sink high-water mark is "
                        "unknowable (idempotent sinks on this "
                        "table may double-commit; "
                        "write_checkpoint_local resets the "
                        "marks to empty)")
                t: dict = {}
                for p in cand:
                    # column-pruned read: txn rows are a handful
                    # among potentially a million add rows
                    for r in _checkpoint_action_rows(
                            p, columns=["txn"]):
                        x = r.get("txn")
                        if x and x.get("appId") is not None:
                            t[x["appId"]] = max(
                                t.get(x["appId"], -1),
                                int(x["version"]))
                chosen = t
                break
            except (OSError, ValueError) as e:
                errors.append(e)
        if chosen is not None:
            txns = chosen
        elif demote_ok or set(commits).issuperset(range(base + 1)):
            # no candidate yielded marks (txn-less, broken, or an
            # incomplete multipart set with no siblings) but the
            # full JSON history exists — replay it
            base = -1
        elif errors:
            raise errors[-1]
        else:
            raise FileNotFoundError(
                f"no complete checkpoint candidate at version {base} "
                f"of {table} and the JSON history below is cleaned")
    tail = [v for v in commits if base < v <= version]
    if tail != list(range(base + 1, version + 1)):
        raise FileNotFoundError(
            f"cannot reconstruct txn state of {table} at {version}: "
            "JSON commits are missing and no checkpoint covers them")
    for v in tail:
        _fold_txn_commit(table, v, txns)
    # memoize only when ``version``'s own commit file exists (its stat
    # signature is the recreation guard); a checkpoint-only version
    # has nothing to sign and stays uncached
    sig = _commit_sig(table, version)
    if sig is not None and (tail and tail[-1] == version
                            or version in commits):
        _txn_fold_cache[table] = (version, sig, dict(txns))
    return txns


def _protocol_state(table: str, version: int | None = None,
                    _scan=None) -> dict:
    """The table's current ``protocol`` action (default reader 1 /
    writer 2): newest checkpoint's protocol row, then any later JSON
    protocol actions win."""
    commits, checkpoints = _scan or _scan_log(table)
    versions = sorted(set(commits) | set(checkpoints))
    proto = {"minReaderVersion": 1, "minWriterVersion": 2}
    if not versions:
        return proto
    if version is None:
        version = versions[-1]
    usable = [v for v in checkpoints if v <= version]
    base = -1
    if usable:
        base = max(usable)
        # candidate-aware like _read_checkpoint (round 11): the first
        # candidate that YIELDS a protocol row wins — a readable
        # sibling without the row (foreign checkpoint missing the
        # protocol column) must not stop the search, or the table's
        # feature gates silently fall back to the (1,2) default
        # (review finding); a broken sibling falls back too
        errors: list = []
        got = None
        read_ok = False
        for cand in _checkpoint_candidates(checkpoints[base]):
            try:
                g = None
                for p in cand:
                    for r in _checkpoint_action_rows(
                            p, columns=["protocol"]):
                        x = r.get("protocol")
                        if x and x.get("minReaderVersion") is not None:
                            g = {k: v for k, v in x.items()
                                 if v is not None}
                read_ok = True
                if g:
                    got = g
                    break
            except (OSError, ValueError) as e:
                errors.append(e)
        if got:
            proto = got
        elif set(commits).issuperset(range(base + 1)):
            # no candidate carried the row (or none was readable —
            # incl. an incomplete multipart set, empty candidates)
            # but the FULL JSON history exists: replay it instead
            base = -1
        elif not read_ok:
            raise (errors[-1] if errors else FileNotFoundError(
                f"no complete checkpoint candidate at version {base} "
                f"of {table} and the JSON history below is cleaned"))
        # else: readable checkpoint without a protocol row over a
        # cleaned history — a pre-features table; the (1,2) default
        # plus any trailing JSON protocol actions is faithful
    for v in commits:
        if not (base < v <= version):
            continue
        with open(_version_path(table, v)) as fh:
            for line in fh:
                # substring-gated: protocol actions are one line in a
                # potentially 100k-line commit — json-parsing every
                # line here would double _replay's log cost on every
                # read/write that validates the protocol
                if '"protocol"' not in line:
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    proto = action["protocol"]
    return proto


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


def _check_write_protocol(table: str, meta: dict | None,
                          data_change_removes: bool,
                          new_data: bool = True) -> None:
    """Spec compliance gate for writers, called by every public write
    path BEFORE any data lands: refuse unknown writer versions/
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
    proto = _protocol_state(table)
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
    redelivered micro-batch was already committed. Only a
    NOT-YET-EXISTING table maps to None; an unknowable state (gapped
    log, txn-less foreign checkpoint) propagates _txn_state's loud
    error — swallowing it would re-enable the double-commit the loud
    contract exists to prevent."""
    try:
        _scan_log(table)
    except FileNotFoundError:
        return None  # table does not exist yet — first commit
    return _txn_state(table).get(app_id)


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
    files, meta, keys, adds = _replay(table, None)
    _check_write_protocol(table, meta, data_change_removes=True,
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
            # footers now (cached per session)
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
    proto = _protocol_state(table)
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
    version = list_versions(table)[-1] + 1
    _commit(table, version, actions)
    return version


def _delete_cdc_actions(spark, root: str, meta: dict,
                        new_positions: dict, by_abs: dict) -> list:
    """Change Data Files for a DV-delete commit on a CDF-enabled
    table (round 10): scan the NEWLY deleted (file, position) rows —
    a distributed (path, row_index) semi-join, never a driver row
    path — and write them under _change_data/ with
    ``_change_type='delete'``. The change files follow data-file
    rules: physical column names on name-mapped tables; on id-mode
    tables (round 11) the pre-image rows resolve through the grouped
    field-id scan (each deleted file read by its OWN physical
    layout, raw — the positions being emitted are exactly the rows
    the new DV hides) and the change files land under the CURRENT
    schema's physicalName with parquet field ids stamped, the same
    convention the upsert path's cdc emission uses and _cdc_scan
    already resolves. Partition values ride in the cdc actions
    (hive layout), never in the files. The caller validates the
    preconditions (a live SparkSession) BEFORE writing any DV file —
    see delete_rows_delta_local — so a refusal never orphans on-disk
    state."""
    import uuid as _uuid

    from pyspark.sql import functions as F
    pcols, ptypes = _partition_schema(meta)
    cmap = _column_mapping(meta)
    idmap = _id_mapping(meta)
    files = sorted(new_positions)
    adds = [by_abs[f][1] for f in files]
    pos = spark.createDataFrame(
        [(f, int(p)) for f in files for p in new_positions[f]],
        "__qs_dfp__ string, __qs_dpos__ long")
    if idmap:
        data_idmap = {i: nd for i, nd in idmap.items()
                      if nd[0] not in pcols}
        scan = (_id_mode_scan(spark, files, adds, data_idmap, root,
                              with_path=True, with_pos=True,
                              apply_dv=False)
                .withColumnRenamed("__qs_path__", "__qs_fp__"))
    else:
        rs = _log_read_schema(meta, pcols, cmap=cmap)
        scan = (spark.read.schema(rs).parquet(*files)
                if rs is not None else spark.read.parquet(*files))
        scan = (scan.withColumn("__qs_fp__", _plain_path_col())
                .withColumn("__qs_pos__",
                            F.col("_metadata.row_index")))
    scan = scan.join(pos, (F.col("__qs_fp__") == F.col("__qs_dfp__"))
                     & (F.col("__qs_pos__") == F.col("__qs_dpos__")),
                     "left_semi").drop("__qs_pos__")
    id_mapping = None
    if idmap:
        # id-mode scan output is LOGICAL — rename to the current
        # schema's physical layout + stamp field ids, keeping the
        # path key and _change_type-to-be out of the mapping
        scan, id_mapping = _physical_projection(
            scan.withColumn("_change_type", F.lit("delete")),
            meta, "id", passthrough=("_change_type", "__qs_fp__"))
    out_pcols = []
    if pcols:
        if id_mapping:
            pv_key = {c: id_mapping[c][0] for c in pcols}
        elif cmap:
            pv_key = {c: cmap[c] for c in pcols}
        else:
            pv_key = {c: c for c in pcols}
        out_pcols = [pv_key[c] for c in pcols]
        mapping = (_partition_values_frame(spark, files, adds, pcols,
                                           ptypes, pv_key)
                   .withColumnRenamed("__qs_path__", "__qs_fp__"))
        # the change files' hive layout keys by the PHYSICAL name,
        # like every mapped write
        mapping = mapping.select(
            "__qs_fp__", *[F.col(c).alias(pv_key[c]) for c in pcols])
        scan = scan.join(F.broadcast(mapping), "__qs_fp__")
    scan = scan.drop("__qs_fp__")
    if not idmap:
        scan = scan.withColumn("_change_type", F.lit("delete"))
    d = os.path.join(root, "_change_data",
                     f"cdc-{_uuid.uuid4().hex[:12]}")
    w = scan.write
    if out_pcols:
        w = w.partitionBy(*out_pcols)
    w.parquet(d)
    out = []
    for p in sorted(os.path.join(dp, f)
                    for dp, _, fs in os.walk(d)
                    for f in fs if f.endswith(".parquet")):
        out.append({"cdc": {
            "path": os.path.relpath(p, root),
            "partitionValues": (_hive_partition_values(d, p)
                                if pcols else {}),
            "size": os.path.getsize(p),
            "dataChange": False}})
    return out


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
    cur_files, cur_meta, cur_keys, cur_adds = _replay(table, None)
    _check_write_protocol(table, cur_meta, data_change_removes=True,
                          new_data=False)
    tgt_files, tgt_meta, tgt_keys, tgt_adds = _replay(table, version)
    cur = dict(zip(cur_keys, cur_adds))
    tgt = dict(zip(tgt_keys, tgt_adds))
    missing = []
    for f, a in zip(tgt_files, tgt_adds):
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
    if tgt_meta is not None and tgt_meta != cur_meta:
        actions.append({"metaData": tgt_meta})

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
    newv = list_versions(table)[-1] + 1
    if not actions:
        return newv - 1                # already at the target state
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


def _domain_metadata(table: str, version: int | None = None) -> dict:
    """Latest ``domainMetadata`` action per domain at ``version``
    (protocol §Domain Metadata), TOMBSTONES INCLUDED (``removed``
    true) — callers filter. Replays from the newest usable checkpoint
    (classic parquet, multipart, or v2 top-level — domain metadata is
    a non-file action, never in sidecars) plus the trailing JSON
    commits; KB-scale driver work."""
    commits, checkpoints = _scan_log(table)
    versions = sorted(set(commits) | set(checkpoints))
    if not versions:
        return {}
    if version is None:
        version = versions[-1]
    out: dict = {}
    base = -1
    for cv in sorted([v for v in checkpoints if v <= version],
                     reverse=True):
        done = False
        for cand in _checkpoint_candidates(checkpoints[cv]):
            try:
                got: dict = {}
                for p in cand:
                    for r in _checkpoint_action_rows(
                            p, columns=["domainMetadata"]):
                        d = r.get("domainMetadata")
                        if d and d.get("domain"):
                            got[d["domain"]] = dict(d)
                out, base, done = got, cv, True
                break
            except (OSError, ValueError):
                continue
        if done:
            break
    for v in [c for c in commits if base < c <= version]:
        with open(_version_path(table, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                d = action.get("domainMetadata")
                if d and d.get("domain"):
                    out[d["domain"]] = dict(d)
    return out


def _row_tracking_base(table: str, proto: dict) -> int | None:
    """The next row id to assign, or None when the table does not
    carry the rowTracking writer feature. The high-water mark lives
    in the ``delta.rowTracking`` domain's configuration
    (rowIdHighWaterMark; -1 before any assignment)."""
    w = int(proto.get("minWriterVersion", 2))
    feats = (set(proto.get("writerFeatures") or []) if w == 7
             else set())
    if "rowTracking" not in feats:
        return None
    dm = _domain_metadata(table).get("delta.rowTracking")
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

    _check_write_protocol(table, None, data_change_removes=False)
    cur = _protocol_state(table)
    feats = set(cur.get("readerFeatures") or [])
    if "v2Checkpoint" not in feats \
            or int(cur.get("minReaderVersion", 1)) < 3:
        if version is not None:
            raise ValueError(
                "write_v2_checkpoint_local at an explicit version "
                "needs the table to already declare the v2Checkpoint "
                "feature — call with version=None to auto-upgrade")
        lr, lw = _legacy_features(cur)
        _commit(table, list_versions(table)[-1] + 1, [{"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(set(
                (cur.get("readerFeatures") or []) + lr
                + ["v2Checkpoint"])),
            "writerFeatures": sorted(set(
                (cur.get("writerFeatures") or []) + lw
                + ["v2Checkpoint"]))}}])
    scan = _scan_log(table)
    commits, checkpoints = scan
    versions = sorted(set(commits) | set(checkpoints))
    if version is None:
        version = versions[-1]
    _, meta, keys, adds = _replay(table, version)
    types = _cp_arrow_types()
    log = _log_dir(table)
    sdir = os.path.join(log, "_sidecars")
    os.makedirs(sdir, exist_ok=True)
    sname = f"{uuid.uuid4().hex}.parquet"
    sp = os.path.join(sdir, sname)
    pq.write_table(
        pa.Table.from_pylist(
            [{"add": _cp_add_payload(k, a)}
             for k, a in zip(keys, adds)],
            schema=pa.schema([("add", types["add"])])), sp)
    proto = _protocol_state(table, version, _scan=scan)
    try:
        txns = sorted(_txn_state(table, version, _scan=scan).items())
    except ValueError:
        txns = []
    acts = [{"checkpointMetadata": {"version": version}},
            {"protocol": proto},
            {"metaData": meta}]
    acts += [{"txn": {"appId": a_, "version": int(v_),
                      "lastUpdated": 0}} for a_, v_ in txns]
    acts += [{"domainMetadata": dict(d)} for d in sorted(
        _domain_metadata(table, version).values(),
        key=lambda x: x["domain"])]
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
                   "size": len(acts) + len(keys)}, fh)
    return version


def write_checkpoint_local(table: str, version: int | None = None) -> int:
    """Write a spec-shaped checkpoint parquet for ``version`` (None =
    latest) plus the ``_last_checkpoint`` pointer. After this the JSON
    commits at or below the checkpoint are no longer needed to read
    any version ≥ the checkpoint — the log-cleanup contract long-lived
    tables rely on (Delta checkpoints every 10 commits by default).
    Returns the checkpointed version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a checkpoint persists REPLAYED state with a fixed action schema
    # (protocol/metaData/txn/add): on a table using features this
    # engine doesn't implement it would snapshot misread state and
    # DROP the unknown features' auxiliary actions — after log
    # cleanup that broken state becomes authoritative. Refuse like
    # every other write path (no meta → usage checks don't apply;
    # _maybe_checkpoint catches this and skips, warning).
    _check_write_protocol(table, None, data_change_removes=False)
    scan = _scan_log(table)
    commits, checkpoints = scan
    versions = sorted(set(commits) | set(checkpoints))
    if version is None:
        version = versions[-1]
    _, meta, keys, adds = _replay(table, version)
    types = _cp_arrow_types()
    pv_t, add_t = types["pv"], types["add"]
    meta_t, proto_t, txn_t = types["meta"], types["proto"], types["txn"]
    cur_proto = _protocol_state(table, version, _scan=scan)
    rows = [{"protocol": {
                "minReaderVersion": int(cur_proto.get("minReaderVersion",
                                                      1)),
                "minWriterVersion": int(cur_proto.get("minWriterVersion",
                                                      2)),
                "readerFeatures": cur_proto.get("readerFeatures"),
                "writerFeatures": cur_proto.get("writerFeatures")},
             "metaData": None, "add": None, "txn": None},
            {"protocol": None,
             "metaData": {
                 "id": meta.get("id", str(uuid.uuid4())),
                 "format": {"provider": "parquet"},
                 "schemaString": meta.get("schemaString", "{}"),
                 "partitionColumns": meta.get("partitionColumns") or [],
                 "configuration": meta.get("configuration") or {},
                 "createdTime": meta.get("createdTime",
                                         int(time.time() * 1000))},
             "add": None, "txn": None}]
    # persist sink progress: without these rows, log cleanup would
    # erase an idempotent writer's high-water mark and a restarted
    # stream could double-commit. An UNKNOWABLE prior state (txn-less
    # foreign checkpoint over cleaned commits) resets to empty — the
    # marks are already lost; a fresh checkpoint at least
    # re-establishes a consistent state going forward.
    try:
        txn_rows = sorted(_txn_state(table, version,
                                    _scan=scan).items())
    except ValueError:
        txn_rows = []
    for app_id, tv in txn_rows:
        rows.append({"protocol": None, "metaData": None, "add": None,
                     "txn": {"appId": app_id, "version": int(tv),
                             "lastUpdated": 0}})
    # domain metadata (round 12): a checkpoint is the authoritative
    # state after log cleanup — dropping domains would erase e.g. the
    # row-tracking high-water mark; tombstones persist per spec
    for d in sorted(_domain_metadata(table, version).values(),
                    key=lambda x: x["domain"]):
        rows.append({"protocol": None, "metaData": None, "add": None,
                     "txn": None,
                     "domainMetadata": {
                         "domain": d["domain"],
                         "configuration": d.get("configuration"),
                         "removed": bool(d.get("removed"))}})
    for k, a in zip(keys, adds):
        rows.append({"protocol": None, "metaData": None,
                     "add": _cp_add_payload(k, a)})
    tbl = pa.Table.from_pylist(rows, schema=pa.schema(
        [("protocol", proto_t), ("metaData", meta_t), ("add", add_t),
         ("txn", txn_t), ("domainMetadata", types["dm"])]))
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
        versions = list_versions(table)
    except FileNotFoundError:
        versions = []
    version = (versions[-1] + 1) if versions else 0
    # validate + resolve schema/partition evolution BEFORE the
    # distributed write: a refused commit must not burn a full data
    # write and orphan its directory
    live_keys: list = []
    evolve: list = []
    ident_updates: dict = {}
    if version > 0:
        _, meta, live_keys, _ = _replay(table, None)
        _check_write_protocol(table, meta,
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
    if mode == "overwrite" and versions:
        # remove by the exact path KEY each add used (absolute for
        # referenced-in-place files, relative for table-local data)
        for k in live_keys:
            actions.append({"remove": {"path": k,
                                       "deletionTimestamp": ts,
                                       "dataChange": True}})
    # row tracking (round 12, protocol §Row Tracking): hand every new
    # file a fresh baseRowId range off the domain high-water mark and
    # advance the mark IN THE SAME COMMIT (losing the mark would hand
    # the next writer the same range — duplicate row ids)
    next_rid = None
    if version > 0:
        next_rid = _row_tracking_base(table, _protocol_state(table))
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
    files, meta, keys, _ = _replay(table, None)
    # compaction removes are dataChange=false — allowed on appendOnly
    _check_write_protocol(table, meta, data_change_removes=False,
                          new_data=False)
    if not files:
        raise ValueError(f"Delta table {table} has no live files")
    root = table.removeprefix("file://")
    pcols = meta.get("partitionColumns") or []
    cm = _cm_mode(meta)
    rt_base = _row_tracking_base(table, _protocol_state(table))
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
        df = (read_delta_local(spark, table, with_row_tracking=True)
              .withColumnRenamed("_row_id", mat_rid)
              .withColumnRenamed("_row_commit_version", mat_rcv))
    else:
        df = read_delta_local(spark, table)
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
    version = list_versions(table)[-1] + 1
    ts = int(time.time() * 1000)
    actions: list = []
    if meta_update is not None:
        actions.append({"metaData": meta_update})
    for k in keys:
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
    versions = list_versions(table)
    kept = versions[-keep_last:]
    referenced = set()
    for v in kept:
        files, _, _, adds = _replay(table, v)
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
    semi-join of the live scan's ``_metadata.file_path`` against the
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
    (the grouped _id_mode_scan), and the rewrite stamps fresh ids."""
    import uuid
    from pyspark.sql import functions as F
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    root = table.removeprefix("file://")
    files, meta, live_keys, adds = _replay(table, None)
    _check_write_protocol(table, meta, data_change_removes=True)
    # row tracking (round 12): the merge PRESERVES row identity the
    # jar's way — survivors and single-match updated rows materialize
    # their ids into the rewritten/appended files (reader coalesces
    # materialized over baseRowId arithmetic); genuine inserts and
    # multi-row replacements take fresh ids, as the spec permits.
    # column mapping composes in BOTH modes (round 13): the
    # materialized columns are PHYSICAL names per protocol and pass
    # through the physical projection literally; the id-mode live
    # scan carries positions and reads them by name.
    rt_base = _row_tracking_base(table, _protocol_state(table))
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
    cmap = _column_mapping(meta)
    idmap = _id_mapping(meta)
    if idmap:
        # id mode (round 10): files may each use different physical
        # names, so the survivor scan resolves per file by parquet
        # field ids; partition columns (never in the files) rejoin
        # below under the SCHEMA's stable physicalName. Row tracking
        # (round 13): positions + literal-name materialized columns
        # ride the per-file-group scan, same arithmetic as the plain
        # path.
        from pyspark.sql.types import LongType
        data_idmap = {i: nd for i, nd in idmap.items()
                      if nd[0] not in pcols}
        rt_extra = tuple((c, LongType())
                         for c in (mat_rid, mat_rcv) if c) \
            if rt_base is not None else ()
        live = _id_mode_scan(spark, files, adds, data_idmap, root,
                             with_path=True,
                             with_pos=rt_base is not None,
                             extra_cols=rt_extra)
        if rt_base is not None:
            live = _apply_row_tracking(
                spark, live, files, adds, meta,
                fp_col="__qs_path__", pos_col="__qs_pos__") \
                .drop("__qs_pos__")
            # names GENERATED this commit are not in the replayed
            # meta, so _apply_row_tracking left their null-read
            # columns in place — drop them (no-op when the meta
            # already configured them: they were consumed above),
            # else the survivor rename to the same name would
            # produce an ambiguous duplicate
            live = live.drop(*[c for c, _ in rt_extra])
        live = live.withColumn("__qs_file__", F.col("__qs_path__"))
        if not pcols:
            live = live.drop("__qs_path__")
    else:
        # scan with the LOG's schema: after schema evolution,
        # inference could sample a pre-evolution file and the
        # survivor rewrite would silently drop the newer columns
        # from rewritten files
        rs = _log_read_schema(meta, pcols, cmap=cmap)
        if rt_base is not None and rs is not None:
            # materialized row-tracking columns must be readable so
            # survivors keep ids a previous rewrite already pinned
            from pyspark.sql.types import LongType, StructField
            for c in (mat_rid, mat_rcv):
                if c not in rs.fieldNames():
                    rs = rs.add(StructField(c, LongType(), True))
        live = (spark.read.schema(rs).parquet(*files)
                if rs is not None else spark.read.parquet(*files))
        # DV-deleted rows must not survive into rewritten files
        live = _apply_deletion_vectors(spark, live, files, adds, root) \
            .withColumn("__qs_file__", F.col("_metadata.file_path"))
        if rt_base is not None:
            live = _apply_row_tracking(spark, live, files, adds, meta)
            # names GENERATED this commit are not in the replayed
            # meta, so _apply_row_tracking left their null-read
            # columns in place (review finding: the first MERGE on
            # an unconfigured rowTracking table crashed with
            # COLUMN_ALREADY_EXISTS at the survivor rename) — drop
            # them; no-op when the meta already configured them
            live = live.drop(*[c for c in (mat_rid, mat_rcv) if c])
        if pcols:
            live = live.withColumn("__qs_path__", _plain_path_col())
        if cmap:
            # name mode (round 9): rename physical → logical for the
            # key match; row-tracking metadata columns (round 13)
            # ride along under their literal names
            keep = ["__qs_file__"] + (["__qs_path__"] if pcols else []) \
                + (["_row_id", "_row_commit_version"]
                   if rt_base is not None else [])
            live = live.select(*keep,
                               *[F.col(cmap[l]).alias(l) for l in cmap
                                 if l not in pcols])
    if pcols:
        # partitioned tables (round 9): rejoin the log's partition
        # values so the key match and the survivor rewrite see the
        # full logical row (survivors re-partition by them below)
        if cm != "none":
            phys = {f.name: p for f, p in _mapped_fields(
                meta, cm, "delta.columnMapping.physicalName")}
            pv_key = {c: phys[c] for c in pcols}
        else:
            pv_key = {c: c for c in pcols}
        live = (live.join(F.broadcast(_partition_values_frame(
                    spark, files, adds, pcols, ptypes, pv_key)),
                    "__qs_path__")
                .drop("__qs_path__"))
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
    affected = [r["__qs_file__"]
                for r in (live.join(new_keys, keys, "left_semi")
                          .select("__qs_file__").distinct().collect())]

    def _plain(u: str) -> str:
        # _metadata.file_path is a URI ("file:/tmp/..." — scheme with
        # a SINGLE slash); compare as filesystem paths
        from urllib.parse import urlparse
        return urlparse(u).path if u.startswith("file:") else u

    affected_set = {_plain(a) for a in affected}
    version = list_versions(table)[-1] + 1
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

    if affected_set:
        survivors = (live.filter(F.col("__qs_file__").isin(list(affected)))
                     .drop("__qs_file__")
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
        for k, fpath in zip(live_keys, files):
            if _plain(fpath) in affected_set \
                    or os.path.abspath(fpath) in affected_set:
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
            base = live_cdc.filter(
                F.col("__qs_file__").isin(list(affected)))
            mk = base.select(*keys).join(new_keys, keys,
                                         "left_semi").distinct()
            pre = (base.drop("__qs_file__")
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
        d = os.path.join(root, "_change_data", f"cdc-{tag}")
        out_pcols = pcols
        if cm != "none":
            cdc, mapping = _physical_projection(
                cdc, meta, cm, passthrough=("_change_type",))
            out_pcols = [mapping[c][0] for c in pcols]
        w = cdc.write
        if out_pcols:
            w = w.partitionBy(*out_pcols)
        w.parquet(d)
        for p in sorted(os.path.join(dp, f)
                        for dp, _, fs in os.walk(d)
                        for f in fs if f.endswith(".parquet")):
            actions.append({"cdc": {
                "path": os.path.relpath(p, root),
                "partitionValues": (_hive_partition_values(d, p)
                                    if pcols else {}),
                "size": os.path.getsize(p),
                "dataChange": False}})
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
    versions = list_versions(table)
    if to_version is None:
        to_version = versions[-1]
    _check_read_protocol(_protocol_state(table, to_version))
    if from_version > to_version:
        raise ValueError(f"from_version {from_version} > to_version "
                         f"{to_version}")
    # the replay needs the JSON commit BODIES — a checkpoint-only
    # version (its commit cleaned up) cannot contribute change rows
    json_commits = set(_scan_log(table)[0])
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
    _, meta, _, _ = _replay(table, to_version)
    if from_version > 0:
        _, cur_meta, pre_keys, pre_adds = _replay(table,
                                                  from_version - 1)
        pre_live = dict(zip(pre_keys, pre_adds))
    else:
        cur_meta, pre_live = None, {}
    end_cm = _cm_mode(meta)
    # name-mode mapping (round 9): the END meta's mapping is a
    # superset of every version's (physical names never change for an
    # existing column; later columns null-fill in older files)
    cmap = _column_mapping(meta)
    # id-mode mapping (round 10): data columns resolve PER FILE by
    # parquet field ids (the grouped _id_mode_scan — the same engine
    # as the batch reader and the upsert survivor scan); partition
    # columns never live in the data files, so partitionValues key by
    # the SCHEMA's stable physicalName, exactly like the batch path
    idmap = _id_mapping(meta)
    id_phys = ({f.name: p for f, p in _mapped_fields(
        meta, "id", "delta.columnMapping.physicalName")}
        if idmap else None)
    root = table.removeprefix("file://")
    # output column order: the to_version schema (None for minimal
    # fixtures → whatever the scans infer)
    try:
        from pyspark.sql.types import StructType
        schema_cols = [f.name for f in StructType.fromJson(
            json.loads(meta["schemaString"])).fields]
    except (KeyError, ValueError, TypeError):
        schema_cols = None
    # PER-VERSION partition metadata (round 9): partition values live
    # in the LOG and the active partitionColumns can CHANGE inside the
    # range (an overwrite may repartition), so each version's scan
    # reads with the columns ITS files store and rejoins the rest as
    # typed columns from its adds' partitionValues — tracked by
    # folding metaData actions forward, one KB-scale check per commit
    state = {"pcols": [], "ptypes": {}, "rs": None}

    def _set_meta(m):
        if m is None:
            return
        if _cm_mode(m) != end_cm:
            raise NotImplementedError(
                "read_delta_changes: the range crosses a columnMapping "
                "MODE change — unsupported")
        pc, pt = _partition_schema(m)
        state["pcols"], state["ptypes"] = pc, pt
        # scan with the to_version schema MINUS this version's
        # partition columns — evolution null-fill + no rejoin clash;
        # physical names on mapped tables (id mode resolves per file
        # instead — _id_mode_scan builds each group's own schema)
        state["rs"] = (None if idmap
                       else _log_read_schema(meta, pc, cmap=cmap))

    _set_meta(cur_meta)

    def _scan_raw(files, st):
        rs = st["rs"]
        return (spark.read.schema(rs).parquet(*files)
                if rs is not None else spark.read.parquet(*files))

    def _abs(k):
        return k if os.path.isabs(k) else os.path.join(root, k)

    def _rejoin(df, files_, adds_, st, on="__qs_path__"):
        """Join the typed partition values of ``files_`` (from their
        actions, keyed by physical name on mapped tables) back onto
        ``df`` by its plain-path column ``on``."""
        if not st["pcols"]:
            return df
        pv_key = ({c: id_phys[c] for c in st["pcols"]} if idmap
                  else {c: (cmap[c] if cmap else c) for c in st["pcols"]})
        mapping = _partition_values_frame(
            spark, files_, adds_, st["pcols"], st["ptypes"], pv_key)
        if on != "__qs_path__":
            mapping = mapping.withColumnRenamed("__qs_path__", on)
        return df.join(F.broadcast(mapping), on)

    def _part(files_, adds_, st, keep_path=False):
        """One change part: DV filter FIRST (it reads _metadata off
        the raw scan), then the name-mapping rename and the partition
        rejoin project the full logical schema. ``st`` is the
        partition scheme the part's FILES were written under — the
        post-commit scheme for the insert side, the PRE-commit scheme
        for the delete/DV sides (a repartitioning overwrite removes
        files whose partitionValues key by the old scheme).
        ``keep_path`` retains ``__qs_path__`` for the coalesced
        insert path's per-file version stamping."""
        if idmap:
            # id mode: per-file field-id resolution (DVs applied per
            # layout group inside the scan)
            data_idmap = {i: nd for i, nd in idmap.items()
                          if nd[0] not in st["pcols"]}
            df = _id_mode_scan(spark, files_, adds_, data_idmap,
                               root, with_path=True)
        else:
            df = _apply_deletion_vectors(spark, _scan_raw(files_, st),
                                         files_, adds_, root)
            if not st["pcols"] and not cmap:
                return (df.withColumn("__qs_path__", _plain_path_col())
                        if keep_path else df)
            df = df.withColumn("__qs_path__", _plain_path_col())
            if cmap:
                df = df.select("__qs_path__",
                               *[F.col(cmap[l]).alias(l) for l in cmap
                                 if l not in st["pcols"]])
        df = _rejoin(df, files_, adds_, st)
        if keep_path:
            return (df.select("__qs_path__", *schema_cols)
                    if schema_cols else df)
        df = df.drop("__qs_path__")
        return df.select(*schema_cols) if schema_cols else df

    feed = ChangeFeed(spark, "_commit_version", "long",
                      cancel=_cancel_survivors)
    # a streaming sink's history is hundreds of consecutive pure-insert
    # commits: they coalesce into one run (changes.py), items are
    # (path, add) pairs
    inserts = feed.run(
        lambda items, keep: _part([f for f, _ in items],
                                  [a for _, a in items], state,
                                  keep_path=keep),
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
        files = [r[0] for r in rows]

        new_adds = [na for _, na, _ in pairs]
        at_pos = ((F.col("__qs_fp__") == F.col("__qs_dfp__"))
                  & (F.col("__qs_pos__") == F.col("__qs_dpos__")))
        if idmap:
            # id mode: RAW per-file-resolved rows (apply_dv=False —
            # the join below picks exactly the DV-delta positions,
            # tagged delete/insert), then the same rejoin as _part
            data_idmap = {i: nd for i, nd in idmap.items()
                          if nd[0] not in st["pcols"]}
            scan = (_id_mode_scan(spark, files, new_adds, data_idmap,
                                  root, with_path=True, with_pos=True,
                                  apply_dv=False)
                    .withColumnRenamed("__qs_path__", "__qs_fp__")
                    .join(positions, at_pos, "inner"))
        else:
            scan = (_scan_raw(files, st)
                    .withColumn("__qs_fp__", _plain_path_col())
                    .withColumn("__qs_pos__", F.col("_metadata.row_index"))
                    .join(positions, at_pos, "inner"))
            if cmap:
                scan = scan.select(
                    "__qs_fp__", "__qs_kind__",
                    *[F.col(cmap[l]).alias(l) for l in cmap
                      if l not in st["pcols"]])
        scan = _rejoin(scan, files, new_adds, st, "__qs_fp__").drop(
            "__qs_fp__", "__qs_pos__", "__qs_dfp__", "__qs_dpos__")
        cols = (schema_cols if schema_cols
                else [c for c in scan.columns if c != "__qs_kind__"])
        feed.add(scan.select(*cols,
                             F.col("__qs_kind__").alias("_change_type")),
                 None, v)

    def _cdc_scan(cdcs, st, keep_path=False):
        """Change Data Files of ONE commit (protocol ``cdc`` actions,
        round 10 — CDF-writer interop): the files under _change_data/
        already carry the exact change rows plus a literal
        ``_change_type`` column, so they scan directly — mapped
        tables translate data columns (name mode by rename, id mode
        per file by field ids; _change_type is NOT a schema field and
        reads by name), partition values rejoin from the cdc actions'
        partitionValues exactly like adds. ``keep_path`` (round 13)
        also returns ``__qs_path__`` for the coalesced run's per-file
        version stamp."""
        from pyspark.sql.types import StringType, StructField, StructType
        files_ = [_abs(c["path"]) for c in cdcs]
        ct = [("_change_type", StringType())]
        if idmap:
            data_idmap = {i: nd for i, nd in idmap.items()
                          if nd[0] not in st["pcols"]}
            df = _id_mode_scan(spark, files_, cdcs, data_idmap, root,
                               with_path=True, apply_dv=False,
                               extra_cols=ct)
        else:
            rs = st["rs"]
            if rs is not None:
                rs = StructType(list(rs.fields) + [
                    StructField("_change_type", StringType(), True)])
                df = spark.read.schema(rs).parquet(*files_)
            else:
                df = spark.read.parquet(*files_)
            df = df.withColumn("__qs_path__", _plain_path_col())
            if cmap:
                df = df.select(
                    "__qs_path__", "_change_type",
                    *[F.col(cmap[l]).alias(l) for l in cmap
                      if l not in st["pcols"]])
        df = _rejoin(df, files_, cdcs, st)
        cols = (schema_cols if schema_cols
                else [c for c in df.columns
                      if c not in ("_change_type", "__qs_path__")])
        return df.select(*(["__qs_path__"] if keep_path else []), *cols,
                         "_change_type")

    # Change Data Files coalesce like inserts; the run keeps each
    # file's literal _change_type and stamps only the version
    cdc_run = feed.run(lambda cs, keep: _cdc_scan(cs, state, keep),
                       "__qs_path__",
                       lambda c: os.path.abspath(_abs(c["path"])),
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
        prev_state = dict(state)
        adds, removes, commit_md, commit_ci, cdcs = _commit_parsed(
            table, v)
        if commit_md is not None:
            # a run stays open across interrupting commits (their own
            # parts read their own files) until the table state its
            # scan reads under changes
            feed.flush()
        _set_meta(commit_md)
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
        ins_df = _part(ins_files, ins_adds, state) if ins_files \
            else None
        del_df = _part(del_files, del_adds, prev_state) if del_files \
            else None
        # UPDATE pairing (round 9): a rewrite that declares its MERGE
        # key columns (commitInfo.operationParameters.keyColumns —
        # upsert_delta_local stamps them) queues for the shared
        # pairing pass; without them it stays delete + insert
        kc = None
        if ins_df is not None and del_df is not None:
            raw = (commit_ci.get("operationParameters")
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
            _dv_delta_rows(v, dv_pairs, prev_state)
        _roll(adds, removes)

    def _empty():
        # the LOG's schema when it has one (a metadata-only range has
        # no live files for a scan to type from)
        try:
            from pyspark.sql.types import StructType
            return spark.createDataFrame([], StructType.fromJson(
                json.loads(meta["schemaString"])))
        except (KeyError, ValueError, TypeError):
            return read_delta_local(spark, table, to_version)

    return feed.result(_empty)
