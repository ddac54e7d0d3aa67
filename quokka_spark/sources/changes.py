"""One change-feed assembler for the lake change readers.

``read_delta_changes``, ``read_iceberg_changes`` and
``read_hudi_incremental`` each walk their own commit metadata (Delta
log actions, Iceberg manifests, the Hudi timeline), classify every
commit and refuse the shapes they cannot reconstruct. What they emit
is assembled here, once, by a :class:`ChangeFeed`:

- **Coalesced runs.** Consecutive insert-only commits scan as ONE
  part: their files are collected with each commit's stamp, scanned
  once, and a broadcast (path -> stamp) join stamps each file's rows.
  One union branch per commit would make the plan an N-way union
  whose Catalyst analysis cost grows super-linearly with N. The part
  is pinned at the position of the run's first commit, so the part
  order stays chronological however late the run flushes. The caller
  passes the scan's path column together with the Python normalizer
  that keys the stamp map: the two must agree byte for byte, because
  a mismatch makes the inner join silently drop the whole run.
- **Update pairing.** Every keyed upsert commit of the range (its
  MERGE keys declared in the commit metadata) goes through ONE window
  pass, partitioned by (stamp, merge keys, salt). A key pairs as
  ``update_preimage``/``update_postimage`` when it keeps rows on both
  sides; the other rows stay ``delete``/``insert``. Rows with a NULL
  merge-key column always stay delete/insert, as MERGE ON never
  matches NULL. Those rows never read their window flags, so they get
  a deterministic per-row salt, xxhash64 over the row's hashable
  columns (xxhash64 rejects a MAP anywhere in a type), and do not
  funnel through one window task; keyed rows keep salt 0. What the
  salt cannot fix: all rows of one hot NON-NULL key in one commit
  still land in one window partition, so a commit that rewrites a
  million rows under a single key runs that window in one task.
  Delta alone cancels byte-identical survivors (a count step in front
  of the pass, ``delta_local._cancel_survivors``): a Delta rewrite
  removes a whole file and re-adds every row it keeps, so unchanged
  rows come back on both sides. Iceberg position deletes name exactly
  the replaced rows, so its sides feed one row per change and nothing
  may cancel (an upsert that re-writes a row with equal values is
  still an update there).
- **Tagging, the final union and the typed-empty result.** Every part
  carries the data columns, ``_change_type`` and the format's stamp
  column (``_commit_version``, ``_snapshot_id`` or
  ``_commit_instant``).
"""
from __future__ import annotations

from pyspark.sql import functions as F

_PRE = "__qs_pre__"          # 1 on the pre-image side, 0 on the post
_PRE_N = "__qs_pre_n__"      # copies of a row value on each side
_POST_N = "__qs_post_n__"
_STAMP = "__qs_stamp__"


def _stamp_provenance(spark, df, rows, path_col: str,
                      stamp_name: str, stamp_type: str, ctype):
    """Join a broadcast (path -> stamp) map onto a coalesced run's
    scan and project (data..., _change_type, stamp). ``rows`` is
    [(path key, stamp)]; the keys must come from the normalizer that
    produced ``df[path_col]``. ``ctype=None`` keeps the scan's own
    ``_change_type`` column (Delta Change Data Files carry the literal
    change type per row; only the commit is stamped per file)."""
    m = spark.createDataFrame(
        rows, f"{path_col} string, {_STAMP} {stamp_type}")
    out = df.join(F.broadcast(m), path_col).drop(path_col)
    ct = (F.col("_change_type") if ctype is None else F.lit(ctype))
    data_cols = [c for c in out.columns
                 if c not in (_STAMP, "_change_type")]
    return out.select(*data_cols, ct.alias("_change_type"),
                      F.col(_STAMP).alias(stamp_name))


def _hashable(dt) -> bool:
    """False when xxhash64 rejects the type: a MAP at any depth."""
    from pyspark.sql.types import ArrayType, MapType, StructType
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def _one_row_per_side(rows, group_cols):
    return rows.select(*group_cols, F.col(_PRE).alias(_PRE_N),
                       (F.lit(1) - F.col(_PRE)).alias(_POST_N))


class _Run:
    """Consecutive commits whose files scan as one part. ``scan(items,
    keep_path)`` builds the scan of a run's items; with ``keep_path``
    it must also emit ``path_col``, whose values equal ``norm(item)``
    for the item each row came from."""

    def __init__(self, feed, scan, path_col, norm, ctype):
        self.feed, self.scan = feed, scan
        self.path_col, self.norm, self.ctype = path_col, norm, ctype
        self.entries: list = []          # [(stamp, [items])]
        self.slot = None

    def add(self, stamp, items) -> None:
        if not self.entries:
            self.slot = self.feed._slot()
        self.entries.append((stamp, list(items)))

    def flush(self) -> None:
        if not self.entries:
            return
        feed = self.feed
        if len(self.entries) == 1:
            stamp, items = self.entries[0]
            part = feed.tag(self.scan(items, False), self.ctype, stamp)
        else:
            items = [it for _, its in self.entries for it in its]
            part = _stamp_provenance(
                feed.spark, self.scan(items, True),
                [(self.norm(it), stamp)
                 for stamp, its in self.entries for it in its],
                self.path_col, feed.stamp_name, feed.stamp_type,
                self.ctype)
        feed.parts[self.slot] = part
        self.entries = []


class ChangeFeed:
    """The parts of one change read, in commit order. ``stamp_name``
    and ``stamp_type`` name the per-commit stamp column; ``cancel``
    (Delta only) is the survivor-cancelling count step run in front
    of the update pairing; ``insert_type`` is the format's change
    type for a written row ('upsert' on Hudi)."""

    def __init__(self, spark, stamp_name: str, stamp_type: str,
                 cancel=None, insert_type: str = "insert"):
        self.spark = spark
        self.stamp_name, self.stamp_type = stamp_name, stamp_type
        self.insert_type = insert_type
        self.cancel = cancel or _one_row_per_side
        self.parts: list = []        # None = a slot not filled yet
        self.runs: list = []
        self.pairings: dict = {}     # (keys, cols) -> (slot, sides)

    def _slot(self) -> int:
        self.parts.append(None)
        return len(self.parts) - 1

    def tag(self, df, ctype, stamp):
        """``df`` plus ``_change_type`` (``ctype``, or None when ``df``
        already carries it) and the stamp column."""
        ct = [] if ctype is None else [F.lit(ctype).alias("_change_type")]
        return df.select("*", *ct, F.lit(stamp).cast(self.stamp_type)
                         .alias(self.stamp_name))

    def add(self, df, ctype, stamp) -> None:
        self.parts.append(self.tag(df, ctype, stamp))

    def run(self, scan, path_col: str, norm,
            keep_ctype: bool = False) -> _Run:
        """Open a coalesced run (see :class:`_Run`) of ``insert_type``
        rows, or of the scan's own ``_change_type`` with
        ``keep_ctype``. It flushes on :meth:`flush` or at
        :meth:`result`."""
        r = _Run(self, scan, path_col, norm,
                 None if keep_ctype else self.insert_type)
        self.runs.append(r)
        return r

    def flush(self) -> None:
        """Close every open run: the table state its scans read under
        is about to change."""
        for r in self.runs:
            r.flush()

    def pair(self, stamp, keys, pre, post) -> None:
        """Queue one keyed upsert commit for the update pairing:
        ``pre`` holds its removed rows, ``post`` its written rows,
        both with the same data columns."""
        group = (tuple(keys), tuple(post.columns))
        if group not in self.pairings:
            self.pairings[group] = (self._slot(), [])
        self.pairings[group][1].append((stamp, pre, post))

    def _pairing(self, keys, cols, sides):
        """The one window pass over every queued commit of ``keys``."""
        from pyspark.sql.window import Window
        rows = None
        for stamp, pre, post in sides:
            st = F.lit(stamp).cast(self.stamp_type).alias(_STAMP)
            both = (pre.select(*cols, st, F.lit(1).alias(_PRE))
                    .unionAll(post.select(*cols, st,
                                          F.lit(0).alias(_PRE))))
            rows = both if rows is None else rows.unionAll(both)
        m = self.cancel(rows, [*cols, _STAMP])
        keyed = F.lit(True)
        for k in keys:
            keyed = keyed & F.col(k).isNotNull()
        hcols = [f.name for f in sides[0][2].schema.fields
                 if _hashable(f.dataType)] or keys
        m = m.withColumn(
            "__qs_salt__",
            F.when(keyed, F.lit(0)).otherwise(F.xxhash64(*hcols)))
        w = Window.partitionBy(_STAMP, *keys, "__qs_salt__")
        m = (m.withColumn("__qs_has_pre__", F.max(_PRE_N).over(w) > 0)
             .withColumn("__qs_has_post__", F.max(_POST_N).over(w) > 0))
        side_pre = F.col(_PRE_N) > 0
        ctype = (F.when(side_pre & keyed & F.col("__qs_has_post__"),
                        "update_preimage")
                 .when(side_pre, "delete")
                 .when(keyed & F.col("__qs_has_pre__"),
                       "update_postimage")
                 .otherwise("insert"))
        reps = F.when(side_pre, F.col(_PRE_N)).otherwise(F.col(_POST_N))
        return m.select(
            *cols, ctype.alias("_change_type"),
            F.col(_STAMP).alias(self.stamp_name),
            F.explode(F.sequence(F.lit(1), reps)).alias("__qs_rep__")
        ).drop("__qs_rep__")

    def result(self, empty, align: bool = False):
        """Union of every part. With no parts: ``empty()`` (a frame of
        the table's data columns) tagged and emptied, so the result is
        typed even for a range without changes. ``align`` casts each
        later part to the first part's column types (Hudi log records
        decode with Avro types)."""
        self.flush()
        for (keys, cols), (slot, sides) in self.pairings.items():
            self.parts[slot] = self._pairing(list(keys), list(cols), sides)
        if not self.parts:
            return self.tag(empty(), self.insert_type, 0).limit(0)
        out = self.parts[0]
        for p in self.parts[1:]:
            if align:
                tgt = {f.name: f.dataType for f in out.schema.fields}
                p = p.select(*[F.col(c).cast(tgt[c]).alias(c)
                               if c in tgt else F.col(c)
                               for c in p.columns])
            out = out.unionByName(p)
        return out
