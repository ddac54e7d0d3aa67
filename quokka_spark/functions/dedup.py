"""Deduplication operators for LLM training-data pipelines
(BASELINE.json north star; extension beyond the reference surface).

Five tiers, all shuffle-architected for 100 TB:

- exact:        hash-groupBy on a fingerprint — one shuffle of (hash,id).
- ngram-jaccard: exact near-dup ground truth via shingle inverted
                 index (explode→self-join on shingle→count). The join
                 key is the shingle hash, never the document text.
- minhash-LSH:  scalable near-dup — signatures via mapInArrow NumPy,
                 banded; candidate pairs only within equal (band,
                 band-hash) buckets. Shuffle volume O(docs × bands).
- simhash:      64-bit signature; near-dup = small hamming distance,
                 bucketed by signature chunks.
- embedding:    cosine near-dup over an embedding column (see
                 functions/similarity.py for the LSH variant).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..memo import Memo
from .text import fingerprint, normalize_text_sql, word_ngrams

# memoized broadcast matrices for embedding_near_pairs_lsh (per semantic
# plan); an evicted matrix is unpersisted from the executors
_EMB_BROADCASTS = Memo("dedup.embedding_broadcasts", cap=8,
                       on_evict=lambda bc: bc.unpersist())

# large Mersenne prime for minhash permutations
_MERSENNE = (1 << 61) - 1


def _with_shingles(df: DataFrame, text_col: str, id_col: str, n: int,
                   out: str = "__sh__", carry: list | None = None,
                   parallelize: bool = True) -> DataFrame:
    """(id, distinct word-n-gram array).

    Shingles come from ``arrays_zip`` of n shifted slices of the words
    array, NOT from ``transform(sequence(...), i -> slice(words, i, n))``:
    in the slice-per-index form the words array sits inside the lambda
    body, and once CollapseProject inlines the staged projection the
    regexp+split re-evaluates PER SHINGLE — O(words x text) regex per
    document (measured ~5s of the sf0.1 inverted-index gate). In the
    zip form the lambda touches only the zipped struct, so the words
    expression appears a constant n+1 times per ROW regardless of how
    Catalyst collapses projections. Truncated-tail semantics match the
    old form (arrays_zip NULL-pads, concat_ws skips NULLs)."""
    from ..util import ensure_parallelism
    from .text import normalize_text_sql
    carry = list(carry or [])
    words = F.split(F.expr(normalize_text_sql(text_col)), " ")
    base = ensure_parallelism(df, id_col) if parallelize else df
    staged = base.select(F.col(id_col), *[F.col(c) for c in carry],
                         words.alias("__w__"))
    m = f"greatest(size(__w__) - {n - 1}, 1)"
    slices = ", ".join(f"slice(__w__, {k + 1}, {m})" for k in range(n))
    fields = ", ".join(f"s.`{k}`" for k in range(n))
    sh = F.expr(f"transform(arrays_zip({slices}), "
                f"s -> concat_ws(' ', {fields}))")
    return staged.select(id_col, *carry, F.array_distinct(sh).alias(out))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group
    (duplicates = identical normalized text). One shuffle on the md5
    fingerprint; at 100 TB the shuffle rows are (32B hash, 8B id)."""
    fp = df.select(F.col(id_col), fingerprint(text_col).alias("__fp__"))
    keep = fp.groupBy("__fp__").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def exact_dedup_keep_best(df: DataFrame, score_col: str,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the HIGHEST-SCORING duplicate (quality
    score, length, recency …) instead of the min id — the production
    refinement: when a page was crawled five times, keep the cleanest
    capture, not the numerically first. Ties break by id ascending,
    so the survivor set is fully deterministic.

    Plan: one shuffle on the md5 fingerprint with min_by (a partial-
    aggregated JVM aggregate — shuffle rows are (hash, score, id)
    partials, not documents), then a semi join back on the id.

    NULL scores coalesce to -infinity (an all-NULL-score group keeps
    its min id instead of vanishing), and the tie-break is struct
    ordering (-score, id) under min_by — no arithmetic on the id, so
    any orderable id type (string ids included) works."""
    s = F.coalesce(F.col(score_col).cast("double"), F.lit(float("-inf")))
    fp = df.select(F.col(id_col), s.alias("__s__"),
                   fingerprint(text_col).alias("__fp__"))
    # min of struct((-score), id): highest score first, then id
    # ascending — deterministic for every id type, no negation overflow
    keep = (fp.groupBy("__fp__")
            .agg(F.min_by(id_col,
                          F.struct((-F.col("__s__")).alias("__neg__"),
                                   F.col(id_col).alias("__id__")))
                 .alias(id_col)))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.6,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id1 < id2, jaccard ≥ τ).

    Inverted-index plan: explode distinct shingles → self-join on
    shingle → per-pair intersection count → |A∪B| via per-doc counts.
    Only docs sharing ≥1 shingle ever pair up.

    ``max_df``: document-frequency cap — shingles appearing in more
    than ``max_df`` documents are dropped from the INDEX side (the
    quadratic fan-out term: a shingle shared by d docs emits d²/2 pair
    rows). |A|, |B| and the intersection still count capped shingles
    OUT, so jaccard becomes a conservative approximation over the
    remaining (discriminative) shingles: near-dup pairs share mostly
    rare shingles and survive; the recall loss is bounded by the mass
    of capped shingles (test-asserted on planted near-dups). None
    (default) = exact — the oracle-gate configuration."""
    shingled = _with_shingles(df, text_col, id_col, n)
    inv = shingled.select(id_col, F.explode("__sh__").alias("__s__"))
    if max_df is not None:
        keep = (inv.groupBy("__s__")
                .agg(F.count(F.lit(1)).alias("__df__"))
                .filter(F.col("__df__") <= max_df)
                .select("__s__"))
        inv = inv.join(keep, "__s__", "left_semi")
        sizes = inv.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n__"))
    else:
        sizes = shingled.select(id_col, F.size("__sh__").alias("__n__"))
    # explicit-width repartition on the join key: the inverted-index
    # self-join blows up (a shingle shared by d docs emits d²/2 pair
    # rows) and AQE — which sizes partitions by map-side input bytes,
    # not join multiplicity — would coalesce the whole blowup join
    # into one task (measured 3x the query time at sf0.1); a
    # user-specified count is exempt, and the self-join reuses the one
    # exchange for both sides
    inv = inv.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "__s__")
    a, b = inv.alias("a"), inv.alias("b")
    shared = (a.join(b, (F.col("a.__s__") == F.col("b.__s__")) &
                     (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
              .groupBy(F.col(f"a.{id_col}").alias("id1"),
                       F.col(f"b.{id_col}").alias("id2"))
              .agg(F.count(F.lit(1)).alias("__shared__")))
    s1 = sizes.select(F.col(id_col).alias("id1"), F.col("__n__").alias("__n1__"))
    s2 = sizes.select(F.col(id_col).alias("id2"), F.col("__n__").alias("__n2__"))
    out = (shared.join(s1, "id1").join(s2, "id2")
           .withColumn("jaccard",
                       F.round(F.col("__shared__") /
                               (F.col("__n1__") + F.col("__n2__") - F.col("__shared__")), 6))
           .filter(F.col("jaccard") >= threshold)
           .select("id1", "id2", "jaccard"))
    return out


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64, seed: int = 42,
                       shingled: DataFrame | None = None,
                       carry: list | None = None,
                       parallelize: bool = True) -> DataFrame:
    """MinHash signatures via vectorized NumPy over Arrow batches.

    Shingle base hash: xxhash64 (JVM-side); permutations h_i(x) =
    (a_i·x + b_i) mod p computed in one (num_hashes × shingles) NumPy
    broadcast per doc batch.

    ``carry``: extra columns passed through beside (id, signature) —
    the streaming path carries its event-time column this way (a
    post-hoc join would need stream-stream watermarks for nothing).
    ``parallelize=False`` skips the small-input repartition probe,
    which cannot run on a streaming plan."""
    rng = np.random.default_rng(seed)
    # odd multipliers, wraparound mod 2^64: vectorized uint64 permutation
    # family (a*x+b); min is taken over full 64-bit values so the weak
    # low bits of multiplicative hashing don't matter
    a = (rng.integers(1, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)

    carry = list(carry or [])
    carry_types = {c: df.schema[c].dataType.simpleString() for c in carry}
    if shingled is None:
        shingled = _with_shingles(df, text_col, id_col, n, carry=carry,
                                  parallelize=parallelize)
    shingled = shingled.select(
        id_col, *carry,
        F.transform("__sh__", lambda s: F.xxhash64(s)).alias("__h__"))

    def sign(it):
        import pyarrow as pa
        with np.errstate(over="ignore"):
            for batch in it:
                n = batch.num_rows
                col = batch.column("__h__")
                sigs = np.zeros((n, num_hashes), dtype=np.uint64)
                flat = col.flatten() if col.null_count == 0 else None
                if flat is not None and flat.null_count == 0:
                    # fast path: offsets + ONE flattened numpy view,
                    # per-doc math on zero-copy slices. The former
                    # ``to_pylist`` staging materialized a Python int
                    # per SHINGLE (measured 4x the whole kernel).
                    # Fully segment-vectorized forms (minimum.reduceat
                    # over the offsets — single (H × shingles)
                    # broadcast — and length-sorted padded blocks) were
                    # ALL measured 2-20x SLOWER here: reduceat's inner
                    # loop is scalar and uint64 multiply has no SIMD
                    # path, while the per-doc (H × L) tile stays in L2.
                    off = np.asarray(col.offsets, dtype=np.int64)
                    off = off - off[0]
                    x = (flat.to_numpy(zero_copy_only=False)
                         .astype(np.int64, copy=False).view(np.uint64))
                    for i in range(n):
                        s, e = off[i], off[i + 1]
                        if e > s:
                            xs = x[s:e]
                            sigs[i] = (a[:, None] * xs[None, :]
                                       + b[:, None]).min(axis=1)
                else:
                    # dirty batch (NULL lists/elements): row loop
                    for i, hs in enumerate(col.to_pylist()):
                        if not hs or any(h is None for h in hs):
                            continue
                        xr = np.asarray(hs, dtype=np.int64).view(np.uint64)
                        sigs[i] = (a[:, None] * xr[None, :]
                                   + b[:, None]).min(axis=1)
                flat_sig = pa.array(sigs.view(np.int64).ravel(),
                                    pa.int64())
                offs = pa.array(
                    np.arange(0, (n + 1) * num_hashes, num_hashes,
                              dtype=np.int32))
                yield pa.RecordBatch.from_arrays(
                    [batch.column(id_col).cast(pa.int64())]
                    + [batch.column(c) for c in carry]
                    + [pa.ListArray.from_arrays(offs, flat_sig)],
                    [id_col] + carry + ["signature"])

    out_schema = ", ".join(
        [f"{id_col} long"] + [f"{c} {carry_types[c]}" for c in carry]
        + ["signature array<long>"])
    return shingled.mapInArrow(sign, schema=out_schema)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      seed: int = 42,
                      shingled: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs via banded minhash-LSH.

    rows-per-band r = num_hashes/bands; P(candidate) ≈ 1-(1-j^r)^bands.
    Shuffle key = (band index, hash of band slice): docs only meet
    within a bucket — the 100 TB-safe plan."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, n, num_hashes, seed,
                              shingled=shingled)
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
                        lambda i: F.slice("signature", i * r + 1, r))
        ).alias("band", "band_sig"))
    bucketed = banded.withColumn("bucket", F.xxhash64(F.col("band"),
                                                      F.col("band_sig").cast("string")))
    x, y = bucketed.alias("x"), bucketed.alias("y")
    pairs = (x.join(y, (F.col("x.bucket") == F.col("y.bucket")) &
                    (F.col("x.band") == F.col("y.band")) &
                    (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")))
             .select(F.col(f"x.{id_col}").alias("id1"),
                     F.col(f"y.{id_col}").alias("id2"))
             .distinct())
    return pairs


def verify_candidates_jaccard(df: DataFrame, candidates: DataFrame,
                              text_col: str = "text", id_col: str = "doc_id",
                              n: int = 3, threshold: float = 0.6,
                              shingled: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard on CANDIDATE pairs only (vs the all-pairs inverted
    index of ngram_jaccard_pairs): join each side's shingle set onto the
    pair and intersect JVM-side. Work is O(|candidates|), the shape that
    survives 100 TB — the full index join is the oracle, this is the
    production path."""
    sh = shingled if shingled is not None else _with_shingles(df, text_col,
                                                              id_col, n)
    s1 = sh.select(F.col(id_col).alias("id1"), F.col("__sh__").alias("__sh1__"))
    s2 = sh.select(F.col(id_col).alias("id2"), F.col("__sh__").alias("__sh2__"))
    inter = F.size(F.array_intersect("__sh1__", "__sh2__"))
    union = F.size("__sh1__") + F.size("__sh2__") - inter
    return (candidates.join(s1, "id1").join(s2, "id2")
            .withColumn("jaccard", F.round(inter / union, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id1", "id2", "jaccard"))


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, num_hashes: int = 64, bands: int = 16,
                  threshold: float = 0.6, seed: int = 42) -> DataFrame:
    """Full near-dup dedup: LSH candidates → candidate-only exact
    Jaccard verify → drop the higher id of each dup pair.

    The shingle arrays feed both signature generation and verify, so
    they are computed ONCE and persisted (memory-and-disk: at corpus
    scale this is the one intermediate worth materializing — it
    replaces two further regex+split passes over all text)."""
    from pyspark.storagelevel import StorageLevel
    sh = _with_shingles(df, text_col, id_col, n) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    cand = minhash_lsh_pairs(df, text_col, id_col, n, num_hashes, bands, seed,
                             shingled=sh)
    dup = verify_candidates_jaccard(df, cand, text_col, id_col, n, threshold,
                                    shingled=sh)
    drop = dup.select(F.col("id2").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """64-bit SimHash from shingle xxhash64s — JVM-only formulation:
    per bit, sum(sign bit) vs half the shingle count."""
    shingled = _with_shingles(df, text_col, id_col, n).select(
        id_col, F.transform("__sh__", lambda s: F.xxhash64(s)).alias("__h__"))
    # bit k of simhash = 1 if (# hashes with bit k set) > len/2
    bit_terms = []
    for k in range(64):
        cnt = F.size(F.filter("__h__",
                              lambda h: h.bitwiseAND(F.lit(1 << k if k < 63 else -(1 << 63))) != 0))
        bit_terms.append(F.when(cnt * 2 > F.size("__h__"),
                                F.lit(1 << k if k < 63 else -(1 << 63))).otherwise(F.lit(0)))
    sig = bit_terms[0]
    for t in bit_terms[1:]:
        sig = sig.bitwiseOR(t)
    return shingled.select(id_col, sig.cast("long").alias("simhash"))


def hamming_near_pairs(sigs: DataFrame, id_col: str, sig_col: str,
                       max_hamming: int = 3,
                       n_chunks: int | None = None) -> DataFrame:
    """Pairs of rows whose 64-bit signatures differ in ≤ ``max_hamming``
    bits, bucketed by bit chunks (pigeonhole: with the signature split
    into ``max_hamming + 1`` disjoint chunks, a pair within distance k
    must agree on at least one chunk). Shared engine for simhash text
    near-dup and perceptual-hash image near-dup. Returns
    (id1, id2, hamming), id1 < id2.

    Scale shape: candidates form only inside (chunk_idx, chunk value)
    buckets — shuffle O(rows × n_chunks); the exact bit_count check
    runs JVM-side on the candidates only."""
    n_chunks = n_chunks or (max_hamming + 1)
    if not 1 <= n_chunks <= 64:
        raise ValueError(f"n_chunks must be in [1, 64], got {n_chunks}")
    base, rem = divmod(64, n_chunks)
    offsets, off = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < rem else 0)
        offsets.append((off, width))
        off += width
    chunk_exprs = [
        F.shiftrightunsigned(sig_col, o).bitwiseAND(
            F.lit((1 << w) - 1 if w < 64 else -1))
        for o, w in offsets]
    chunks = sigs.select(
        id_col, sig_col,
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk"))
    # explicit-width shuffle on the join key: AQE sizes partitions by
    # map-side input bytes and would coalesce this blowup self-join
    # into one task (same pathology as the embedding-LSH bucket join)
    chunks = chunks.repartition(
        sigs.sparkSession.sparkContext.defaultParallelism,
        "chunk_idx", "chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (a.join(b, (F.col("a.chunk") == F.col("b.chunk")) &
                   (F.col("a.chunk_idx") == F.col("b.chunk_idx")) &
                   (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id1"),
                    F.col(f"b.{id_col}").alias("id2"),
                    F.col(f"a.{sig_col}").alias("s1"),
                    F.col(f"b.{sig_col}").alias("s2"))
            .distinct())
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id1", "id2", "hamming"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ k, bucketed by
    16-bit chunks (pigeonhole: distance ≤3 ⇒ ≥1 of 4 chunks equal)."""
    sigs = simhash_signatures(df, text_col, id_col, n)
    return hamming_near_pairs(sigs, id_col, "simhash", max_hamming,
                              n_chunks=4)


def embedding_near_pairs_lsh(df: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             threshold: float = 0.8,
                             bits_per_table: int | None = None,
                             n_tables: int | None = None,
                             dim: int | None = None,
                             broadcast_bytes: int = 64 << 20) -> DataFrame:
    """Embedding-cosine near-dup pairs via sign-bucket LSH — the SCALE
    path (vs the all-pairs oracle ``embedding_near_pairs``).

    Buckets: table t hashes the SIGNS of coordinate group
    [t*bits, (t+1)*bits) — an axis-aligned instance of hyperplane LSH.
    Deterministic (no RNG), so an external engine can mirror the exact
    candidate set. Candidates only meet inside a (table, bucket) pair:
    explode → one shuffle on (t, bucket) → verify. No cartesian
    anywhere; shuffled pair rows carry only ids. Approximate recall
    (pairs whose sign groups all differ are missed — more/smaller
    tables raise recall), exact precision (cosine filter).

    Verify strategy is size-adaptive:
    - vector table ≤ ``broadcast_bytes`` AND rectangular/non-null:
      broadcast the id-sorted matrix and score candidates in an
      Arrow-batched NumPy kernel straight off the bucket join — no
      candidate-distinct shuffle (duplicate collisions score
      identically and dedup on the tiny survivor set) and no per-pair
      vector shuffle;
    - else: distinct the slim id pairs, re-join vectors by id, and
      score with the same kernel (vectors shuffle once per side).

    Selectivity is threshold-dependent, as for ANY cosine LSH: at
    production near-dup thresholds (≥0.85, per-bit sign agreement
    ≥0.82) the default tables prune candidates to a few percent; at a
    loose threshold like 0.4 (agreement ≈0.63, barely above the 0.5 of
    random pairs) no sign scheme separates well and the candidate set
    approaches all-pairs — that is a property of the threshold, not
    the plan shape (raise bits_per_table for tighter thresholds).

    Reference anchor: the stubbed vector_range_join
    (reference datastream.py:480-492); random-hyperplane variant in
    similarity.vector_range_join."""
    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    if bits_per_table is None:
        # AUTO-SIZE with the corpus: fixed-width buckets make the
        # within-bucket pair term quadratic in n (the round-8 sf0.1→
        # sf1 probe measured 29x work for 10x vectors at 4 bits) —
        # target ~200 rows per (table, bucket) so candidate counts
        # grow ~linearly; the recall loss per extra bit is bounded
        # (cos 0.8 → per-bit agreement ~0.8, and n_tables = dim/bits
        # ORs the tables). Capped at 10 bits: past that the
        # axis-group scheme runs out of distinct dims and a bucket
        # CAP (drop over-full buckets, documented recall trade) is
        # the production lever.
        import math
        n = df.count()
        bits_per_table = max(4, min(10, math.ceil(
            math.log2(max(n, 1) / 200)) if n > 200 else 4))
        # never exceed the vector dimension: dim // bits must stay
        # >= 1 or the table set would be EMPTY (silent zero recall)
        bits_per_table = min(bits_per_table, dim)
    if n_tables is None:
        n_tables = dim // bits_per_table
    assert n_tables * bits_per_table <= dim
    if n_tables < 1:
        raise ValueError(
            f"n_tables={n_tables} with bits_per_table="
            f"{bits_per_table} over dim={dim}: no hash table fits — "
            "lower bits_per_table")

    v = df.select(F.col(id_col).alias("id"),
                  F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    # F.get (NULL on out-of-range, vs getItem's ANSI error) + two-arm
    # when with NO otherwise: a NULL element or a vector shorter than
    # dim leaves that term NULL, and SQL + propagates it, so the whole
    # bucket is NULL and the self-join's null-rejecting equality drops
    # the row — matching the oracle SQL, which also yields NULL buckets
    # for such vectors (previously NULLs silently folded to bit 0 and
    # could pair)
    tables = [
        F.struct(
            F.lit(t).alias("t"),
            sum((F.when(F.get("v", t * bits_per_table + j) > 0,
                        F.lit(1 << j))
                 .when(F.get("v", t * bits_per_table + j) <= 0,
                       F.lit(0)))
                for j in range(bits_per_table)).alias("bucket"))
        for t in range(n_tables)]
    cores = df.sparkSession.sparkContext.defaultParallelism
    # explicit-width repartition on the join key: the bucket self-join
    # BLOWS UP (tiny input rows -> |bucket|² pair rows), and AQE —
    # which coalesces on map-side input bytes, not join multiplicity —
    # would squeeze the whole blowup join into one task (measured: the
    # single-task join was ~75% of the sf0.1 gate). A user-specified
    # partition count is exempt from AQE coalescing, and the self-join
    # reuses the one exchange for both sides (co-partitioned).
    tabs = v.select("id", F.explode(F.array(*tables)).alias("tb")) \
        .select("id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket")) \
        .repartition(cores, "t", "bucket")
    a, b = tabs.alias("a"), tabs.alias("b")
    cand_raw = (a.join(b, (F.col("a.t") == F.col("b.t"))
                       & (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a.id") < F.col("b.id")))
                .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2")))
    id_t = cand_raw.schema["id1"].dataType.simpleString()

    # Cosine verify: Arrow-batched NumPy (see docstring for the two
    # strategies). einsum's row-wise dot is one cache-friendly pass
    # (a column-sequential "same order as a scalar fold" loop was
    # measured 40x slower — 64 strided sweeps over the pair matrix);
    # its SIMD summation order differs from a scalar left fold in the
    # last ulp (max |Δ| 4.4e-16 here), which vanishes under the
    # exported round(.., 6): verified ZERO round-6 differences vs the
    # left fold over the full all-pairs superset at sf0.01 and sf0.1.
    # A JVM aggregate/zip_with fold is interpreted per element per row;
    # a flat 64-term expression chain is 4x worse still (GetArrayItem
    # chains defeat codegen). Rounding stays Spark-side (F.round
    # half-up == DuckDB round).

    def cos_rows_outer(a_m, b_m):
        dot = np.einsum("ij,ij->i", a_m, b_m)
        na = np.einsum("ij,ij->i", a_m, a_m)
        nb = np.einsum("ij,ij->i", b_m, b_m)
        return dot / (np.sqrt(na) * np.sqrt(nb))

    # ---- broadcast verify (small clean vector tables) ----------------
    # memoized per semantic plan: re-running the same dedup in a
    # session reuses the collected matrix instead of re-paying the
    # count + collect + broadcast (same pattern as windows.choose_bucket)
    memo_key = None
    try:
        memo_key = (df.semanticHash(), vec_col, id_col, dim)
    except Exception:  # noqa: BLE001
        pass
    bc = _EMB_BROADCASTS.get(memo_key, None)
    if bc is None and \
            df.select(F.count(F.lit(1))).first()[0] * dim * 8 <= broadcast_bytes:
        pdf = v.toPandas()
        vals = pdf["v"].to_list()
        clean = all(x is not None and len(x) == dim
                    and not any(e is None for e in x) for x in vals)
        if clean and len(vals):
            ids = pdf["id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            sorted_ids = ids[order]
            mat = np.stack([np.asarray(x, dtype=np.float64)
                            for x in vals])[order]
            bc = df.sparkSession.sparkContext.broadcast((sorted_ids, mat))
            if memo_key is not None:
                _EMB_BROADCASTS.put(memo_key, bc)
    if bc is not None:
        def cos_lookup(it):
            import pyarrow as pa
            s_ids, m = bc.value
            for batch in it:
                if batch.num_rows == 0:
                    continue
                i1 = batch.column("id1").to_numpy(zero_copy_only=False)
                i2 = batch.column("id2").to_numpy(zero_copy_only=False)
                cos = cos_rows_outer(m[np.searchsorted(s_ids, i1)],
                                     m[np.searchsorted(s_ids, i2)])
                mask = pa.array(cos >= threshold)
                yield pa.RecordBatch.from_arrays(
                    [batch.column("id1").filter(mask),
                     batch.column("id2").filter(mask),
                     pa.array(cos[np.asarray(mask)], type=pa.float64())],
                    ["id1", "id2", "cos_raw"])

        # the bucket join is already cores-wide (see the tabs
        # repartition) and mapInArrow consumes it narrowly — the
        # kernel runs parallel with no extra shuffle
        scored = cand_raw.mapInArrow(
            cos_lookup, schema=f"id1 {id_t}, id2 {id_t}, cos_raw double")
        # duplicate collisions (same pair from k tables) score
        # bit-identically — dedup the tiny post-filter survivor
        # set instead of the huge candidate set
        return scored.select(
            "id1", "id2",
            F.round("cos_raw", 6).alias("cosine_sim")).distinct()

    # ---- join verify (the general scale path) ------------------------
    cand = cand_raw.distinct()
    v1 = v.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    v2 = v.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    paired = cand.join(v1, "id1").join(v2, "id2")

    def cos_batches(it):
        import numpy as np
        import pyarrow as pa

        cos_rows = cos_rows_outer

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            c1, c2 = batch.column("v1"), batch.column("v2")
            f1, f2 = c1.flatten(), c2.flatten()
            clean = (c1.null_count == 0 and c2.null_count == 0
                     and f1.null_count == 0 and f2.null_count == 0)
            if clean:
                l1 = np.diff(c1.offsets.to_numpy())
                l2 = np.diff(c2.offsets.to_numpy())
                clean = bool(len(l1) and (l1 == l1[0]).all()
                             and (l2 == l1[0]).all())
            if clean:
                # fast path: rectangular, no NULLs — zero-copy reshape
                a = f1.to_numpy(zero_copy_only=False) \
                    .astype(np.float64, copy=False).reshape(n, -1)
                b = f2.to_numpy(zero_copy_only=False) \
                    .astype(np.float64, copy=False).reshape(n, -1)
                cos = cos_rows(a, b)
            else:
                # dirty batch: reproduce the fold's validity rule —
                # a pair is droppable when either vector is NULL, the
                # lengths differ (zip_with NULL-pads), or any element
                # is NULL (the fold turns the sum NULL)
                p1, p2 = c1.to_pylist(), c2.to_pylist()
                cos = np.full(n, np.nan)
                idx, ar, br = [], [], []
                for i, (x, y) in enumerate(zip(p1, p2)):
                    if x is None or y is None or len(x) != len(y):
                        continue
                    if any(e is None for e in x) or any(e is None for e in y):
                        continue
                    idx.append(i), ar.append(x), br.append(y)
                if idx:
                    cos[idx] = cos_rows(np.array(ar, dtype=np.float64),
                                        np.array(br, dtype=np.float64))
            with np.errstate(invalid="ignore"):
                keep = cos >= threshold  # NaN (invalid rows) -> False
            mask = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [batch.column("id1").filter(mask),
                 batch.column("id2").filter(mask),
                 pa.array(cos[keep], type=pa.float64())],
                ["id1", "id2", "cos_raw"])

    scored = paired.select("id1", "id2", "v1", "v2").mapInArrow(
        cos_batches, schema=f"id1 {id_t}, id2 {id_t}, cos_raw double")
    return scored.select("id1", "id2",
                         F.round("cos_raw", 6).alias("cosine_sim"))


def embedding_near_pairs(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, JVM-side arithmetic).

    Exact all-pairs is O(n²) — correct as the sf0.01 oracle; at scale
    use similarity.lsh_bucket_topk-style bucketing instead."""
    v = df.select(F.col(id_col),
                  F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    norm = v.withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)))
    a, b = norm.alias("a"), norm.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .withColumn("cosine_sim",
                        F.round(dot / (F.col("a.norm") * F.col("b.norm")), 6))
            .filter(F.col("cosine_sim") >= threshold)
            .select(F.col(f"a.{id_col}").alias("id1"),
                    F.col(f"b.{id_col}").alias("id2"),
                    "cosine_sim"))


def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", delimiter: str = "\n") -> DataFrame:
    """Corpus-wide line-level exact dedup (the CCNet / RefinedWeb
    boilerplate-removal pass): split every document into lines, keep
    each distinct normalized (lower+trim) line only at its globally
    FIRST occurrence — ordered by (doc_id, position) — drop every
    later occurrence, and reassemble the documents. Blank-normalized
    lines are structural and always kept.

    Returns (id_col, clean_text, n_kept bigint, n_dropped bigint);
    every input document appears (possibly with clean_text = '').

    Scale shape: posexplode is map-side; the global first-occurrence
    is a groupBy(norm).min — partial aggregation absorbs hot
    boilerplate lines map-side, so the shuffle carries one row per
    distinct line per map task, not per occurrence. The join back on
    norm is the one potentially skewed exchange (a line occurring in
    10M docs routes to one partition) — AQE skew-join splits it.
    Reassembly is a groupBy(id) collect_list bounded by document size.
    The first-occurrence key packs (doc_id, pos) into one sortable
    int64 (pos < 2^20 per document) so the oracle SQL can express the
    identical min.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delimiter), -1))
        .alias("__pos__", "__line__"))
    lines = (lines
             .withColumn("__norm__", F.lower(F.trim(F.col("__line__"))))
             .withColumn("__k__", F.col(id_col) * F.lit(1 << 20)
                         + F.col("__pos__")))
    first = (lines.filter(F.length("__norm__") > 0)
             .groupBy("__norm__").agg(F.min("__k__").alias("__kmin__")))
    flagged = (lines.join(first, on="__norm__", how="left")
               .withColumn("__keep__", (F.length("__norm__") == 0)
                           | (F.col("__k__") == F.col("__kmin__"))))
    # collect_list skips NULLs, so when(keep, struct) collects only
    # survivors; array_sort on the (pos, line) struct restores order
    kept_struct = F.when(F.col("__keep__"),
                         F.struct(F.col("__pos__"), F.col("__line__")))
    return (flagged.groupBy(id_col).agg(
        F.concat_ws(delimiter,
                    F.transform(F.array_sort(F.collect_list(kept_struct)),
                                lambda s: s["__line__"])).alias("clean_text"),
        F.sum(F.col("__keep__").cast("int")).cast("bigint").alias("n_kept"),
        F.sum((~F.col("__keep__")).cast("int")).cast("bigint")
        .alias("n_dropped")))


def duplicated_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 13,
                     min_count: int = 2) -> DataFrame:
    """Corpus-level duplicated-substring detection (the exact-substring
    dedup pass of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", approximated at word-``n``-gram
    granularity instead of a global suffix array): every word position
    starting an ``n``-gram that occurs >= ``min_count`` times in the
    ENTIRE corpus is a duplicated span; overlapping spans are merged
    into maximal intervals per document.

    Returns (id_col, span_start, span_end, n_dup_words) — word offsets
    into the normalized text, end exclusive; one row per maximal
    duplicated interval.

    Scale shape: shingling is map-side (arrays_zip of shifted slices —
    see _with_shingles for why not slice-per-index); the occurrence
    count is groupBy(md5) with map-side partial aggregation, so hot
    boilerplate n-grams collapse before the shuffle; the join back on
    md5 is the one skewed exchange (AQE skew-join). Interval merge is
    the classic gaps-and-islands: one window over (doc, start) —
    per-document work, bounded by document length. A suffix array
    finds variable-length duplicates exactly; fixed-``n`` shingles
    find every duplicate of length >= n words with start/end rounded
    to at most n-1 words — the standard large-scale trade."""
    from .text import normalize_text_sql
    words = F.split(F.expr(normalize_text_sql(text_col)), " ")
    staged = df.select(F.col(id_col), words.alias("__w__"))
    # only FULL n-grams: m = size-n+1 (m <= 0 → empty zip → no spans)
    m = f"greatest(size(__w__) - {n - 1}, 0)"
    slices = ", ".join(f"slice(__w__, {k + 1}, {m})" for k in range(n))
    fields = ", ".join(f"col.`{k}`" for k in range(n))
    sh = (staged
          .select(id_col, F.posexplode(F.expr(f"arrays_zip({slices})")))
          .select(id_col, F.col("pos").cast("bigint").alias("s"),
                  F.md5(F.expr(f"cast(concat_ws(' ', {fields}) as binary)"))
                  .alias("__h__")))
    dup = (sh.groupBy("__h__").count()
           .filter(F.col("count") >= min_count).select("__h__"))
    spans = (sh.join(dup, on="__h__", how="left_semi")
             .select(id_col, "s", (F.col("s") + n).alias("e")))
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("s")
    prev_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = spans.withColumn(
        "__brk__", F.when(F.col("s") > F.coalesce(prev_end, F.lit(-1)),
                          1).otherwise(0))
    islands = flagged.withColumn(
        "__isl__", F.sum("__brk__").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (islands.groupBy(id_col, "__isl__")
            .agg(F.min("s").alias("span_start"),
                 F.max("e").alias("span_end"))
            .select(id_col, "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start"))
                    .alias("n_dup_words")))


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text", n: int = 13) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Dolma
    "decon" pass): flag every training document sharing ANY word
    ``n``-gram with the evaluation/benchmark corpus, so eval data
    can be excluded from training.

    Returns the input rows plus a ``contaminated`` boolean column
    (use ``.filter(~F.col("contaminated"))`` for the clean corpus).

    Scale shape: both sides shingle map-side (arrays_zip of shifted
    slices) and join on the md5 of the shingle — 32-byte keys, never
    document text, so shuffle volume is O(positions × 32 B). The
    benchmark side is DISTINCT shingles; eval corpora are ~10⁶ rows
    against a 100 TB train side, so Catalyst/AQE broadcasts the bench
    hash set and the train side never shuffles at all — the flag
    reduces to a map-side semi probe. Contaminated-id dedup is a
    groupBy on the id only.
    """
    t = _with_shingles(df, text_col, id_col, n)
    b = _with_shingles(benchmark, bench_text_col,
                       benchmark.columns[0], n, out="__sh__")
    t_sh = t.select(F.col(id_col),
                    F.explode("__sh__").alias("__s__")).withColumn(
        "__h__", F.md5(F.col("__s__").cast("binary"))).drop("__s__")
    b_sh = (b.select(F.explode("__sh__").alias("__s__"))
            .select(F.md5(F.col("__s__").cast("binary")).alias("__h__"))
            .distinct())
    bad_ids = (t_sh.join(b_sh, on="__h__", how="left_semi")
               .select(id_col).distinct()
               .withColumn("contaminated", F.lit(True)))
    return (df.join(bad_ids, on=id_col, how="left")
            .withColumn("contaminated",
                        F.coalesce(F.col("contaminated"), F.lit(False))))


def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", k: int = 8, iters: int = 2,
                   threshold: float = 0.5) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means the
    embedding space, then drop near-duplicates WITHIN each cluster —
    all-pairs cosine is quadratic, but only inside a cluster of n/k
    rows, which is the paper's entire scaling argument (k grows with
    the corpus so clusters stay bounded).

    Keeps, per duplicate pair, the lower id (the repo-wide dedup
    convention; the paper keeps the point farthest from the centroid —
    swap the keep rule by ordering on centroid distance instead).
    Returns the surviving rows of ``df``.

    Scale shape: k-means is the broadcast-centroid Lloyd's of
    operators/linalg.kmeans (vectors never shuffle; k×dim partials
    do); the pair stage shuffles each row once on its cluster id and
    the per-cluster self-join is bounded by the largest cluster —
    monitor skew with plans/scaling.skew_report and raise ``k`` if one
    cluster dominates. Deterministic end-to-end (lowest-id init,
    double arithmetic), which is what makes the unrolled-CTE DuckDB
    oracle (``dedup_semantic`` gate) hash-exact."""
    from ..operators.linalg import kmeans
    _, assign = kmeans(df, vec_col, id_col, k=k, iters=iters)
    v = (df.select(F.col(id_col),
                   F.transform(vec_col, lambda x: x.cast("double")).alias("__v__"))
         .join(assign, id_col)
         .withColumn("__norm__", F.sqrt(
             F.aggregate("__v__", F.lit(0.0), lambda acc, x: acc + x * x))))
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.__v__"), F.col("b.__v__"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    cos = F.round(dot / (F.col("a.__norm__") * F.col("b.__norm__")), 6)
    drops = (a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .filter(cos >= threshold)
             .select(F.col(f"b.{id_col}").alias(id_col)).distinct())
    return df.join(drops, on=id_col, how="left_anti")


def pair_metrics(pred: DataFrame, truth: DataFrame,
                 id1: str = "id1", id2: str = "id2") -> "tuple":
    """Evaluation as a first-class pipeline op: (precision, recall,
    f1, n_pred, n_truth, n_hit) of a predicted near-dup pair set
    against ground truth — the numbers every dedup-recall dial
    (bands, bits, hamming radius) is tuned by. Pairs canonicalize to
    (min, max) and dedup before comparison, so orientation and
    duplicates in either input don't distort the counts.

    Plan: two distinct passes + one semi join — counts are driver
    scalars (the metrics ARE scalars). Returns plain floats/ints."""
    def canon(df):
        return (df.select(F.least(F.col(id1), F.col(id2)).alias("i"),
                          F.greatest(F.col(id1), F.col(id2)).alias("j"))
                .distinct())
    p, t = canon(pred).persist(), canon(truth).persist()
    try:
        n_pred, n_truth = p.count(), t.count()
        n_hit = p.join(t, ["i", "j"], "left_semi").count()
    finally:
        p.unpersist(), t.unpersist()
    precision = n_hit / n_pred if n_pred else None
    recall = n_hit / n_truth if n_truth else None
    f1 = (2 * precision * recall / (precision + recall)
          if precision and recall else
          (0.0 if precision is not None and recall is not None else None))
    return precision, recall, f1, n_pred, n_truth, n_hit


def incremental_dedup(new_df: DataFrame, seen_df: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 7, width: int = 1 << 20) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the daily-ingest
    shape — without shuffling the corpus: the seen side compresses to
    a Bloom filter of fingerprints (slim bit rows, buildable once and
    reusable across batches); definitively-absent fingerprints skip
    the corpus entirely, and only maybe-present candidates join the
    seen fingerprint set for exact verification. Bloom false positives
    are caught by the verify join, and false negatives are impossible,
    so the result EQUALS the plain anti-join spec (the oracle) while
    the corpus-side work is one fingerprint scan.

    Returns the new rows whose text does not already exist in seen."""
    from .sketches import bloom_build, bloom_contains
    fp_new = new_df.withColumn("__fp__", fingerprint(text_col))
    fp_seen = seen_df.select(fingerprint(text_col).alias("__fp__")).distinct()
    bloom = bloom_build(fp_seen, "__fp__", n_hashes, width)
    verdicts = bloom_contains(bloom, fp_new.select("__fp__").distinct(),
                              "__fp__", n_hashes, width)
    maybe = verdicts.filter(F.col("maybe_present")).select("__fp__")
    confirmed = maybe.join(fp_seen, "__fp__", "left_semi")
    return (fp_new.join(confirmed, "__fp__", "left_anti")
            .drop("__fp__"))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.8,
                            max_df: int | None = None) -> DataFrame:
    """ASYMMETRIC near-dup: containment(A in B) = |A∩B| / |A| — the
    measure that catches a short document quoted/embedded inside a
    longer one, where symmetric Jaccard stays small because the union
    is dominated by the long side. Returns (id_sub, id_super,
    containment) for ordered pairs with containment ≥ τ (both
    directions are checked; a pair can appear twice when each side is
    mostly contained in the other).

    Same inverted-index plan (and ``max_df`` hot-shingle cap) as
    ngram_jaccard_pairs — one shingle self-join, pair counts, per-doc
    sizes; only the denominator changes."""
    shingled = _with_shingles(df, text_col, id_col, n)
    inv = shingled.select(id_col, F.explode("__sh__").alias("__s__"))
    if max_df is not None:
        keep = (inv.groupBy("__s__")
                .agg(F.count(F.lit(1)).alias("__df__"))
                .filter(F.col("__df__") <= max_df)
                .select("__s__"))
        inv = inv.join(keep, "__s__", "left_semi")
        sizes = inv.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n__"))
    else:
        sizes = shingled.select(id_col, F.size("__sh__").alias("__n__"))
    inv = inv.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "__s__")
    a, b = inv.alias("a"), inv.alias("b")
    shared = (a.join(b, (F.col("a.__s__") == F.col("b.__s__")) &
                     (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
              .groupBy(F.col(f"a.{id_col}").alias("id_sub"),
                       F.col(f"b.{id_col}").alias("id_super"))
              .agg(F.count(F.lit(1)).alias("__c__")))
    s1 = sizes.select(F.col(id_col).alias("id_sub"),
                      F.col("__n__").alias("__n1__"))
    return (shared.join(s1, "id_sub")
            .withColumn("containment",
                        F.round(F.col("__c__") / F.col("__n1__"), 6))
            .filter(F.col("containment") >= threshold)
            .select("id_sub", "id_super", "containment"))
