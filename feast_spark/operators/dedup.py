"""Deduplication operators for training-data pipelines.

The reference only ships exact/latest dedup (``dask.py:930``,
``spark.py:147-158``); near-dup detection is the standard extension a
quality-filter engine needs at corpus scale (MinHash-LSH per Broder '97,
SimHash per Charikar '02 — both public algorithms). Design constraints:

- **MinHash stays JVM-side**: shingle extraction, hashing, per-permutation
  minima and band keys are all Catalyst expressions (``transform`` /
  ``xxhash64`` / ``array_min``) — whole-stage-codegen'd, no Python.
  The only shuffle is the band-bucket self-join, which AQE sizes.
- **SimHash** uses the same flat-codepoint numpy trick as the perplexity
  scorer (one Arrow batch -> one vectorized pass), then Hamming-ball
  candidate generation via 16-bit block keys (pigeonhole: hamming<=3 over
  64 bits guarantees one of 4 blocks equal) and ``bit_count(a^b)``
  verification — JVM-side.
- Exact n-gram Jaccard is provided as the verification/oracle path.

At 100 TB: band-join candidate pairs are quadratic within a bucket; bucket
sizes are bounded by the hash, and the verify step is a projection —
the expensive part (signatures) is map-side only.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feast_spark import textkit

# 2^31-1: keeps a*x + b inside int64 under ANSI arithmetic (a, x < 2^31)
_MERSENNE = (1 << 31) - 1

# cache lifecycle: every persist() issued by a dedup operator is registered
# here; callers drop a finished pass with release_dedup_caches() after
# consuming its result. Bounds cached storage in long-lived drivers
# (round-1 finding #3). Lock-guarded: concurrent drivers sharing the
# session register/release without racing the list (round-2 ADVICE).
import threading as _threading

_ACTIVE_CACHES: list[DataFrame] = []
_CACHE_LOCK = _threading.Lock()


def _scoped_persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    with _CACHE_LOCK:
        _ACTIVE_CACHES.append(df)
    return df


def release_dedup_caches() -> int:
    """Unpersist every cache registered by dedup operators; returns the
    number released. Safe to call while results are still lazy — Spark
    recomputes instead of erroring (you lose the reuse, not correctness)."""
    with _CACHE_LOCK:
        drop, _ACTIVE_CACHES[:] = _ACTIVE_CACHES[:], []
    for df in drop:
        df.unpersist(blocking=False)
    return len(drop)


def _cap_buckets(
    buckets: DataFrame, bucket_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop degenerate buckets larger than ``max_bucket_size`` before the
    self-join (candidate count is quadratic within a bucket — a single
    common-shingle bucket of 10^5 docs is 10^10 candidate pairs). The size
    count shuffles on the SAME key as the join, so AQE coalesces the two
    exchanges. Documented recall tradeoff: pairs living only in a dropped
    bucket are missed (round-1 finding #6)."""
    if not max_bucket_size:
        return buckets
    sizes = buckets.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bsz"))
    # sizes has one row per DISTINCT bucket — corpus-scaled, and Catalyst's
    # static estimate for the python-sourced subtree can come out tiny
    # enough to auto-broadcast it (the minhash_lsh_pairs failure mode).
    # SHUFFLE_HASH keeps it partitioned on the same key the count already
    # shuffled on, so AQE coalesces the exchanges.
    return (
        buckets.join(sizes.hint("shuffle_hash"), bucket_cols)
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def _sorted_pair_combos(ids_sorted, a_name: str = "id_a", b_name: str = "id_b"):
    """C(n,2) pair structs emitted MAP-SIDE from a sorted array column —
    the shared pair-emission kernel of every bucket-keyed candidate
    generator (``_bucket_pairs``, winnow overlap, CDC chunks). One
    definition so the slice/struct-ordering subtleties live in one
    place."""
    return F.flatten(
        F.transform(
            ids_sorted,
            lambda x, i: F.transform(
                F.slice(ids_sorted, i + 2, F.size(ids_sorted)),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )


def _bucket_pairs(
    buckets: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None,
    id_col: str = "id",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct co-bucket candidate pairs ``(id_a < id_b)`` via ONE
    shuffle: group the ids per bucket (ids are unique within a bucket by
    construction in every caller), drop degenerate buckets by SIZE — the
    same guard `_cap_buckets` applied, without its count+join chain —
    and emit each bucket's C(n,2) pairs MAP-SIDE from the sorted id
    array. Replaces the two-sided bucket self-join (round-4: the same
    rewrite cut winnow 18.9s -> 12.9s at 50k).

    ``payload_cols`` ride along per id (e.g. the simhash value a verifier
    needs) as ``<col>_a`` / ``<col>_b`` — carrying a few bytes through
    the one shuffle beats re-joining the corpus-sized table twice.

    With a cap, degenerate buckets are dropped by :func:`_cap_buckets`
    BEFORE the collect — a count never materializes the bucket, so a
    boilerplate bucket shared by millions of docs costs a count, not a
    multi-million-element aggregation buffer on one executor (filtering
    on ``size(ids)`` after collecting would OOM exactly the case the cap
    exists for). The count shuffles on the same key as the collect, so
    AQE coalesces the exchanges."""
    payload = payload_cols or []
    buckets = _cap_buckets(buckets, bucket_cols, max_bucket_size)
    elem = F.struct(
        F.col(id_col).alias("id"), *[F.col(c) for c in payload]
    )
    grouped = buckets.groupBy(*bucket_cols).agg(
        F.collect_set(elem).alias("ids")
    )
    grouped = grouped.filter(F.size("ids") >= 2)
    # struct ordering compares fields in declaration order: id first
    ids = F.array_sort(F.col("ids"))
    combos = _sorted_pair_combos(ids, "a", "b")
    out = grouped.select(F.explode(combos).alias("p")).select(
        F.col("p.a.id").alias("id_a"),
        F.col("p.b.id").alias("id_b"),
        *[F.col(f"p.a.{c}").alias(f"{c}_a") for c in payload],
        *[F.col(f"p.b.{c}").alias(f"{c}_b") for c in payload],
    )
    return out.dropDuplicates(["id_a", "id_b"])


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """dropDuplicates — reference upsert-pk dedup (dask.py:930)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def _shingle_hashes(text_col: str, k: int) -> str:
    """SQL expr: array of xxhash64 values of the char k-shingles of
    lower(text), distinct. Empty/short text -> single hash of the whole.

    NOTE: kept for reference/fallback — measured at ~1.2 ms/doc because the
    lambda re-evaluates lower(text) and allocates a UTF8String per shingle;
    the production path is :func:`_shingle_hash_batch` (vectorized numpy
    rolling hash over the Arrow batch, ~20x faster)."""
    return (
        f"array_distinct(transform("
        f"  sequence(1, greatest(length(lower({text_col})) - {k} + 1, 1)),"
        f"  i -> xxhash64(substr(lower({text_col}), i, {k}))))"
    )


def _shingle_hash_batch(texts: pd.Series, k: int) -> list[np.ndarray]:
    """Distinct rolling k-gram hashes per text — one numpy pass per Arrow
    batch over the shared textkit kernel. Hashes are int64
    (sign-preserving cast of the mixed uint64)."""
    codes, lens = textkit.flat_codes(texts)
    n = len(lens)
    out: list[np.ndarray] = [np.empty(0, dtype=np.int64)] * n
    h_u, gdoc = textkit.rolling_kgram_hashes(codes, lens, k)
    if len(h_u):
        h = h_u.view(np.int64)
        order = np.lexsort((h, gdoc))
        h, gdoc = h[order], gdoc[order]
        keep = np.ones(len(h), dtype=bool)
        keep[1:] = (gdoc[1:] != gdoc[:-1]) | (h[1:] != h[:-1])
        h, gdoc = h[keep], gdoc[keep]
        bounds = np.searchsorted(gdoc, np.arange(n + 1))
        out = [h[bounds[i] : bounds[i + 1]] for i in range(n)]

    # short texts (< k chars): hash the whole text, matching the SQL
    # fallback's "one shingle" contract
    doc = np.repeat(np.arange(n), lens)
    codes64 = codes.astype(np.uint64)
    # wraparound is the contract here (mod-2^64 polynomial hash); numpy 2
    # warns on SCALAR uint64 overflow even though it still wraps
    with np.errstate(over="ignore"):
        for i in np.nonzero((lens > 0) & (lens < k))[0]:
            s, e = doc.searchsorted(i, "left"), doc.searchsorted(i, "right")
            c = codes64[s:e]
            hh = c[0] if len(c) else np.uint64(0)
            for x in c[1:]:
                hh = hh * textkit.HASH_BASE + x
            out[i] = np.array(
                [np.int64(
                    (hh * textkit.HASH_MIX).astype(np.uint64).view(np.int64)
                )],
                dtype=np.int64,
            )
    return out


def _perm_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, num_hashes, dtype=np.int64)
    return a, b


def _scale_partitions(df: DataFrame) -> DataFrame:
    """Widen narrow inputs before a Python map pass: a small dim-table
    parquet often arrives as ONE partition, which would serialize the
    Arrow-batched hashing on a single core. One cheap (id, text) shuffle
    buys full-core parallelism; at warehouse scale inputs already carry
    more partitions than cores and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _shingle_only_table(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, shingles) — used to RECOMPUTE shingle sets for the (small)
    candidate subset at verification time; the full-corpus pass only ever
    materializes signatures (caching every shingle set would be ~16 TB at
    10^9 docs x 2k shingles)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf[id_col], "shingles": _shingle_hash_batch(pdf[text_col], k)}
            )

    # id dtype is inherited from the caller (long doc ids, or composite
    # string ids for the transcript turn grain)
    id_dtype = dict(df.dtypes)[id_col]
    return df.mapInPandas(run, f"id {id_dtype}, shingles array<long>")


def _shingle_sig_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    seed: int,
    include_shingles: bool = True,
) -> DataFrame:
    """(id, shingles, sig) in ONE map-side pass — shingle hashing AND the
    num_hashes permutation minima computed in the same numpy batch.

    History: round 1 exploded the shingle arrays and took the N minima as
    partial MIN aggregates (map-side combine, tiny shuffle). That plan was
    already the right SHAPE, but it materializes one row per (doc,
    shingle) through codegen before combining; the numpy broadcast
    ``min((a*x + b) mod M, axis=shingles)`` does the identical int64
    arithmetic on the Arrow batch with zero row materialization and zero
    shuffle — measured 4x faster end-to-end on the sf0.1 pair query with
    bit-identical output. Docs with no shingles (empty text) get sig NULL
    and drop out of banding, matching the explode plan where they emitted
    no rows."""
    a, b = _perm_params(num_hashes, seed)

    def _sigs_from_segments(flat: np.ndarray, starts: np.ndarray) -> np.ndarray:
        """(num_hashes, n_segments) permutation minima — vectorized over
        the whole batch: loop over the num_hashes permutations (reduceat
        passes on the flat shingle stream), never over the docs. The old
        per-doc 32 x n_shingles broadcast was 50k tiny numpy calls per
        50k-doc corpus and dominated the signature pass; same int64
        arithmetic, bit-identical minima."""
        xm = np.mod(flat, _MERSENNE)  # pmod: non-negative
        mat = np.empty((num_hashes, len(starts)), dtype=np.int64)
        for j in range(num_hashes):
            mat[j] = np.minimum.reduceat(
                np.mod(a[j] * xm + b[j], _MERSENNE), starts
            )
        return mat

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if include_shingles:
                sh = _shingle_hash_batch(pdf[text_col], k)
                counts = np.array([len(x) for x in sh], dtype=np.int64)
                nz = np.nonzero(counts)[0]
                sigs: list[np.ndarray | None] = [None] * len(sh)
                if len(nz):
                    flat = np.concatenate([sh[i] for i in nz])
                    starts = np.zeros(len(nz), dtype=np.int64)
                    np.cumsum(counts[nz][:-1], out=starts[1:])
                    cols = _sigs_from_segments(flat, starts).T
                    for pos, i in enumerate(nz):
                        sigs[int(i)] = cols[pos]
                yield pd.DataFrame(
                    {"id": pdf[id_col], "shingles": sh, "sig": sigs}
                )
                continue
            # signature-only fast path: min over a multiset equals min
            # over its distinct set, so the per-doc distinct (a lexsort
            # of the whole rolling-hash stream) is skipped entirely —
            # rolling_kgram_hashes already emits doc-contiguous segments,
            # so reduceat runs on the raw stream with NO sort at all
            codes, lens = textkit.flat_codes(pdf[text_col])
            n = len(lens)
            h_u, gdoc = textkit.rolling_kgram_hashes(codes, lens, k)
            h = h_u.view(np.int64) if len(h_u) else np.empty(0, np.int64)
            counts = np.bincount(gdoc, minlength=n) if len(gdoc) else np.zeros(
                n, dtype=np.int64
            )
            nz = np.nonzero(counts)[0]
            sigs = [None] * n
            if len(nz):
                starts = np.zeros(len(nz), dtype=np.int64)
                np.cumsum(counts[nz][:-1], out=starts[1:])
                cols = _sigs_from_segments(h, starts).T
                for pos, i in enumerate(nz):
                    sigs[int(i)] = cols[pos]
            # short texts (0 < len < k): single whole-text hash, same
            # fallback contract as _shingle_hash_batch
            short = np.nonzero((lens > 0) & (lens < k))[0]
            if len(short):
                doc = np.repeat(np.arange(n), lens)
                codes64 = codes.astype(np.uint64)
                for i in short:
                    s, e = doc.searchsorted(i, "left"), doc.searchsorted(i, "right")
                    c = codes64[s:e]
                    hh = c[0] if len(c) else np.uint64(0)
                    for x in c[1:]:
                        hh = hh * textkit.HASH_BASE + x
                    x1 = np.int64(
                        (hh * textkit.HASH_MIX).astype(np.uint64).view(np.int64)
                    )
                    xm1 = np.mod(np.int64(x1), _MERSENNE)
                    sigs[int(i)] = np.mod(a * xm1 + b, _MERSENNE)
            yield pd.DataFrame({"id": pdf[id_col], "sig": sigs})

    id_dtype = dict(df.dtypes)[id_col]  # long doc ids or string turn ids
    schema = (
        f"id {id_dtype}, shingles array<long>, sig array<long>"
        if include_shingles
        else f"id {id_dtype}, sig array<long>"
    )
    return _scale_partitions(df).mapInPandas(run, schema)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """id, shingles (hash array), sig (minhash signature array).

    Permutations h_j(x) = (a_j * x + b_j) mod 2^31-1 with seeded a/b.
    """
    return _shingle_sig_table(df, id_col, text_col, shingle_k, num_hashes, seed)


def _band_bucket_rows(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bh) band-bucket rows from a (id, sig) signature table —
    map-only: each band's key is xxhash64 over its signature slice. NULL
    signatures (blank text) emit no rows."""
    rows_per_band = num_hashes // bands
    band_structs = ",".join(
        "struct({bi} as band, xxhash64(concat_ws(',', {cols})) as bh)".format(
            bi=bi,
            cols=", ".join(
                f"element_at(sig, {j + 1})"
                for j in range(bi * rows_per_band, (bi + 1) * rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return (
        sigs.filter(F.col("sig").isNotNull())
        .select("id", F.explode(F.expr(f"array({band_structs})")).alias("b"))
        .select("id", F.col("b.band"), F.col("b.bh"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int | None = None,
    release_previous_caches: bool = False,
    gate_factor: float | None = 0.5,
) -> DataFrame:
    """Candidate generation via banded LSH + exact Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Jaccard is exact over the distinct shingle-hash sets (array_intersect /
    array_union sizes) for every pair that reaches verification.

    Recall contract: beyond the inherent banding recall (a >=threshold pair
    may land in no common band bucket), the signature-estimate GATE below
    can additionally reject a true >=threshold pair that reached a bucket —
    with probability P(Binom(num_hashes, j) < num_hashes*threshold*
    gate_factor), ~0.4% at num_hashes=32, threshold=0.5, gate_factor=0.5,
    shrinking exponentially in num_hashes. Pass ``gate_factor=None`` to
    disable the gate and verify every banded candidate exactly.

    ``max_bucket_size`` caps degenerate band buckets (see
    :func:`_cap_buckets`); ``release_previous_caches=True`` drops caches
    left by a previous dedup pass on entry (only safe once that pass's
    result was consumed) — default is explicit management via
    :func:`release_dedup_caches`.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    if release_previous_caches:
        release_dedup_caches()
    # full-corpus pass materializes SIGNATURES ONLY (id, 32 longs — ~260B/
    # row): shingle sets are never cached corpus-wide (at 10^9 docs x 2k
    # shingles that cache would be terabytes); they are recomputed below
    # for just the candidate docs.
    sigs = _scoped_persist(
        _shingle_sig_table(
            df, id_col, text_col, shingle_k, num_hashes, seed,
            include_shingles=False,
        )
    )

    # NARROW bucket rows: ids only — neither shingles nor sigs enter the
    # candidate shuffle
    buckets = _band_bucket_rows(sigs, num_hashes, bands)

    # candidate pairs persisted: reused by the gate AND by the
    # candidate-id projection feeding the verify-side shingle recompute.
    # One bucket-keyed shuffle with map-side pair explosion (size cap
    # included) — see _bucket_pairs.
    cand = _scoped_persist(
        _bucket_pairs(buckets, ["band", "bh"], max_bucket_size)
    )
    # signature-estimate gate before the exact verify: matching sig
    # components / num_hashes is an unbiased jaccard estimate; gating at
    # gate_factor * threshold cuts the dense-bucket candidate flood
    # (measured 59k -> a few hundred at sf0.1) at the small recall cost
    # quantified in the docstring. The driver oracle replicates the gate
    # bit-for-bit, so the operator's contract stays deterministic.
    # every join below pairs two CORPUS-SCALED relations (candidate
    # pairs, signatures, candidate shingles). Catalyst's static size
    # estimate for these cached python-sourced subtrees can come out
    # tiny, and an auto-broadcast of a pair table that is actually GBs
    # collects it to the driver — measured failure at 1.45M turns
    # (maxResultSize blown by a 1 GB BroadcastExchange build). The
    # SHUFFLE_HASH hint pins the scale-correct strategy: both sides
    # partition on the id, the hinted side builds per-partition maps
    # (build memory = relation/partitions, never driver-resident); at
    # bench sizes the extra exchange is a few MB.
    if gate_factor is not None:
        min_matches = -(-num_hashes * jaccard_threshold * gate_factor // 1)  # ceil
        gated = (
            cand.join(
                sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
                .hint("shuffle_hash"),
                "id_a",
            )
            .join(
                sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
                .hint("shuffle_hash"),
                "id_b",
            )
            .filter(
                F.expr(
                    "aggregate(zip_with(sig_a, sig_b, (x, y) -> int(x = y)), 0,"
                    " (acc, v) -> acc + v)"
                )
                >= F.lit(int(min_matches))
            )
            .select("id_a", "id_b")
        )
    else:
        gated = cand.select("id_a", "id_b")
    # verify-side shingle sets: recomputed for CANDIDATE docs only (the
    # python pass reruns on a corpus fraction ~ |cand ids| / N)
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    small = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")).join(
        cand_ids.hint("shuffle_hash"), "id"
    )
    # joined twice below (id_a side and id_b side) — without the persist
    # the candidate-shingle python pass runs once per join
    shing = _scoped_persist(_shingle_only_table(small, "id", "__t", shingle_k))
    verified = (
        gated.join(
            shing.withColumnRenamed("id", "id_a")
            .withColumnRenamed("shingles", "sh_a")
            .hint("shuffle_hash"),
            "id_a",
        )
        .join(
            shing.withColumnRenamed("id", "id_b")
            .withColumnRenamed("shingles", "sh_b")
            .hint("shuffle_hash"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.expr("size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def minhash_est_histogram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Similarity profile of the banded-candidate pair table — the
    retention curve for EVERY threshold choice in one job.

    One row per distinct signature-match count observed among banded
    candidates, integer-exact:

    - ``est_matches`` — matching signature components (0..num_hashes);
      ``est_matches / num_hashes`` is the unbiased Jaccard estimate
    - ``est_jaccard_units`` — ``est_matches * 2^20 div num_hashes``
    - ``n_pairs`` — candidate pairs at exactly this estimate
    - ``pairs_at_or_above`` — cumulative from the top: the number of
      pairs a dedup run would VERIFY when its signature gate cuts at
      this estimate (``minhash_lsh_pairs`` gates at
      ``ceil(num_hashes * threshold * gate_factor)``, and
      ``minhash_dedup_incremental`` drops at
      ``ceil(num_hashes * threshold)``) — so one histogram sizes the
      verify stage and the expected dup mass for every candidate
      threshold before committing to a full dedup pass.

    Cost: the signature/bucket/pair kernels of :func:`minhash_lsh_pairs`
    (all SHUFFLE_HASH-pinned, bucket-capped) plus one hash aggregation;
    the cumulative window runs over at most ``num_hashes + 1`` rows, so
    its single-partition sort is model-sized, never corpus-sized.
    Callers own cache release via :func:`release_dedup_caches` once the
    (tiny) result is materialized."""
    assert num_hashes % bands == 0
    sigs = _scoped_persist(
        _shingle_sig_table(
            df, id_col, text_col, shingle_k, num_hashes, seed,
            include_shingles=False,
        )
    )
    buckets = _band_bucket_rows(sigs, num_hashes, bands)
    cand = _bucket_pairs(buckets, ["band", "bh"], max_bucket_size)
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> int(x = y)), 0,"
        " (acc, v) -> acc + v)"
    )
    # sigs joined twice — corpus-scaled both times, hence the hints
    # (see minhash_lsh_pairs)
    pair_est = (
        cand.join(
            sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
            .hint("shuffle_hash"),
            "id_a",
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
            .hint("shuffle_hash"),
            "id_b",
        )
        .select(est.cast("bigint").alias("est_matches"))
    )
    hist = pair_est.groupBy("est_matches").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    cum = Window.orderBy(F.col("est_matches").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hist.select(
            "est_matches",
            F.expr(f"(est_matches * 1048576) div {num_hashes}").alias(
                "est_jaccard_units"
            ),
            "n_pairs",
            F.sum("n_pairs").over(cum).alias("pairs_at_or_above"),
        )
        .orderBy("est_matches")
    )


# round count of the most recent connected_components() call — read by
# tests asserting the O(log n) convergence bound (Kiveris et al. Thm 2)
last_cc_rounds: int = 0


def _edge_fingerprint(e: DataFrame):
    """Cheap set-equality fingerprint of a DISTINCT edge list: (count,
    bit_xor of xxhash64(u, v)). One scan of the checkpointed edges — no
    shuffle, no set-difference joins. bit_xor is order/partitioning
    independent and cannot overflow under ANSI arithmetic (a sum could).
    Collision probability for two different sets is ~2^-64 per round."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("x"),
    ).first()
    return (row["n"], row["x"])


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) — component = min id reachable, via alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Converges in O(log n) rounds; each
    round is two hash aggregations + a localCheckpoint to cut lineage
    (iterative plans otherwise grow exponentially in Catalyst).

    Convergence is detected by an edge-set fingerprint (count + bit_xor of
    edge hashes, :func:`_edge_fingerprint`) — one cheap scan per round
    instead of the two shuffled ``exceptAll`` anti-joins a literal
    set-equality check costs (round-2 finding #2). The number of rounds the
    last call took is published as :data:`last_cc_rounds`.

    Not in the reference (its dedup is exact-key only, ``dask.py:930``);
    required so transitive near-dup chains (A~B~C with A≁C) collapse to
    one cluster.
    """
    global last_cc_rounds
    # materialize the pair table ONCE: the symmetrizing union below has two
    # branches over `pairs`, and an unmaterialized upstream (e.g. the whole
    # minhash pipeline) would execute twice — Spark does not share common
    # subtrees across union branches without a cache
    pairs = pairs.select(src, dst).localCheckpoint()
    # undirected edge list, self-loops dropped, as (u, v) longs
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # near-dup pair graphs are usually tiny relative to the corpus; an
    # O(log n)-round iteration at full parallelism pays ~(stages x tasks)
    # scheduling overhead per round. Collapse small graphs onto few
    # partitions (the count is free — the checkpoint above materialized e).
    if e.count() < 200_000:
        e = e.coalesce(4).localCheckpoint()
    sig = _edge_fingerprint(e)
    last_cc_rounds = 0
    for _ in range(max_iter):
        last_cc_rounds += 1
        # each round works on the symmetrized edge list (the paper's map
        # emits both (u,v) and (v,u))
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: connect every strictly-larger neighbor of u to
        # min(N(u) ∪ {u})
        nbr_min = sym.groupBy("u").agg(F.min("v").alias("m"))
        large = (
            sym.join(nbr_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"), F.least("m", F.col("u")).alias("v")
            )
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: connect u and every smaller neighbor to the minimum
        # of that set
        small_base = sym.filter(F.col("v") < F.col("u"))
        small_min = small_base.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            small_base.join(small_min, "u")
            .select(F.col("v").alias("u2"), F.col("m"))
            .select(F.col("u2").alias("u"), F.col("m").alias("v"))
            .union(small_min.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        new_e = large.union(small).distinct().localCheckpoint()
        # converged when the edge set is stable (star graphs are fixpoints);
        # fingerprint equality on distinct sets == set equality (w.h.p.)
        new_sig = _edge_fingerprint(new_e)
        e = new_e
        if new_sig == sig:
            break
        sig = new_sig
    # star edges point node -> component min; add the roots themselves
    comp = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    # both sides are dup-graph-scaled (every node of every duplicate
    # family) — corpus-scaled on dup-heavy corpora, and the static size
    # estimate of the checkpointed subtree is unreliable, so pin the
    # partitioned anti join rather than risk a driver-resident broadcast
    # of the whole node set.
    roots = comp.select(F.col("component").alias("id")).distinct().join(
        comp.select("id").hint("shuffle_hash"), "id", "left_anti"
    )
    return comp.union(
        roots.select("id", F.col("id").alias("component"))
    ).groupBy("id").agg(F.min("component").alias("component"))


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    transitive: bool = True,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates, keeping the smallest id of each duplicate
    CLUSTER. ``transitive=True`` (default) runs connected components over
    the pair table so chains A~B~C collapse to {A}; ``transitive=False``
    is the cheaper one-hop approximation (keeps A and C when only A~B,
    B~C were found)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **kwargs)
    if transitive:
        comp = connected_components(pairs)
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _distinct_word_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) — distinct lowercase word n-grams per doc. Docs with
    fewer than n words emit NO grams (empty array -> explode drops the
    row), matching the SQL-oracle semantics exactly — a truncated
    pseudo-gram would pair up unrelated one-word docs."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(
                f"CASE WHEN size(split(trim(lower({text_col})), '\\\\s+')) >= {n} THEN "
                f"array_distinct(transform("
                f"  sequence(1, size(split(trim(lower({text_col})), '\\\\s+')) - {n} + 1),"
                f"  i -> concat_ws(' ', slice(split(trim(lower({text_col})), '\\\\s+'), i, {n}))))"
                f" ELSE array() END"
            )
        ).alias("gram"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity join (the oracle-checkable
    near-dup path; SQL-expressible end to end).

    Explodes n-grams -> co-occurrence counts per pair -> |A∩B| / |A∪B|.
    Quadratic in docs sharing an n-gram; use for verification and small
    corpora, :func:`prefix_jaccard_pairs` (same exact result) or
    MinHash-LSH (approximate) for scale.
    """
    grams = _distinct_word_grams(df, id_col, text_col, n)
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    co = (
        grams.alias("g1")
        .join(grams.alias("g2"), (F.col("g1.gram") == F.col("g2.gram")) & (F.col("g1.id") < F.col("g2.id")))
        .groupBy(F.col("g1.id").alias("id_a"), F.col("g2.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        co.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT word-n-gram Jaccard join at scale via prefix filtering
    (the All-Pairs/PPJoin prefix principle, Bayardo et al. WWW'07 /
    Xiao et al. TODS'11): identical output to
    :func:`ngram_jaccard_pairs`, but the candidate join only touches
    each document's RAREST grams instead of all of them.

    Under a global gram order (ascending document frequency, ties by
    gram — rarest first maximizes pruning), any pair with
    ``J(A,B) >= t`` must share a gram within the first
    ``|X| - ceil(t * |X|) + 1`` grams of EACH side: ``J >= t`` implies
    ``|A ∩ B| >= t * max(|A|, |B|)``, and two sets whose overlap is at
    least alpha cannot avoid each other's ``|X| - alpha + 1`` prefixes.
    So the self-join runs on prefix grams only — at threshold 0.5 that
    is half of each document, and the df-ascending order concentrates
    the join on grams shared by few documents. Verification then
    computes the exact intersection per surviving candidate pair
    (sorted gram arrays, ``array_intersect`` — candidate docs only).

    Scale shape: one gram-df aggregation (map-side combined), one
    window per doc to rank grams (shuffle keyed on the doc), the
    candidate equi-join on PREFIX grams only, and an
    ``array_intersect`` verify over candidate pairs. Equality with the
    quadratic form is pinned by tests on random corpora; the exact
    all-pairs SQL remains the DuckDB oracle.

    When to use which (measured): the plain join's cost is
    ``sum_g C(df_g, 2)`` — on UNIFORM synthetic text (df ~ 1-3) that is
    already sparse and the df/rank overhead here loses (50k random docs:
    53s plain vs 115s prefix). On corpora with SHARED text the plain
    join grows quadratically in corpus size while prefix stays linear:
    20k docs sharing one boilerplate sentence measure 107s plain vs 11s
    prefix, and at web scale (10^9 docs, every page sharing header
    grams) the plain join is simply not runnable. Natural corpora are
    the second case.
    """
    # carry 8-byte gram hashes, not the gram strings, through every
    # shuffle/sort/intersect (the same representation the minhash verify
    # uses — a within-doc xxhash64 collision, |G|^2/2^64, is negligible
    # at any corpus size and only that could perturb one pair's count)
    # persisted: four consumers (df counts, rank window, sizes, verify
    # arrays) would otherwise each re-run the text pass AND the distinct
    # shuffle — measured 10.2s -> ~4s at sf0.1 with the shared table
    grams = _scoped_persist(
        _distinct_word_grams(df, id_col, text_col, n).select(
            "id", F.xxhash64("gram").alias("gram")
        )
    )
    grams.count()  # materialization barrier (round-1 double-execution lesson)
    gdf = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = grams.join(gdf, "gram").withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("gram"))
        ),
    ).withColumn(
        # |G| computed inside the same doc-keyed window pass — no extra
        # sizes aggregation/join over the gram table
        "ng", F.count(F.lit(1)).over(Window.partitionBy("id")),
    )
    prefix = ranked.filter(
        F.col("rank") <= F.col("ng") - F.ceil(F.lit(threshold) * F.col("ng")) + 1
    ).select("id", "gram")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    garr = grams.groupBy("id").agg(
        F.sort_array(F.collect_list("gram")).alias("gs"),
        F.count(F.lit(1)).alias("ng"),
    )
    return (
        cand.join(
            garr.select(F.col("id").alias("id_a"), F.col("gs").alias("gs_a"),
                        F.col("ng").alias("na")), "id_a")
        .join(
            garr.select(F.col("id").alias("id_b"), F.col("gs").alias("gs_b"),
                        F.col("ng").alias("nb")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("gs_a", "gs_b")))
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_batch(texts: pd.Series, k: int = 4) -> np.ndarray:
    """Vectorized 64-bit simhash over char k-gram hashes (numpy, one pass
    over the shared textkit kernel): per-gram rolling hash, then 64
    sign-sums per doc via bincount — no per-row Python.
    """
    codes, lens = textkit.flat_codes(texts)
    n = len(lens)
    h, gdoc = textkit.rolling_kgram_hashes(codes, lens, k)
    if len(h) == 0:
        return np.zeros(n, dtype=np.uint64).view(np.int64)
    counts = np.bincount(gdoc, minlength=n).astype(np.int64)
    sim = np.zeros(n, dtype=np.uint64)
    for b in range(64):
        bit = ((h >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
        ones = np.bincount(gdoc, weights=bit, minlength=n)
        sim |= ((2 * ones > counts).astype(np.uint64)) << np.uint64(b)
    return sim.view(np.int64)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """id, simhash (long) — Arrow-vectorized pandas UDF (slow path is one
    numpy pass per batch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf[id_col], "simhash": _simhash_batch(pdf[text_col])}
            )

    return _scale_partitions(df).mapInPandas(run, "id long, simhash long")


def _block_spans(num_blocks: int, total_bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) spans splitting ``total_bits`` into ``num_blocks``
    nearly-equal contiguous blocks."""
    base, extra = divmod(total_bits, num_blocks)
    spans, off = [], 0
    for i in range(num_blocks):
        w = base + (1 if i < extra else 0)
        spans.append((off, w))
        off += w
    return spans


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hamming_threshold: int = 3,
    max_bucket_size: int | None = None,
    release_previous_caches: bool = False,
) -> DataFrame:
    """(id_a, id_b, hamming) with hamming <= threshold — EXACT.

    Pigeonhole blocking: split the 64-bit hash into ``threshold + 1``
    contiguous blocks; hamming <= t implies at least one block matches
    exactly (t differing bits cannot touch all t+1 blocks), so the
    self-join only runs within block buckets and still finds EVERY
    qualifying pair (round 1 used a fixed 4 blocks, which was only exact
    for t <= 3). Verification via bit_count(xor) — all JVM-side.

    Larger thresholds mean narrower blocks (64/(t+1) bits) and hotter
    buckets — ``max_bucket_size`` caps the degenerate ones (recall
    tradeoff, documented in :func:`_cap_buckets`). The (id, simhash)
    table is persisted so the Python hashing pass runs once, not once per
    join side; the cache is registered for :func:`release_dedup_caches`
    (``release_previous_caches=True`` additionally drops a previous
    pass's caches on entry — only safe once that pass was consumed).
    """
    if hamming_threshold < 0 or hamming_threshold > 32:
        raise ValueError("hamming_threshold must be in [0, 32]")
    if release_previous_caches:
        release_dedup_caches()
    h = _scoped_persist(simhash(df, id_col, text_col))
    spans = _block_spans(hamming_threshold + 1)
    blocks = h.select(
        "id",
        "simhash",
        F.explode(
            F.expr(
                "array("
                + ",".join(
                    f"struct({i} as blk, "
                    f"shiftright(simhash, {off}) & {(1 << w) - 1} as bkey)"
                    for i, (off, w) in enumerate(spans)
                )
                + ")"
            )
        ).alias("b"),
    ).select("id", "simhash", "b.blk", "b.bkey")
    # one block-keyed shuffle with map-side pair explosion; the simhash
    # value rides along so verification never re-joins the corpus table
    cand = _bucket_pairs(
        blocks, ["blk", "bkey"], max_bucket_size, payload_cols=["simhash"]
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(simhash_a ^ simhash_b)"))
        .filter(F.col("hamming") <= hamming_threshold)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD'03 — partial-overlap dup)
# ---------------------------------------------------------------------------


def _winnow_batch(texts: pd.Series, k: int, window: int) -> list[np.ndarray]:
    """Per-text distinct winnowed fingerprints: min k-gram hash in every
    sliding window of ``window`` consecutive grams (rightmost min on ties,
    per the paper) — one numpy pass over the shared textkit kernel."""
    codes, lens = textkit.flat_codes(texts)
    n = len(lens)
    h, gdoc = textkit.rolling_kgram_hashes(codes, lens, k)
    out: list[np.ndarray] = [np.empty(0, dtype=np.int64)] * n
    if len(h) == 0:
        return out
    hv = h.view(np.int64)
    N = len(hv)
    bounds = np.searchsorted(gdoc, np.arange(n + 1))
    m_per = np.diff(bounds)
    # batch-wide window selection over the FLAT hash stream (windows
    # crossing a doc boundary masked out): rolling min via ``window``
    # CONTIGUOUS shifted-slice minimum passes, rightmost tie-break by
    # overwriting the offset in ascending order — every pass is a SIMD
    # friendly dense vector op (an argmin over a reversed strided window
    # view computes the same thing ~9x slower; a per-doc loop building
    # (m, window) index matrices was the original wall)
    sel_mask = np.zeros(N, dtype=bool)
    if N >= window:
        n_win = N - window + 1
        winmin = hv[:n_win].copy()
        for j in range(1, window):
            np.minimum(winmin, hv[j : j + n_win], out=winmin)
        sel_off = np.zeros(n_win, dtype=np.int64)
        for j in range(1, window):
            np.copyto(sel_off, j, where=hv[j : j + n_win] == winmin)
        starts_ok = gdoc[:n_win] == gdoc[window - 1 :]
        pos = np.nonzero(starts_ok)[0]
        sel_mask[pos + sel_off[pos]] = True
    # docs shorter than one window: rightmost min of the whole doc
    for i in np.nonzero((m_per > 0) & (m_per <= window))[0]:
        s, e = bounds[i], bounds[i + 1]
        doc_h = hv[s:e]
        sel_mask[s + int(np.flatnonzero(doc_h == doc_h.min())[-1])] = True
    sel_pos = np.nonzero(sel_mask)[0]
    if len(sel_pos) == 0:
        return out
    # per-doc distinct + ascending, flat (same idiom as _shingle_hash_batch)
    sg, sh_v = gdoc[sel_pos], hv[sel_pos]
    order = np.lexsort((sh_v, sg))
    sg, sh_v = sg[order], sh_v[order]
    keep = np.ones(len(sg), dtype=bool)
    keep[1:] = (sg[1:] != sg[:-1]) | (sh_v[1:] != sh_v[:-1])
    sg, sh_v = sg[keep], sh_v[keep]
    b2 = np.searchsorted(sg, np.arange(n + 1))
    for i in range(n):
        if b2[i] < b2[i + 1]:
            out[i] = sh_v[b2[i] : b2[i + 1]]
    return out


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """(id, fingerprint) rows — the winnowing document-fingerprint set.

    Guarantee (the paper's): any shared substring of length >= k+window-1
    between two documents yields at least one SHARED fingerprint, so
    partial-overlap duplicates (quotes, boilerplate blocks) are caught by
    an equi-join on fingerprint — unlike the whole-document
    :func:`feast_spark.functions.text.doc_fingerprint`. Fingerprint
    density is ~2/(window+1) of the grams, bounding index size."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = _winnow_batch(pdf[text_col], k, window)
            ids = np.repeat(pdf[id_col].to_numpy(), [len(f) for f in fps])
            yield pd.DataFrame(
                {
                    "id": ids,
                    "fingerprint": np.concatenate(fps)
                    if len(fps)
                    else np.empty(0, dtype=np.int64),
                }
            )

    return _scale_partitions(df).mapInPandas(run, "id long, fingerprint long")


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_fingerprint_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, shared) — pairs sharing >= min_shared winnowed
    fingerprints. ``max_fingerprint_df`` drops boilerplate fingerprints
    appearing in more than that many docs before the self-join (the same
    degenerate-bucket guard as the LSH caps)."""
    fp = winnow_fingerprints(df, id_col, text_col, k, window)
    # one shuffle keyed on the fingerprint replaces the old
    # (df-count shuffle + df join + two-sided self-join) chain: group the
    # doc ids per fingerprint, drop boilerplate groups by SIZE, and emit
    # the C(df,2) co-occurrence pairs MAP-SIDE from the sorted id array.
    # Per-doc fingerprints are already distinct, so collect_set == the
    # join's multiplicity. Measured 18.9s -> ~11s at 50k docs / 26M
    # fingerprint rows (the fingerprint map pass now also runs exactly
    # once instead of feeding four consumers).
    # degenerate fingerprints are dropped by a COUNT before the collect
    # (a count never materializes the bucket — see _bucket_pairs); the
    # fingerprint table is scope-persisted so the Python fingerprint
    # pass feeds the count and the collect without re-running
    if max_fingerprint_df:
        fp = _scoped_persist(fp)
        fp = _cap_buckets(fp, ["fingerprint"], max_fingerprint_df)
    grouped = fp.groupBy("fingerprint").agg(F.collect_set("id").alias("ids"))
    grouped = grouped.filter(F.size("ids") >= 2)
    combos = _sorted_pair_combos(F.array_sort(F.col("ids")))
    pairs = (
        grouped.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return pairs


def conversation_neardup_pairs(
    transcripts: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Near-duplicate CONVERSATIONS: MinHash-LSH over each conversation's
    concatenated turn text — the transcript-payload form of document
    near-dup (re-ingested chat logs, forked agent sessions, re-run agent
    jobs produce whole-conversation copies that per-turn rules never see).

    Composition, all existing scale shapes: latest-per-key turn dedup
    (hash agg, the quality pipeline's stage 1) → one hash aggregation per
    conv building the turn-ordered concat (``array_sort`` over
    ``(turn_idx, text)`` structs — no window sort; mega-conversations are
    one group each in a map-side-combined agg) → :func:`minhash_lsh_pairs`
    on the conv-level corpus. The pair table is conv-keyed
    (``(id_a, id_b, jaccard)`` with ``id_a < id_b`` lexicographic on
    conv_id), |convs| ~ |turns|/E[turns-per-conv], so every downstream
    LSH structure is an order of magnitude smaller than the turn table.
    """
    from feast_spark.operators.latest import dedup_latest_turns

    deduped = transcripts if pre_deduped else dedup_latest_turns(transcripts)
    conv_text = deduped.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                lambda s: s["text"],
            ),
            " ",
        ).alias("conv_text")
    )
    # the signature tables carry int64 ids (8 B/row through every LSH
    # shuffle); string conv_ids ride as an xxhash64 surrogate and map back
    # over the (tiny, conv-level) id table at the end, with pair
    # orientation re-normalized to lexicographic conv_id order
    with_iid = conv_text.select(
        "conv_id", F.xxhash64("conv_id").alias("__iid"), "conv_text"
    )
    pairs = minhash_lsh_pairs(
        with_iid.select(F.col("__iid").alias("cid"), "conv_text"),
        "cid", "conv_text",
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold, seed=seed,
        max_bucket_size=max_bucket_size,
    )
    ids = with_iid.select("conv_id", "__iid")
    mapped = (
        pairs.join(
            F.broadcast(ids.select(F.col("__iid").alias("id_a"),
                                   F.col("conv_id").alias("__ca"))),
            "id_a",
        )
        .join(
            F.broadcast(ids.select(F.col("__iid").alias("id_b"),
                                   F.col("conv_id").alias("__cb"))),
            "id_b",
        )
    )
    return mapped.select(
        F.least("__ca", "__cb").alias("id_a"),
        F.greatest("__ca", "__cb").alias("id_b"),
        "jaccard",
    )


def paragraph_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 1,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = None,
    idx_bits: int = 16,
) -> DataFrame:
    """Fuzzy near-duplicate detection at the PARAGRAPH grain: MinHash-LSH
    over individual paragraphs across the whole corpus — the fuzzy arm of
    :func:`feast_spark.operators.selection.paragraph_dedup` (which is
    exact-hash only). Real transcript/web corpora duplicate boilerplate
    at this grain with small edits (dates, usernames) that exact hashing
    misses; Dolma's paragraph dedup motivates the grain, MinHash supplies
    the tolerance.

    Composition at proven scale shapes: one literal-separator split +
    posexplode (map-only) turns the corpus into a paragraph relation
    keyed by the packed int64 surrogate ``doc_id * 2^idx_bits +
    para_idx`` (8 B/row through every LSH shuffle; a runtime assert
    rejects a paragraph index that would overflow the packing), then
    :func:`minhash_lsh_pairs` runs unchanged on it. Returns
    ``(doc_a, para_a, doc_b, para_b, jaccard)`` with ``(doc_a, para_a) <
    (doc_b, para_b)`` — unpacking is map-side arithmetic, no extra join.

    Reference: feast has no text dedup (the paragraph grain follows the
    public Dolma pipeline's design).
    """
    shift = 1 << idx_bits
    pat = "\\Q" + sep + "\\E"
    paras_arr = F.filter(
        F.transform(F.split(F.col(text_col), pat), lambda x: F.trim(x)),
        lambda x: F.length(x) >= min_chars,
    )
    # the overflow guard lives INSIDE the pid expression (assert_true is
    # NULL on success, so the when() both evaluates it and yields the
    # packed id) — a free-standing checked column would be pruned away
    guard = F.assert_true(
        F.col("para_idx") < F.lit(shift),
        F.lit(f"para_idx >= 2^{idx_bits}: raise idx_bits"),
    )
    p = docs.select(
        F.col(id_col).cast("long").alias("_doc"),
        F.posexplode(paras_arr).alias("para_idx", "para"),
    ).select(
        F.when(
            guard.isNull(),
            F.col("_doc") * F.lit(shift) + F.col("para_idx"),
        ).alias("pid"),
        "para",
    )
    pairs = minhash_lsh_pairs(
        p, "pid", "para",
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold, seed=seed,
        max_bucket_size=max_bucket_size,
    )
    return pairs.select(
        F.expr(f"id_a div {shift}").alias("doc_a"),
        F.pmod("id_a", F.lit(shift)).cast("long").alias("para_a"),
        F.expr(f"id_b div {shift}").alias("doc_b"),
        F.pmod("id_b", F.lit(shift)).cast("long").alias("para_b"),
        "jaccard",
    )


def neardup_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_chars: int | None = None,
    units: int = 1 << 20,
    early_exit: bool = False,
) -> DataFrame:
    """Edit-similarity CONFIRMATION of near-duplicate candidate pairs
    (Lee et al. 2022 'Deduplicating Training Data Makes Language Models
    Better'; RefinedWeb uses the same verify step). Every fuzzy family
    here (MinHash / SimHash / winnowing / prefix-Jaccard / CDC) emits
    candidates from SET overlap, which is blind to token order —
    ``"a b c d"`` and ``"d c b a"`` share all unigram shingles. The
    accepted confirmation is character edit similarity
    ``sim = 1 - lev(a, b) / max(|a|, |b|)`` computed on the candidate
    pairs only (never all pairs).

    Engine-portable exactness: both texts are projected to printable
    ASCII (one char == one byte == one codepoint, so Spark's
    codepoint-grain and DuckDB's byte-grain ``levenshtein`` agree) and
    the verdict is the INTEGER
    ``sim_units = (max_len - lev) * units div max_len`` — no float
    enters the keep/drop decision. Empty-vs-empty verifies as exact
    (``units``).

    Scale shape: two hash joins keyed on the ids bring text to the pair
    relation — the corpus side shuffles its projected (and optionally
    ``max_chars``-capped) text once per side; the pair relation is
    LSH-output-sized, orders of magnitude below the corpus. The edit
    distance itself runs JVM-side per pair, O(len_a * len_b) — cap
    ``max_chars`` (e.g. 2000) when verifying long documents at
    10^12-row scale; candidates that diverge inside the cap diverge,
    and ones identical up to the cap are the true long-clone case.

    Returns ``(id_a, id_b, sim_units, is_dup)``.

    ``early_exit=True`` is the scale arm: the per-pair DP budget is the
    bane at 10^12 rows (|pairs| x max_chars^2 cells), and the verdict
    only needs ``lev <= L`` where ``L = ml * (units - thr_units) div
    units`` (exactly equivalent to ``sim_units >= thr_units`` — both
    sides integer, floor(x) >= k <=> x >= k). Spark's banded 3-arg
    ``levenshtein(l, r, L)`` computes O(L * len) cells and returns -1
    the moment the distance provably exceeds L — a ~1/(1-threshold)
    cell reduction for confirming pairs and far earlier exits for the
    (typical) rejected majority. ``is_dup`` is bit-identical to the
    exact arm (parity-tested); ``sim_units`` is exact for confirmed
    pairs and NULL for rejected ones (the banded DP never learns the
    true distance past L) — so the exact arm stays the oracle-checked
    default and both curation verify arms run this one, consuming only
    ``is_dup``.

    Reference: feast has no dedup surface (public-pipeline operator).
    """
    proj = F.regexp_replace(
        F.coalesce(F.col(text_col), F.lit("")), r"[^\x20-\x7E]", ""
    )
    if max_chars is not None:
        proj = F.substring(proj, 1, max_chars)
    t = docs.select(F.col(id_col).alias("_vid"), proj.alias("_vt"))
    thr_units = int(math.floor(threshold * units))
    # SHUFFLE_HASH: the text side is corpus-scaled — an auto-broadcast
    # (possible under Catalyst's static size guesses for python-derived
    # subtrees; see minhash_lsh_pairs) would pull capped text for the
    # WHOLE corpus to the driver. Hinted, both joins partition on the id.
    j = (
        pairs.select("id_a", "id_b")
        .join(
            t.select(F.col("_vid").alias("id_a"), F.col("_vt").alias("_ta"))
            .hint("shuffle_hash"),
            "id_a",
        )
        .join(
            t.select(F.col("_vid").alias("id_b"), F.col("_vt").alias("_tb"))
            .hint("shuffle_hash"),
            "id_b",
        )
        .withColumn(
            "_ml", F.greatest(F.length("_ta"), F.length("_tb")).cast("long")
        )
    )
    if early_exit:
        # banded DP: lev <= L <=> sim_units >= thr_units (see docstring)
        j = j.withColumn(
            "_L", F.expr(f"(_ml * {units - thr_units}) div {units}")
        ).withColumn(
            # the python wrapper only takes an int literal threshold;
            # the Catalyst expression itself accepts a per-row column
            "_lev",
            F.expr("levenshtein(_ta, _tb, cast(_L as int))").cast("long"),
        )
        is_dup = F.col("_lev") >= 0
        sim = F.when(F.col("_ml") == 0, F.lit(units).cast("long")).otherwise(
            F.when(is_dup, F.expr(f"((_ml - _lev) * {units}) div _ml"))
        )
        return j.select(
            "id_a",
            "id_b",
            sim.alias("sim_units"),
            # empty-vs-empty: lev = 0 <= L = 0, confirmed on both arms
            is_dup.alias("is_dup"),
        )
    j = j.withColumn("_lev", F.levenshtein("_ta", "_tb").cast("long"))
    sim = F.when(F.col("_ml") == 0, F.lit(units).cast("long")).otherwise(
        F.expr(f"((_ml - _lev) * {units}) div _ml")
    )
    return j.select(
        "id_a",
        "id_b",
        sim.alias("sim_units"),
        (sim >= F.lit(thr_units)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# content-defined chunking near-dup (Gear / FastCDC family)
# ---------------------------------------------------------------------------


def _cdc_chunk_batch(
    texts: pd.Series, avg_bits: int
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Vectorized gear-hash content-defined chunking over an Arrow batch:
    per text, (distinct chunk hashes, their byte lengths).

    One flat uint8 pass over the batch's concatenated UTF-8 bytes:

    - gear register: ``h_i = sum_{j<=min(i,63)} G[b_{i-j}] << j`` — the
      sequential recurrence unrolled into <=64 masked shift-add passes
      (terms shifted >= 64 vanish mod 2^64, so this equals the per-doc
      sequential gear from ``h=0`` in :func:`textkit.cdc_chunks_py`);
    - cuts where ``h & textkit.cdc_mask(avg_bits) == 0`` (spread mask —
      low-bit masks degenerate on low-entropy text) plus a forced cut at
      each doc's last byte (chunks never span docs);
    - chunk hashes via prefix differences: ``S_i = sum_{j<i} b_j *
      HASH_BASE^-j`` (uint64 cumsum), ``H(s,e) = (S_e - S_s) *
      HASH_BASE^(e-1)`` == the naive left-fold polynomial — no per-chunk
      python loop.
    """
    g = textkit.gear_table()
    base = textkit.HASH_BASE
    binv = textkit.HASH_BASE_INV
    mask = np.uint64(textkit.cdc_mask(avg_bits))
    filled = texts.fillna("").astype(str)
    enc = [t.encode("utf-8", "surrogatepass") for t in filled]
    n = len(enc)
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=n)
    empty = np.empty(0, dtype=np.int64)
    out_h: list[np.ndarray] = [empty] * n
    out_l: list[np.ndarray] = [empty] * n
    flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
    N = len(flat)
    if N == 0:
        return out_h, out_l
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    off = np.arange(N, dtype=np.int64) - np.repeat(starts, lens)
    gv = g[flat]
    # contiguous-slice accumulation of the 64-term gear window (SIMD
    # friendly; a masked fancy-index per pass was ~5x slower at 500k
    # docs), then a correction pass over ONLY the per-doc warmup bytes
    # (off < 63, a few % of N) subtracting the cross-doc contributions
    # the unmasked slices wrongly added
    h = gv.copy()
    for j in range(1, 64):
        if j >= N:
            break
        h[j:] += gv[:-j] << np.uint64(j)
    warm = np.nonzero(off < 63)[0]
    for j in range(1, 64):
        bad = warm[(off[warm] < j) & (warm >= j)]
        if len(bad) == 0:
            continue
        h[bad] -= gv[bad - j] << np.uint64(j)
    cut = (h & mask) == 0
    cut[starts + lens - 1] = True  # lens > 0 here for every present doc
    cut_pos = np.nonzero(cut)[0]
    seg_e = cut_pos + 1  # exclusive ends
    seg_s = np.empty_like(seg_e)
    seg_s[0] = 0
    seg_s[1:] = seg_e[:-1]
    gdoc = np.repeat(np.arange(n), lens)[cut_pos]
    # prefix-difference polynomial hash of every chunk
    bp = np.empty(N, dtype=np.uint64)  # HASH_BASE^i
    bp[0] = 1
    np.cumprod(np.full(N - 1, base, dtype=np.uint64), out=bp[1:])
    ip = np.empty(N, dtype=np.uint64)  # HASH_BASE^-i
    ip[0] = 1
    np.cumprod(np.full(N - 1, binv, dtype=np.uint64), out=ip[1:])
    S = np.zeros(N + 1, dtype=np.uint64)
    np.cumsum(flat.astype(np.uint64) * ip, out=S[1:])
    ch = ((S[seg_e] - S[seg_s]) * bp[seg_e - 1]).view(np.int64)
    cl = seg_e - seg_s
    # per-doc distinct (keep one length per hash), flat
    order = np.lexsort((ch, gdoc))
    sg, sh_v, sl_v = gdoc[order], ch[order], cl[order]
    keep = np.ones(len(sg), dtype=bool)
    keep[1:] = (sg[1:] != sg[:-1]) | (sh_v[1:] != sh_v[:-1])
    sg, sh_v, sl_v = sg[keep], sh_v[keep], sl_v[keep]
    b2 = np.searchsorted(sg, np.arange(n + 1))
    for i in range(n):
        if b2[i] < b2[i + 1]:
            out_h[i] = sh_v[b2[i] : b2[i + 1]]
            out_l[i] = sl_v[b2[i] : b2[i + 1]]
    return out_h, out_l


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    avg_bits: int = 6,
) -> DataFrame:
    """(id, chunk_hash, chunk_len) — one row per DISTINCT content-defined
    chunk per document (gear cuts, ~2^avg_bits-byte expected chunks).

    The storage-dedup technique applied to corpora: because cut points
    are functions of local content, two documents sharing a byte run
    longer than a few chunk lengths share the interior chunk hashes even
    when the run sits at different offsets — the failure mode of
    fixed-size blocking. Map-only; ~16 B/chunk leaves the scan.

    Reference: feast has no byte-level dedup; the algorithm is public
    (FastCDC, Xia et al. ATC'16; gear hash per Zhang et al.)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs, ls = _cdc_chunk_batch(pdf[text_col], avg_bits)
            counts = [len(a) for a in hs]
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[id_col].to_numpy(), counts),
                    "chunk_hash": np.concatenate(hs)
                    if hs
                    else np.empty(0, dtype=np.int64),
                    "chunk_len": np.concatenate(ls)
                    if ls
                    else np.empty(0, dtype=np.int64),
                }
            )

    return _scale_partitions(df).mapInPandas(
        run, "id long, chunk_hash long, chunk_len long"
    )


def cdc_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    avg_bits: int = 6,
    min_shared: int = 2,
    max_chunk_df: int | None = None,
    min_chunk_len: int = 8,
) -> DataFrame:
    """(id_a, id_b, shared, shared_bytes) — document pairs sharing >=
    ``min_shared`` content-defined chunks of at least ``min_chunk_len``
    bytes, with the total byte mass of the shared chunks.
    Insertion-shift-robust near-dup detection at the BYTE grain (no
    tokenization assumptions — works on code, logs, or mixed-language
    text where word shingles misfire).

    ``min_chunk_len`` plays FastCDC's min-chunk-size role without its
    sequential cut dependency: cuts stay stateless (every boundary a
    pure function of its trailing bytes), and the noise floor —
    few-byte chunks whose CONTENT accidentally coincides across
    unrelated documents — is filtered from the index instead.

    Shape: the chunk table is map-only out of the scan; one count keyed
    on chunk_hash drops boilerplate chunks (df > ``max_chunk_df``)
    BEFORE any collect (the `_cap_buckets` guard), one collect_set keyed
    on chunk_hash emits each bucket's C(n,2) pairs map-side (the
    `_bucket_pairs` rewrite), and the pair aggregation runs over
    pair-table-sized data. Chunk length rides the bucket row (identical
    for every holder of the hash), not per id."""
    ch = cdc_chunks(df, id_col, text_col, avg_bits)
    if min_chunk_len > 1:
        ch = ch.filter(F.col("chunk_len") >= min_chunk_len)
    if max_chunk_df:
        ch = _scoped_persist(ch)
        ch = _cap_buckets(ch, ["chunk_hash"], max_chunk_df)
    grouped = ch.groupBy("chunk_hash").agg(
        F.collect_set("id").alias("ids"),
        F.min("chunk_len").alias("chunk_len"),
    )
    grouped = grouped.filter(F.size("ids") >= 2)
    combos = _sorted_pair_combos(F.array_sort(F.col("ids")))
    return (
        grouped.select(
            F.explode(combos).alias("p"), F.col("chunk_len")
        )
        .groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.sum("chunk_len").alias("shared_bytes"),
        )
        .filter(F.col("shared") >= min_shared)
    )


def cross_source_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    units: int = 1 << 20,
) -> DataFrame:
    """Pairwise exact-content overlap matrix between ingest sources —
    the corpus-lineage view of exact dedup. Curation decides per-DOC
    (keep one copy); a pipeline operator ALSO needs the source-pair
    picture: a crawl snapshot that is 40% contained in last month's, a
    vendor drop that duplicates an existing slice, a mirror detected
    before it floods the mixture weights (the CCNet/RefinedWeb dedup
    analyses report exactly this matrix across dumps).

    One row per UNordered source pair (``source_a < source_b``
    lexicographically), zero-filled so absent overlap is an explicit 0:
    ``(source_a, source_b, n_a, n_b, n_shared, containment_a_units,
    containment_b_units, jaccard_units)`` where ``n_*`` count DISTINCT
    normalized texts per source (ASCII-whitespace collapse + trim; NO
    case fold — the cross-engine casefold divergence note in
    ``conversation.py``), ``n_shared`` counts normalized texts present
    in both, and the three fractions are exact integers
    (``x * units div y``). Blank-normalized docs are excluded (an empty
    doc in two sources is not shared content).

    Scale shape: ONE hash-agg exchange builds the distinct
    (source, md5) relation map-side-combined; the pair counts come from
    a self-join keyed by the hash (each key carries at most n_sources
    rows — per-key fan-out is bounded by the DIMENSION, not the
    corpus, so there is no skew amplification); source sizes and the
    final zero-filled pair frame are dimension-sized broadcasts. At
    10^12 rows swap the md5 string for ``xxhash64(norm)`` upstream of
    the distinct (8 B/doc through both exchanges, collisions ~n^2/2^64
    — negligible for COUNTS) exactly as span_dedup's hash arm does;
    md5 kept here because the oracle compares real digests.

    Reference: feast has no corpus-lineage surface; public-pipeline
    operator (per-dump dedup matrices in CCNet §3 / RefinedWeb §4).
    """
    from feast_spark.operators.conversation import _ASCII_WS

    norm = F.trim(
        F.regexp_replace(
            F.coalesce(F.col(text_col), F.lit("")), _ASCII_WS, " "
        )
    )
    d = (
        docs.select(F.col(group_col).alias("g"), F.md5(norm).alias("h"), norm.alias("_n"))
        .filter(F.length("_n") > 0)
        .select("g", "h")
        .distinct()
    )
    sizes = d.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    shared = (
        d.alias("a")
        .join(d.alias("b"), "h")
        .filter(F.col("a.g") < F.col("b.g"))
        .groupBy(F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    pairs = (
        sizes.alias("sa")
        .crossJoin(F.broadcast(sizes.alias("sb")))
        .filter(F.col("sa.g") < F.col("sb.g"))
        .select(
            F.col("sa.g").alias("source_a"),
            F.col("sb.g").alias("source_b"),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
    )
    u = int(units)
    return (
        pairs.join(F.broadcast(shared), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.coalesce("n_shared", F.lit(0).cast("long")).alias("n_shared"),
            F.expr(f"(coalesce(n_shared, 0) * cast({u} as bigint)) div n_a")
            .alias("containment_a_units"),
            F.expr(f"(coalesce(n_shared, 0) * cast({u} as bigint)) div n_b")
            .alias("containment_b_units"),
            F.expr(
                f"(coalesce(n_shared, 0) * cast({u} as bigint))"
                " div (n_a + n_b - coalesce(n_shared, 0))"
            ).alias("jaccard_units"),
        )
    )


def minhash_dedup_incremental(
    new_docs: DataFrame,
    prior_sigs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = 200,
) -> tuple[DataFrame, DataFrame]:
    """Fuzzy near-dup for a GROWING corpus: drop new documents that
    near-duplicate anything the committed corpus has already kept, plus
    in-batch near-dup families — the MinHash arm of the incremental
    dedup matrix (``span_dedup_incremental`` / ``paragraph_dedup_
    incremental`` are the exact grains; this is the tolerant doc grain
    a fresh crawl snapshot needs against last month's corpus).

    Returns ``(kept_docs, new_sigs)``: the surviving new docs (original
    columns) and their signature rows ``(id, sig)`` — the append-only
    state a caller commits per batch (~``8*num_hashes`` B/doc; text is
    NEVER stored in state).

    Match semantics (deliberately signature-only): a pair is a
    near-dup when it band-collides AND its signature agreement
    ``|{j: sig_a[j]=sig_b[j]}| >= ceil(num_hashes * jaccard_threshold)``
    — the unbiased MinHash Jaccard estimate. The batch operator
    (:func:`minhash_lsh_pairs`) re-verifies candidates with EXACT
    shingle Jaccard, which needs both texts; against committed state
    only signatures exist, so the estimate IS the contract — uniformly,
    in-batch too, so a pair's verdict does not depend on which batch
    carried its members. At num_hashes=32 the estimate's std is
    ~sqrt(j(1-j)/32) <= 0.09 — border pairs may flip, clones do not.

    Drop rule: a new doc drops if (a) it matches ANY prior-kept doc, or
    (b) it belongs to an in-batch near-dup component
    (:func:`connected_components` over the estimate-verified pairs) and
    is not the component's min-id representative, or (c) ANY member of
    its component was dropped via (a) — the component is one content
    cluster, and if the committed corpus already holds a near-copy of
    any member, admitting the representative would re-add content the
    corpus has (the prior match landing on a non-rep member must still
    kill the whole cluster).

    Scale shape: signatures are one map-only Arrow pass over the NEW
    batch only; prior state is read as (id, sig) and its band keys are
    re-derived map-side (8 B ids + band keys through the candidate
    join — never text). The cross join is keyed (band, bh) with
    degenerate prior buckets capped (:func:`_cap_buckets`); in-batch
    pairs ride the one-shuffle :func:`_bucket_pairs` kernel. State
    grows by kept-doc signatures only, so N batches cost N scans of
    their own docs plus joins against an O(corpus) but 260-B/doc
    relation — the same marginal-batch shape proven for the span state.

    Reference: feast materialize_incremental (``feature_store.py:2546``)
    processes only the new interval; near-dup state is the
    corpus-curation extension (public: MinHash per Broder '97, the
    incremental-crawl dedup practice in CCNet/RefinedWeb).
    """
    assert num_hashes % bands == 0  # the batch operator's fail-fast
    min_matches = int(-(-num_hashes * jaccard_threshold // 1))  # ceil
    sigs_new = _scoped_persist(
        _shingle_sig_table(
            new_docs, id_col, text_col, shingle_k, num_hashes, seed,
            include_shingles=False,
        )
    )
    est_matches = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> int(x = y)), 0,"
        " (acc, v) -> acc + v)"
    )
    buckets_new = _band_bucket_rows(sigs_new, num_hashes, bands)

    # (a) cross-batch: new ids matching ANY prior-kept signature
    cross_drop = None
    if prior_sigs is not None:
        buckets_prior = _cap_buckets(
            _band_bucket_rows(prior_sigs, num_hashes, bands),
            ["band", "bh"],
            max_bucket_size,
        )
        # SHUFFLE_HASH hints for the same reason as minhash_lsh_pairs:
        # prior state is corpus-scaled — an auto-broadcast of it would
        # collect the committed corpus's signatures to the driver
        cross_cand = (
            buckets_new.join(
                buckets_prior.withColumnRenamed("id", "prior_id")
                .hint("shuffle_hash"),
                ["band", "bh"],
            )
            .select("id", "prior_id")
            .dropDuplicates(["id", "prior_id"])
        )
        cross_drop = (
            cross_cand.join(
                sigs_new.select("id", F.col("sig").alias("sig_a"))
                .hint("shuffle_hash"),
                "id",
            )
            .join(
                prior_sigs.select(
                    F.col("id").alias("prior_id"), F.col("sig").alias("sig_b")
                ).hint("shuffle_hash"),
                "prior_id",
            )
            .filter(est_matches >= F.lit(min_matches))
            .select("id")
            .distinct()
        )

    # (b)/(c) in-batch components over estimate-verified pairs
    pairs = (
        _bucket_pairs(buckets_new, ["band", "bh"], max_bucket_size)
        .join(
            sigs_new.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
            .hint("shuffle_hash"),
            "id_a",
        )
        .join(
            sigs_new.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
            .hint("shuffle_hash"),
            "id_b",
        )
        .filter(est_matches >= F.lit(min_matches))
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs)
    batch_drop = comp.filter(F.col("id") != F.col("component")).select("id")
    if cross_drop is not None:
        # (c): components with ANY cross-dropped member kill ALL their
        # members — including the min-id representative rule (b) keeps
        hit_comps = (
            comp.join(cross_drop, "id").select("component").distinct()
        )
        comp_dropped = comp.join(hit_comps, "component").select("id")
        batch_drop = batch_drop.union(cross_drop).union(comp_dropped)
    drop_ids = batch_drop.distinct().withColumnRenamed("id", id_col)

    # drop_ids is dup-mass-scaled (a near-all-dup batch drops ~the whole
    # batch) — the same wrong-tiny-estimate broadcast risk, so the anti
    # join is pinned partitioned too.
    kept = new_docs.join(drop_ids.hint("shuffle_hash"), id_col, "left_anti")
    # kept is batch-scaled (and, embedded in a later batch's plan via
    # prior_sigs, effectively corpus-scaled) — an auto-broadcast of it
    # here pulls every kept id to the driver. SHUFFLE_HASH pins the
    # partitioned semi join.
    new_sigs = sigs_new.filter(F.col("sig").isNotNull()).join(
        kept.select(F.col(id_col).alias("id")).hint("shuffle_hash"),
        "id",
        "left_semi",
    )
    return kept, new_sigs
