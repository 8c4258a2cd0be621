"""Deduplication operator family over a documents table.

The DedupEstimator lineage (reference: _qcmodule.c:4238-4802) expanded
to the full large-scale-training-pipeline menu: exact hash dedup,
head/tail fingerprint duplication histogram, MinHash+LSH near-dup,
SimHash, and n-gram Jaccard verification — each partition-invariant and
deterministic (hash-keyed, never order-dependent; SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window as W

from sequali_spark.runtime import pins
from sequali_spark.session import spread
from sequali_spark.sources.tables import load

# --- exact dedup (SQL-expressible) -----------------------------------------

def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5(text); keeper = min(doc_id) — the
    standard exact-dedup shuffle: one groupBy on the digest."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("digest"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("digest")
    )


def fingerprint_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DedupEstimator A10+A18 in pure SQL: fingerprint = digest of
    (head 16 chars ‖ tail 16 chars ‖ length-bucket), counter-of-counters
    over fingerprint counts (reference fingerprint scheme:
    _qcmodule.c:4462-4485, seed = len>>6 at :4475)."""
    # r9: deliberately NOT spread — the md5 here covers 33 chars per
    # doc, so the projection is far cheaper than the exchange a spread
    # would add (ABAB-measured 0.50 -> 0.70 s WITH a spread at sf1.0)
    d = load(spark, sf_dir, "documents")
    n = F.length("text")
    fp = F.md5(
        F.concat(
            F.substring("text", 1, 16),
            F.col("text").substr(F.greatest(n - 15, F.lit(1)), F.lit(16)),
            F.floor(n / 64).cast("string"),
        )
    )
    fp_counts = d.groupBy(fp.alias("fingerprint")).agg(F.count("*").alias("dup_count"))
    return (
        fp_counts.groupBy("dup_count")
        .agg(F.count("*").alias("n_fingerprints"))
        .orderBy("dup_count")
    )


def paragraph_dedup(docs: DataFrame, words_per_para: int = 20) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup with document
    reconstruction — the CCNet/MassiveText pre-training pass: split
    each document into paragraphs, keep only the FIRST occurrence of
    each distinct paragraph corpus-wide, and re-assemble the surviving
    text per document.  Reference lineage: DedupEstimator's
    whole-record fingerprint dedup (_qcmodule.c:4238-4802) pushed
    below document granularity.

    This corpus is single-line word soup (no ``\\n``), so "paragraph"
    is the deterministic proxy both engines can agree on byte-for-byte:
    consecutive ``words_per_para``-word windows of the space-split
    text.  First occurrence = lexicographic min of (doc_id, pid).

    Scale shape (100 TB): the election is ONE map-side-combining
    groupBy on the paragraph text — a boilerplate paragraph duplicated
    10^8 times collapses to one row per map task before the exchange —
    and the survivor set needs NO join back to the exploded frame (the
    argmin carries its (doc_id, pid) through the aggregate, so the
    classic hot-key join-back skew never exists).  Reconstruction
    shuffles only survivors, keyed by doc_id; per-doc paragraph counts
    come from ``size()`` pre-explode, zero extra shuffles.  No Window
    nodes anywhere (tests/test_paragraph_dedup.py pins this).

    Output: (doc_id, n_paras, n_kept, text_dedup), one row per input
    document; fully-duplicated documents survive with n_kept = 0 and
    text_dedup = ''.
    """
    wpp = int(words_per_para)
    if wpp < 1:
        raise ValueError(f"words_per_para must be >= 1, got {words_per_para}")
    # JVM-side segmentation: no per-word explode, one projection.  Two
    # measured optimizer traps shape this formulation (50k-doc corpus,
    # local[8]: 26.7 s -> 1.5 s, 18x):
    #  1. `words` MUST be its own projection, referenced by the lambda.
    #     Inlining split() into the transform re-evaluates it PER
    #     PARAGRAPH (loop-invariant hoisting does not cross lambda
    #     boundaries), turning segmentation O(paras x doc_len);
    #     CollapseProject since SPARK-36718 refuses to duplicate the
    #     expensive split, so the attribute reference survives.
    #  2. posexplode_outer, NOT posexplode: InferFiltersFromGenerate
    #     synthesizes `size(paras) > 0 AND isnotnull(paras)` for the
    #     non-outer generator, and predicate pushdown inlines the whole
    #     transform (with the per-element split of trap 1) into a
    #     Filter below the projection — evaluated twice per row.  The
    #     outer variant infers nothing, and split-based segmentation
    #     always yields >= 1 segment, so outer ≡ inner here.
    seg = docs.withColumn("words", F.split(F.coalesce("text", F.lit("")), " ")).select(
        "doc_id",
        F.expr(
            f"transform("
            f"  sequence(0, cast(ceil(size(words) / {wpp}.0) as int) - 1),"
            f"  i -> array_join(slice(words, i * {wpp} + 1, {wpp}), ' '))"
        ).alias("paras"),
    )
    paras = seg.select("doc_id", F.posexplode_outer("paras").alias("pid", "para"))
    # Third optimizer trap (plan-audited r8): min(struct(doc_id, pid))
    # compiles to a SortAggregate — struct buffers are not
    # HashAggregate-mutable, so the election SORTS the full paragraph
    # text corpus on both sides of the exchange.  A decimal(38)
    # ordering key IS HashAggregate-mutable (16-byte fixed width), and
    # doc_id * 10^10 + pid is order-isomorphic to (doc_id, pid) for
    # any bigint doc_id (incl. negative) while pid < 10^10 — a 200
    # billion-word document before the encoding saturates, with no
    # bigint overflow possible (29 < 38 digits).
    fk = F.col("doc_id").cast("decimal(19,0)") * F.lit(
        10_000_000_000
    ).cast("decimal(11,0)") + F.col("pid")
    # r9 (VERDICT r8 "what's wrong" #3): HASH-KEY election.  The r8
    # election grouped on the paragraph TEXT, so every unique paragraph
    # shipped its full text through the exchange — the measured
    # memory-bandwidth wall of the 5M 8->32 ladder.  Now the group key
    # is a 128-bit paragraph hash (two independent xxhash64 views,
    # 16 B), so the election exchange carries (hash, fk) ≈ 32 B per
    # map-side-collapsed unique paragraph regardless of prose length.
    # Correctness is 2^-128-class: distinct paragraphs colliding on
    # BOTH 64-bit hashes would merge two groups; at 10^12 distinct
    # paragraphs the collision probability is ~10^24 * 2^-128 < 10^-14.
    # The election result is ids-only (doc_id, pid) — paragraph text
    # never rides this exchange at all (it is re-derived from the base
    # table at reconstruction, below).
    firsts = paras.groupBy(
        F.xxhash64("para").alias("h1"), F.xxhash64("para", F.lit(1)).alias("h2")
    ).agg(F.min(fk).alias("fk"))
    survivors = firsts.select(
        F.floor(F.col("fk") / 10_000_000_000).cast("bigint").alias("doc_id"),
        F.pmod(F.col("fk"), F.lit(10_000_000_000)).cast("int").alias("pid"),
    )
    # Per-doc survivor pid arrays: ids-only aggregation keyed by the
    # unique doc_id (skewless by construction).  Pin the
    # ObjectHashAggregate fallback to Spark's default 128 at build time:
    # this agg has ~one distinct key per input row (2M doc_id groups at
    # the 2M ladder), where hash-mode array buffers churn and the sort
    # path streams — measured 43.5 s (128) vs 53.3 s (4M) on the 2M
    # ladder's 8-cpu leg.  Explicit, not inherited, because the minhash
    # pairs path raises the same session conf to 4M at ITS build time
    # (few distinct bucket keys per task — the opposite regime) and the
    # curation job runs both in one session.  Perf-only conf; results
    # are unaffected either way.
    survivors.sparkSession.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128"
    )
    kept = survivors.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_kept"),
        F.sort_array(F.collect_list("pid")).alias("pids"),
    )
    # r9 (VERDICT r8 "what's wrong" #2): reconstruction re-derives the
    # surviving text from the BASE table instead of shuffling survivor
    # paragraphs: attach the tiny pid arrays to the docs scan (broadcast
    # at bench scale, shuffle-hash on the unique doc_id at corpus scale
    # — guide §8: the heavy text bytes move at most once, on a unique
    # key) and slice the kept windows back out of the one split.  The
    # old duplicated stats branch (its own scan + split) is gone:
    # n_paras comes from size(words) in the same projection.  NOTE the
    # projection must reference `words` at least TWICE (size() and the
    # slice lambda) — with a single reference CollapseProject inlines
    # split() into the transform lambda and re-splits per kept
    # paragraph (optimizer trap 1 again; pinned by
    # tests/test_paragraph_dedup.py::test_plan_evaluates_split_exactly_once).
    recon_words = docs.join(kept, "doc_id", "left").withColumn(
        "words", F.split(F.coalesce("text", F.lit("")), " ")
    )
    # NO trailing orderBy here: a global sort would range-exchange the
    # full reconstructed text a second time, and every job-side consumer
    # (curation --paragraph-dedup aggregates and joins it) is
    # order-insensitive.  The driver entry below adds the sort the
    # oracle comparison wants.
    return recon_words.select(
        "doc_id",
        F.expr(f"cast(ceil(size(words) / {wpp}.0) as int)").alias("n_paras"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.when(F.col("pids").isNull(), F.lit("")).otherwise(
            F.array_join(
                F.transform(
                    "pids",
                    lambda i: F.array_join(
                        F.slice("words", i * wpp + 1, wpp), " "
                    ),
                ),
                " ",
            )
        ).alias("text_dedup"),
    )


def paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: paragraph-level dedup + reconstruction over the
    documents table (20-word paragraphs); sorted for row-order parity
    with the SQL oracle (the sort lives HERE, not in the operator —
    see the operator's closing comment)."""
    return paragraph_dedup(
        load(spark, sf_dir, "documents"), words_per_para=20
    ).orderBy("doc_id")


def _with_digest(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text, digest) projection with the exact-dup md5 computed
    JVM-side in the same select the scan feeds — ``F.md5`` of the utf-8
    bytes is byte-identical to hashlib's lowercase hexdigest, so no
    per-doc Python digest loop rides in the Arrow stage."""
    return df.select(
        id_col,
        text_col,
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("digest"),
    )


# --- MinHash + LSH near-dup -------------------------------------------------

N_MINHASH = 64
LSH_BANDS = 16  # 16 bands x 4 rows
# packed-byte candidate prefilter in _verify_candidates — bit-identical
# output by construction (strict superset screen + exact re-verify); the
# off switch exists for the equivalence test and for debugging, not as a
# tuning knob.  Replaces the r6 pigeonhole BAND prefilter: the byte
# screen applies at EVERY threshold (the band bound vanished below
# t=0.765 — exactly where the headline query runs) and compares 64
# components via 8 codegen long ops instead of a 16-element interpreted
# lambda.
PACKED_PREFILTER = True
_MERSENNE = (1 << 61) - 1


def _minhash_params(n: int = N_MINHASH, seed: int = 97) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    return a, b


_MH_A, _MH_B = _minhash_params()


def _shingle_multiset(text: str, k: int = 5) -> np.ndarray:
    """Hashed character k-shingles of a document WITH multiplicity
    (positional rolling FNV, uint64).  Caller must hold
    ``np.errstate(over="ignore")`` — the guard is hoisted so batch
    loops don't pay the ~40us context enter/exit per doc."""
    b = text.encode("utf-8")
    if len(b) < k:
        b = b + b"\x00" * (k - len(b))
    a = np.frombuffer(b, dtype=np.uint8)
    n = len(a) - k + 1
    h = np.zeros(n, dtype=np.uint64)
    for i in range(k):
        h = h * np.uint64(1099511628211) + a[i : n + i].astype(np.uint64)
    return h


def _shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Distinct hashed character k-shingles (uint64) of a document."""
    with np.errstate(over="ignore"):
        return np.unique(_shingle_multiset(text, k))


def _minhash_signature(text: str) -> np.ndarray:
    """64-permutation minhash, (a*x + b) mod (2^61 - 1) per permutation,
    with the modulo computed by the fast Mersenne fold
    ``(v & M) + (v >> 61)`` + one conditional subtract (2^61 ≡ 1 mod M,
    so folding the high bits onto the low is exact) — bit-identical to
    ``v % M`` but ~2x faster than the hardware divide on the
    (64, n_shingles) hot matrix.  The modulus must NOT be a power of
    two: the FNV rolling shingle hashes are themselves linear mod 2^64,
    and composing them with a linear-mod-2^64 hash (multiply-shift)
    leaves structured orbits whose minima correlate across documents —
    measured est_jaccard up to 0.14 BELOW true Jaccard on near-dup
    prose; the Mersenne modulus breaks the shared 2-adic structure.
    Per-doc (not batch-wide) on purpose: the (64, n) intermediate fits
    L2 per doc; batching it was measured 4x slower (RAM-bound)."""
    with np.errstate(over="ignore"):
        return _minhash_signature_raw(text)


def _minhash_signature_raw(text: str) -> np.ndarray:
    """Body of _minhash_signature; caller holds errstate (hoisted out of
    the per-doc batch loop).  Works on the shingle MULTISET: duplicate
    shingles cannot change a minimum, so skipping the np.unique sort is
    value-identical and drops an O(n log n) pass per doc."""
    sh = _shingle_multiset(text)
    m = np.uint64(_MERSENNE)
    v = _MH_A[:, None] * sh[None, :] + _MH_B[:, None]
    v = (v & m) + (v >> np.uint64(61))
    v -= m * (v >= m)
    return v.min(axis=1).astype(np.int64)


_FNV_PRIME = np.uint64(1099511628211)
_SHINGLE_K = 5


def _batch_minhash_matrix(
    texts: list[str],
    k: int = _SHINGLE_K,
    tile: int = 8192,
    byte_budget: int = 4 << 20,
) -> np.ndarray:
    """Batched 64-permutation minhash over a whole Arrow batch of texts,
    bit-identical to per-doc ``_minhash_signature`` (pinned by
    tests/test_minhash_batch_kernel.py).  Two vectorization moves replace
    the r4 per-doc Python dispatch (the last per-doc loop in a hot path):

    1. ONE global rolling-FNV pass over the concatenated utf-8 bytes of
       every doc (each padded to >= k with NULs, exactly as
       _shingle_multiset pads) — k vector ops total per batch instead of
       k per doc; window hashes that straddle a doc boundary are dropped
       by a single gather of each doc's valid positions.
    2. Per-permutation segment minima via ``np.minimum.reduceat`` over
       doc-start offsets, computed per DOC-GROUP whose shingle total
       fits a cache-resident tile: the (64, <=tile) affine+Mersenne-fold
       working set stays in L2/L3 while the per-call Python dispatch is
       amortized over every doc in the group.  This is deliberately NOT
       the whole-batch (64, sum_n) matrix rejected in r3 (it spilled to
       RAM and ran 4x slower) — the tile bounds the working set.

    A single doc whose shingle count exceeds ``tile`` forms its own
    group (same working set as the per-doc kernel had).

    ``byte_budget`` bounds the TRANSIENT footprint: the rolling-hash /
    gather temporaries cost ~24 bytes per input byte, and Arrow batches
    cap ROWS (10k), not bytes — a batch of long documents would
    otherwise materialize tens of GB of uint64 scratch at once
    (code-review r5; the r3 whole-batch-matrix lesson, one level up).
    Docs are processed in sub-batches of at most ~byte_budget encoded
    bytes; chunking cannot change a signature (each doc's shingles are
    computed entirely within its chunk — pinned by the identity test's
    byte_budget sweep)."""
    n_docs = len(texts)
    sigs = np.empty((n_docs, N_MINHASH), dtype=np.int64)
    if n_docs == 0:
        return sigs
    bufs = []
    lens = np.empty(n_docs, dtype=np.int64)
    for i, t in enumerate(texts):
        b = t.encode("utf-8")
        if len(b) < k:
            b = b + b"\x00" * (k - len(b))
        bufs.append(b)
        lens[i] = len(b)
    start = 0
    while start < n_docs:
        end = start + 1
        total = int(lens[start])
        while end < n_docs and total + lens[end] <= byte_budget:
            total += int(lens[end])
            end += 1
        _minhash_chunk(bufs[start:end], lens[start:end], sigs[start:end], k, tile)
        start = end
    return sigs


def _chunk_shingles(
    bufs: list[bytes], lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Shared batch-shingling stage: ONE global rolling-FNV pass over a
    chunk's concatenated bytes, boundary-straddling windows dropped by a
    gather.  Returns (sh_all, sh_offs): every doc's shingle multiset
    concatenated, plus per-doc segment offsets.  Caller must hold
    np.errstate(over='ignore')."""
    n_docs = len(bufs)
    cat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    n_global = offs[-1] - k + 1
    h = np.zeros(n_global, dtype=np.uint64)
    for j in range(k):
        h = h * _FNV_PRIME + cat[j : n_global + j].astype(np.uint64)
    # gather each doc's valid window starts (doc i owns global
    # positions [offs[i], offs[i] + lens[i] - k + 1))
    n_sh = lens - (k - 1)
    sh_offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_sh, out=sh_offs[1:])
    idx = (
        np.arange(sh_offs[-1], dtype=np.int64)
        - np.repeat(sh_offs[:-1], n_sh)
        + np.repeat(offs[:-1], n_sh)
    )
    return h[idx], sh_offs


def _minhash_chunk(
    bufs: list[bytes], lens: np.ndarray, sigs_out: np.ndarray, k: int, tile: int
) -> None:
    """One bounded sub-batch of _batch_minhash_matrix: global rolling
    hash over the chunk's concatenated bytes, boundary-straddling
    windows dropped by a gather, tiled segment minima into sigs_out."""
    n_docs = len(bufs)
    with np.errstate(over="ignore"):
        sh_all, sh_offs = _chunk_shingles(bufs, lens, k)
        m = np.uint64(_MERSENNE)
        a_col = _MH_A[:, None]
        b_col = _MH_B[:, None]
        g = 0
        while g < n_docs:
            # largest doc-group whose shingles fit the tile (>= 1 doc)
            end = int(np.searchsorted(sh_offs, sh_offs[g] + tile, side="right")) - 1
            end = max(end, g + 1)
            s0, s1 = sh_offs[g], sh_offs[end]
            sh = sh_all[s0:s1]
            v = a_col * sh[None, :] + b_col
            v = (v & m) + (v >> np.uint64(61))
            v -= m * (v >= m)
            sigs_out[g:end] = np.minimum.reduceat(v, sh_offs[g:end] - s0, axis=1).T
            g = end


_PLANE_POS = np.arange(N_MINHASH, dtype=np.uint64)
N_PACK_PLANES = 4


def _pack_bitplanes(sigs: np.ndarray, n_planes: int = N_PACK_PLANES) -> np.ndarray:
    """(n_docs, 64) signature matrix -> (n_docs, n_planes) int64 bit
    planes: plane k's i-th bit is bit k of signature component i.  Two
    signatures' positional component-match count is bounded ABOVE by
    64 - popcount(OR of per-plane XORs): equal components always agree
    on every sampled bit, unequal components collide on all n_planes
    sampled bits with p = 2^-n_planes.  This gives the verify stage a
    strict-superset screen whose per-pair cost is n_planes XORs + one
    bit_count — a ~13-node codegen expression (an earlier byte-SWAR
    variant inlined a ~3000-node tree into the join condition and fell
    off codegen, measured 5x SLOWER than no screen at all)."""
    u = sigs.astype(np.uint64)
    planes = np.empty((len(sigs), n_planes), dtype=np.uint64)
    for k in range(n_planes):
        planes[:, k] = (
            ((u >> np.uint64(k)) & np.uint64(1)) << _PLANE_POS[None, :]
        ).sum(axis=1, dtype=np.uint64)
    return planes.view(np.int64)


_BAND_POWERS = (np.uint64(31) ** np.arange(
    N_MINHASH // LSH_BANDS - 1, -1, -1, dtype=np.uint64
)).astype(np.uint64)
_BAND_CONSTS = (
    np.arange(LSH_BANDS, dtype=np.uint64)
    * np.uint64(31) ** np.uint64(N_MINHASH // LSH_BANDS)
)


def _band_keys(sigs: np.ndarray) -> np.ndarray:
    """Vectorized band bucket keys for a (n_docs, N_MINHASH) signature
    matrix: the order-stable polynomial mix h = ((bi*31 + v0)*31 + v1)…
    evaluated as one batched dot with powers of 31 — uint64 wraparound
    then a 63-bit mask is EXACTLY the per-step `(h*31 + v) & M` loop
    (mod 2^63 is a ring homomorphism and 2^63 divides 2^64), so the
    vectorization cannot change a single bucket key."""
    n = sigs.shape[0]
    with np.errstate(over="ignore"):
        r = sigs.astype(np.uint64).reshape(n, LSH_BANDS, N_MINHASH // LSH_BANDS)
        mixed = (r * _BAND_POWERS[None, None, :]).sum(axis=2, dtype=np.uint64)
        mixed = mixed + _BAND_CONSTS[None, :]
    return (mixed & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64)


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, digest, signature array<long>, bands array<long>) via one
    Arrow stage — the exact-dup digest rides along so rep selection
    never needs a second pass over (or shuffle of) the text.  Zero
    per-doc Python: the digest is computed JVM-side (_with_digest) and
    the Arrow stage runs ONE batched signature kernel
    (_batch_minhash_matrix: global rolling-FNV + tiled segment-minima)
    plus ONE vectorized band-mix (_band_keys) per batch."""
    id_type = dict(docs.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, digest string, signature array<long>, "
        "bands array<long>, packed array<long>"
    )

    def _batches(it):
        for pdf in it:
            texts = [(t or "") for t in pdf[text_col]]
            sigs = _batch_minhash_matrix(texts)
            bands = _band_keys(sigs)
            packed = _pack_bitplanes(sigs)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "digest": pdf["digest"].to_numpy(),
                    "signature": list(sigs),
                    "bands": list(bands),
                    "packed": list(packed),
                }
            )

    prepared = _with_digest(docs, id_col, text_col)
    # size-aware spread (r9, replaces the fixed cap=16): engages only
    # when the scan under-decomposes (splits < cores); width targets
    # ~64 KB of source bytes per task so small inputs stay handshake-
    # bound-free while the 50k-doc sf1.0 corpus sketches on every core.
    # At production scale row-group splits exceed cores and the spread
    # never applies.
    return spread(prepared, bytes_per_task=64 * 1024).mapInPandas(
        _batches, schema=schema
    )


def collapse_exact_reps(sketch: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact-dup ``digest`` group
    of a SCALAR sketch frame — its one caller is SimHash's
    (doc_id, digest, simhash): ONE aggregation over the fixed-width
    sketch frame, never a shuffle of the text.  groupBy instead of a
    window on purpose: hash aggregation combines map-side, so the
    exchange ships one row per UNIQUE digest (a window would shuffle
    every row, then sort).  ``first`` per sketch column is
    value-deterministic here: identical text implies identical sketch
    columns within a digest group.  MinHash does not come here: its
    array columns turn this into a SortAggregate over the full sketch
    frame, so it elects reps on a slim (id, digest) frame instead
    (exact_rep_labeled_sigs)."""
    others = [c for c in sketch.columns if c not in (id_col, "digest")]
    return (
        sketch.groupBy("digest")
        .agg(
            F.min(id_col).alias(id_col),
            *[F.first(c).alias(c) for c in others],
        )
        .drop("digest")
        .select(id_col, *others)
    )


def exact_rep_labeled_sigs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Signature frame with exact-dedup labels: (id, rep, digest,
    signature, bands, packed) where rep = min id among byte-identical texts.

    The digest is computed in the same Arrow pass as the sketches — the
    text column never shuffles: sketching a duplicate is wasted
    map-side CPU, far cheaper than a corpus-wide text exchange at
    100 TB.

    Rep selection (r8, twice-measured):

    - NOT a min-over-window partitioned by digest (the r7 shape): a
      page byte-duplicated 10^6 times is one digest group, and an
      unbounded window sort-and-buffers that whole group's ~0.6 KB/doc
      sketch rows on one task — the skew class every other guard in
      this file was rewritten to avoid.
    - NOT a digest-keyed join back onto the sketch frame either (the
      first r8 attempt): sort-merge on digest re-SORTS the full sketch
      frame while the Python sketch workers hold the same cores —
      measured at 2M/local[8] it more than doubled the sketch-stage
      wall (BENCH/ATSCALE.md r8).

    Instead every digest operation runs on a SLIM (id, digest) frame
    from a second pure-JVM md5 scan (~50 B/row, whole-stage codegen):
    groupBy(digest).min(id) gives one rep per unique digest, a
    shuffle-hash join labels each slim row, and the result attaches to
    the sketch frame by doc_id — a UNIQUE key, so that exchange has
    zero skew and, with the shuffle-hash hint, zero big-side sort (the
    build side is the slim rep map).  The sketch frame is exchanged
    exactly once, unsorted — strictly less big-frame work than the
    window version, with the mega-dup skew isolated to 50-byte rows.

    The slim frame is registry-persisted (r8 review): it feeds BOTH the
    rep election and the rep_map join, and the two subtrees have
    different exchange children so ReuseExchange cannot merge them —
    unpersisted, the text would be scanned and md5'd twice more per
    materialization (three text scans total instead of the sketch pass
    plus one)."""
    sigs = minhash_signatures(docs, id_col=id_col, text_col=text_col)
    digests = _with_digest(docs, id_col, text_col).select(id_col, "digest")
    digests = pins.hold("rep_digests", digests)
    reps = digests.groupBy("digest").agg(F.min(id_col).alias("rep"))
    rep_map = digests.join(reps.hint("shuffle_hash"), "digest").select(
        id_col, "rep"
    )
    return sigs.join(rep_map.hint("shuffle_hash"), id_col).select(
        *sigs.columns, "rep"
    )


def minhash_pairs_for(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    max_bucket: int = 256,
    collapse_exact: bool = False,
    edge_mode: str = "pairs",
    ring_cap: int = 4096,
    ring_successors: int = 1,
) -> DataFrame:
    """MinHash-LSH candidate generation + signature-similarity verify,
    over any (id, text) DataFrame.  ``edge_mode`` (see
    minhash_pairs_from_sigs): "pairs" = pair-complete bucket head,
    "ring" = linear-volume clustering edges.

    Scale path: explode band keys -> self-join on (band_idx, band_hash)
    bucket — the canonical shingle->minhash->band->bucket-join plan; the
    join key is a hash so it distributes uniformly, and candidates are
    verified by estimated Jaccard from full signatures before emission.

    ``max_bucket`` is the degenerate-bucket guard: a band bucket holding
    B ids emits B^2/2 candidates, so one mega-cluster (B=10^6 near-dup
    boilerplate docs) would emit 5*10^11 rows from a single key at
    corpus scale.  Over-cap buckets are NOT dropped (a >cap cluster of
    non-byte-identical docs would lose every bucket and emit zero pairs)
    — they are star-capped: the first ``max_bucket`` members (ordered by
    a deterministic per-bucket hash) pair all-vs-all, and every member
    past the cap emits ONE candidate against the bucket anchor, so the
    bucket contributes at most cap^2/2 + (B-cap) rows.  Star edges pass
    through the same est_jaccard verify as head pairs, so an over-cap
    member stays connected to the cluster when it verifies against the
    sampled anchor (true for genuine near-dup clusters, where every
    member resembles every other); a member whose similarity to that
    one anchor falls under the threshold can still drop out — the
    per-band anchor re-sampling (ordering is salted by band hash) and
    the downstream connected-components pass recover most such links,
    but connectivity of over-cap clusters is best-effort, not
    guaranteed.  (Bounded tables are the reference's own discipline:
    _qcmodule.c:3429-3431, 4248-4253.)  ``collapse_exact`` runs LSH on
    exact-dedup representatives only (see exact_rep_labeled_sigs) so the
    cap only ever engages on pathological near-dup clusters.
    """
    if collapse_exact:
        sigs = (
            exact_rep_labeled_sigs(docs, id_col=id_col, text_col=text_col)
            .filter(F.col(id_col) == F.col("rep"))
            .drop("rep", "digest")
        )
    else:
        sigs = minhash_signatures(docs, id_col=id_col, text_col=text_col)
    # fingerprint from the RAW docs frame (see pins.fingerprint) plus
    # every structural parameter that shapes the pinned sketch; threshold
    # and bucket/ring knobs apply downstream of the pin and are excluded
    # on purpose so a threshold sweep over one corpus hits the pin
    fp = pins.pin_key(docs, "minhash", id_col, text_col, collapse_exact)
    return minhash_pairs_from_sigs(
        sigs,
        id_col=id_col,
        threshold=threshold,
        max_bucket=max_bucket,
        edge_mode=edge_mode,
        ring_cap=ring_cap,
        ring_successors=ring_successors,
        _pin_fingerprint=fp,
    )


def _ring_edges(
    exploded: DataFrame,
    key_cols: list[str],
    id_col: str,
    ring_cap: int = 4096,
    successors: int = 1,
) -> DataFrame:
    """Successor edges in salted bucket order — the linear-volume ring
    topology — with two scale guards over the raw ring (ADVICE r4):

    1. **Hot-bucket splitting**: a bucket holding B members is split
       into ``ceil(B / ring_cap)`` salted sub-buckets before the lead()
       window, so one degenerate bucket (empty docs' identical
       zero-padded signatures when exact collapse is off, or a massive
       boilerplate class) can never force a single-task window sort
       over a corpus-sized partition.  Buckets at or under the cap get
       salt 0 and their edge set is byte-identical to the unsalted
       ring.  An over-cap bucket becomes ceil(B/cap) disjoint chains
       per band — but each band salts the split independently (the
       band key feeds the salt hash), so across bands the chains
       overlap and connected components stitches the cluster back
       together; members are never silently dropped.
    2. **k successor edges** (``successors`` >= 1): each member pairs
       with its next k neighbors in sub-bucket order — volume
       <= k * bands * N, still linear.  k=1 (the default) preserves
       connectivity for clique-like clusters (genuine near-dup sets,
       where every member verifies against every other); k>=2 gives
       each doc extra independent draws per band for hub-and-spoke
       shapes (spokes similar to a template hub but below threshold
       pairwise), where a single failed verify on a chain edge would
       otherwise fragment the cluster.
    """
    keys = [F.col(c) for c in key_cols]
    order_hash = F.xxhash64(F.col(id_col), keys[-1])
    # Over-cap bucket sizes via groupBy (map-side partial aggregation:
    # one row per bucket ever shuffles) + a BROADCAST join back — NOT a
    # count-over-window, which would itself shuffle and sort the entire
    # hot bucket onto one task before the salted split could help
    # (code-review r5).  The broadcast side holds only buckets ABOVE
    # the cap: each needs > ring_cap members, and over-cap buckets are
    # the pathology this guard exists for, so their count is tiny by
    # assumption (a corpus where most buckets exceed the cap means the
    # banding itself has collapsed — raise ring_cap or collapse exact
    # duplicates first).
    over_cap = (
        exploded.groupBy(*key_cols)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > ring_cap)
        .select(
            *key_cols,
            F.ceil(F.col("_n") / F.lit(ring_cap)).cast("long").alias("_n_sub"),
        )
    )
    # loud guard on the FORCED broadcast (code-review r5): over-cap
    # buckets are assumed rare, but "assumed" must not become an 8GB
    # broadcast failure — if the over-cap table itself is huge, the
    # banding has collapsed (near-everything shares buckets) and the
    # right fix is upstream (collapse exact dups, raise ring_cap),
    # not a bigger broadcast.
    #
    # The guard count and the broadcast join below consume the SAME
    # bands-explode + partial-agg pass, so materialize over_cap ONCE
    # into cache (eager noop sink) and serve both from it; a capped
    # limit+count on the raw plan would only cache the partitions the
    # limit touched and the join would re-run the full explode+agg
    # (measured r6: 169 MB / 11.7M-bucket exchange twice at 1M rows).
    # On a degenerate corpus the full materialization caches a large
    # table for a moment before the raise — MEMORY_AND_DISK absorbs it
    # and the unpersist below releases it; the cap itself protects the
    # BROADCAST, which is the actual failure mode.
    max_overcap = 2_000_000  # ~50 MB broadcast at ~24 B/row
    # pinned via pins.pin (NOT a hand-rolled persist): the registry
    # means the NEXT ring call releases this one — the returned frame is
    # lazy, so there is no in-function point where unpersisting on
    # success is safe — and pin's scoped byte-based-coalescing confs
    # keep this tiny frame out of shuffle.partitions near-empty cached
    # blocks (the measured ~20 ms/block broadcast-build penalty, see
    # pins.pin)
    try:
        over_cap = pins.pin("ring_overcap", over_cap)
        if over_cap.count() > max_overcap:
            raise ValueError(
                f"more than {max_overcap} band buckets exceed ring_cap="
                f"{ring_cap}: the banding has degenerated (boilerplate or "
                "uncollapsed exact duplicates dominate) — collapse exact "
                "duplicates first or raise ring_cap"
            )
    except ValueError:
        pins.release("ring_overcap")
        raise
    counted = exploded.join(F.broadcast(over_cap), key_cols, "left")
    # different literal seed than the ordering hash: salt and order must
    # be independent draws or sub-buckets would be contiguous runs
    salted = counted.withColumn(
        "_salt",
        F.when(F.col("_n_sub").isNull(), F.lit(0)).otherwise(
            F.pmod(F.xxhash64(F.lit(741), F.col(id_col), keys[-1]), F.col("_n_sub"))
        ),
    )
    bucket_w = W.partitionBy(*key_cols, "_salt").orderBy(order_hash, F.col(id_col))
    # leads materialized in their own projection: Spark rejects window
    # functions nested inside a generator (explode)
    with_leads = salted.select(
        F.col(id_col),
        *[
            F.lead(id_col, j).over(bucket_w).alias(f"_next_{j}")
            for j in range(1, successors + 1)
        ],
    )
    nxts = F.array_compact(
        F.array(*[F.col(f"_next_{j}") for j in range(1, successors + 1)])
    )
    return with_leads.select(F.col(id_col), F.explode(nxts).alias("_next")).select(
        F.least(F.col(id_col), F.col("_next")).alias("doc_a"),
        F.greatest(F.col(id_col), F.col("_next")).alias("doc_b"),
    )


def minhash_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    max_bucket: int = 256,
    edge_mode: str = "pairs",
    ring_cap: int = 4096,
    ring_successors: int = 1,
    _pin_fingerprint: tuple | None = None,
) -> DataFrame:
    """Band bucket-join + signature verify over a prepared signature
    frame — (id, signature, bands, packed) as minhash_signatures emits
    it (see minhash_pairs_for for the plan rationale).

    ``edge_mode`` picks the candidate topology per band bucket:

    - ``"pairs"`` (default): all-pairs within the (star-capped) bucket
      head — the PAIR-COMPLETE surface for pair-level queries.  Volume
      is sum over buckets of min(B, cap)^2/2: quadratic inside buckets,
      so on a near-dup-DENSE corpus (boilerplate-heavy web data, where
      over-cap buckets are common, not pathological) candidates explode
      — measured 484M candidate rows on the 2M-row bench corpus, whose
      2x512B signature re-attach spilled >70 GB of shuffle.
    - ``"ring"``: each bucket member pairs with its successor in the
      salted bucket order — B-1 edges per bucket, total volume <=
      n_bands * N rows (LINEAR in corpus size; ids only until the
      verify join).  Connectivity within a bucket is preserved (a
      path), and each doc gets n_bands independently-salted neighbor
      draws, so a genuine near-dup cluster stays connected with
      overwhelming probability after per-edge verification.  The
      connectivity claim assumes CLIQUE-LIKE clusters (every member
      verifies against most others — true near-dup sets); hub-and-spoke
      shapes (spokes over threshold vs a hub only) can fragment on a
      failed chain edge — raise ``ring_successors`` for k extra draws
      per band (volume k * bands * N, still linear) when clusters are
      known to be non-clique.  MEASURED on a planted 100k-row
      hub-and-spoke corpus (atscale.py --mode ring-recall, r6:
      spoke-hub Jaccard ~0.78 over the 0.7 threshold, spoke-spoke
      ~0.63 under it): spoke-to-hub component recall is 0.9576 at k=1,
      0.9767 at k=2, 0.9784 at k=4 vs 0.9784 for pair-complete — k=2
      closes all but 0.2pp of the ceiling, which is why keeper
      election defaults to it (keepers_from_labeled_sigs).  Pair-level completeness is deliberately
      given up — this is the CLUSTERING surface (dedup_keepers /
      connected components), the shape production dedup runs at 100 TB.
      ``max_bucket`` applies to "pairs" mode only; ring's skew guard is
      ``ring_cap`` — hot buckets split into salted sub-buckets of
      ~ring_cap members before the window sort (see _ring_edges), so a
      degenerate bucket never serializes onto one task.
    """
    if edge_mode not in ("pairs", "ring"):
        raise ValueError(f"unknown edge_mode {edge_mode!r}")
    sigs = pins.pin(
        "minhash",
        sigs.select(id_col, "signature", "bands", "packed"),
        fingerprint=_pin_fingerprint,
    )
    bands = sigs.select(
        id_col,
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    if edge_mode == "ring":
        cand = _ring_edges(
            bands, ["band_idx", "band_hash"], id_col,
            ring_cap=ring_cap, successors=ring_successors,
        )
        return _verify_candidates(cand, sigs, id_col, threshold)
    # ONE exchange for the whole candidate stage: buckets are gathered
    # by groupBy(collect_list) and pairs are expanded by higher-order
    # functions inside whole-stage codegen.  This replaces the previous
    # window-rank + anchor-broadcast-join + bucket self-join plan (four
    # AQE query stages sharing the exchange) with a single aggregation
    # — identical candidate set (same salted ordering, same star-cap
    # semantics; pinned by tests/test_dedup_recall.py equivalence), and
    # the ids-only discipline is preserved because only (hash, id)
    # structs ever ride the exchange.  Candidate volume per bucket is
    # unchanged: min(B, cap)^2/2 head pairs + (B - cap) star edges.
    # Skew note: a hot bucket still lands on one task — exactly as the
    # window-rank plan did (same partitioning key) — and its in-memory
    # footprint is ~16 B/member; the linear-volume scale surface for
    # degenerate buckets remains edge_mode="ring" (salted sub-buckets).
    # Scoped ObjectHashAggregate tuning (r9): the bucket agg below has
    # FEW distinct (band, hash) keys per task relative to rows, so
    # staying in hash mode past Spark's 128-key fallback wins 15-20%
    # (isolated ABAB at sf1.0: 1.31 s at 128 vs 1.14/1.05 s at 4M).
    # Set here at build time, NOT in get_spark: the same knob measured
    # ~20% WORSE on the paragraph pid-array agg (2M distinct doc_id
    # groups churn as hash-mode array buffers; see session.py), so the
    # session default stays 128 and only this path raises it.  The conf
    # is perf-only — it can never change results — so leaking it to a
    # later query built in the same session costs at most a perf blip.
    bands.sparkSession.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        str(4 * 1024 * 1024),
    )
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(
            F.collect_list(
                F.struct(
                    # salt the ordering hash with the band hash so an
                    # over-cap cluster samples a DIFFERENT head (and
                    # anchor) in each of its band buckets
                    F.xxhash64(F.col(id_col), F.col("band_hash")).alias("h"),
                    F.col(id_col).alias("id"),
                )
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )
    # array_sort on struct<h,id> orders by (h, id) — the exact rank_w
    # ordering of the previous window plan
    b = buckets.select(F.expr("transform(array_sort(members), s -> s.id)").alias("ids"))
    head = f"slice(ids, 1, {int(max_bucket)})" if max_bucket else "ids"
    cap_len = int(max_bucket) if max_bucket else 0
    # head all-pairs: for the j-th head member (0-based lambda index),
    # partners are head members j+2.. (1-based slice start)
    pairs_head = (
        f"flatten(transform({head}, (x, i) -> "
        f"transform(slice({head}, i + 2, size({head})), y -> "
        f"struct(least(x, y) as doc_a, greatest(x, y) as doc_b))))"
    )
    if max_bucket:
        # star-cap: members past the cap connect to the bucket anchor
        # (O(B) rows) instead of all-pairs (O(B^2)) or silent drop
        star = (
            f"transform(slice(ids, {cap_len} + 1, greatest(size(ids) - {cap_len}, 0)), "
            f"x -> struct(least(ids[0], x) as doc_a, greatest(ids[0], x) as doc_b))"
        )
        expanded = f"concat({pairs_head}, {star})"
    else:
        expanded = pairs_head
    cand = b.select(F.explode(F.expr(expanded)).alias("p")).select("p.doc_a", "p.doc_b")
    return _verify_candidates(cand, sigs, id_col, threshold)


def _verify_candidates(
    cand: DataFrame, sigs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """distinct + per-unique-pair signature re-attach + est_jaccard
    verify — candidates travel as ids only until here, so the 2x512B
    signature width is paid once per UNIQUE pair, never per band
    collision.

    BIT-PLANE PREFILTER (r9, exact; replaces the r6 band pigeonhole):
    a passing pair (est_jaccard >= t) matches at least
    min_match = min{c : c/64 >= t} of the 64 components positionally.
    Each doc's ``packed`` column holds 4 bit planes of its signature
    (see _pack_bitplanes): equal components agree on every sampled bit,
    so 64 - bit_count(OR of the 4 per-plane XORs) is an upper bound on
    the true component-match count, and screening on it keeps a strict
    superset of passing pairs — output is bit-identical by construction
    (pinned by tests/test_dedup_recall.py) because survivors still pass
    the exact signature verify below.

    Why bit planes instead of the band arrays: the band bound
    evaporates below t = 0.765 (19 allowed mismatches can touch every
    band) — exactly where the headline query's t=0.7 runs, which paid
    the full 6.2M-candidate signature attach (measured sf1.0); and the
    screen is 4 XORs + 3 ORs + one bit_count in whole-stage codegen
    instead of a 16-element interpreted lambda.  Attach cost is 32 B a
    side instead of 512 B.  An unequal component passes all 4 sampled
    bits with p = 2^-4, so a J~0.3 collision pair needs a ~5-sigma
    binomial excursion to survive the screen.  Same pigeonhole
    discipline as the reference's two-half <=1-mismatch search
    (_qcmodule.c:5667-5707)."""
    cand = cand.distinct()
    min_match = next(
        (c for c in range(N_MINHASH + 1) if c / float(N_MINHASH) >= threshold), None
    )
    if PACKED_PREFILTER and min_match:
        # screen AFTER the distinct: the raw band-collision pair stream
        # is a multiple of the unique-pair count (same pair re-emitted
        # per colliding band), so screening it first was measured ~1.7x
        # slower end-to-end than deduping to 6.2M rows and screening
        # once per unique pair (ABAB at sf1.0: 5.0-5.9 s vs 3.2-3.5 s)
        ps = sigs.select(id_col, "packed")
        pa = ps.alias("_pa")
        pb = ps.alias("_pb")
        xors = " | ".join(
            f"(packed_a[{k}] ^ packed_b[{k}])" for k in range(N_PACK_PLANES)
        )
        screen = f"({N_MINHASH} - bit_count({xors})) >= {min_match}"
        cand = (
            cand.join(pa, F.col("doc_a") == F.col(f"_pa.{id_col}"))
            .select("doc_a", "doc_b", F.col("_pa.packed").alias("packed_a"))
            .join(pb, F.col("doc_b") == F.col(f"_pb.{id_col}"))
            .select(
                "doc_a", "doc_b", "packed_a", F.col("_pb.packed").alias("packed_b")
            )
            .filter(F.expr(screen))
            .select("doc_a", "doc_b")
        )
    # the SAME projected relation feeds both sides (aliased, renames
    # applied AFTER each join).  NOTE (measured r6): Spark still builds
    # two separate broadcast relations — exchange reuse does not fire
    # across the two joins even with structurally identical children
    # (verified with AQE on and off) — so the duplicate ~250 ms build
    # at small SF is a platform floor, not a plan mistake; at corpus
    # scale these joins are shuffle joins and the point is moot.
    s = sigs.select(id_col, "signature")
    a = s.alias("_va")
    b = s.alias("_vb")
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ) / F.lit(N_MINHASH)
    return (
        cand.join(a, F.col("doc_a") == F.col(f"_va.{id_col}"))
        .select("doc_a", "doc_b", F.col("_va.signature").alias("sig_a"))
        .join(b, F.col("doc_b") == F.col(f"_vb.{id_col}"))
        .select(
            "doc_a", "doc_b", "sig_a", F.col("_vb.signature").alias("sig_b")
        )
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def minhash_near_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.7
) -> DataFrame:
    """Near-dup pairs BETWEEN exact-dedup representatives: exact
    duplicates are collapsed first (identical text => identical
    signature => guaranteed degenerate buckets), then MinHash-LSH runs
    on the keepers.  Pairs are therefore between cluster
    representatives; exact-dup membership comes from exact_dup_groups /
    dedup_keepers."""
    docs = load(spark, sf_dir, "documents")
    return minhash_pairs_for(docs, threshold=threshold, collapse_exact=True)


# --- SimHash ----------------------------------------------------------------

_BIT_IDX = np.arange(64, dtype=np.uint64)


def _simhash(text: str, bits: int = 64) -> int:
    sh = _shingle_hashes(text)
    n = len(sh)
    if n == 0:
        return 0
    # vectorized bit vote: ones[b] = count of shingles with bit b set;
    # bit b of the simhash = majority(ones[b] > n/2)
    ones = ((sh[:, None] >> _BIT_IDX[None, :bits]) & np.uint64(1)).sum(axis=0)
    maj = ones * 2 > n  # acc = ones - (n - ones) > 0  <=>  2*ones > n
    out = 0
    for bit in np.flatnonzero(maj):
        out |= 1 << int(bit)
    return out & 0x7FFFFFFFFFFFFFFF


def simhash_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = 6,
    max_bucket: int = 256,
    edge_mode: str = "pairs",
    ring_cap: int = 4096,
    ring_successors: int = 1,
) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprints bucketed into
    ``max_hamming + 1`` bit-blocks — pigeonhole: two hashes within
    hamming distance h differ in at most h blocks, so with h+1 blocks
    at least one block matches exactly (cf. the reference's two-half
    pigeonhole search for <=1 mismatch, _qcmodule.c:5667-5707) —
    then verified by exact popcount.  The block join is therefore a
    complete (no-false-negative) blocking scheme for the threshold up
    to the bucket cap below, subject to two scale guards:

    - degenerate fingerprints are dropped before the join: empty/tiny
      docs all simhash to 0, so one block bucket would hold every empty
      doc in the corpus (quadratic);
    - exact duplicates are collapsed to one representative first
      (identical text => identical simhash => all D ids in every block
      bucket), and block buckets above ``max_bucket`` are star-capped:
      the first cap members (deterministic per-bucket hash order) pair
      all-vs-all, members past the cap emit one candidate against the
      bucket anchor — at most cap^2/2 + (B-cap) rows per bucket.  A
      star edge still passes the hamming verify, so an over-cap member
      stays connected when it is within ``max_hamming`` of the sampled
      anchor; one whose distance to that one anchor exceeds the
      threshold can drop out (per-block anchor re-sampling and
      connected components recover most such links — best-effort, not
      guaranteed, never a silent full-bucket drop).  Bounded tables are
      the reference's own discipline (_qcmodule.c:3429-3431,
      4248-4253).

    ``edge_mode="ring"`` swaps the bucket-head all-pairs for
    successor-in-salted-order edges (linear volume, clustering surface)
    — same trade as minhash_pairs_from_sigs: use it when the output
    feeds connected components on a near-dup-dense corpus.
    """
    if edge_mode not in ("pairs", "ring"):
        raise ValueError(f"unknown edge_mode {edge_mode!r}")
    d = load(spark, sf_dir, "documents")
    schema = "doc_id long, digest string, simhash long"

    def _batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            texts = [(t or "") for t in pdf["text"]]
            # per-doc on purpose: a batched simhash (shared shingling +
            # segment-lexsort distinct + reduceat bit votes) was built
            # and MEASURED 2x slower — the global lexsort over all
            # shingles costs more than n_docs tiny cache-hot per-doc
            # np.unique sorts (r5; same lesson as the r3 whole-matrix
            # minhash batching)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "digest": pdf["digest"].to_numpy(),
                    "simhash": [_simhash(t) for t in texts],
                }
            )

    # simhash + exact-dup digest in one map-side pass (digest JVM-side,
    # like minhash_signatures); rep selection is the shared
    # collapse_exact_reps aggregation over the ~50 B/doc fingerprint
    # frame — the text column never shuffles
    prepared = _with_digest(d, "doc_id", "text")
    fps = pins.pin(
        "simhash",
        collapse_exact_reps(
            spread(prepared).mapInPandas(_batches, schema=schema)
        ).filter(F.col("simhash") != 0),  # degenerate: empty/tiny docs
        fingerprint=pins.pin_key(d, "simhash"),
    )
    n_blocks = max_hamming + 1
    bounds = [round(i * 64 / n_blocks) for i in range(n_blocks + 1)]
    block_cols = []
    for i in range(n_blocks):
        lo, hi = bounds[i], bounds[i + 1]
        width_mask = (1 << (hi - lo)) - 1
        block_cols.append(
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.shiftright("simhash", lo).bitwiseAND(F.lit(width_mask)).alias("chunk"),
            )
        )
    chunks = fps.select(
        "doc_id",
        F.explode(F.array(*block_cols)).alias("c"),
    ).select("doc_id", "c.chunk_idx", "c.chunk")
    if edge_mode == "ring":
        cand = _ring_edges(
            chunks, ["chunk_idx", "chunk"], "doc_id",
            ring_cap=ring_cap, successors=ring_successors,
        )
        return _verify_hamming(cand, fps, max_hamming)
    # window-rank + self-join kept on purpose: minhash's groupBy +
    # collect_list pair expansion gave identical candidates here but
    # ran slower (sf0.1, local[4] on 4 vCPUs, 8 interleaved runs: 3.11 s
    # median vs 2.40 s for this plan)
    overflow_pairs = None
    if max_bucket:
        bucket_w = W.partitionBy("chunk_idx", "chunk")
        rank_w = bucket_w.orderBy(
            F.xxhash64(F.col("doc_id"), F.col("chunk")), F.col("doc_id")
        )
        ranked = chunks.withColumn("_rn", F.row_number().over(rank_w))
        anchors = ranked.filter(F.col("_rn") == 1).select(
            "chunk_idx", "chunk", F.col("doc_id").alias("_anchor")
        )
        overflow_pairs = (
            ranked.filter(F.col("_rn") > max_bucket)
            .join(anchors, ["chunk_idx", "chunk"])
            .select(
                F.least(F.col("doc_id"), F.col("_anchor")).alias("doc_a"),
                F.greatest(F.col("doc_id"), F.col("_anchor")).alias("doc_b"),
            )
        )
        chunks = ranked.filter(F.col("_rn") <= max_bucket).drop("_rn")
    l, r = chunks.alias("l"), chunks.alias("r")
    # candidate ids only; fingerprints are re-attached per UNIQUE pair
    cand = l.join(
        r,
        (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
        & (F.col("l.chunk") == F.col("r.chunk"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(
        F.col("l.doc_id").alias("doc_a"),
        F.col("r.doc_id").alias("doc_b"),
    )
    if overflow_pairs is not None:
        cand = cand.unionByName(overflow_pairs)
    return _verify_hamming(cand, fps, max_hamming)


def _verify_hamming(cand: DataFrame, fps: DataFrame, max_hamming: int) -> DataFrame:
    """distinct + per-unique-pair fingerprint re-attach + exact popcount
    verify (the simhash analogue of _verify_candidates)."""
    cand = cand.distinct()
    a = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_sh_a"))
    b = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_sh_b"))
    hamming = F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# --- n-gram Jaccard (exact verify) ------------------------------------------

def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    candidates: DataFrame | None = None,
    k: int = 5,
    max_grams: int = 512,
) -> DataFrame:
    """Character-k-gram Jaccard for candidate pairs (default: the
    MinHash candidates) — the verification stage of the dedup pipeline;
    a broadcast-friendly join of shingle sets.

    ``max_grams`` bounds the shuffle row width to O(1) per doc: a doc's
    distinct-gram set is O(len), and each candidate pair shuffles both
    sets, so unbounded arrays make the verify stage's row width scale
    with document length at 100 TB.  Docs with <= max_grams distinct
    grams ship their FULL set; larger docs ship their
    bottom-``max_grams`` grams by xxhash64 order (a deterministic
    bottom-k sketch — same hash on both sides, so shared grams are
    sampled consistently) plus the sketch's hash threshold.  At verify
    time BOTH sides are restricted to grams whose hash is <= the
    smaller of the two thresholds, so a capped/uncapped pair compares
    the same hash-restricted domain on both sides — intersecting a
    large doc's sample with a small doc's full set would understate
    Jaccard by ~|A|/max_grams (the bottom-k estimator is only unbiased
    on a common domain).  Pairs where neither side is capped therefore
    stay EXACT (threshold = +inf); estimate error for capped pairs is
    pinned by tests/test_dedup_recall.py against exact Jaccard."""
    d = load(spark, sf_dir, "documents")
    if candidates is None:
        candidates = minhash_near_dup_pairs(spark, sf_dir, threshold=0.5).select("doc_a", "doc_b")
    i64_max = (1 << 63) - 1
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(0)))
    all_grams = F.array_distinct(
        F.filter(
            F.transform(idx, lambda i: F.col("text").substr(i, F.lit(k))),
            lambda s: F.length(s) == k,
        )
    )
    # bottom-max_grams by hash: sort (hash, gram) structs, slice, unwrap;
    # the cap threshold is the largest hash RETAINED (element max_grams
    # of the sorted struct array), +inf when the doc is under the cap
    hashed = F.transform(
        all_grams, lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("g"))
    )
    is_capped = F.size(all_grams) > max_grams
    capped = F.when(~is_capped, all_grams).otherwise(
        F.transform(F.slice(F.array_sort(hashed), 1, max_grams), lambda s: s["g"])
    )
    thr = F.when(
        is_capped, F.element_at(F.array_sort(hashed), max_grams)["h"]
    ).otherwise(F.lit(i64_max))
    grams = d.select("doc_id", capped.alias("grams"), thr.alias("thr"))
    a = grams.alias("ga")
    b = grams.alias("gb")
    joined = (
        candidates.join(a, F.col("doc_a") == F.col("ga.doc_id"))
        .join(b, F.col("doc_b") == F.col("gb.doc_id"))
    )
    # symmetric bottom-k: restrict both sides to the common hash domain
    pair_thr = F.least(F.col("ga.thr"), F.col("gb.thr"))
    ga = F.filter(F.col("ga.grams"), lambda g: F.xxhash64(g) <= pair_thr)
    gb = F.filter(F.col("gb.grams"), lambda g: F.xxhash64(g) <= pair_thr)
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(F.array_union(ga, gb))
    jac_bps = F.floor(F.lit(10000) * inter / F.greatest(union, F.lit(1))).cast("long")
    return joined.select("doc_a", "doc_b", jac_bps.alias("jaccard_bps")).orderBy(
        "doc_a", "doc_b"
    )


# --- connected components (iterative) ---------------------------------------

def connected_components(
    pairs: DataFrame,
    max_iter: int = 15,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs — the iterative
    algorithm that turns pairwise matches into dedup clusters with a
    canonical keeper (min id) per cluster.

    Label-propagation: every vertex starts as its own component; each
    round a vertex adopts the minimum component id among itself and its
    neighbors; converged when no label changes.  Rounds = graph
    diameter, which for dup clusters is tiny (2-3).  Each round is one
    join + one groupBy on the edge list (round 1 only the groupBy: the
    starting labels are the ids themselves) — all JVM-side; the driver
    only checks the convergence counter (an aggregate, not a collect of
    the data).

    Input: (doc_a, doc_b) pairs. Output: (doc_id, component) where
    component = min doc_id reachable.

    Non-convergence is never silent: if labels are still changing after
    ``max_iter`` rounds the result would split long chains into wrong
    clusters, so it raises.

    ``stats``, when passed, is filled with {"rounds": r, "converged":
    bool} — the rounds-to-convergence evidence an at-scale run records
    (rounds = graph diameter of the dup clusters).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # Symmetric edge list in ONE pass over ``pairs``: each pair emits
    # both directions through one explode, so the (typically expensive
    # LSH-verify) chain under ``pairs`` appears once in the plan.  A
    # two-branch union would embed it twice, and AQE runs such branches
    # as concurrent jobs without exchange reuse (r6, 1M rows: the verify
    # exchanges ran 2-4x).  The first round's count fills the edge cache.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    changed = 0
    rounds = 0
    labels = None
    # everything that can RUN (the rounds) lives inside the try so a
    # failure at any point still releases the edge cache
    try:
        for _ in range(max_iter):
            rounds += 1
            if labels is None:
                # round 1, folded: every vertex starts as its own
                # component, so its neighbours' labels are their ids and
                # the round is min(dst) per src — no identity-label
                # checkpoint job and no join (a vertex is exactly a src:
                # the edges are symmetric)
                current = edges.groupBy("src").agg(
                    F.min("dst").alias("neighbor_component")
                ).select(
                    F.col("src").alias("doc_id"),
                    F.col("src").alias("component"),
                    "neighbor_component",
                )
            else:
                neighbor_min = (
                    edges.join(labels, edges.dst == labels.doc_id)
                    .groupBy("src")
                    .agg(F.min("component").alias("neighbor_component"))
                )
                current = labels.join(
                    neighbor_min, labels.doc_id == neighbor_min.src, "left"
                )
            updated = (
                current.select(
                    "doc_id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("neighbor_component"), F.col("component")),
                    ).alias("component"),
                    (F.coalesce(F.col("neighbor_component"), F.col("component")) < F.col("component")).alias("_changed"),
                )
                # localCheckpoint, NOT persist: persist caches data but the
                # logical plan still doubles every round (self-referencing
                # join lineage) — by ~20 rounds the plan alone OOMs the
                # driver. Checkpointing truncates lineage each round, the
                # standard discipline for iterative algorithms on Spark.
                #
                # eager=False + the count below = ONE job per round (r8,
                # the curation-tail fusion): the convergence count is the
                # action that materializes the lazy checkpoint, instead of
                # an eager checkpoint job followed by a second count job
                # over the cache.  Rounds are the serial, driver-paced
                # part of the whole dedup tail, so halving their job
                # count cuts fixed scheduling wall directly.
                .localCheckpoint(eager=False)
            )
            changed = updated.filter("_changed").count()
            labels = updated.drop("_changed")
            if changed == 0:
                break
        if stats is not None:
            stats["rounds"] = rounds
            stats["converged"] = changed == 0
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still changing) — component labels would "
                "be over-segmented; raise max_iter (rounds needed = graph "
                "diameter)"
            )
        return labels.orderBy("doc_id")
    finally:
        edges.unpersist()


def dedup_keepers(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.8,
    docs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end dedup decision: exact dedup first (collapse identical
    texts to a representative), MinHash-LSH over the representatives,
    connected components, then fold exact-dup members back into their
    representative's component.  Emits one row per doc in a dup cluster
    (exact OR near) with keep_doc=false for non-keepers.

    The exact-first composition is what makes this scale-safe: D
    byte-identical docs cost one groupBy here instead of D^2 LSH
    candidates (VERDICT r1 scale-killer #4).  Candidate edges use RING
    topology (edge_mode="ring"): keeper election only needs cluster
    CONNECTIVITY, not pair completeness, and ring edges are linear in
    corpus size where bucket-head all-pairs is quadratic inside buckets
    — on the near-dup-dense 2M bench corpus the pairs topology produced
    484M candidates and >70 GB of verify-join spill; ring caps it at
    n_bands * N id-only rows.  ``docs`` lets a caller
    (jobs/run_curation.py) share one scan across operators."""
    if docs is None:
        docs = load(spark, sf_dir, "documents")
    labeled = pins.hold("keepers", exact_rep_labeled_sigs(docs))
    return keepers_from_labeled_sigs(labeled, threshold=threshold)


def keepers_from_labeled_sigs(
    labeled: DataFrame, threshold: float = 0.8, cc_stats: dict | None = None
) -> DataFrame:
    """The keeper-election tail over a prepared labeled-signature frame
    (doc_id, rep, digest, signature, bands, packed) — split out so
    jobs/run_dedup.py can resume from a CHECKPOINTED signature table
    (the expensive text-scanning stage) without re-sketching the
    corpus.  See dedup_keepers for semantics."""
    rep_map = labeled.select("doc_id", "rep")
    rep_sigs = labeled.filter(F.col("doc_id") == F.col("rep"))
    # ring_successors=2 from measurement, not assumption: on the
    # planted 100k hub-and-spoke corpus (the non-clique shape where
    # k=1 chains fragment on failed verifies) k=2 recovers 0.9767
    # spoke recall vs 0.9784 for pair-complete at 2x (still linear)
    # edge volume; k=1 leaves a 2.1pp gap (BENCH/ATSCALE.md r6)
    pairs = minhash_pairs_from_sigs(
        rep_sigs, threshold=threshold, edge_mode="ring", ring_successors=2
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, stats=cc_stats).select(
        F.col("doc_id").alias("rep_id"), "component"
    )
    # every doc's component: its representative's near-dup component if
    # the rep is in one, else the rep itself
    assigned = (
        rep_map.select("doc_id", "rep")
        .join(comp, F.col("rep") == F.col("rep_id"), "left")
        .select("doc_id", F.coalesce("component", "rep").alias("component"))
    )
    # Cluster sizes via map-side-combining groupBy + join back, NOT a
    # count-over-window partitioned by component: a boilerplate page
    # duplicated 10^6 times is ONE component by design, and an unbounded
    # window would buffer that entire membership on a single task in the
    # exact job that exists to remove it.  The groupBy ships one
    # partially-aggregated row per component; the join back streams the
    # big side (only the single matching size row per key is buffered,
    # and AQE skew-split still applies).  Same excision as
    # winnow_overlap_pairs (r7) and decontamination_hits_winnow (r6);
    # recomputing ``assigned`` for both branches is cache reads — the
    # CC labels are localCheckpointed and ``labeled`` is pinned by every
    # caller.
    dup_components = (
        assigned.groupBy("component")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)  # only clusters with an actual dup
        .select("component")
    )
    return (
        assigned.join(dup_components, "component")
        .select(
            "doc_id",
            "component",
            (F.col("doc_id") == F.col("component")).alias("keep_doc"),
        )
        .orderBy("doc_id")
    )


# --- winnowing overlap ------------------------------------------------------

def winnow_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fp) winnowed-fingerprint postings for any (id, text) frame —
    the shared scan stage of the winnowing family (overlap pairs,
    large-probe-set decontamination)."""
    from sequali_spark.functions.kernels import winnow_fingerprints

    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, fp long"

    def _batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            # per-doc kernel calls (the rolling hash is inherently
            # per-document), but the explosion is pure numpy: repeat
            # each id by its fingerprint count, concatenate the arrays
            # (r7: replaces the last per-element Python append loop in
            # any corpus-scan path; identity-tested in
            # tests/test_winnow_overlap.py)
            fps = [
                winnow_fingerprints((t or "").encode("utf-8"))
                for t in pdf[text_col]
            ]
            lens = np.fromiter(map(len, fps), dtype=np.int64, count=len(fps))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(lens),
                    "fp": np.concatenate(fps),
                }
            )

    return spread(df.select(id_col, text_col)).mapInPandas(
        _batches, schema=schema
    )


def winnow_overlap_pairs(
    spark: SparkSession, sf_dir: str, min_shared: int = 3, max_postings: int = 64
) -> DataFrame:
    """Position-robust near-dup candidates by shared winnowed
    fingerprints (kernels.winnow_fingerprints — rolling-hash k-grams,
    window-min selection): any shared substring of length >= w+k-1
    guarantees a shared fingerprint, so long copied passages surface
    regardless of where they sit in either doc.  explode -> groupBy
    fingerprint -> pair within posting lists; min_shared filters noise.

    ``max_postings`` drops stop-fingerprints (standard winnowing
    practice, cf. MOSS): a fingerprint shared by F docs emits F(F-1)/2
    join rows, so ONE boilerplate fragment shared by 10^6 docs would be
    5*10^11 rows from a single key at corpus scale.  Ubiquitous
    fragments carry no dedup signal anyway — dropping them trims
    candidate noise, not true document-level near-dups (which share
    many rarer fingerprints)."""
    d = load(spark, sf_dir, "documents")
    # ONE shuffle on fp that every consumer below hangs off: the hot
    # count, the anti-join probe side, and both legs of the self-join
    # are identical subtrees over this exchange, so AQE's stage cache
    # runs the Python winnow scan ONCE per execution — verified via the
    # status API: exactly one stage reads input records (without the
    # explicit repartition the plan carried 8 independent MapInPandas
    # corpus scans — measured r7, PLANS.md).
    posts = winnow_postings(d).repartition("fp")
    if max_postings:
        # hot-fingerprint sizes via groupBy + a broadcast ANTI-join —
        # NOT a count-over-window, which would buffer each
        # fingerprint's FULL posting list on a single task: the exact
        # hot-key concentration the cap exists to mitigate (r7; same
        # pattern as decontamination_hits_winnow and _ring_edges).
        # The agg runs post-exchange (streaming hash agg, no per-key
        # buffering).  No forced broadcast hint (ADVICE r7): the hot
        # set is usually tiny (boilerplate keys are the pathology, not
        # the population), but at web scale with max_postings=64 a
        # template-heavy corpus can push millions of fingerprints over
        # the cap — a hardcoded F.broadcast would collect them all to
        # the driver regardless.  Left to the planner, AQE broadcasts
        # when the measured size fits autoBroadcastJoinThreshold and
        # falls back to a shuffle anti-join (on the exchange both sides
        # already share) when it doesn't.  Equivalence to the old
        # window guard is pinned by tests/test_winnow_overlap.py.
        hot = (
            posts.groupBy("fp")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_postings)
            .select("fp")
        )
        posts = posts.join(hot, "fp", "left_anti")
    l, r = posts.alias("l"), posts.alias("r")
    return (
        l.join(
            r,
            (F.col("l.fp") == F.col("r.fp")) & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
    )
