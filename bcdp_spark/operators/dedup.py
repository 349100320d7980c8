"""Deduplication operators (SURVEY.md §2.11 X1/X2 — LLM-data-pipeline
surface): exact, MinHash-LSH, SimHash, and n-gram Jaccard.

Scale design notes (100 TB):
- exact dedup shuffles a 32-byte sha2 fingerprint, never the document
  payload; the keeper id comes back via a second lightweight shuffle.
- MinHash-LSH: shingling, hashing, and banding are all JVM-side
  (higher-order functions over arrays); the only shuffle key is the
  (band_idx, band_hash) bucket. Bucket skew (e.g. boilerplate docs) is
  handled by AQE skew-join splitting; pathological buckets can be capped
  with a count filter before the self-join.
- SimHash is a vectorized Arrow-batched pandas UDF (numpy bit ops) —
  the sanctioned slow path, one pass, no shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Spread an under-parallel input across the session's cores before
    per-row-expensive lineage (fingerprint UDFs, signature expressions,
    shingle arrays) — guide §2.5 input skew: a small single-file scan
    otherwise runs the whole fingerprint + explode + join-probe chain
    in ONE task (measured: the entire q_simhash_pairs pipeline
    single-threaded at sf0.1). No-op whenever the scan already carries
    >= defaultParallelism partitions — any real corpus at scale — so
    no exchange is added where parallelism exists; the repartition
    payload here is only (id, text/hash) rows."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _guard_reserved(df: DataFrame, names: tuple[str, ...]) -> None:
    """Reserved intermediate column names must be absent from the input —
    a caller column named __sig/__band/__n/__shash would be silently
    clobbered or dropped by the staged projections."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"input DataFrame already has reserved column(s) {clash}; "
            "rename them before calling the dedup operators"
        )


# ---------------------------------------------------------------------------
# X1 — exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep-first exact dedup: one row per distinct ``text_col``, keeping
    the smallest ``id_col``. Shuffles (fingerprint, id) pairs only."""
    fp = F.sha2(F.col(text_col), 256)
    keepers = (
        df.select(fp.alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups with >1 identical text: (fingerprint, n_dups, min_id)."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# X2 — MinHash + LSH near-dedup
# ---------------------------------------------------------------------------
def _shingles_expr(col: str, k: int) -> F.Column:
    """Array of character k-grams (JVM-side; no Python)."""
    return F.expr(
        f"transform(sequence(1, greatest(length({col}) - {k - 1}, 1)),"
        f" i -> substring({col}, i, {k}))"
    )


def _hashed_shingles_expr(col: str, k: int) -> F.Column:
    """Array of murmur3-hashed character k-grams (JVM-side)."""
    return F.expr(
        f"transform(sequence(1, greatest(length({col}) - {k - 1}, 1)),"
        f" i -> hash(substring({col}, i, {k})))"
    )


def _sig_from_hashed(hashed_col: str, num_perm: int) -> F.Column:
    """Permutation j = murmur3 re-hash of the base shingle hash salted by
    the literal j; min over shingles.

    NB: the transform lambda must be single-arg — a `j=j` default would
    make PySpark bind it as the (element, index) two-arg variant and
    silently ignore the permutation salt. Hence the factory closure.
    """

    def perm_min(j: int) -> F.Column:
        return F.array_min(
            F.transform(F.col(hashed_col), lambda x: F.hash(x, F.lit(j)))
        )

    return F.array(*[perm_min(j) for j in range(num_perm)])


def with_minhash(
    df: DataFrame,
    text_col: str,
    num_perm: int = 64,
    k: int = 5,
    out: str = "__sig",
) -> DataFrame:
    """df plus a ``num_perm``-wide MinHash signature column, STAGED: the
    shingle extraction + base hash projects once into an intermediate
    array column, and the per-permutation mins re-hash those ints.

    Why two projections instead of one expression: embedding the shingle
    subtree inside each of the 64 permutation expressions makes the
    engine re-derive ~|doc| substrings per permutation — measured 12×
    slower at 5 k docs (and the giant expression tree also falls out of
    whole-stage codegen). The staged form computes |doc| substring
    hashes once, then 64·|doc| integer hashes, all codegen-friendly."""
    _guard_reserved(df, ("__shash", out))
    staged = df.withColumn("__shash", _hashed_shingles_expr(text_col, k))
    return staged.withColumn(out, _sig_from_hashed("__shash", num_perm)).drop(
        "__shash"
    )


def lsh_bucket_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that share at least
    one LSH band bucket. rows_per_band = num_perm / bands controls the
    similarity threshold (~(1/bands)^(1/rows_per_band)).

    ``bucket_cap`` is the giant-bucket escape hatch: a bucket holding B
    ids emits B·(B-1)/2 pairs, so one degenerate bucket (boilerplate,
    near-empty docs, tiny-vocabulary corpora) can go quadratic while
    every other bucket stays tiny. Buckets larger than the cap are
    dropped BEFORE the self-join (an aggregate + semi-filter on the
    bucket key — no pair is ever materialized); their members are
    "everything matches everything" clusters better handled by exact
    dedup or a per-cluster representative. None = no cap (exact
    candidate set; fine when the corpus is known near-dup-sparse)."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    _guard_reserved(df, ("__sig", "__band", "__n", "__shash"))
    r = num_perm // bands
    with_sig = with_minhash(
        _spread_small_scan(df.select(F.col(id_col), F.col(text_col))),
        text_col, num_perm, shingle_k,
    ).select(id_col, "__sig")
    banded = with_sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.hash(
                            F.slice(F.col("__sig"), b * r + 1, r).cast(
                                "array<int>"
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select(id_col, "__band.band_idx", "__band.band_hash")
    if bucket_cap is not None:
        # windowed count over the bucket key: one pass, one shuffle —
        # an aggregate + semi-join back would recompute the (expensive)
        # signature lineage a second time
        from pyspark.sql import Window

        wb = Window.partitionBy("band_idx", "band_hash")
        banded = (
            banded.withColumn("__n", F.count(F.lit(1)).over(wb))
            .filter(F.col("__n") <= bucket_cap)
            .drop("__n")
        )
    # r12: shuffle self-join — scale-true strategy (corpus-wide sides
    # never broadcast) + both sides are the identical exchange subtree,
    # so the DAG scheduler materializes the 64-permutation signature
    # lineage ONCE and the second side's map stages are SKIPPED
    # (shuffle-map-output reuse within the single action); see
    # hamming_multi_index_pairs for the measurement.
    a = banded.alias("a")
    b = banded.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def confirm_pairs_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact-verification stage for LSH candidate pairs — the standard
    MinHash precision filter (Leskovec/Rajaraman/Ullman, MMDS ch. 3):
    join the candidate ids back to their texts and keep only pairs whose
    TRUE distinct character-``shingle_k``-gram Jaccard clears
    ``threshold``.

    Run AFTER blocking (``lsh_bucket_pairs`` / ``simhash_near_pairs`` /
    ``hamming_near_pairs``): candidates are few relative to the corpus,
    so the two id-equi-joins ship only candidate-doc gram arrays, never
    all-pairs. The threshold compare is exact integer cross-
    multiplication (``c * den >= union * num``), never a float ratio —
    so any engine computing the same gram sets agrees bit-for-bit.

    This is also what upgrades the LSH query keys from rows-only to
    hash-checked driver grading (r10): the confirmed-pair set is
    SEED-INVARIANT whenever the blocking stage has 100% recall at
    ``threshold`` — any such blocking yields exactly the brute-force
    answer, which a SQL oracle can compute all-pairs at grading scale.
    A recall shortfall shows up as a driver hash mismatch, not silence.

    Thin wrapper over ``ngram_jaccard`` (ADVICE r10 consolidation):
    one exact-Jaccard verification path to maintain — the integer
    compare lives there now.
    """
    return ngram_jaccard(
        df, pairs, text_col, id_col, k=shingle_k, threshold=threshold
    ).select("id_a", "id_b")


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    bucket_cap: int | None = None,
    confirm_jaccard: float | None = None,
) -> DataFrame:
    """Greedy near-dedup: drop any doc that shares a band bucket with a
    smaller-id doc (single-pass min-id propagation; a full transitive
    closure would iterate bucket→min until fixpoint). ``bucket_cap``
    passes through to the candidate generation (see lsh_bucket_pairs).
    ``confirm_jaccard`` adds the exact-verification stage
    (``confirm_pairs_jaccard``) so only candidates whose true shingle
    Jaccard clears the threshold cost a drop — the precision filter
    that also makes the kept set seed-invariant."""
    pairs = lsh_bucket_pairs(
        df, text_col, id_col, num_perm, bands, shingle_k, bucket_cap
    )
    if confirm_jaccard is not None:
        pairs = confirm_pairs_jaccard(
            pairs, df, text_col, id_col, shingle_k, confirm_jaccard
        )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# X1b/X2c (r4) — INCREMENTAL dedup: admit a new batch against an
# already-accepted corpus. The production shape of training-data dedup:
# the corpus is append-only, and each crawl/delivery must be deduped
# against everything admitted so far WITHOUT re-deduping the corpus.
#
# 100 TB story: the corpus side never ships documents — exact dedup
# joins on a persisted 32-byte fingerprint table, near-dedup on a
# persisted (id, band_idx, band_hash) bucket table (written once per
# admission, bucketed by (band_idx, band_hash) so batch-vs-corpus
# probes are shuffle-free on the corpus side). A Bloom filter built
# from corpus fingerprints (operators/bloom.py) can pre-drop the
# overwhelmingly-fresh majority of a batch before the anti-join.
# ---------------------------------------------------------------------------
def corpus_fingerprints(corpus_df: DataFrame, text_col: str) -> DataFrame:
    """Distinct sha2-256 fingerprints of an accepted corpus — the table
    to persist (and bucket by __fp) for incremental exact dedup."""
    return corpus_df.select(
        F.sha2(F.col(text_col), 256).alias("__fp")
    ).distinct()


def incremental_exact_dedup(
    new_df: DataFrame,
    corpus_fps: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Admit new-batch docs whose exact text is NOT already in the
    corpus (anti-join on the fingerprint), keep-first within the batch
    itself. ``corpus_fps`` is a ``corpus_fingerprints`` output (or any
    1-column __fp DataFrame, e.g. read back from its persisted form).

    Both joins shuffle only (fingerprint, id) pairs; the admitted rows
    come back via a left-semi on ``id_col``."""
    _guard_reserved(new_df, ("__fp",))
    batch = new_df.select(
        F.sha2(F.col(text_col), 256).alias("__fp"), F.col(id_col)
    )
    fresh = batch.join(corpus_fps, "__fp", "left_anti")
    keepers = (
        fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    )
    return new_df.join(keepers, id_col, "left_semi")


def minhash_band_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, band_idx, band_hash) LSH bucket rows — ``bands`` rows per
    doc. Persist this (bucketed by the band key) as the corpus-side
    index for incremental near-dedup; it is exactly the banding
    ``lsh_bucket_pairs`` self-joins on."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    _guard_reserved(df, ("__sig", "__band", "__shash"))
    r = num_perm // bands
    with_sig = with_minhash(
        df.select(F.col(id_col), F.col(text_col)), text_col, num_perm, shingle_k
    ).select(id_col, "__sig")
    return with_sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.hash(
                            F.slice(F.col("__sig"), b * r + 1, r).cast(
                                "array<int>"
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select(id_col, "__band.band_idx", "__band.band_hash")


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_buckets: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Admit new-batch docs that (a) share no LSH band bucket with the
    accepted corpus (left-anti semi-probe against ``corpus_buckets`` —
    a ``minhash_band_buckets`` output, normally read back from its
    persisted bucketed table) and (b) survive greedy within-batch
    near-dedup. Band parameters MUST match the ones the corpus index
    was built with (same num_perm/bands/shingle_k, or band hashes are
    incomparable garbage — hence the explicit parameters here)."""
    nb = minhash_band_buckets(
        new_df, text_col, id_col, num_perm, bands, shingle_k
    )
    dup_ids = (
        nb.join(
            corpus_buckets.select("band_idx", "band_hash"),
            ["band_idx", "band_hash"],
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )
    survivors = new_df.join(dup_ids, id_col, "left_anti")
    return minhash_dedup(
        survivors, text_col, id_col, num_perm, bands, shingle_k, bucket_cap
    )


# ---------------------------------------------------------------------------
# X2b — SimHash (64-bit) via vectorized pandas UDF
# ---------------------------------------------------------------------------
@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (deterministic: blake2b-based
    token hashes). Arrow-batched; numpy bit accumulation.

    r12 (guide §4.2): fully vectorized across the batch — tokens are
    flattened once, blake2b runs once per DISTINCT token in the batch
    (np.unique; corpora repeat vocabulary heavily), and the ±1
    accumulation is one segmented reduce over a T×64 sign matrix
    instead of a Python loop per token. Bit-identical to the r3
    row-loop form (integer addition is order-free; same hash family,
    same acc>0 threshold) — pinned by
    test_simhash64_vectorized_matches_row_loop."""
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)
    out = np.zeros(len(texts), dtype=np.uint64)
    tok_lists = []
    row_ids = []
    for i, t in enumerate(texts):
        if t is None:
            continue
        tl = str(t).split()
        if tl:
            tok_lists.extend(tl)
            row_ids.append(np.full(len(tl), i, dtype=np.int64))
    if tok_lists:
        rows = np.concatenate(row_ids)  # nondecreasing by construction
        uniq, inv = np.unique(
            np.asarray(tok_lists, dtype=object), return_inverse=True
        )
        uh = np.empty(len(uniq), dtype=np.uint64)
        for u, tok in enumerate(uniq):
            uh[u] = int.from_bytes(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
            )
        # U×64 of ±1 (int32: a doc would need 2**31 same-sign token
        # occurrences to overflow the segmented sum)
        pm = np.where(
            ((uh[:, None] >> shifts) & np.uint64(1)).astype(bool), 1, -1
        ).astype(np.int32)
        seg_starts = np.r_[0, np.flatnonzero(np.diff(rows)) + 1]
        # per-doc segmented sum as one vectorized np.sum per segment:
        # np.add.reduceat and np.cumsum both hit scalar slow paths at
        # this shape (measured 20 s / 45 s vs ~0.05 s for plain sums),
        # while a short Python loop of axis-0 sums is bounded by one
        # cheap call per doc; integer addition keeps it exact
        mat = pm[inv]
        seg_bounds = np.r_[seg_starts, len(rows)]
        seg_sums = np.empty((len(seg_starts), 64), dtype=np.int64)
        for si in range(len(seg_starts)):
            seg_sums[si] = mat[seg_bounds[si]:seg_bounds[si + 1]].sum(
                axis=0, dtype=np.int64
            )
        doc_rows = rows[seg_starts]
        bits = (seg_sums > 0).astype(np.uint64)
        out[doc_rows] = (bits << shifts).sum(axis=1, dtype=np.uint64)
    return pd.Series(out.view(np.int64))


def hamming_near_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Generic 64-bit-fingerprint near-pair finder by pigeonhole
    blocking: split the hash into ``max_hamming + 1`` near-equal bit
    chunks (two hashes within hamming distance h must agree on ≥1 of
    h+1 chunks), equi-join on (chunk_idx, chunk), then exact-filter with
    ``bit_count(xor)``. Never all-pairs; the only shuffle key is the
    small (chunk_idx, chunk) bucket. Serves SimHash text fingerprints
    and perceptual image hashes (operators/multimodal.image_phash)
    alike.

    SCALE WARNING — occupancy math: chunk width is 64/(h+1) bits, so a
    chunk bucket holds ~n/2^(64/(h+1)) hashes and the candidate set
    grows as n²·(h+1)/2^(64/(h+1)). At h=3 (16-bit chunks) that is
    linear until ~10⁸ hashes; at h=10 (~6-bit chunks) it is quadratic
    almost immediately — and real fingerprints make it worse because
    bits are BIASED (a pHash's DC-sign bit is nearly constant, so its
    chunk degenerates into a handful of buckets; measured 43× at a 10×
    smoke before the cap). For h beyond ~4 at corpus scale, set
    ``bucket_cap``: buckets holding more ids are dropped BEFORE the
    self-join (windowed count, no pair materialized). A true near-dup
    pair survives unless EVERY chunk it agrees on is over the cap —
    near-identical hashes agree on almost all h+1 chunks, so recall
    loss needs all of them degenerate at once (the planted-pair smoke
    measures 100% recall with cap=200 at both scales).

    ``max_hamming`` must be in [0, 15]: the pigeonhole guarantee needs
    h+1 chunks, and beyond 16 chunks of a 64-bit hash the chunks are
    ≤3 bits — structurally degenerate (occupancy math above). For
    larger h — or for ANY h whose 64/(h+1)-bit chunks are too narrow
    for the corpus — use ``hamming_multi_index_pairs`` (the Manku
    WWW'07 combination multi-index, r11), which keeps keys wide at the
    cost of more tables; silently capping the chunk count would
    silently drop true pairs."""
    if not 0 <= max_hamming <= 15:
        raise ValueError(
            f"max_hamming={max_hamming} outside [0, 15]; the "
            "h+1-chunk pigeonhole guarantee cannot be kept for larger "
            "h on a 64-bit hash (use hamming_multi_index_pairs)"
        )
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    widths = [base + (1 if c < rem else 0) for c in range(n_chunks)]
    starts = [sum(widths[:c]) for c in range(n_chunks)]
    chunks = df.select(
        F.col(id_col),
        F.col(hash_col).alias("__h64"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        # width-64 chunk (max_hamming=0): mask is all
                        # ones, which only fits a signed long as -1
                        F.shiftrightunsigned(F.col(hash_col), starts[c])
                        .bitwiseAND(
                            F.lit(
                                -1
                                if widths[c] == 64
                                else (1 << widths[c]) - 1
                            )
                        )
                        .alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("__c"),
    ).select(id_col, "__h64", "__c.chunk_idx", "__c.chunk")
    if bucket_cap is not None:
        wb = Window.partitionBy("chunk_idx", "chunk")
        chunks = (
            chunks.withColumn("__n", F.count(F.lit(1)).over(wb))
            .filter(F.col("__n") <= bucket_cap)
            .drop("__n")
        )
    # r12: shuffle self-join — scale-true strategy (corpus-wide sides
    # never broadcast) + identical exchange subtrees on both sides, so
    # the fingerprint lineage materializes once (second side's map
    # stages SKIPPED); see hamming_multi_index_pairs for the
    # measurement.
    #
    # r13 canonical emission (the m=1 case of the multi-index trick): a
    # radius-h pair agrees on up to h+1 chunks and used to be emitted
    # once per agreeing chunk, deduplicated by a full-output distinct().
    # Each joined row re-derives the agree mask from the xor and keeps
    # the pair only in its FIRST agreeing chunk (no agreeing chunk
    # strictly below chunk_idx) — exactly-once emission, distinct()
    # gone, output row set bit-identical (uncapped; a capped run keeps
    # distinct(), see _emit_pairs). The per-chunk mask is a
    # constant-array lookup on chunk_idx, NOT an exploded struct field:
    # a per-side field would be pruned asymmetrically and break the
    # exchange-subtree equality that lets the fingerprint lineage
    # materialize once (see hamming_multi_index_pairs).
    lo_mask_arr = F.array(
        *[F.lit((1 << c) - 1) for c in range(n_chunks)]
    )
    xor = F.col("a.__h64").bitwiseXOR(F.col("b.__h64"))

    def chunk_of(col: F.Column, c: int) -> F.Column:
        return F.shiftrightunsigned(col, starts[c]).bitwiseAND(
            F.lit(-1 if widths[c] == 64 else (1 << widths[c]) - 1)
        )

    agree = F.lit(0)
    for c in range(n_chunks):
        agree = agree.bitwiseOR(
            F.when(chunk_of(xor, c) == 0, F.lit(1 << c)).otherwise(F.lit(0))
        )
    canonical = (
        agree.bitwiseAND(F.element_at(lo_mask_arr, F.col("a.chunk_idx") + 1))
        == 0
    )
    a, b = chunks.alias("a"), chunks.alias("b").hint("shuffle_hash")
    return _emit_pairs(
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ),
        xor, id_col, max_hamming, canonical, bucket_cap,
    )


def _emit_pairs(joined, xor, id_col, max_hamming, canonical, bucket_cap):
    """Hamming-filter a blocked self-join and emit each pair once.
    Uncapped, a pair is kept only in its canonical (first agreeing)
    bucket, so no ``distinct()`` is needed. With ``bucket_cap`` the
    canonical bucket may be one the cap dropped while a later agreeing
    bucket survived, so capped runs keep every emission and
    ``distinct()`` them instead — the cap's recall promise holds."""
    keep = F.bit_count(xor) <= max_hamming
    if bucket_cap is None:
        keep = keep & canonical
    out = joined.filter(keep).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.bit_count(xor).alias("hamming"),
    )
    return out if bucket_cap is None else out.distinct()


def hamming_multi_index_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int,
    blocks: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """COMBINATION multi-index near-pair finder (Manku, Jain & Sarma,
    WWW'07 — public knowledge) for hamming radii where the single
    pigeonhole's chunks degenerate (r11, VERDICT r10 item 7): split the
    64-bit hash into ``blocks`` near-equal blocks and key one table per
    ``m = blocks - max_hamming`` block COMBINATION. Two hashes within
    hamming ``h`` differ in at most h blocks, so at least ``blocks - h``
    blocks agree — and some m-subset of those agreeing blocks is one of
    the C(blocks, m) combination keys, which therefore matches exactly.
    Structural guarantee, like the pigeonhole — never a recall
    assumption.

    Cost model vs ``hamming_near_pairs``: explode factor is
    C(blocks, m) tables per row (not h+1), but each key is
    ``m * 64/blocks`` bits wide — e.g. h=12, blocks=14 (the default
    h+2): 91 tables of ~9-bit keys, where the plain pigeonhole's 13
    chunks of ~4.9 bits would degenerate into a handful of giant
    buckets. Raise ``blocks`` for wider keys at more tables
    (h=12, blocks=15 → 455 tables of ~12.8-bit keys). At corpus scale
    pair with ``bucket_cap`` exactly like the single index; capping
    drops a true pair only if EVERY agreeing combination is over cap.
    """
    from itertools import combinations

    if blocks is None:
        blocks = max_hamming + 2
    m = blocks - max_hamming
    if m < 1:
        raise ValueError(
            f"blocks={blocks} must exceed max_hamming={max_hamming} "
            "(the combination guarantee needs at least one all-agreeing"
            " block subset)"
        )
    if blocks > 21:
        raise ValueError(
            f"blocks={blocks}: 64-bit blocks below ~3 bits are "
            "structurally degenerate"
        )
    from math import comb

    n_tables = comb(blocks, m)
    if n_tables > 1000:
        raise ValueError(
            f"C({blocks}, {m}) = {n_tables} combination tables — the "
            "per-row explode would dwarf any join saving (the cost "
            "model in the docstring tops out near C(15,3)=455); pick "
            "fewer blocks or a smaller radius"
        )
    base, rem = divmod(64, blocks)
    widths = [base + (1 if c < rem else 0) for c in range(blocks)]
    starts = [sum(widths[:c]) for c in range(blocks)]

    def block(c: int) -> F.Column:
        return F.shiftrightunsigned(F.col(hash_col), starts[c]).bitwiseAND(
            F.lit(-1 if widths[c] == 64 else (1 << widths[c]) - 1)
        )

    combos = list(combinations(range(blocks), m))
    entries = []
    for ci, combo in enumerate(combos):
        key = block(combo[0])
        for c in combo[1:]:
            key = F.shiftleft(key, widths[c]).bitwiseOR(block(c))
        entries.append(
            F.struct(F.lit(ci).alias("combo_idx"), key.alias("key"))
        )
    keyed = df.select(
        F.col(id_col),
        F.col(hash_col).alias("__h64"),
        F.explode(F.array(*entries)).alias("__c"),
    ).select(id_col, "__h64", "__c.combo_idx", "__c.key")
    # r13 canonical-emission lookup tables (see the join below): a combo
    # (i1 < i2 < ... < im) is the pair's CANONICAL agreeing combo iff
    # the agreeing blocks strictly below i_m are exactly
    # {i1..i_{m-1}} — i.e. (agree & lo_mask) == lo_bits with
    # lo_mask = (1 << i_m) - 1 and lo_bits = the lower m-1 combo bits.
    # That combo is the lexicographically first agreeing one, so every
    # qualifying pair is emitted EXACTLY once and the duplicate-pair
    # distinct() disappears. The per-combo constants are CONSTANT ARRAY
    # lookups on combo_idx rather than extra exploded struct fields:
    # per-side fields would be pruned asymmetrically (only one side's
    # are referenced), making the two exchange subtrees canonically
    # UNEQUAL and silently breaking the r12 ReuseExchange property the
    # plan pin guards (fingerprint lineage must materialize once).
    lo_mask_arr = F.array(
        *[F.lit((1 << combo[-1]) - 1) for combo in combos]
    )
    lo_bits_arr = F.array(
        *[
            F.lit(sum(1 << c for c in combo[:-1]))
            for combo in combos
        ]
    )
    if bucket_cap is not None:
        wb = Window.partitionBy("combo_idx", "key")
        keyed = (
            keyed.withColumn("__n", F.count(F.lit(1)).over(wb))
            .filter(F.col("__n") <= bucket_cap)
            .drop("__n")
        )
    # r12 (guide §3.1): force the self-join through a shuffle. At
    # corpus scale the keyed table can never broadcast, so this IS the
    # scale plan; locally the size estimate picked a broadcast join,
    # which (a) recomputed the whole fingerprint+explode lineage on
    # BOTH sides and (b) ran the entire bucket-expansion probe in the
    # scan's task count (one task on a single-file corpus). With the
    # shuffle, the two sides' exchanges are identical subtrees, so the
    # DAG scheduler materializes the map side ONCE — probe-run stage
    # list shows the second side's map stages SKIPPED — and the bucket
    # expansion parallelizes across reducers. Measured (q_simhash_pairs
    # sf0.1 fresh, min-of-3): r11 broadcast form 65 s (single task);
    # this form 15.4 s; rows identical.
    #
    # r13 canonical emission (guide §2.3 — shuffle fewer bytes): a pair
    # within radius h agrees on >= blocks - h = m blocks, so it lands in
    # EVERY agreeing combo's bucket — measured 19M hamming-passing rows
    # for 1.11M distinct pairs at sf0.1 (17x duplicate emission), all of
    # which the old .distinct() had to shuffle. Instead, each joined row
    # re-derives the pair's agree mask from the xor (14 cheap int tests
    # on a value the hamming filter already computes) and keeps the row
    # only in the pair's lexicographically-first agreeing combo (the
    # lo_mask/lo_bits literals baked into the explode). Every
    # radius-h pair has >= m agreeing blocks, so exactly one emission
    # survives — the distinct() and its 19M-row exchange are GONE; the
    # output row set is bit-identical. A capped run keeps distinct():
    # the canonical combo's bucket may be the one the cap dropped.
    xor = F.col("a.__h64").bitwiseXOR(F.col("b.__h64"))

    def block_of(col: F.Column, c: int) -> F.Column:
        return F.shiftrightunsigned(col, starts[c]).bitwiseAND(
            F.lit(-1 if widths[c] == 64 else (1 << widths[c]) - 1)
        )

    agree = F.lit(0)
    for c in range(blocks):
        agree = agree.bitwiseOR(
            F.when(block_of(xor, c) == 0, F.lit(1 << c)).otherwise(F.lit(0))
        )
    canonical = agree.bitwiseAND(
        F.element_at(lo_mask_arr, F.col("a.combo_idx") + 1)
    ) == F.element_at(lo_bits_arr, F.col("a.combo_idx") + 1)
    a, b = keyed.alias("a"), keyed.alias("b").hint("shuffle_hash")
    # hamming first (in _emit_pairs): one bit_count kills the ~70% false
    # bucket collisions before the 14-test agree mask is evaluated
    return _emit_pairs(
        a.join(
            b,
            (F.col("a.combo_idx") == F.col("b.combo_idx"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ),
        xor, id_col, max_hamming, canonical, bucket_cap,
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int | None = None,
) -> DataFrame:
    """Near-dup candidates by SimHash: pigeonhole chunk blocking (at the
    default h=3: 4 × 16-bit chunks) then exact hamming filter — see
    ``hamming_near_pairs``. For radii past ~4, pass ``blocks`` to use
    the combination multi-index (``hamming_multi_index_pairs``) whose
    keys stay wide where the pigeonhole's chunks would degenerate."""
    # The coalesce makes __sh provably non-nullable, so the isnotnull
    # the optimizer infers on the derived join keys folds away instead
    # of being pushed below the projection as a SECOND ArrowEvalPython
    # (the r11 plan evaluated the fingerprint twice per doc — guide
    # §4.4). simhash64 never returns null (null text hashes to 0), so
    # the value is unchanged; keeping the UDF deterministic — rather
    # than marking it nondeterministic to suppress the duplicate — is
    # what lets the self-join's two identical exchanges share one
    # materialization. Min-of-3 q_simhash_pairs sf0.1 fresh: 29.5 s
    # with the UDF marked nondeterministic (single eval, no exchange
    # reuse); 18.6 s deterministic without the coalesce (reuse, but
    # double eval inside the shared side); 15.4 s this form.
    h = _spread_small_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.coalesce(simhash64(F.col(text_col)), F.lit(0).cast("long")).alias(
            "__sh"
        ),
    )
    if blocks is not None:
        return hamming_multi_index_pairs(
            h, "__sh", id_col, max_hamming, blocks=blocks
        )
    return hamming_near_pairs(h, "__sh", id_col, max_hamming)


# ---------------------------------------------------------------------------
# X2c — n-gram Jaccard verification (exact, for candidate pairs)
# ---------------------------------------------------------------------------
# Width of the per-doc gram bitmap used by ngram_jaccard's exact
# rejection prefilter, in 64-bit words. 32 words = 2048 bits; fixture
# docs carry ~200 distinct 5-grams (fill factor ~0.1 per side), which
# makes popcount(OR) a tight lower bound on |A ∪ B| — sharp enough to
# reject near-every candidate below J ≈ 0.8 before any gram array is
# touched. Wider = sharper bound + more per-pair long ops; 32 words is
# 256 B/doc vs ~1-2 KB gram arrays.
_BITMAP_WORDS = 32


def _gram_stats(sh: DataFrame, id_col: str) -> DataFrame:
    """Per-doc (size, 2048-bit gram bitmap) from the distinct gram
    arrays — the lightweight decision proxy (guide §8: decide with
    small rows, ship heavy arrays only to survivors). One JVM-native
    explode + hash aggregate; explode_outer keeps empty/null-array docs
    (zero bitmap), preserving the exact edge semantics of the pair
    compare."""
    nbits = 64 * _BITMAP_WORDS
    # NB: Spark hash expressions are null-TOLERANT — xxhash64(NULL)
    # returns the seed, not NULL — so the explode_outer null row (an
    # empty gram array) must be guarded explicitly or every empty doc
    # would carry one spurious bit and P would overcount by 1, breaking
    # the empty-vs-empty keep case (S = P = 0 must hold there).
    ex = sh.select(
        F.col(id_col),
        F.size("__sh").alias("__sz"),
        F.explode_outer("__sh").alias("__g"),
    ).select(
        id_col,
        "__sz",
        F.when(
            F.col("__g").isNotNull(),
            F.pmod(F.xxhash64("__g"), F.lit(nbits)),
        ).alias("__bucket"),
    )
    word = (F.col("__bucket") / 64).cast("int")
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__bucket % 64 AS INT))")
    zero = F.lit(0).cast("long")
    return ex.groupBy(id_col).agg(
        F.first("__sz").alias("__sz"),
        *[
            F.bit_or(F.when(word == i, bit).otherwise(zero)).alias(f"__b{i}")
            for i in range(_BITMAP_WORDS)
        ],
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact character-k-gram Jaccard for candidate (id_a, id_b) pairs;
    keeps pairs with similarity >= threshold.

    The SINGLE exact-Jaccard verification path (ADVICE r10 —
    ``confirm_pairs_jaccard`` wraps this): the threshold compare is
    integer cross-multiplication (``c * den >= union * num``), never a
    float-ratio compare, so any engine computing the same gram sets
    agrees bit-for-bit at the boundary; the reported ``jaccard`` column
    stays one IEEE division of two small ints.

    r13 (guide §8 / VERDICT r12 item 3): candidates are first judged on
    a NARROW per-doc proxy — (|grams|, 2048-bit gram bitmap, 264 B) —
    and only survivors ever join the gram arrays for the exact
    intersect. Two exact-rejection bounds run on the proxy:

    1. size ratio (r12): J <= min/max, so ``least*den < greatest*num``
       can never pass the exact compare;
    2. bitmap union bound: every distinct gram of A ∪ B sets exactly one
       bucket bit, so popcount(OR of bitmaps) = #distinct buckets
       touched <= |A ∪ B|. With S = |A| + |B| and inter = S - union
       (arrays are distinct), keep requires inter*(den+num) >= S*num;
       inter <= S - P, so (S - P)*(den+num) < S*num is a certain reject.
       Hash-bucket collisions only LOWER P — they weaken rejection,
       never break it. Empty arrays (S = P = 0) pass, exactly like the
       0 >= 0 exact compare; null arrays null the bound and the exact
       compare alike (both drop).

    The kept set is therefore provably identical: the prefilter is a
    superset of the exact-keep set and the exact compare still runs on
    every survivor. At sf0.1 this removes the per-pair hash-set
    ``array_intersect`` for ~99% of the 1.1 M hamming/band candidates,
    and at 100 TB the candidate join ships 264 B/doc instead of the
    1-2 KB gram payload."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10**6)
    num, den = int(fr.numerator), int(fr.denominator)
    sh = df.select(
        F.col(id_col),
        F.array_distinct(_shingles_expr(text_col, k)).alias("__sh"),
    )
    stats = _gram_stats(sh, id_col)
    w = _BITMAP_WORDS
    sa = stats.select(
        F.col(id_col).alias("id_a"),
        F.col("__sz").alias("__sza"),
        *[F.col(f"__b{i}").alias(f"__a{i}") for i in range(w)],
    )
    sb = stats.select(
        F.col(id_col).alias("id_b"),
        F.col("__sz").alias("__szb"),
        *[F.col(f"__b{i}").alias(f"__v{i}") for i in range(w)],
    )
    sz_a, sz_b = F.col("__sza"), F.col("__szb")
    size_ok = F.least(sz_a, sz_b) * F.lit(den) >= (
        F.greatest(sz_a, sz_b) * F.lit(num)
    )
    s_total = sz_a + sz_b
    popcnt = None
    for i in range(w):
        c = F.bit_count(F.col(f"__a{i}").bitwiseOR(F.col(f"__v{i}")))
        popcnt = c if popcnt is None else popcnt + c
    bound_ok = (s_total - popcnt) * F.lit(den + num) >= s_total * F.lit(num)
    survivors = (
        pairs.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .filter(size_ok & bound_ok)
        .select("id_a", "id_b")
    )
    j = (
        survivors
        .join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        j.filter(inter * F.lit(den) >= union * F.lit(num))
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    nbits: int = 16,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH blocking (docs in
    the same nbits-bucket are candidates) + exact cosine filter. See
    operators/similarity.py for the shared hyperplane machinery.

    ``bucket_cap`` is the same giant-bucket defense as
    ``lsh_bucket_pairs``: a degenerate bucket (all-zero embeddings, a
    template vector repeated across the corpus) holding B vectors emits
    B·(B-1)/2 candidate pairs. Buckets over the cap are dropped before
    the self-join via one windowed count — their members are
    everything-matches-everything clusters better handled by exact
    dedup on the raw vector bytes."""
    from bcdp_spark.operators.similarity import (
        flat_dot,
        flat_sqnorm,
        hyperplane_bucket,
    )

    _guard_reserved(df, ("__b", "__n", "__nrm"))
    # r12: the norm is per-VECTOR — computed once per doc here instead
    # of once per candidate PAIR (bit-identical doubles: sqrt of the
    # same unrolled sqnorm on the same row), and the self-join runs as
    # a shuffle join (scale-true; identical exchange subtrees, so the
    # bucket+norm lineage materializes once — the lsh_bucket_pairs
    # discipline).
    h = df.select(
        F.col(id_col),
        F.col(vec_col),
        hyperplane_bucket(vec_col, dim, nbits, seed).alias("__b"),
        F.sqrt(flat_sqnorm(vec_col, dim)).alias("__nrm"),
    )
    if bucket_cap is not None:
        from pyspark.sql import Window

        wb = Window.partitionBy("__b")
        h = (
            h.withColumn("__n", F.count(F.lit(1)).over(wb))
            .filter(F.col("__n") <= bucket_cap)
            .drop("__n")
        )
    a, b = h.alias("a"), h.alias("b").hint("shuffle_hash")
    cand = a.join(
        b,
        (F.col("a.__b") == F.col("b.__b"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    sim = flat_dot(f"a.{vec_col}", f"b.{vec_col}", dim) / (
        F.col("a.__nrm") * F.col("b.__nrm")
    )
    return (
        cand.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _check_sep(sep: str) -> None:
    """``sep`` is used in THREE contexts by the n-gram operators: as a
    Java regex (F.split), as a literal join string (array_join), and
    inside a SQL string literal — and the DuckDB oracle twins use
    literal string_split. A regex metacharacter ('|', '.', '+') or a
    quote would silently tokenize on the wrong boundaries (e.g. '|'
    splits between every character) while re-joining literally —
    garbage with no error. Guard loudly (ADVICE r7)."""
    if len(sep) != 1 or sep in "\\.[]{}()*+?^$|'\"":
        raise ValueError(
            "sep must be a single literal character that is not a regex "
            f"metacharacter or quote, got {sep!r}"
        )


def repeated_ngram_doc_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
    sep: str = " ",
) -> DataFrame:
    """Substring-level duplication signal (the exact-substring-dedup
    family — Lee et al. 2022, 'Deduplicating Training Data Makes
    Language Models Better': suffix-array repeated spans; here the
    Spark-first equivalent over word k-grams): for every document, the
    fraction of its k-gram positions whose k-gram occurs >= min_count
    times across the WHOLE corpus. High rep_frac = document largely
    assembled from corpus-repeated spans (boilerplate, templates,
    near-copies) — the per-doc removal signal suffix arrays give
    single-node.

    Plan: tokenize -> per-position k-grams (pure array expressions, no
    UDF) -> map-side-combinable hash agg on the gram (the shuffle
    carries DISTINCT grams, not gram positions) -> SHUFFLE_HASH join
    back onto the positions -> per-doc agg. A windowed
    ``COUNT(*) OVER (PARTITION BY gram)`` computes the same thing in
    one shuffle but SORTS every gram position; the 10x smoke measured
    that shape super-linear (12.2x — n log n on duplicated-gram sort
    runs) while this agg+hash-join shape has no sort at all. The hint
    matters: plain join would pick sort-merge and reintroduce the sort.
    At 100 TB the gram key should additionally be xxhash64(gram)
    (8-byte shuffle keys); the string key here keeps the operator
    oracle-twinnable.
    """
    _guard_reserved(df, ("__toks", "__gram", "__cnt"))
    _check_sep(sep)
    toks = F.split(F.col(text_col), sep)
    grams = F.expr(
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"transform(sequence(1, size(__toks) - {k} + 1), "
        f"i -> array_join(slice(__toks, i, {k}), {sep!r})) "
        "ELSE array() END"
    )
    g = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), F.explode(grams).alias("__gram"))
    )
    gc = g.groupBy("__gram").agg(F.count(F.lit(1)).alias("__cnt"))
    c = g.join(gc.hint("SHUFFLE_HASH"), "__gram")
    return c.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("__cnt") >= min_count, 1)).alias("n_rep"),
        F.round(
            F.count(F.when(F.col("__cnt") >= min_count, 1))
            / F.count(F.lit(1)),
            6,
        ).alias("rep_frac"),
    )


def strip_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
    sep: str = " ",
) -> DataFrame:
    """Exact-substring dedup with ACTUAL span removal (Lee et al. 2022's
    remove-all-copies variant): every token position covered by a word
    ``k``-gram that occurs in >= ``min_docs`` DISTINCT documents is
    dropped, and the surviving tokens are re-joined in order. Returns
    one row per input doc: ``(id, n_tokens, n_removed, cleaned_text)``
    — ``repeated_ngram_doc_stats`` is the scoring half of this family;
    this is the surgery half that training pipelines actually apply.

    Plan (all built-ins, no UDF): positioned grams via array
    expressions -> distinct-doc count per gram (map-side-combinable
    agg; the shuffle carries distinct grams) -> SHUFFLE_HASH join back
    to positions -> covered positions via sequence-explode + distinct
    -> left_anti against token positions -> ordered re-assembly with
    array_sort(collect_list(struct(pos, tok))) (positions are unique
    per doc, so the sort is deterministic). Three shuffles, no sort on
    the gram path. At 100 TB hash the gram to xxhash64 for 8-byte
    shuffle keys (string keys kept here for oracle twinning)."""
    _guard_reserved(
        df, ("__toks", "__g", "__gram", "__i", "__nd", "__pos", "__tok")
    )
    _check_sep(sep)
    t = df.select(F.col(id_col), F.split(F.col(text_col), sep).alias("__toks"))
    grams = F.expr(
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"transform(sequence(1, size(__toks) - {k} + 1), "
        f"i -> struct(i AS __i, array_join(slice(__toks, i, {k}), {sep!r})"
        " AS __gram)) ELSE array() END"
    )
    g = t.select(F.col(id_col), F.explode(grams).alias("__g")).select(
        id_col, "__g.__i", "__g.__gram"
    )
    dup = (
        g.groupBy("__gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__gram")
    )
    covered = (
        g.join(dup.hint("SHUFFLE_HASH"), "__gram")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("__i"), F.col("__i") + F.lit(k - 1))
            ).alias("__pos"),
        )
        .distinct()
    )
    tok_pos = t.select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        F.expr(
            "explode(transform(sequence(1, size(__toks)), "
            "i -> struct(i AS __pos, __toks[i-1] AS __tok)))"
        ).alias("__t"),
    ).select(id_col, "n_tokens", "__t.__pos", "__t.__tok")
    kept = tok_pos.join(covered, [id_col, "__pos"], "left_anti")
    rebuilt = kept.groupBy(id_col, "n_tokens").agg(
        F.count(F.lit(1)).alias("__kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__tok"))
                ),
                lambda x: x["__tok"],
            ),
            sep,
        ).alias("cleaned_text"),
    )
    # docs whose every position was covered drop out of `kept` — restore
    # them with empty cleaned text
    base = t.select(F.col(id_col), F.size("__toks").alias("n_tokens"))
    return (
        base.join(rebuilt, [id_col, "n_tokens"], "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias(
                "cleaned_text"
            ),
        )
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    sep: str = " ",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / PaLM family of
    train-test overlap removal): flag every training document that
    shares at least one word ``n``-gram with the benchmark set. Returns
    ``train`` plus a boolean ``contaminated`` column — callers filter
    or route. ``n=13`` is the published GPT-3 setting; fixture queries
    use smaller n so the tiny vocab actually collides.

    Scale design (100 TB train, MB-scale benchmarks): the benchmark
    side is DISTINCT-ed n-grams of a few-thousand-document eval suite —
    tiny relative to train — so it broadcasts and the train side is
    NEVER shuffled on the gram: contaminated ids fall out of a
    broadcast left-semi over the exploded train grams, and only the
    (distinct) contaminated id set — bounded by |train| ids, 8 bytes
    each — shuffles back for the final left join.
    """
    _guard_reserved(train, ("__toks", "__gram", "__contam"))
    _guard_reserved(bench, ("__toks", "__gram"))
    _check_sep(sep)

    def grams(df: DataFrame) -> DataFrame:
        toks = F.split(F.col(text_col), sep)
        g = F.expr(
            f"CASE WHEN size(__toks) >= {n} THEN "
            f"transform(sequence(1, size(__toks) - {n} + 1), "
            f"i -> array_join(slice(__toks, i, {n}), {sep!r})) "
            "ELSE array() END"
        )
        return df.select(F.col(id_col), toks.alias("__toks")).select(
            F.col(id_col), F.explode(g).alias("__gram")
        )

    bg = F.broadcast(grams(bench).select("__gram").distinct())
    bad = (
        grams(train)
        .join(bg, "__gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__contam", F.lit(True))
    )
    return train.join(bad, id_col, "left").select(
        *[F.col(c) for c in train.columns],
        F.coalesce(F.col("__contam"), F.lit(False)).alias("contaminated"),
    )
