"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Reference analog: the uniqueness evaluators (sort + adjacent-compare →
RECORD_NOT_UNIQUELY_IDENTIFIED, evaluator/UniquenessEvaluator.java:46-74)
generalized from key equality to content equality/similarity — the operator
the reference *would* need at web scale.

Scale design notes (per operator, for 100 TB / 10^12 docs):
- exact: one hash-agg on a 16-byte digest — same shape as the
  uniqueness check; shuffle carries (digest, count) only.
- ngram-jaccard: explode shingles → posting-list groupBy(shingle) → generate
  in-list pairs → count per pair. Two shuffles total, no self-join, no
  persist. Frequency-capped (shingles in > max_df docs dropped) so hot
  shingles don't quadratic-blow the pair fan-out — the standard
  candidate-pruning trick, and the explicit skew control here: a hot
  shingle's entire posting list lands on one reducer, so the cap IS the
  bound on per-reducer work.
- minhash-lsh: constant-size signature per doc (Arrow-batched numpy), banded
  into B buckets → candidates collide within a band bucket; the band-bucket
  groupBy (posting-list style, carrying signatures) is the only
  corpus-sized shuffle; estimated Jaccard is computed in-bucket with zero
  joins back to the signature table.
- simhash: 64-bit signature, near-dup = Hamming ≤ r; candidates via the
  pigeonhole split into (r+1) chunks — posting-list groupBy per chunk
  value, exact Hamming verified in-bucket with bit_count.
- embedding-cosine: brute pairwise restricted to LSH buckets (see
  similarity.py); the exact variant here is for bounded candidate sets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..functions.textstats import content_fingerprint

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str, max_ids: int = 100
) -> DataFrame:
    """→ (fingerprint, n_docs, doc_ids, ids_truncated) for content appearing
    >1 time. Normalization: lowercase + whitespace-collapse
    (content_fingerprint).

    Bounded reducer state: ids are rank-filtered BEFORE the aggregation
    (``row_number() <= max_ids`` over each fingerprint), so a fingerprint
    shared by 10^8 docs — an empty page or a site template — puts at most
    ``max_ids`` elements in any aggregation buffer instead of one
    corpus-sized array on a single reducer. Same no-silent-caps discipline
    as ``_dropped_buckets``: ``n_docs`` stays the TRUE group size and
    ``ids_truncated`` marks clipped groups, so 'first max_ids ids' can't be
    misread as 'all ids'. The window sort spills via the external sorter;
    running rank is streaming, so per-task memory stays flat at any group
    size."""
    from pyspark.sql import Window

    fp = content_fingerprint(F.col(text_col))
    win = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        df.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))
        .withColumn("_rn", F.row_number().over(win))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= max_ids, F.col("doc_id"))
                )
            ).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
        .withColumn("ids_truncated", F.col("n_docs") > F.lit(max_ids))
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per exact-content group — the
    training-data 'drop exact dups' pass. Returns the surviving rows.
    NULL text fingerprints as a sentinel so null-text rows form one group
    (and keep a representative) instead of being dropped; the sentinel
    cannot collide with a real 32-hex md5.

    Plan shape: a min-over-fingerprint window — ONE exchange on the
    16-byte digest (the groupBy+self-join formulation pays two)."""
    from pyspark.sql import Window

    fp = F.coalesce(content_fingerprint(F.col(text_col)), F.lit("NULL"))
    win = Window.partitionBy("_fp")
    return (
        df.withColumn("_fp", fp)
        .withColumn("_min_id", F.min(id_col).over(win))
        .where(F.col(id_col) == F.col("_min_id"))
        .drop("_fp", "_min_id")
    )


# --------------------------------------------------------------------------
# Word n-gram shingles + exact Jaccard on candidates
# --------------------------------------------------------------------------


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles (lowercased).

    The word array is let-bound through a single-element ``transform`` so the
    regex split evaluates ONCE per row — a naive closure over ``F.split(...)``
    re-evaluates the split inside every gram lambda invocation (higher-order
    functions are interpreted, with no cross-lambda subexpression reuse),
    which is O(words × grams) per document."""

    def gen(words: Column) -> Column:
        n = F.size(words)
        grams = F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        )
        # n < k must yield [] — sequence(1, 0) would generate a DESCENDING
        # [1, 0] (and slice(_, 0, _) then errors), so guard explicitly.
        return F.when(n >= k, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(
        F.transform(F.array(F.split(F.lower(F.trim(text)), r"\s+")), gen), 1
    )


def _in_list_pairs(ds: Column, fields: list[str]) -> Column:
    """All unordered pairs from an array<struct> posting list, each pair
    ordered by the struct's first field (`id`). Generated JVM-side with
    nested transforms — no self-join, no second shuffle."""
    n = F.size(ds)

    def pair(i: Column, j: Column) -> Column:
        a, b = F.element_at(ds, i + 1), F.element_at(ds, j + 1)
        swap = a["id"] > b["id"]
        lo, hi = F.when(swap, b).otherwise(a), F.when(swap, a).otherwise(b)
        cols = []
        for f in fields:
            cols.append(lo[f].alias(f"{f}_a"))
            cols.append(hi[f].alias(f"{f}_b"))
        return F.struct(*cols)

    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(F.sequence(i + 1, n - 1), lambda j: pair(i, j)),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """→ (doc_a, doc_b, jaccard) for pairs with Jaccard(shingle sets) ≥
    threshold, doc_a < doc_b.

    Posting-list plan: explode shingles (carrying each doc's shingle count),
    groupBy(shingle) → in-list pair generation → count per pair = exact
    intersection size. Two shuffles total, no self-join, no persist.
    Shingles occurring in > max_df docs are dropped (stop-shingle pruning):
    that caps both candidate fan-out AND per-reducer skew — a hot shingle's
    whole posting list lands on one reducer, so max_df is the explicit
    bound on its work."""
    counts = _ngram_pair_counts(df, id_col, text_col, k, max_df)
    jac = F.col("n_inter") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return (
        counts.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """→ (doc_a, doc_b, containment) for pairs with
    ``|A ∩ B| / min(|A|, |B|) ≥ threshold`` — the asymmetric twin of
    ``ngram_jaccard_pairs`` (same posting-list plan, same two shuffles).

    Containment is what catches NEAR-SUPERSETS: a page republished inside a
    boilerplate wrapper has containment ≈ 1 while its Jaccard is diluted by
    the wrapper's shingles — exactly the duplicate class symmetric Jaccard
    misses on template-heavy web crawls."""
    counts = _ngram_pair_counts(df, id_col, text_col, k, max_df)
    cont = F.col("n_inter") / F.least("n_a", "n_b").cast("double")
    return (
        counts.withColumn("containment", cont)
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))
    )


def _ngram_pair_counts(
    df: DataFrame, id_col: str, text_col: str, k: int, max_df: int
) -> DataFrame:
    """Shared posting-list core: → (doc_a, doc_b, n_a, n_b, n_inter) with
    doc_a < doc_b, exact shingle-set sizes and intersection counts. Two
    shuffles, no self-join; ``max_df`` stop-shingle pruning bounds both
    candidate fan-out and per-reducer skew."""
    sh = df.select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("sh")
    ).where(F.size("sh") > 0)
    ex = sh.select(
        F.explode("sh").alias("s"),
        F.struct(F.col("doc_id").alias("id"), F.size("sh").alias("n")).alias("d"),
    )
    posts = (
        ex.groupBy("s")
        .agg(F.collect_list("d").alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    return (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id", "n"])).alias("p"))
        .select(
            F.col("p.id_a").alias("doc_a"),
            F.col("p.id_b").alias("doc_b"),
            F.col("p.n_a").alias("n_a"),
            F.col("p.n_b").alias("n_b"),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _hash64_array(strs) -> "object":
    """Stable 64-bit hashes of a sequence of strings as a uint64 numpy
    array. One C-speed md5 per string (deterministic across processes and
    runs — unlike Python's seeded ``hash``), 8-byte prefix of the digest."""
    import hashlib

    import numpy as np

    buf = b"".join(hashlib.md5(s.encode("utf-8")).digest()[:8] for s in strs)
    return np.frombuffer(buf, dtype=">u8").astype(np.uint64)


def minhash_constants(n_hashes: int = 64, seed: int = 42) -> "tuple[list[int], list[int]]":
    """The (a_i, b_i) permutation-hash constants as plain ints. Shared by
    the signature UDF and the DuckDB oracle SQL so both sides are pinned to
    the same hash family; note the arithmetic in `_minhash_series` wraps
    mod 2**64 (uint64) BEFORE the Mersenne mod — any reimplementation must
    replicate ((a*x + b) % 2**64) % p, not (a*x + b) % p."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return [int(v) for v in a], [int(v) for v in b]


def _minhash_series(
    texts: pd.Series, k: int, n_hashes: int, seed: int, weighted: bool = False
) -> pd.Series:
    """numpy minhash signatures over Arrow batches: h_i(x) = (a_i*x + b_i)
    mod p, min over the doc's shingle hashes. Shingling happens here in
    Python (same k-gram definition as ``shingles``): min over permutation
    hashes is order- and duplicate-invariant, and keeping it in the UDF
    avoids shipping shingle arrays through Arrow.

    ``weighted=True`` hashes the EXPANDED multiset instead — gram g with
    tf c contributes elements (g,1)..(g,c) — the classic reduction: set
    Jaccard of expanded multisets EQUALS weighted Jaccard Σmin/Σmax of
    the originals, so the same banding/estimation machinery estimates
    J_w. Cost grows from distinct grams to TOTAL grams (= doc length),
    the same order as shingling itself."""
    import numpy as np

    aa, bb = minhash_constants(n_hashes, seed)
    a = np.array(aa, dtype=np.uint64)
    b = np.array(bb, dtype=np.uint64)

    def one(t):
        if t is None:
            return None
        words = t.lower().split()
        m = len(words) - k + 1
        if m <= 0:
            return None
        if weighted:
            from collections import Counter

            cnt = Counter(" ".join(words[i : i + k]) for i in range(m))
            grams = [
                f"{g}\x00{j}" for g, c in cnt.items() for j in range(c)
            ]
        else:
            grams = {" ".join(words[i : i + k]) for i in range(m)}
        # stable 64-bit hash of each shingle string
        xs = _hash64_array(list(grams)) % np.uint64(_MERSENNE)  # (n_shingles,)
        # (n_hashes, n_shingles) permutation hashes, min over shingles
        vals = (a[:, None] * xs[None, :] + b[:, None]) % np.uint64(_MERSENNE)
        return vals.min(axis=1).astype(np.int64).tolist()

    return texts.map(one)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    seed: int = 42,
    weighted: bool = False,
) -> DataFrame:
    """→ (doc_id, sig array<long>[n_hashes]); docs with no k-shingle → null
    sig (dropped by callers)."""
    udf = F.pandas_udf(
        lambda s: _minhash_series(s, k, n_hashes, seed, weighted),
        returnType=ArrayType(LongType()),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("sig")
    ).where(F.col("sig").isNotNull())


def _pair_budget_cut(posts: DataFrame, max_pairs: int) -> DataFrame:
    """1-row DataFrame ``(_cut)``: the largest bucket size s such that the
    TOTAL candidate pairs emitted by all buckets of size <= s stays within
    ``max_pairs`` — smallest buckets first, because the over-budget tail
    is exactly the templated/boilerplate mega-buckets whose pairs are the
    least informative (the same docs collide in many bands).

    Scale shape: the histogram aggregate has at most max_bucket distinct
    sizes (<= ~1000 rows), so the running-sum window and the broadcast of
    the cut row are driver-trivial; no corpus-sized data crosses a single
    reducer. Buckets of size 2 are always admitted (cut floor 2) so the
    budget can never silently disable the operator — it bounds the
    superlinear tail, and the census reports what it cut."""
    from pyspark.sql import Window

    hist = (
        posts.select(F.size("ds").alias("_n"))
        .groupBy("_n").agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_p",
            (F.col("_n").cast("long") * (F.col("_n").cast("long") - 1) / 2)
            .cast("long") * F.col("_c"),
        )
        .withColumn("_cum", F.sum("_p").over(Window.orderBy("_n")))
    )
    return hist.where(F.col("_cum") <= max_pairs).agg(
        F.greatest(F.coalesce(F.max("_n"), F.lit(2)), F.lit(2)).alias("_cut")
    )


def _apply_pair_budget(posts: DataFrame, max_pairs: "int | None",
                       dropped: bool = False) -> DataFrame:
    """Budget filter over (band, bucket, ds) posting lists: keep buckets
    at-or-under the size cut (``dropped=False``) or the censused
    complement (``dropped=True``, with ``n_docs``/``n_pairs``). The
    budget costs one extra pass over the bucket aggregate — only paid
    when a ``max_pairs`` budget is actually set."""
    if max_pairs is None:
        return posts
    sized = posts.withColumn("_n", F.size("ds"))
    cut = F.broadcast(_pair_budget_cut(posts, max_pairs))
    if dropped:
        return (
            sized.crossJoin(cut)
            .where(F.col("_n") > F.col("_cut"))
            .select(
                "band", "bucket", F.col("_n").alias("n_docs"),
                (F.col("_n").cast("long") * (F.col("_n").cast("long") - 1)
                 / 2).cast("long").alias("n_pairs"),
            )
        )
    return (
        sized.crossJoin(cut)
        .where(F.col("_n") <= F.col("_cut"))
        .drop("_n", "_cut")
    )


def _dropped_buckets(posts: DataFrame, group_cols: list[str], max_bucket: int) -> DataFrame:
    """Buckets a cap dropped, with their sizes — the no-silent-caps report:
    a capped operator's caller can (and tests do) account for what was
    skipped instead of reading 'no pairs' as 'no duplicates'."""
    return posts.where(F.size("ds") > max_bucket).select(
        *group_cols, F.size("ds").alias("n_docs")
    )


def _minhash_band_posts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
    n_bands: int,
    seed: int,
    weighted: bool = False,
) -> DataFrame:
    """(band, bucket, ds) posting lists: signatures banded into n_bands
    xxhash64 bucket keys, docs grouped per (band, bucket). The groupBy here
    is the family's single corpus-sized shuffle."""
    rows_per_band = n_hashes // n_bands
    sigs = minhash_signatures(df, id_col, text_col, k, n_hashes, seed, weighted)
    bands = sigs.select(
        F.struct(F.col("doc_id").alias("id"), F.col("sig").alias("sig")).alias("d"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bnd: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), bnd * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    return bands.groupBy("band", "bucket").agg(F.collect_list("d").alias("ds"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int = 1000,
    max_pairs: "int | None" = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band the signature into n_bands buckets,
    candidates = pairs colliding in ≥1 band, verified by estimated Jaccard
    (signature agreement rate) ≥ threshold.

    Scale: the only corpus-sized shuffle is the posting-list
    groupBy(band, bucket); signatures are constant-size and travel WITH the
    doc ids into the buckets, so estimated Jaccard (signature agreement
    rate) is computed in-bucket — zero joins back to the signature table.
    ``max_bucket`` caps a band bucket's posting list: a degenerate bucket
    (template boilerplate shared by 10^7 crawl pages) would otherwise
    generate c²/2 pairs on ONE reducer — the same skew blow-up max_df
    guards in the shingle plan. Dropped buckets are not silent: audit them
    with ``minhash_lsh_dropped_buckets`` (same parameters).

    ``max_pairs`` (round 5) additionally bounds the TOTAL candidate-pair
    volume: per-bucket caps alone let a template-heavy corpus emit 10^8+
    pairs from many medium buckets (the 1.2M-doc smoke measured 173.8M).
    The budget admits smallest buckets first up to the pair budget and
    drops the rest LOUDLY — census with
    ``minhash_lsh_budget_dropped`` (same parameters). The bound is soft:
    size-2 buckets are always admitted, so their pairs alone can overrun
    ``max_pairs``."""
    posts = _minhash_band_posts(df, id_col, text_col, k, n_hashes, n_bands, seed).where(
        (F.size("ds") >= 2) & (F.size("ds") <= max_bucket)
    )
    posts = _apply_pair_budget(posts, max_pairs)
    est = F.size(
        F.filter(
            F.zip_with(
                F.col("p.sig_a"), F.col("p.sig_b"), lambda x, y: (x == y).cast("int")
            ),
            lambda v: v == 1,
        )
    ) / F.lit(float(n_hashes))
    return (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id", "sig"])).alias("p"))
        .select(
            F.col("p.id_a").alias("doc_a"),
            F.col("p.id_b").alias("doc_b"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def minhash_lsh_dropped_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """→ (band, bucket, n_docs) for band buckets the cap excluded from
    ``minhash_lsh_pairs`` — run the degenerate buckets through a dedicated
    pass (e.g. exact-dedup by fingerprint) instead of pretending they
    produced no candidates."""
    return _dropped_buckets(
        _minhash_band_posts(df, id_col, text_col, k, n_hashes, n_bands, seed),
        ["band", "bucket"],
        max_bucket,
    )


def minhash_lsh_budget_dropped(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
    max_pairs: "int | None" = None,
) -> DataFrame:
    """→ (band, bucket, n_docs, n_pairs) for band buckets the PAIR budget
    excluded from ``minhash_lsh_pairs(max_pairs=...)`` (buckets the
    per-bucket cap dropped are censused separately by
    ``minhash_lsh_dropped_buckets``). Sum(n_pairs) is exactly the
    candidate volume the budget saved — the no-silent-caps ledger.
    ``max_pairs`` must be the SAME value the pair operator ran with
    (None — the operator default, meaning no budget — raises: an
    unbudgeted run has nothing to census)."""
    if max_pairs is None:
        raise ValueError(
            "max_pairs must match the budget passed to minhash_lsh_pairs "
            "(operator default None = no budget => nothing to census)")
    posts = _minhash_band_posts(
        df, id_col, text_col, k, n_hashes, n_bands, seed
    ).where((F.size("ds") >= 2) & (F.size("ds") <= max_bucket))
    return _apply_pair_budget(posts, max_pairs, dropped=True)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _simhash_series(texts: pd.Series) -> pd.Series:
    """64-bit SimHash (Charikar 2002): sign of the per-bit sum of token
    hashes, weighted by term frequency. Arrow-batched numpy; per-doc work is
    one vectorized md5 pass over the distinct tokens + a (tokens × 64)
    matrix reduction."""
    import numpy as np

    bits = np.arange(64, dtype=np.uint64)
    bit_vals = np.uint64(1) << bits

    def one(t):
        if t is None:
            return None
        words = t.lower().split()
        if not words:
            # None, like minhash: a sig of 0 would put EVERY empty/blank doc
            # in one uncapped hamming-0 bucket and pair them quadratically
            return None
        uniq, counts = np.unique(np.array(words, dtype=object), return_counts=True)
        hs = _hash64_array(uniq)
        bitmat = ((hs[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int64)
        acc = ((2 * bitmat - 1) * counts[:, None]).sum(axis=0)
        sig = bit_vals[acc > 0].sum(dtype=np.uint64)
        return int(np.uint64(sig).astype(np.int64))  # two's complement into BIGINT

    return texts.map(one)


simhash_udf = F.pandas_udf(_simhash_series, returnType=LongType())


def hamming_sig_pairs(
    sigs: DataFrame, max_hamming: int = 3, max_bucket: int = 1000
) -> DataFrame:
    """The pigeonhole Hamming-pair core over any ``(doc_id, sig)`` table
    of 64-bit signatures — shared by text `simhash_pairs` and the image
    dHash pairing (operators/multimodal.py::image_dhash_pairs): split 64
    bits into (max_hamming+1) chunks; any qualifying pair collides
    exactly on ≥1 chunk → posting-list groupBy(chunk_idx, chunk_val),
    exact Hamming verified in-bucket with bit_count (JVM-side). One
    shuffle over the (doc, chunk) postings; no self-join, no persist.
    ``max_bucket`` caps a chunk bucket's posting list (the per-reducer
    skew bound)."""
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    sigs = sigs.where(F.col("sig").isNotNull())
    # shift amounts must be Python ints (static per chunk), so the chunk
    # array is built with a driver-side loop of literal shifts
    chunk_cols = [
        F.shiftrightunsigned(F.col("sig"), i * chunk_bits).bitwiseAND(
            F.lit((1 << chunk_bits) - 1)
        )
        for i in range(n_chunks)
    ]
    chunks = sigs.select(
        F.struct(F.col("doc_id").alias("id"), F.col("sig").alias("sig")).alias("d"),
        F.posexplode(F.array(*chunk_cols)).alias("chunk_idx", "chunk_val"),
    )
    posts = (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(F.collect_list("d").alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_bucket))
    )
    hamming = F.bit_count(F.col("p.sig_a").bitwiseXOR(F.col("p.sig_b")))
    return (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id", "sig"])).alias("p"))
        .select(
            F.col("p.id_a").alias("doc_a"),
            F.col("p.id_b").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming — the text face
    of `hamming_sig_pairs` (see there for the pigeonhole plan shape);
    empty/blank docs have NULL signatures and are excluded (they'd
    otherwise all pair as hamming-0 duplicates). The pandas-UDF signature
    pass runs exactly once."""
    sigs = df.select(
        F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("sig")
    )
    return hamming_sig_pairs(sigs, max_hamming=max_hamming, max_bucket=max_bucket)


def paragraph_duplicate_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_chars: int = 40,
    sep_regex: str = r"\n\s*\n",
    max_ids: int = 100,
) -> DataFrame:
    """Paragraph-level exact dedup: split documents on blank lines, hash
    each (normalized) paragraph, and report paragraphs appearing in more
    than one document — the sub-document granularity training pipelines
    dedup at (boilerplate paragraphs recur across a site even when whole
    pages differ). → (fingerprint, n_docs, doc_ids sorted). Paragraphs
    shorter than ``min_chars`` are noise (nav links, dates) and skipped.

    Scale shape: explode paragraphs (narrow) → hash → one groupBy(hash)
    shuffle carrying (16-byte digest, doc_id); output cardinality is the
    number of SHARED paragraphs, not total paragraphs."""
    from pyspark.sql import Window

    para = F.explode(F.split(F.col(text_col), sep_regex)).alias("para")
    norm = F.regexp_replace(F.lower(F.trim(F.col("para"))), r"\s+", " ")
    win = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        df.select(F.col(id_col).alias("doc_id"), para)
        .where(F.length(F.trim(F.col("para"))) >= min_chars)
        .select("doc_id", F.md5(norm).alias("fingerprint"))
        .distinct()  # a paragraph repeated WITHIN one doc counts once
        # rank-filter BEFORE the agg (see exact_duplicate_groups): a
        # boilerplate footer shared by 10^8 docs must not put a
        # corpus-sized id array on one reducer
        .withColumn("_rn", F.row_number().over(win))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= max_ids, F.col("doc_id"))
                )
            ).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
        .withColumn("ids_truncated", F.col("n_docs") > F.lit(max_ids))
    )


# --------------------------------------------------------------------------
# Winnowing substring-duplicate candidates
# --------------------------------------------------------------------------


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    max_df: int = 1000,
) -> DataFrame:
    """Substring-duplication candidates via winnowing fingerprints
    (Schleimer et al., SIGMOD 2003 — the document-fingerprinting method for
    detecting *copied passages*, not whole-document similarity): documents
    sharing ≥ ``min_shared`` selected k-gram fingerprints. Winnowing
    guarantees any shared run of ≥ k+w-1 words shares a fingerprint, so
    long verbatim overlaps always collide — the scalable stand-in for exact
    substring dedup (suffix arrays don't distribute; fingerprint posting
    lists do). → (doc_a, doc_b, n_shared).

    Same posting-list plan as the rest of the family: one narrow UDF pass,
    one corpus-sized shuffle on fingerprint value, in-list pair generation,
    count per pair = number of shared fingerprints. ``max_df`` drops
    boilerplate fingerprints (headers, license blocks) — the skew cap AND
    the standard noise filter."""
    from ..functions.textstats import winnow_fingerprint_udf

    fps = df.select(
        F.col(id_col).alias("doc_id"), winnow_fingerprint_udf(F.col(text_col)).alias("fp")
    ).where(F.col("fp").isNotNull() & (F.size("fp") > 0))
    ex = fps.select(F.col("doc_id"), F.explode("fp").alias("f"))
    posts = (
        ex.groupBy("f")
        .agg(F.collect_list(F.struct(F.col("doc_id").alias("id"))).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    return (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id"])).alias("p"))
        .select(F.col("p.id_a").alias("doc_a"), F.col("p.id_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# Embedding cosine near-dup (exact over candidate sets)
# --------------------------------------------------------------------------


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns — JVM-side
    aggregate/zip_with, computed in double precision."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(da, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(db, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def embedding_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Exact pairwise cosine near-dups (doc_a < doc_b, sim ≥ threshold).
    Quadratic — intended for bounded inputs (an LSH bucket, a partition,
    a candidate set from similarity.py), not a whole 10^12-row corpus.
    Scale path: ``embedding_cosine_pairs_lsh``."""
    a = df.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", F.round(cosine_sim(F.col("va"), F.col("vb")), 6))
        .where(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def _hyperplane_posts(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
) -> DataFrame:
    """(table, bucket, ds) posting lists from hyperplane-LSH sign buckets —
    the corpus-sized shuffle of the embedding-dedup plan."""
    from ..operators import similarity as sim

    tables = df.select(
        F.struct(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ).alias("d"),
        F.posexplode(
            sim.lsh_multi_bucket_udf(dim, n_planes, n_tables, seed)(F.col(vec_col))
        ).alias("table", "bucket"),
    )
    return tables.groupBy("table", "bucket").agg(F.collect_list("d").alias("ds"))


def embedding_cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding near-dup pairs at corpus scale: hyperplane-LSH bucketing
    (``n_tables`` independent hash tables of ``n_planes`` sign bits each —
    the banding trick of minhash-LSH applied to random hyperplanes), exact
    cosine verified in-bucket with the same posting-list pair generation as
    the text dedup family. High-cosine pairs agree on most hyperplane signs
    (P[collision in one table] = (1 - θ/π)^n_planes), so more tables →
    higher recall; candidates colliding in several tables dedup via
    ``distinct``.

    Scale shape: the signature pass is one narrow Arrow-batched matmul; the
    only corpus-sized shuffle is groupBy(table, bucket); vectors travel with
    their ids into the buckets, so verification joins nothing back. Expected
    bucket size at 10^12 rows is N/2^n_planes per table — size n_planes for
    the EXPECTED per-reducer load, and ``max_bucket`` hard-caps the
    degenerate case (a zero vector / dead-embedding cluster collapsing into
    one bucket would otherwise pay c²/2 on a single reducer). Dropped
    buckets are not silent: audit with ``embedding_lsh_dropped_buckets``.
    Approximate: recall < 1.0 by design (measured vs the exact operator in
    tests)."""
    posts = _hyperplane_posts(df, id_col, vec_col, dim, n_planes, n_tables, seed).where(
        (F.size("ds") >= 2) & (F.size("ds") <= max_bucket)
    )
    # threshold the UNROUNDED cosine (the exact operator does), then round
    # for display — thresholding the rounded value would admit pairs up to
    # 5e-7 below threshold that embedding_cosine_pairs rejects, breaking
    # the approx-subset-of-exact invariant.
    cos_raw = cosine_sim(F.col("p.vec_a"), F.col("p.vec_b"))
    return (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id", "vec"])).alias("p"))
        .select(
            F.col("p.id_a").alias("doc_a"),
            F.col("p.id_b").alias("doc_b"),
            cos_raw.alias("_cos"),
        )
        .where(F.col("_cos") >= threshold)
        .select("doc_a", "doc_b", F.round(F.col("_cos"), 6).alias("cosine"))
        .distinct()
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair list → (doc_id, cluster_id)
    where cluster_id = the minimum doc id in the component. Dedup pipelines
    act on CLUSTERS (keep one survivor per component), not raw pairs — two
    pairs (a,b), (b,c) are one three-document group.

    Algorithm: iterative min-label propagation with pointer jumping
    (label ← label's label each round), the GraphFrames-free connected
    components that needs only joins + groupBy. Plain propagation converges
    in O(diameter) rounds; the pointer-jumping step makes it
    O(log diameter) — near-dup components are chains/cliques of small
    diameter, so this terminates in a handful of rounds. Each round is two
    shuffles over the EDGE list (|pairs| rows — already a tiny fraction of
    the corpus), never the corpus. Convergence is checked with a
    limit(1)-style changed-count action per round; iteration stops early
    the first round nothing moves. Lineage is truncated with an eager
    localCheckpoint every 3 rounds AND on the returned labels (the
    kcore/bfs discipline): without it the per-round join tree nests, and
    rendering the plan string alone OOMs once clusterings feed other
    iterative operators (merge_clusters, engine summaries)."""
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    for it in range(max_iter):
        # 1) neighbor propagation: each node adopts min(label of neighbors)
        prop = edges.join(labels, edges.a == labels.id).select(
            F.col("b").alias("id"), F.col("label")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # 2) pointer jumping: label ← label's current label
        lab2 = new_labels.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        new_labels = (
            new_labels.join(lab2, new_labels.label == lab2._lid, "left")
            .select("id", F.coalesce("_llabel", "label").alias("label"))
        )
        if (it + 1) % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).localCheckpoint(eager=True)


def embedding_lsh_dropped_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """→ (table, bucket, n_docs) for hyperplane buckets the cap excluded
    from ``embedding_cosine_pairs_lsh``."""
    return _dropped_buckets(
        _hyperplane_posts(df, id_col, vec_col, dim, n_planes, n_tables, seed),
        ["table", "bucket"],
        max_bucket,
    )


# --------------------------------------------------------------------------
# Cross-corpus dedup (incremental-crawl / decontamination shape)
# --------------------------------------------------------------------------


def exact_cross_flags(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    broadcast_ref: bool = False,
) -> DataFrame:
    """→ (doc_id, fingerprint, seen_in_ref): flag each NEW doc whose exact
    content (normalization fingerprint) already exists in a REFERENCE
    corpus — the incremental-crawl dedup pass ("drop what last month's
    crawl already kept") and the exact half of benchmark decontamination.

    Null-text docs are trivially novel (null fingerprints never join).

    Plan: both sides project to the 16-byte digest only, then ONE
    left-semi-shaped join on the fingerprint — an md5 key is uniform by
    construction, so the shuffle-hash join has no skew path at any scale;
    pass ``broadcast_ref=True`` when the reference fingerprint set is a
    dimension-sized blocklist (e.g. a benchmark suite)."""
    fp = content_fingerprint(F.col(text_col))
    new_fps = new_df.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))
    ref_fps = ref_df.select(fp.alias("fingerprint")).where(
        F.col("fingerprint").isNotNull()
    ).distinct()
    if broadcast_ref:
        ref_fps = F.broadcast(ref_fps)
    hits = ref_fps.withColumn("seen_in_ref", F.lit(True))
    return new_fps.join(hits, "fingerprint", "left").select(
        "doc_id",
        "fingerprint",
        F.coalesce(F.col("seen_in_ref"), F.lit(False)).alias("seen_in_ref"),
    )


def dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    broadcast_ref: bool = False,
) -> DataFrame:
    """NEW rows whose content does NOT already exist in the reference
    corpus (all original columns kept) — `exact_cross_flags` as a filter,
    via one left_anti join on the fingerprint."""
    fp = content_fingerprint(F.col(text_col))
    ref_fps = ref_df.select(fp.alias("_fp")).where(F.col("_fp").isNotNull()).distinct()
    if broadcast_ref:
        ref_fps = F.broadcast(ref_fps)
    return (
        new_df.withColumn("_fp", fp)
        .join(ref_fps, "_fp", "left_anti")
        .drop("_fp")
    )


def minhash_lsh_cross_pairs(
    left_df: DataFrame,
    right_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs ACROSS two corpora (fuzzy decontamination: training
    set vs benchmark; or crawl N vs crawl N-1): (left_id, right_id,
    est_jaccard ≥ threshold). Same-side pairs are suppressed.

    Plan: both sides are tagged and unioned BEFORE the banded posting-list
    groupBy, so the family's single corpus-sized shuffle is preserved —
    cross pairs are filtered in-bucket (side_a ≠ side_b) before the
    estimate, and the same ``max_bucket`` cap bounds degenerate boilerplate
    buckets; audit dropped buckets with ``minhash_lsh_dropped_buckets`` on
    the union. Signatures are computed per side BEFORE the union (a narrow
    Arrow pass each — no shuffle, no id-collision ambiguity between the
    corpora)."""
    rows_per_band = n_hashes // n_bands
    sigs = (
        minhash_signatures(left_df, id_col, text_col, k, n_hashes, seed)
        .withColumn("_side", F.lit("L"))
        .unionByName(
            minhash_signatures(right_df, id_col, text_col, k, n_hashes, seed)
            .withColumn("_side", F.lit("R"))
        )
    )
    bands = sigs.select(
        F.struct(
            F.col("doc_id").alias("id"),
            F.col("sig").alias("sig"),
            F.col("_side").alias("side"),
        ).alias("d"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bnd: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), bnd * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    posts = bands.groupBy("band", "bucket").agg(F.collect_list("d").alias("ds")).where(
        (F.size("ds") >= 2) & (F.size("ds") <= max_bucket)
    )
    est = F.size(
        F.filter(
            F.zip_with(
                F.col("p.sig_a"), F.col("p.sig_b"), lambda x, y: (x == y).cast("int")
            ),
            lambda v: v == 1,
        )
    ) / F.lit(float(n_hashes))
    pairs = (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id", "sig", "side"])).alias("p"))
        .where(F.col("p.side_a") != F.col("p.side_b"))
        .select(
            # normalize to (left, right) regardless of id ordering
            F.when(F.col("p.side_a") == "L", F.col("p.id_a"))
            .otherwise(F.col("p.id_b"))
            .alias("left_id"),
            F.when(F.col("p.side_a") == "L", F.col("p.id_b"))
            .otherwise(F.col("p.id_a"))
            .alias("right_id"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )
    return pairs


# --------------------------------------------------------------------------
# ExactSubstr-lite: maximal duplicated token spans
# --------------------------------------------------------------------------


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_tokens: int = 16,
    max_df: int = 1000,
) -> DataFrame:
    """→ ``(doc_a, doc_b, start_a, start_b, n_tokens)``: maximal token
    windows of ≥ ``min_tokens`` tokens shared VERBATIM between document
    pairs (``doc_a < doc_b``), with 1-based token start offsets.

    The distributed re-expression of ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"). The paper
    builds one monolithic suffix array — inherently sequential and
    single-machine; here the same duplicated windows fall out of pure
    DataFrame algebra:

    1. positional k-gram seeds per doc (same let-bound ``transform`` trick
       as ``shingles`` so the regex split evaluates once per row; NOT
       distinct — positions matter).
    2. ``groupBy(gram)`` posting lists with the family ``max_df`` stop-gram
       cap: a gram with > ``max_df`` total occurrences is boilerplate, and
       the cap bounds candidate fan-out and per-reducer skew exactly as in
       ``ngram_jaccard_pairs``.
    3. in-list pair generation (no self-join) → cross-doc seed matches
       ``(doc_a, doc_b, pos_a, pos_b)``.
    4. seed matches on one alignment DIAGONAL (``pos_a − pos_b``) with
       consecutive ``pos_a`` merge via the islands trick
       (``pos_a − row_number()`` is constant within a run); a run of m
       seeds is a duplicated window of ``m + k − 1`` tokens. The window +
       groupBy run over SEED MATCHES (bounded by ``max_df``-capped posting
       lists), never the corpus.

    Exact and oracle-checkable: grams travel as strings, so there are no
    hash collisions to reason about. At 100 TB swap the shuffle key for
    ``xxhash64(gram)`` — same plan, 8-byte keys (documented knob, not the
    oracle path).
    """
    from pyspark.sql import Window

    def gen(w: Column) -> Column:
        n = F.size(w)
        grams = F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.struct(
                i.alias("pos"), F.array_join(F.slice(w, i, k), " ").alias("gram")
            ),
        )
        # n < k must yield [] — sequence(1, <1) generates DESCENDING
        return F.when(n >= k, grams).otherwise(
            F.array().cast("array<struct<pos:int,gram:string>>")
        )

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ex = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.element_at(F.transform(F.array(words), gen), 1)).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )
    posts = (
        ex.groupBy("gram")
        .agg(
            F.collect_list(
                F.struct(F.col("doc_id").alias("id"), F.col("pos").alias("n"))
            ).alias("ds")
        )
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    seeds = (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id", "n"])).alias("p"))
        .where(F.col("p.id_a") != F.col("p.id_b"))
        .select(
            F.col("p.id_a").alias("doc_a"),
            F.col("p.id_b").alias("doc_b"),
            F.col("p.n_a").alias("pos_a"),
            F.col("p.n_b").alias("pos_b"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = seeds.withColumn("diag", F.col("pos_a") - F.col("pos_b")).withColumn(
        "island", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("n_tokens"),
        )
        .where(F.col("n_tokens") >= min_tokens)
        .select("doc_a", "doc_b", "start_a", "start_b", "n_tokens")
    )


def strip_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_tokens: int = 16,
    max_df: int = 1000,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al. 2022): strip every
    duplicated span found by :func:`duplicated_spans` from all but its
    first-by-id occurrence and reassemble the text.

    Policy (deterministic keep-first): a span shared by ``doc_a < doc_b``
    is removed from ``doc_b`` only, so in a chain of N copies exactly the
    lowest-id document keeps the span. Removal operates on the SAME
    normalized token stream the detector used (``split(lower(trim(text)),
    '\\s+')``) so start offsets line up exactly; the output text is that
    token stream minus removed positions, space-joined. Documents with
    null text are excluded (they have no tokens to strip).

    → ``(doc_id, n_tokens, n_removed, text_clean)`` for every non-null-text
    document, including untouched ones (``n_removed = 0``).

    Plan (scale shape): span detection is the bounded posting-list plan of
    ``duplicated_spans``; removal ranges are EDGE-sized, never corpus-sized
    — the interval-union window partitions by doc over ranges only, then
    one ``groupBy(doc)`` collects each doc's merged ranges (bounded by the
    ``max_df`` candidate cap), and ONE equi-join brings them back to the
    corpus where the rebuild is pure per-row array algebra (``filter`` /
    ``transform`` / ``array_join`` — zero UDFs, zero explodes, no window
    over corpus rows).

    Reference analog: the reference only *flags* duplicates
    (RECORD_NOT_UNIQUELY_IDENTIFIED, evaluator/UniquenessEvaluator.java:46-74);
    this is the corrective action a training-data pipeline takes.
    """
    from pyspark.sql import Window

    if spans is None:
        spans = duplicated_spans(
            df, id_col, text_col, k=k, min_tokens=min_tokens, max_df=max_df
        )
    rm0 = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("lo"),
        (F.col("start_b") + F.col("n_tokens") - 1).alias("hi"),
    )
    w = Window.partitionBy("doc_id").orderBy("lo", "hi")
    prev_hi = F.max("hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = rm0.withColumn(
        "island",
        F.sum(
            F.when(prev_hi.isNull() | (F.col("lo") > prev_hi), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ranges = (
        isl.groupBy("doc_id", "island")
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("lo").alias("lo"), F.col("hi").alias("hi"))
            ).alias("rm")
        )
    )
    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    docs = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), ws.alias("ws")
    )
    joined = docs.join(ranges, "doc_id", "left")
    kept_pos = F.filter(
        F.sequence(F.lit(1), F.size("ws")),
        lambda i: F.col("rm").isNull()
        | ~F.exists(
            F.col("rm"), lambda r: (i >= r["lo"]) & (i <= r["hi"])
        ),
    )
    return joined.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        (F.size("ws") - F.size(kept_pos)).alias("n_removed"),
        F.array_join(
            F.transform(kept_pos, lambda i: F.element_at(F.col("ws"), i)), " "
        ).alias("text_clean"),
    )


# --------------------------------------------------------------------------
# Prefix-filtered exact Jaccard (AllPairs / PPJoin-style)
# --------------------------------------------------------------------------


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """→ (doc_a, doc_b, jaccard): EXACTLY the pairs with Jaccard(shingle
    sets) ≥ threshold — same contract as ``ngram_jaccard_pairs``, different
    physics: the AllPairs/PPJoin prefix filter (Bayardo et al., WWW'07;
    Xiao et al., WWW'08) posts only each document's PREFIX tokens instead
    of all of them.

    Why this is the candidate-minimizing plan at corpus scale: two sets
    with Jaccard ≥ t must share ≥ ceil(t·|x|) shingles, so under any one
    GLOBAL total order of shingles, each document need only post its first
    ``|x| − ceil(t·|x|) + 1`` shingles — any qualifying pair still collides
    on at least one posted shingle (the classic prefix-filtering lemma).
    At t = 0.8 that is ~20% of the tokens; ordering ascending by global
    document frequency (rarest first) makes the posted tokens the ones
    with the SHORTEST posting lists, collapsing candidate fan-out by
    orders of magnitude versus posting everything. Lossless by theorem:
    candidates are then verified with the exact intersection, so the
    output is bit-identical to the all-token plan.

    Plan: (1) shingle + explode, one groupBy for global shingle frequency;
    (2) re-collect each doc's shingles sorted (freq asc, shingle asc) and
    slice the prefix — ceil is computed as ``ceil(t·n − 1e−9)`` so an
    upward float repr error can never SHORTEN the prefix (shorter = false
    negatives; the epsilon only ever lengthens it, which is merely extra
    candidates); (3) posting lists over prefix tokens only → in-list pair
    generation → distinct candidate pairs; (4) exact verify by joining the
    two full shingle arrays and filtering on true Jaccard. Four shuffles
    vs the all-token plan's two, but every one of them moves a fraction of
    the data — the trade that wins when posting lists, not shuffle count,
    are the bottleneck. ``max_df`` caps a prefix posting list the same way
    (and with the same lossy-above-cap caveat as) the all-token plan's
    stop-shingle pruning."""
    sh = df.select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("sh")
    ).where(F.size("sh") > 0)
    ex = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    ranked = (
        ex.join(freq, "s")
        .groupBy("doc_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df_s", "s"))).alias("ord"))
    )
    alpha = F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
    plen = (F.col("n") - alpha + F.lit(1)).cast("int")
    pre = ranked.select(
        "doc_id",
        F.explode(F.slice(F.col("ord"), F.lit(1), plen)).alias("e"),
    ).select("doc_id", F.col("e.s").alias("s"))
    posts = (
        pre.groupBy("s")
        .agg(F.collect_list(F.struct(F.col("doc_id").alias("id"))).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    cand = (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id"])).alias("p"))
        .select(F.col("p.id_a").alias("doc_a"), F.col("p.id_b").alias("doc_b"))
        .distinct()
    )
    # verify against shingles recomputed for CANDIDATE docs only: without
    # a cache, referencing `sh` here would re-shingle the whole corpus once
    # per verify side (no subplan sharing across actions of one query
    # either) — the semi-join bounds the recompute to candidate ids, which
    # AQE sees as broadcast-small in the common low-dup regime
    cand_ids = (
        cand.select(F.col("doc_a").alias("_cid"))
        .union(cand.select(F.col("doc_b").alias("_cid")))
        .distinct()
    )
    vsh = df.join(
        cand_ids, df[id_col] == cand_ids["_cid"], "left_semi"
    ).select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("sh"))
    a = vsh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = vsh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def edit_similarity_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    candidate_threshold: float = 0.3,
    threshold: float = 0.95,
    max_df: int = 1000,
) -> DataFrame:
    """→ (doc_a, doc_b, edit_sim): pairs whose EXACT normalized Levenshtein
    similarity ``1 − lev/max(|a|,|b|)`` ≥ threshold — the strictest
    near-dup verifier in the family. Set-based measures (Jaccard,
    containment, cosine) are order-blind: two pages with the same shingle
    set but reshuffled paragraphs score 1.0; edit similarity is the
    sequence-aware check that separates "same text, minor edits" from
    "same vocabulary, different document".

    Plan: candidates come from the cheap posting-list pass at a LOW
    Jaccard bar (``candidate_threshold`` — sound for the target class:
    edit-sim ≥ t forces shingle-set Jaccard well above a small floor, so
    a generous floor keeps recall while killing the all-pairs quadratic),
    then each surviving pair pays one exact JVM ``levenshtein`` over the
    two full texts. That per-pair cost is O(|a|·|b|) — the expensive
    verify is applied to the candidate set only, never the corpus; at
    100 TB the knob is ``candidate_threshold`` (higher → fewer O(n²)
    verifies), not partitioning."""
    counts = _ngram_pair_counts(df, id_col, text_col, k, max_df)
    jac = F.col("n_inter") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    cand = counts.where(jac >= candidate_threshold).select("doc_a", "doc_b")
    a = df.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    b = df.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    lev = F.levenshtein("_ta", "_tb").cast("double")
    maxlen = F.greatest(F.length("_ta"), F.length("_tb")).cast("double")
    sim = F.round(F.lit(1.0) - lev / maxlen, 6)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("edit_sim", sim)
        .where(F.col("edit_sim") >= threshold)
        .select("doc_a", "doc_b", "edit_sim")
    )


# --------------------------------------------------------------------------
# Persisted MinHash band index: incremental cross-snapshot dedup
# --------------------------------------------------------------------------

#: index layout version + the signature parameters every write/read must
#: agree on (a mixed-parameter index silently finds nothing)
_INDEX_PARAMS_FILE = "_minhash_index_params.json"


def _band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
    n_bands: int,
    seed: int,
    weighted: bool = False,
) -> DataFrame:
    """(band, bucket, id, sig) rows — the flat (appendable) form of the
    banded signatures; `_minhash_band_posts` is this plus the posting
    groupBy."""
    rows_per_band = n_hashes // n_bands
    sigs = minhash_signatures(df, id_col, text_col, k, n_hashes, seed, weighted)
    return sigs.select(
        F.col("doc_id").alias("id"),
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bnd: F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), bnd * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band", "bucket"),
    ).select("band", "bucket", "id", "sig")


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    mode: str = "append",
    storage_buckets: int | None = None,
    table: str | None = None,
) -> None:
    """Persist a corpus' banded MinHash signatures to ``path`` — the
    INCREMENTAL dedup substrate: crawl N writes its signatures once;
    crawl N+1 dedups against every prior crawl via ``dedup_vs_index``
    WITHOUT re-reading, re-shingling, or re-sharding any prior text.
    At 100 TB this is the difference between touching ~500 bytes/doc of
    signature rows and ~5 KB/doc of text each month.

    Layout: flat (band, bucket, id, sig) rows, parquet partitioned by
    ``band`` — flat rows make ``mode="append"`` a pure file drop (no
    posting lists to merge); a params sidecar pins (k, n_hashes,
    n_bands, seed) and every append/read validates against it, because
    an index mixing signature parameters silently finds nothing.
    Bucketed upgrade (``storage_buckets`` + ``table``): persist CLUSTERED
    BY (band, bucket) instead — the posting-list groupBy AND the probe
    join then read co-located data and the index-side Exchange disappears
    (plan-asserted in tests). At a monthly-probed 10^12-doc index that
    Exchange is the probe's dominant cost; appends stay pure file drops
    (saveAsTable append). The flat layout remains the default: it needs
    no metastore and streaming state dirs use it."""
    import json
    import os

    params = {"k": k, "n_hashes": n_hashes, "n_bands": n_bands, "seed": seed}
    if storage_buckets is not None:
        # the bucketed upgrade (docstring): persist CLUSTERED BY (bucket) so
        # every later probe's index side is already partitioned — the
        # posting-list groupBy and the probe join read co-located data and
        # Catalyst elides the index-side Exchange (asserted by plan test).
        # Requires a table name: only spark.table() retains bucket metadata.
        if table is None:
            raise ValueError(
                "write_minhash_index: storage_buckets requires a table name"
            )
        params["table"] = table
        params["storage_buckets"] = int(storage_buckets)
    pfile = os.path.join(path, _INDEX_PARAMS_FILE)
    if os.path.exists(pfile):
        with open(pfile) as fh:
            existing = json.load(fh)
        if existing != params:
            raise ValueError(
                f"minhash index at {path} was built with {existing}; "
                f"refusing to {mode} with {params}"
            )
    rows = _band_rows(df, id_col, text_col, k, n_hashes, n_bands, seed)
    if storage_buckets is not None:
        (
            rows.write.mode(mode)
            .option("path", os.path.join(path, "data"))
            .bucketBy(int(storage_buckets), "band", "bucket")
            .sortBy("band", "bucket")
            .saveAsTable(table)
        )
    else:
        rows.write.mode(mode).partitionBy("band").parquet(path)
    if not os.path.exists(pfile):
        os.makedirs(path, exist_ok=True)
        with open(pfile, "w") as fh:
            json.dump(params, fh)


def _read_index(spark, path: str) -> "tuple[DataFrame, dict]":
    import json
    import os

    pfile = os.path.join(path, _INDEX_PARAMS_FILE)
    with open(pfile) as fh:
        params = json.load(fh)
    if "table" in params:
        # bucketed layout: ONLY spark.table() retains the bucket metadata
        # that lets the probe skip the index-side Exchange
        return spark.table(params["table"]), params
    return spark.read.parquet(path), params


def dedup_vs_index(
    new_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs between a NEW corpus and a persisted MinHash index
    → ``(new_id, index_id, est_jaccard ≥ threshold)`` — byte-for-byte
    the ``minhash_lsh_cross_pairs`` result (pinned by test), minus any
    scan of the prior corpora's text. Ids must be globally unique across
    crawls (prefix them with the crawl id); the operator does not
    suppress same-id pairs.

    Plan: the index collapses to capped posting lists per (band,
    bucket) — the family's standard skew guard; degenerate boilerplate
    buckets drop LOUDLY via ``index_dropped_buckets`` — then the new
    side's band rows equi-join the posts and verify the signature
    agreement in-bucket. The only corpus-sized work on the prior crawls
    is shuffling their (band, bucket, id, sig) rows, ~10× narrower than
    text; store the index bucketed on ``bucket`` to remove even that."""
    spark = new_df.sparkSession
    idx, p = _read_index(spark, path)
    posts = (
        idx.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "sig")).alias("ds"))
        .where(F.size("ds") <= max_bucket)
    )
    new_rows = _band_rows(
        new_df, id_col, text_col, p["k"], p["n_hashes"], p["n_bands"], p["seed"]
    )
    est = F.size(
        F.filter(
            F.zip_with(
                F.col("sig"), F.col("d.sig"), lambda x, y: (x == y).cast("int")
            ),
            lambda v: v == 1,
        )
    ) / F.lit(float(p["n_hashes"]))
    return (
        new_rows.join(posts, ["band", "bucket"])
        .select(
            F.col("id").alias("new_id"),
            "sig",
            F.explode("ds").alias("d"),
        )
        .select(
            "new_id",
            F.col("d.id").alias("index_id"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def index_dropped_buckets(spark, path: str, max_bucket: int = 1000) -> DataFrame:
    """(band, bucket, n_docs) the probe's cap would skip — the same
    no-silent-caps audit the in-corpus LSH family ships."""
    idx, _ = _read_index(spark, path)
    return (
        idx.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket)
    )


# --------------------------------------------------------------------------
# Corpus k-gram novelty census
# --------------------------------------------------------------------------


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """→ per group: ``(group…, total_grams, distinct_grams, dup_grams,
    dup_rate_ppm)`` — how much of the corpus is VERBATIM re-occurrence at
    the k-gram level.

    The corpus-health summary behind ExactSubstr dedup (Lee et al. 2022):
    ``dup_grams / total_grams`` is the fraction of k-gram INSTANCES that
    are repeats of an instance seen elsewhere — the memorization-risk /
    boilerplate-density number a curation pipeline tracks per snapshot,
    where ``duplicated_spans`` above names the individual offending
    windows. Same tokenizer and gram construction as ``duplicated_spans``
    (lower, trim, ``\\s+`` split, space-joined k-grams; docs shorter than
    k tokens contribute nothing), so the two read on the same scale.

    Plan shape (100 TB): explode → ``groupBy(group…, gram)`` count (partial
    agg map-side; the shuffle carries gram TYPES, never instances) → one
    tiny second agg over the gram-count table. No join, no window, output
    ≤ |groups| rows. ``dup_rate_ppm`` is ``floor(1e6·dup/total)`` — integer
    micro-units with a fixed operation order, so the value is bit-exact
    and partitioning-independent (same rationale as
    ``operators/vectors.py::embedding_health``).
    """
    groups = list(group_cols or [])

    def gen(w: Column) -> Column:
        n = F.size(w)
        grams = F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(w, i, k), " "),
        )
        # n < k must yield [] — sequence(1, <1) generates DESCENDING
        return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ex = df.where(F.col(text_col).isNotNull()).select(
        *groups,
        F.explode(F.element_at(F.transform(F.array(words), gen), 1)).alias("gram"),
    )
    per_gram = ex.groupBy(*groups, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").cast("long")
    distinct = F.count(F.lit(1)).cast("long")
    dup = (F.sum("cnt") - F.count(F.lit(1))).cast("long")
    return per_gram.groupBy(*groups).agg(
        total.alias("total_grams"),
        distinct.alias("distinct_grams"),
        dup.alias("dup_grams"),
        F.floor(
            F.lit(1000000.0) * (F.sum("cnt") - F.count(F.lit(1))) / F.sum("cnt")
        )
        .cast("long")
        .alias("dup_rate_ppm"),
    )


# --------------------------------------------------------------------------
# Weighted (multiset) Jaccard
# --------------------------------------------------------------------------


def shingle_tf(text: Column, k: int = 3) -> Column:
    """Word k-gram term frequencies as ``array<struct<g:string, tf:int>>``
    — the MULTISET of shingles, run-length encoded entirely JVM-side.

    Plan shape: generate the (non-distinct) gram list exactly like
    ``shingles`` (let-bound words, one regex split per row), ``array_sort``
    it, then RLE: run starts are positions where the sorted value changes,
    and each run's tf is the gap to the next start. All higher-order
    functions over one row's array — zero extra shuffles vs the set
    version, no (doc, gram) pre-aggregation pass."""

    def gen(words: Column) -> Column:
        n = F.size(words)
        grams = F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        )
        # n < k must yield [] — sequence(1, <1) generates DESCENDING
        return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))

    def rle(s: Column) -> Column:
        n = F.size(s)
        # 1-based positions where a new run starts. element_at(s, 0) would
        # RAISE (SQL arrays are 1-based), so the i == 1 branch must
        # short-circuit via when() — CaseWhen evaluates branches lazily.
        starts = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.when(i == 1, F.lit(True)).otherwise(
                F.element_at(s, i) != F.element_at(s, i - 1)
            ),
        )
        return F.transform(
            starts,
            lambda p, j: F.struct(
                F.element_at(s, p).alias("g"),
                (F.coalesce(F.try_element_at(starts, j + 2), n + 1) - p)
                .cast("int")
                .alias("tf"),
            ),
        )

    def tf_of(words: Column) -> Column:
        s = F.array_sort(gen(words))
        empty = F.array().cast("array<struct<g:string,tf:int>>")
        return F.when(F.size(s) >= 1, rle(s)).otherwise(empty)

    return F.element_at(
        F.transform(F.array(F.split(F.lower(F.trim(text)), r"\s+")), tf_of), 1
    )


def weighted_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """→ (doc_a, doc_b, wjaccard) for pairs with WEIGHTED Jaccard ≥
    threshold, doc_a < doc_b, where

        J_w(A, B) = Σ_t min(tf_A(t), tf_B(t)) / Σ_t max(tf_A(t), tf_B(t)).

    The multiset twin of ``ngram_jaccard_pairs``: set Jaccard saturates on
    template-heavy web pages (a boilerplate shingle counts once no matter
    how often it repeats), while weighted Jaccard keeps repetition
    structure — two pages that repeat the same nav block 40× vs 2× are NOT
    the same document under J_w. This is the similarity SpotSigs/weighted
    MinHash approximate; here it is computed exactly.

    Plan: identical posting-list shape to ``_ngram_pair_counts`` — explode
    the RLE'd (gram, tf) structs carrying each doc's total gram count,
    groupBy(gram) → in-list pair generation → Σ min(tf_a, tf_b) per pair.
    Two shuffles, no self-join. Σ max needs no extra pass:
    Σ max = tot_a + tot_b − Σ min (totals include non-shared grams, whose
    min contribution is 0). ``max_df`` stop-shingle pruning bounds
    candidate fan-out and per-reducer skew exactly as in the set version;
    at a max_df large vs corpus df the result is exact (all test/oracle
    scales here).
    """
    tf = df.select(
        F.col(id_col).alias("doc_id"),
        shingle_tf(F.col(text_col), k).alias("tfs"),
    ).where(F.size("tfs") > 0)
    tot = F.aggregate(F.col("tfs"), F.lit(0), lambda acc, x: acc + x["tf"])
    ex = tf.select(
        F.explode("tfs").alias("t"), F.col("doc_id"), tot.alias("tot")
    ).select(
        F.col("t.g").alias("g"),
        F.struct(
            F.col("doc_id").alias("id"),
            F.col("t.tf").alias("tf"),
            F.col("tot").alias("tot"),
        ).alias("d"),
    )
    posts = (
        ex.groupBy("g")
        .agg(F.collect_list("d").alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    pairs = (
        posts.select(
            F.explode(_in_list_pairs(F.col("ds"), ["id", "tf", "tot"])).alias("p")
        )
        .select(
            F.col("p.id_a").alias("doc_a"),
            F.col("p.id_b").alias("doc_b"),
            F.col("p.tot_a").alias("tot_a"),
            F.col("p.tot_b").alias("tot_b"),
            F.least("p.tf_a", "p.tf_b").alias("m"),
        )
        .groupBy("doc_a", "doc_b", "tot_a", "tot_b")
        .agg(F.sum("m").alias("s_min"))
    )
    wj = F.col("s_min") / (F.col("tot_a") + F.col("tot_b") - F.col("s_min")).cast(
        "double"
    )
    return (
        pairs.withColumn("wjaccard", wj)
        .where(F.col("wjaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("wjaccard", 6).alias("wjaccard"))
    )


def merge_clusters(
    labels: DataFrame, new_pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Incremental connected components: fold a NEW near-dup pair batch
    into an existing ``(doc_id, cluster_id)`` labeling (a prior
    ``duplicate_clusters`` output, e.g. read back from the work dir)
    without touching the pairs that produced it → the same schema, with
    min-id labels over the UNION graph.

    Key identity: a min-id labeling is a star subgraph (every member →
    its component's hub) that connects exactly the same components as the
    original pair list. So merging = running connected components over
    star-edges ∪ new-pairs — |labels| + |new batch| edge rows, NOT the
    full historical pair list. On a monthly crawl cadence this is the
    difference between re-clustering 10^12 accumulated pairs and
    clustering this month's delta against a compact |docs|-row state.

    Exactness: merged output is bit-identical to ``duplicate_clusters``
    over the full pair list (the `incr_clusters` query hash-checks this
    against the SAME recursive-CTE oracle as `dedup_clusters`). Hub rows
    (doc_id == cluster_id) are dropped from the star edges — a hub still
    appears as the target of every other member's edge, and components
    are ≥ 2 docs by construction, so no vertex is lost."""
    star = labels.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b")
    )
    return duplicate_clusters(
        star.unionByName(new_pairs.select("doc_a", "doc_b")), max_iter=max_iter
    )


def dedup_threshold_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    thresholds_pct: tuple = (30, 40, 50, 60, 70, 80, 90),
    max_df: int = 1000,
) -> DataFrame:
    """→ (threshold_pct, n_pairs, n_docs) — how many near-dup pairs and
    how many distinct documents a Jaccard threshold would flag, for a
    whole grid of thresholds in ONE pass over the pair list.

    The tuning census that precedes every dedup rollout: the
    threshold is a corpus-size/quality trade-off, and sweeping it by
    re-running the pipeline per candidate is |grid|× the cost of this.
    Thresholds are integer PERCENT (exact grid keys across engines; a
    0.7 float key would hash-drift).

    Plan: the exact posting-list pair counts (two shuffles, shared with
    ngram_jaccard_pairs) computed ONCE, each pair exploded into the grid
    rows it clears, then one count + distinct-doc agg per threshold —
    pair-grain × |grid| rows through the final exchange, never the
    corpus."""
    counts = _ngram_pair_counts(df, id_col, text_col, k, max_df)
    grid = F.array(*[F.lit(int(t)) for t in thresholds_pct])
    # jaccard >= t/100  ⟺  100·n_inter >= t·(n_a + n_b − n_inter): pure
    # integer comparison — no IEEE boundary semantics at exact-ratio pairs
    union_sz = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    pairs = counts.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.filter(grid, lambda t: F.col("n_inter") * 100 >= t * union_sz)
        ).alias("threshold_pct"),
    )
    per_pair = pairs.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    docs = (
        pairs.select("threshold_pct", F.col("doc_a").alias("d"))
        .unionByName(pairs.select("threshold_pct", F.col("doc_b").alias("d")))
        .groupBy("threshold_pct")
        .agg(F.count_distinct("d").cast("long").alias("n_docs"))
    )
    base = df.sparkSession.createDataFrame(
        [(int(t),) for t in sorted(thresholds_pct)], "threshold_pct int"
    )
    return base.join(per_pair, "threshold_pct", "left").join(
        docs, "threshold_pct", "left"
    ).select(
        "threshold_pct",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
    )


def weighted_minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 1000,
    max_pairs: "int | None" = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs under WEIGHTED Jaccard → (doc_a, doc_b,
    est_wjaccard ≥ threshold) — the scale path for
    ``weighted_jaccard_pairs``, exactly as ``minhash_lsh_pairs`` is the
    scale path for ``ngram_jaccard_pairs``.

    Reduction: signatures hash the tf-EXPANDED multiset (gram g × c →
    elements (g,1)..(g,c)); set resemblance of expansions equals Σmin/Σmax
    of the originals, so banding, bucket caps, and in-bucket signature-
    agreement estimation carry over UNCHANGED. The discriminating case:
    two pages repeating the same boilerplate block 40× vs 2× share all
    their shingle TYPES (set LSH pairs them at est≈1.0) but little of
    their multiset mass — weighted LSH correctly scores them apart.

    Same plan as the set family: one posting-list groupBy(band, bucket) is
    the only corpus-sized shuffle; ``max_bucket`` + the dropped-bucket
    audit below are the skew contract; ``max_pairs`` bounds total
    candidate volume exactly as in ``minhash_lsh_pairs`` (census:
    ``weighted_minhash_budget_dropped``) — soft at the same size-2 floor."""
    posts = _minhash_band_posts(
        df, id_col, text_col, k, n_hashes, n_bands, seed, weighted=True
    ).where((F.size("ds") >= 2) & (F.size("ds") <= max_bucket))
    posts = _apply_pair_budget(posts, max_pairs)
    est = F.size(
        F.filter(
            F.zip_with(
                F.col("p.sig_a"), F.col("p.sig_b"), lambda x, y: (x == y).cast("int")
            ),
            lambda v: v == 1,
        )
    ) / F.lit(float(n_hashes))
    return (
        posts.select(F.explode(_in_list_pairs(F.col("ds"), ["id", "sig"])).alias("p"))
        .select(
            F.col("p.id_a").alias("doc_a"),
            F.col("p.id_b").alias("doc_b"),
            F.round(est, 6).alias("est_wjaccard"),
        )
        .where(F.col("est_wjaccard") >= threshold)
        .distinct()
    )


def weighted_minhash_budget_dropped(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
    max_pairs: "int | None" = None,
) -> DataFrame:
    """(band, bucket, n_docs, n_pairs) the weighted probe's PAIR budget
    would skip — ``minhash_lsh_budget_dropped``, weighted flavored
    (``max_pairs`` required to match the operator's budget, as there)."""
    if max_pairs is None:
        raise ValueError(
            "max_pairs must match the budget passed to "
            "weighted_minhash_lsh_pairs")
    posts = _minhash_band_posts(
        df, id_col, text_col, k, n_hashes, n_bands, seed, weighted=True
    ).where((F.size("ds") >= 2) & (F.size("ds") <= max_bucket))
    return _apply_pair_budget(posts, max_pairs, dropped=True)


def lsh_recall_vs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 64,
    n_bands: int = 16,
    seed: int = 42,
    max_df: int = 1000,
    max_bucket: int = 1000,
) -> DataFrame:
    """ONE row: ``(n_exact, n_found, recall_micro)`` — how many of the
    exact-Jaccard-≥-threshold pairs the MinHash-LSH probe (same
    threshold, over its ESTIMATE) recovers.

    The quality pin for the approximate family: LSH trades recall for
    never materializing all pairs, and that trade should be a measured
    number per corpus/parameterization, not a belief. Deterministic end
    to end (fixed hash family, no sampling), so the whole measurement is
    SQL-replayable — recall_micro is ⌊10^6·found/exact⌋ in integer
    arithmetic, hash-exact across engines.

    Plan: the two pair pipelines (each two shuffles, posting-list shape)
    + one pair-grain left-semi join + a 1-row fold. Pair tables are tiny
    relative to the corpus by construction (that is the point of
    thresholds)."""
    exact = ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=threshold, max_df=max_df
    ).select("doc_a", "doc_b")
    lsh = minhash_lsh_pairs(
        df, id_col, text_col, k=k, n_hashes=n_hashes, n_bands=n_bands,
        threshold=threshold, seed=seed, max_bucket=max_bucket,
    ).select("doc_a", "doc_b")
    found = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    agg = exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        found.agg(F.count(F.lit(1)).alias("n_found"))
    )
    return agg.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_found").cast("long").alias("n_found"),
        F.when(F.col("n_exact") > 0,
               F.floor(F.col("n_found") * 1_000_000 / F.col("n_exact")))
        .otherwise(F.lit(None))
        .cast("long")
        .alias("recall_micro"),
    )


def dedup_weights(labels: DataFrame) -> DataFrame:
    """Soft dedup: ``(doc_id, cluster_id, n_members, weight_micro)`` where
    ``weight_micro = ⌊10^6 / n_members⌋`` — keep EVERY near-dup cluster
    member but down-weight each to 1/|cluster| so the cluster contributes
    one document's worth of training signal in aggregate.

    The alternative to survivor selection when duplicates carry
    complementary value (different crawl dates, different boilerplate
    trims of the same article): hard dedup throws away all but one;
    soft dedup preserves variants and fixes the LOSS instead. Integer
    µ-weights keep the table hash-exact across engines; consumers
    multiply into their sampling/loss pipeline as weight_micro / 10^6.

    Plan: one count agg over the labels table (cluster grain) + one
    label-grain broadcast-or-shuffle join back — |labels| rows, never
    the corpus."""
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return labels.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_members",
        F.floor(F.lit(1_000_000) / F.col("n_members")).cast("long").alias(
            "weight_micro"
        ),
    )
