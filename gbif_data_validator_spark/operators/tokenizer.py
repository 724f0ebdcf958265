"""Distributed BPE tokenizer training + application + token census.

A training-data pipeline has to answer "how many TOKENS is this corpus?"
with the tokenizer that will actually be trained on it — whitespace and
regex counts (functions/textstats.py) are pre-merge approximations. This
module trains a real byte-pair-encoding merge table (Sennrich et al. 2016)
the way production tokenizer trainers do it, then applies it corpus-wide:

1. ``word_frequencies`` — ONE distributed pass: regex pre-tokenize
   (textstats.BPE_TOKEN_RE, the ASCII-safe GPT-2-style split) → explode →
   one partial-aggable ``groupBy(word)``. The output grain is word TYPES,
   bounded by language vocabulary, not corpus size — this is the insight
   every real BPE trainer (subword-nmt, SentencePiece, HF tokenizers)
   exploits: merges depend only on the word-type frequency table.
2. ``bpe_train`` — driver-side merge loop over the top ``max_word_types``
   types (bounded collect, LOUD coverage reporting: the model records the
   token-mass fraction the kept types cover). Deterministic: ties on pair
   frequency break lexicographically; no randomness anywhere.
3. ``bpe_encode_udf`` / ``token_census`` — Arrow-batched pandas UDF applies
   the broadcast merge ranks (greedy lowest-rank pair merging per word,
   memoized per batch since web text repeats words heavily); the census
   emits per-doc token counts, chars/token (compression) and tokens/word
   (fertility) — the two numbers tokenizer evaluations report.

No reference analog (the reference validates biodiversity records, not
tokenizers); this extends the interpreted-term counting idea
(validator-processor TermsFrequencyCollector, SURVEY.md §2.5 A4) to the
unit LLM pipelines actually budget in.

Scale: the only shuffle is the word groupBy (partial agg map-side, so even
the hottest English word reaches the shuffle as one row per map task). The merge table is ≤ vocab_size rows and broadcasts inside the
UDF closure; encoding is a narrow per-row transform that fuses into any
scan. At 100 TB the bounded-types cap is the safety valve: types beyond
``max_word_types`` (long-tail typos/hashes) are excluded from TRAINING but
still ENCODED (char fallback), and the model reports exactly how much mass
that tail held.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..functions.textstats import BPE_TOKEN_RE

#: end-of-word marker appended to every pre-token before merging — makes
#: word-final subwords distinct from word-internal ones ("est</w>" vs "est"),
#: exactly as in Sennrich et al. 2016 learn_bpe.
EOW = "</w>"


def _pretokens(text: Column) -> Column:
    """Regex pre-tokenization as a Column — shared by the distributed
    word-frequency pass and (in spirit) the encoder UDF, which uses the
    same pattern via ``re`` so Spark and Python agree on word boundaries."""
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)


def word_frequencies(
    docs: DataFrame, text_col: str = "text", lowercase: bool = False
) -> DataFrame:
    """Corpus word-type frequency table ``(word, cnt)`` — the sufficient
    statistic for BPE training. One explode + one groupBy; Catalyst plants
    a map-side partial aggregation, so the shuffle carries types (bounded
    by vocabulary), not token instances."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.explode(_pretokens(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@dataclass(frozen=True)
class BPEModel:
    """A trained merge table plus the honesty accounting of its training
    set. ``merges`` is ordered: rank 0 was learned first and is applied
    with highest priority at encode time."""

    merges: tuple[tuple[str, str], ...]
    n_word_types_total: int  #: distinct pre-token types in the corpus
    n_word_types_used: int  #: types that made the max_word_types cut
    coverage: float  #: token-mass fraction the used types cover (LOUD cap)
    lowercase: bool = False
    vocab: frozenset = field(default=frozenset(), compare=False)

    def merge_ranks(self) -> dict[tuple[str, str], int]:
        return {pair: i for i, pair in enumerate(self.merges)}


def _learn_merges(
    word_freq: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[str, str]], set]:
    """Classic BPE merge loop over a word-type frequency dict. Cost is
    O(types × avg_len × merges) on the DRIVER over the bounded table —
    the distributed pass already reduced the corpus to this grain.
    Deterministic: best pair = max by (frequency, then lexicographically
    smallest pair) so reruns and hosts agree bit-for-bit."""
    symsets = [
        (tuple(word) + (EOW,), cnt) for word, cnt in word_freq if word
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, cnt in symsets:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + cnt
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < 2:
            break  # nothing repeats — further merges are memorization
        merges.append(best)
        a, b = best
        ab = a + b
        new_symsets = []
        for syms, cnt in symsets:
            out = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_symsets.append((tuple(out), cnt))
        symsets = new_symsets
    vocab = {s for syms, _ in symsets for s in syms}
    return merges, vocab


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    max_word_types: int = 100_000,
    lowercase: bool = False,
) -> BPEModel:
    """Train a BPE merge table on a corpus: one distributed word-frequency
    pass, one BOUNDED collect (top ``max_word_types`` types by count, word
    as deterministic tie-break), then the driver-side merge loop. The
    returned model carries ``coverage`` — the fraction of token mass the
    kept types represent — so a capped training set is visible, never
    silent."""
    wf = word_frequencies(docs, text_col, lowercase=lowercase)
    wf = wf.localCheckpoint(eager=False)  # reused: totals + top-k collect
    row = wf.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("types")
    ).head()
    total, types = int(row.total or 0), int(row.types or 0)
    top = (
        wf.orderBy(F.desc("cnt"), F.asc("word"))
        .limit(int(max_word_types))
        .collect()
    )
    used_mass = sum(r.cnt for r in top)
    merges, vocab = _learn_merges([(r.word, r.cnt) for r in top], n_merges)
    return BPEModel(
        merges=tuple(merges),
        n_word_types_total=types,
        n_word_types_used=len(top),
        coverage=(used_mass / total) if total else 1.0,
        lowercase=lowercase,
        vocab=frozenset(vocab),
    )


def _encode_word(word: str, ranks: dict, cache: dict) -> list[str]:
    """Greedy lowest-rank pair merging for one pre-token (the standard
    GPT-2-style application order: always merge the pair with the SMALLEST
    learned rank next). Memoized — web text repeats words heavily, so the
    per-batch cache turns O(tokens) work into O(types)."""
    hit = cache.get(word)
    if hit is not None:
        return hit
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    cache[word] = syms
    return syms


def bpe_encode_udf(model: BPEModel):
    """Arrow-batched encoder: ``text → array<string>`` of BPE tokens. The
    merge-rank dict rides the UDF closure (≤ vocab_size entries — the
    broadcast is the model, exactly like lm.py ships its LM table).
    Unknown characters fall through as single-char tokens (char-level
    fallback), so encoding is total — no OOV failures at 100 TB."""
    import re

    ranks = model.merge_ranks()
    lower = model.lowercase
    pat = re.compile(BPE_TOKEN_RE)

    def _series(texts: pd.Series) -> pd.Series:
        cache: dict = {}

        def one(t):
            if t is None:
                return None
            if lower:
                t = t.lower()
            out: list[str] = []
            for w in pat.findall(t):
                out.extend(_encode_word(w, ranks, cache))
            return out

        return texts.map(one)

    return F.pandas_udf(_series, returnType=ArrayType(StringType()))


def token_census(
    docs: DataFrame,
    model: BPEModel,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc tokenization accounting → ``(doc_id, n_tokens, n_words,
    n_chars, chars_per_token, fertility)``. ``chars_per_token`` is the
    compression tokenizer papers report (higher = merges paying off);
    ``fertility`` is tokens per pre-token word (lower = fewer splits).
    Narrow per-row transform — fuses into any scan, zero shuffles."""
    enc = bpe_encode_udf(model)
    text = F.col(text_col)
    toks = enc(text)
    n_tokens = F.size(toks)
    n_words = F.size(_pretokens(F.lower(text) if model.lowercase else text))
    return (
        docs.where(text.isNotNull())
        .select(
            F.col(doc_id_col).alias("doc_id"),
            n_tokens.cast("long").alias("n_tokens"),
            n_words.cast("long").alias("n_words"),
            F.length(text).cast("long").alias("n_chars"),
        )
        .where(F.col("n_words") > 0)
        .withColumn(
            "chars_per_token",
            F.round(F.col("n_chars") / F.col("n_tokens"), 6),
        )
        .withColumn(
            "fertility", F.round(F.col("n_tokens") / F.col("n_words"), 6)
        )
    )


def token_census_summary(census: DataFrame) -> DataFrame:
    """Corpus rollup of a token census — the one-row answer to "how many
    tokens is this dataset, and how well does the tokenizer fit it"."""
    return census.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars") / F.sum("n_tokens"), 6).alias(
            "chars_per_token"
        ),
        F.round(F.sum("n_tokens") / F.sum("n_words"), 6).alias("fertility"),
    )
