"""Language-model quality scoring and importance resampling — the two
canonical webtext curation methods the reference's record-quality checks
stop short of (its quality signals are per-field predicates,
evaluator/record/RecordStructureEvaluator.java; corpus-level LM filtering
is the CCNet/DSIR-era analog of the same "is this record worth indexing?"
question, so it lives beside the quality_scores battery).

- ``train_unigram_lm`` / ``lm_perplexity``: CCNet-style filter (Wenzek et
  al. 2020) with an add-k-smoothed unigram LM instead of KenLM (no external
  model artifacts; deterministic and oracle-able). Train on a reference
  slice, score every doc's perplexity; low-ppl ≈ fluent prose, high-ppl ≈
  gibberish/boilerplate soup.
- ``dsir_log_weights``: Data Selection with Importance Resampling (Xie et
  al. 2023): hashed bigram features, per-doc log importance weight
  ``Σ_f c_f · (ln p_target(f) − ln p_source(f))`` with add-k smoothing over
  ``n_buckets`` hashed features. Docs resembling the target domain get
  high weights; pair with sampling.resample_by_weight.

Scale notes: the trained LM is a (token, logp) table — broadcast when it
fits (``spark.sql.autoBroadcastJoinThreshold``), shuffle-join otherwise;
both sides of the scoring join are narrow (token, count). DSIR's feature
space is FIXED at n_buckets (default 4096), so its distributions always
broadcast regardless of corpus size. Token counting is explode + one
map-side-combinable groupBy; nothing quadratic anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import _ws_tokens
from .sampling import hash_bucket


def train_unigram_lm(
    docs: DataFrame, text_col: str = "text", k: float = 0.5
) -> tuple[DataFrame, float, float]:
    """Add-k-smoothed unigram LM from a reference corpus. Returns
    ``(lm_df(token, logp), oov_logp, denom)`` where
    ``logp = ln((count + k) / denom)``, ``denom = total + k·(V + 1)`` — the
    ``+1`` reserves one smoothing bucket for all out-of-vocabulary mass.

    The two scalars (total, V) are one tiny two-value collect over the
    aggregated counts — bounded by vocabulary, not corpus size."""
    counts = (
        docs.select(F.explode(_ws_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts = counts.localCheckpoint(eager=False)  # reused: scalars + lm table
    row = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("v")
    ).head()
    total, v = (row.total or 0), (row.v or 0)
    denom = float(total) + k * (v + 1)
    lm = counts.select(
        "token", F.log((F.col("cnt") + F.lit(k)) / F.lit(denom)).alias("logp")
    )
    import math

    return lm, math.log(k / denom), denom


def lm_perplexity(
    docs: DataFrame,
    lm: DataFrame,
    oov_logp: float,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-doc perplexity under a trained LM → ``(doc_id, n_tokens,
    log_prob, ppl)`` with ``ppl = exp(−log_prob / n_tokens)``. Docs with no
    tokens are dropped (no defined perplexity). One explode, one join
    (broadcast when the vocab fits), one doc-keyed agg."""
    toks = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(_ws_tokens(F.col(text_col))).alias("token"),
    )
    lm_side = F.broadcast(lm) if broadcast_lm else lm
    scored = toks.join(lm_side, "token", "left").select(
        "doc_id", F.coalesce(F.col("logp"), F.lit(oov_logp)).alias("logp")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("logp").alias("_lp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("_lp"), 6).alias("log_prob"),
            F.round(F.exp(-F.col("_lp") / F.col("n_tokens")), 6).alias("ppl"),
        )
    )


def _bigram_buckets(text_col: str, n_buckets: int) -> F.Column:
    """Hashed word-bigram features: md5-prefix bucket of ``"w1 w2"`` —
    portable (bit-identical in any engine with md5) unlike xxhash/murmur."""
    toks = _ws_tokens(F.col(text_col))
    # guard size>=2: F.sequence(0, -1) counts DOWN, it is not empty
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.get(toks, i), F.get(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(grams, lambda g: hash_bucket(g, n_buckets))


def dsir_log_weights(
    docs: DataFrame,
    target: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    k: float = 0.5,
) -> DataFrame:
    """DSIR log importance weights → ``(doc_id, n_feats, log_weight)``.

    Feature distributions (target vs. the docs themselves as the source)
    are estimated over ``n_buckets`` hashed bigram buckets with add-k
    smoothing; each doc scores ``Σ_f c_f · (ln p_t(f) − ln p_s(f))``.
    Both distributions are ≤ n_buckets rows → always broadcast; docs with
    fewer than two tokens carry no features and are dropped."""

    def bucket_counts(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.select(F.explode(_bigram_buckets(text_col, n_buckets)).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias(f"{prefix}_cnt"))
        )

    t_counts = bucket_counts(target, "t")
    s_counts = bucket_counts(docs, "s")
    doc_feats = (
        docs.select(
            F.col(doc_id_col).alias("doc_id"),
            F.explode(_bigram_buckets(text_col, n_buckets)).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # per-bucket log ratio with add-k smoothing; totals are one tiny agg
    # over <= n_buckets rows each
    t_total = t_counts.agg(F.sum("t_cnt")).head()[0] or 0
    s_total = s_counts.agg(F.sum("s_cnt")).head()[0] or 0
    t_denom = float(t_total) + k * n_buckets
    s_denom = float(s_total) + k * n_buckets
    ratio = (
        t_counts.join(s_counts, "b", "full")
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(k)) / F.lit(t_denom))
                - F.log((F.coalesce(F.col("s_cnt"), F.lit(0)) + F.lit(k)) / F.lit(s_denom))
            ).alias("log_ratio"),
        )
    )
    return (
        doc_feats.join(F.broadcast(ratio), "b", "inner")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("log_ratio")), 6).alias("log_weight"),
        )
    )
