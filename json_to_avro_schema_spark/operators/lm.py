"""Corpus language-model scoring for training-data curation.

CCNet-style quality filtering (Wenzek et al. 2020) scores every document
under a language model trained on the corpus (or a trusted subset) and
keeps the low-perplexity bucket; DSIR (Xie et al. 2023) reweights a raw
corpus toward a target distribution with importance weights derived from
the ratio of target-LM to corpus-LM likelihoods.  Both reduce, for a
unigram LM with add-alpha smoothing, to arithmetic DuckDB can replay
exactly — which makes them oracle-able here, unlike a neural-LM scorer.

Distributed shape (the part that must survive 100 TB):

- ``unigram_lm``: explode tokens -> two-phase hash aggregate (Catalyst
  emits the partial/final HashAggregate pair automatically, so the
  shuffle carries one row per distinct token per map task, never one row
  per token).  The vocabulary is bounded by ``min_count`` — a threshold,
  NOT a global top-V sort, so no single-task ranking step exists at any
  scale.  Totals (N tokens, V kept, OOV mass) are two scalar aggregates.
- ``score_documents``: explode tokens -> join the vocab -> re-aggregate
  per doc.  The vocab side is broadcast through
  ``_joins.broadcast_if_fits`` with the vocab size the fit already
  counted (no extra job); past its row cap the join is left to the
  planner and AQE.  Because a document explodes inside one input
  partition, the map-side partial aggregate already collapses to one
  row per (partition, doc) before the shuffle.

The reference has no LM surface; this extends the engine's quality-check
family (SURVEY.md §2 training-data ops) the way `format`/`if-then-else`
extended the keyword family.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._joins import broadcast_if_fits, keyed_join
from .text import tokens


@dataclass(frozen=True)
class UnigramLM:
    """A fitted unigram LM: a (token, logprob) DataFrame plus the scalar
    smoothing state needed to score out-of-vocabulary tokens."""

    vocab: DataFrame  # columns: token string, logprob double
    oov_logprob: float
    n_tokens: int
    vocab_size: int
    alpha: float


def unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 1,
    alpha: float = 0.5,
) -> UnigramLM:
    """Fit an add-alpha-smoothed unigram LM over ``df[text_col]``.

    ``p(tok) = (count + alpha) / (N + alpha * (V + 1))`` for the V kept
    vocabulary tokens; the single OOV bucket gets ``alpha / (N + alpha *
    (V + 1))``.  Tokens below ``min_count`` fold into OOV (threshold, not
    top-V: scale-safe — no global sort)."""
    tok = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # persist the token-count aggregate: it feeds the totals collect AND
    # every downstream action on lm.vocab (scoring joins re-trigger the
    # whole fit otherwise — each one a full corpus re-scan). Size is one
    # row per DISTINCT token (vocab-scale, not corpus-scale); the default
    # MEMORY_AND_DISK level spills rather than evicts on a junk-heavy
    # vocabulary. sf0.1 A/B is timing-neutral (the re-scan is cheap at
    # 20 k docs; medians 1.77 s both ways — BENCH/BASELINE.md §1c); the
    # win is structural: one corpus scan instead of one per scoring
    # action, plus accurate tiny-side stats for the join planner.
    tok = tok.persist()
    kept = tok.filter(F.col("cnt") >= min_count)
    # two bounded scalar aggregates (N over all tokens incl. folded OOV,
    # V over the kept vocab) — driver state is O(1)
    totals = tok.agg(
        F.sum("cnt").alias("n"), F.sum((F.col("cnt") >= min_count).cast("long")).alias("v")
    ).collect()[0]
    n_tokens = int(totals["n"] or 0)
    vocab_size = int(totals["v"] or 0)
    denom = n_tokens + alpha * (vocab_size + 1)
    vocab = kept.select(
        "token",
        F.log((F.col("cnt") + F.lit(alpha)) / F.lit(denom)).alias("logprob"),
    )
    return UnigramLM(
        vocab=vocab,
        oov_logprob=math.log(alpha / denom),
        n_tokens=n_tokens,
        vocab_size=vocab_size,
        alpha=alpha,
    )


def _vocab_join_side(lm: UnigramLM, out_col: str) -> DataFrame:
    """Vocab renamed for a scoring join, broadcast when its known size
    fits the shared row cap."""
    return broadcast_if_fits(
        lm.vocab.select("token", F.col("logprob").alias(out_col)),
        lm.vocab_size,
    )


def score_documents(
    df: DataFrame,
    lm: UnigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    score_col: str = "log_ppl",
) -> DataFrame:
    """Per-document mean negative log-likelihood (log-perplexity) under
    ``lm``.  Lower = more in-distribution; CCNet keeps the low buckets.

    Returns ``df`` plus ``{score_col}`` (double; 0.0 for empty docs) and
    ``n_tokens``.  One explode -> vocab join -> per-doc re-aggregate;
    the join key is the raw token string (the vocab row already carries
    the logprob, so no second lookup structure exists anywhere)."""
    exploded = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    scored = (
        exploded.join(_vocab_join_side(lm, "lp"), "token", "left")
        .select(
            id_col,
            F.coalesce(F.col("lp"), F.lit(lm.oov_logprob)).alias("lp"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum("lp") / F.count(F.lit(1))).alias(score_col),
        )
    )
    return (
        df.join(scored, id_col, "left")
        .withColumn(score_col, F.coalesce(F.col(score_col), F.lit(0.0)))
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)))
    )


def perplexity_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_count: int = 1,
    alpha: float = 0.5,
    keep_quantile: float = 0.5,
    relative_error: float = 1e-4,
) -> DataFrame:
    """CCNet-style corpus self-scoring: fit the LM on the corpus itself,
    score every doc, and keep the ``keep_quantile`` lowest-perplexity
    fraction.  The cut point is an approxQuantile (GK sketch — one pass,
    bounded memory) rather than a global sort."""
    lm = unigram_lm(df, text_col, min_count=min_count, alpha=alpha)
    scored = score_documents(df, lm, text_col, id_col)
    cut = scored.approxQuantile("log_ppl", [keep_quantile], relative_error)[0]
    return scored.filter(F.col("log_ppl") <= F.lit(cut))


def importance_weights(
    df: DataFrame,
    target_lm: UnigramLM,
    corpus_lm: UnigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    weight_col: str = "dsir_weight",
) -> DataFrame:
    """DSIR-style importance weights: ``exp(mean_lp_target -
    mean_lp_corpus)`` per document, where each mean is the per-token
    average log-likelihood under the respective unigram LM.  Weight > 1
    means the doc looks more like the target distribution than the raw
    corpus; resampling proportional to the weight shifts the mixture
    toward the target (Xie et al. 2023, §3, hashed-ngram variant — the
    hashing becomes unnecessary when the feature space is unigrams).

    One explode feeds BOTH lookups (two joins on the same exploded
    frame, each side broadcast when it fits the shared row cap), then one
    per-doc re-aggregate — the corpus is scanned once."""
    exploded = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    both = (
        exploded.join(_vocab_join_side(target_lm, "lp_t"), "token", "left")
        .join(_vocab_join_side(corpus_lm, "lp_c"), "token", "left")
        .select(
            id_col,
            F.coalesce(F.col("lp_t"), F.lit(target_lm.oov_logprob)).alias("lp_t"),
            F.coalesce(F.col("lp_c"), F.lit(corpus_lm.oov_logprob)).alias("lp_c"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            ((F.sum("lp_t") - F.sum("lp_c")) / F.count(F.lit(1))).alias("_mean_llr"),
        )
        .select(id_col, "n_tokens", F.exp("_mean_llr").alias(weight_col))
    )
    return (
        df.join(both, id_col, "left")
        .withColumn(weight_col, F.coalesce(F.col(weight_col), F.lit(1.0)))
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)))
    )


def perplexity_split(
    df: DataFrame,
    lm: UnigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    by: Optional[str] = None,
    boundaries=None,
    cuts: tuple = (1 / 3, 2 / 3),
    bucket_col: str = "ppl_bucket",
    decimals: Optional[int] = None,
    relative_error: float = 1e-4,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): label
    every document with its perplexity bucket under ``lm`` instead of
    dropping any — downstream mixtures then sample buckets at chosen
    rates (head-heavy for quality, tail kept for diversity audits).

    ``boundaries`` is the production form: precomputed cut points —
    a ``(c1, c2)`` pair globally, or with ``by=`` a dict
    ``{group: (c1, c2)}`` (CCNet computes them once per language from a
    reference corpus and reuses them across snapshots; groups absent
    from the dict get a null bucket, visibly unclassified rather than
    silently head). With ``boundaries=None`` the cut points are
    bootstrapped from this corpus at the ``cuts`` quantiles — one GK
    sketch pass globally, or one ``percentile_approx`` aggregate per
    group (a tiny frame; no global sort either way). Either frame joins
    back null-safely through ``_joins.keyed_join``, hinted.

    ``decimals`` pre-rounds the score before bucketing — the
    cross-engine reproducibility knob (float summation order differs
    sub-ulp between engines; a score landing exactly on a cut point
    must bucket identically everywhere).

    Returns ``df``'s columns + ``log_ppl``, ``n_tokens``, ``bucket_col``.
    """
    scored = score_documents(df, lm, text_col, id_col)
    score = F.col("log_ppl")
    if decimals is not None:
        score = F.round(score, decimals)

    if by is None:
        if boundaries is None:
            c1, c2 = scored.approxQuantile(
                "log_ppl", [cuts[0], cuts[1]], relative_error
            )
        else:
            c1, c2 = boundaries
        lo, hi = F.lit(float(c1)), F.lit(float(c2))
    else:
        spark = df.sparkSession
        if boundaries is None:
            bounds = scored.groupBy(by).agg(
                F.percentile_approx(
                    "log_ppl", F.array(F.lit(cuts[0]), F.lit(cuts[1])),
                    F.lit(int(1.0 / relative_error)),
                ).alias("__bnds")
            )
        else:
            bounds = spark.createDataFrame(
                [(k, [float(v[0]), float(v[1])]) for k, v in boundaries.items()],
                f"{by} string, __bnds array<double>",
            )
        # null-safe: a null group value is a real group in the bootstrap
        # mode (percentile_approx computed its cut points), and a plain
        # join would leave those rows unbucketed
        scored = keyed_join(scored, bounds, [by], "left")
        lo, hi = F.col("__bnds")[0], F.col("__bnds")[1]

    bucket = (
        F.when(score <= lo, F.lit("head"))
        .when(score <= hi, F.lit("middle"))
        .when(score.isNotNull() & hi.isNotNull(), F.lit("tail"))
    )
    out = scored.withColumn(bucket_col, bucket)
    return out.drop("__bnds") if by is not None else out
