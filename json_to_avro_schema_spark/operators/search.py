"""Full-text relevance search over the corpus: BM25 and TF-IDF keywords.

A 100 TB training-data pipeline needs to *find* documents, not just filter
them — "which docs match this query", "what are each doc's characteristic
terms".  This module adds the two classic shapes, Spark-first:

* :func:`bm25_search` — ad-hoc Okapi BM25 (Robertson & Spärck Jones;
  the Lucene practical scoring function) with NO inverted index: per-doc
  query-term frequencies are ONE codegen'd projection over the tokenized
  text (no explode — tf per term is a HOF count, Catalyst subexpression
  elimination tokenizes once per row), corpus statistics (N, Σdl, per-term
  document frequency) are ONE scalar aggregate joined back as a 1-row
  broadcast (``_joins.attach_group_stats``), and the top-k is
  ``orderBy().limit()`` → Catalyst ``TakeOrderedAndProject``
  (per-partition heaps, never a global sort).  Two corpus scans total,
  zero data-sized shuffles — the right shape for occasional queries.

* :func:`build_bm25_index` / :func:`bm25_search_indexed` — the stored
  shape for repeated queries: a postings table (term, doc_id, tf, dl)
  written ``partitionBy`` a hash bucket of the term, plus a per-term
  document-frequency table on the same layout and a 1-row corpus-stats
  meta table.  Query time touches only the query terms' buckets
  (PartitionFilters pruning, pinned in tests) — scan cost is
  O(query-term postings), independent of corpus size; the pruned term
  scan joins the postings unhinted, sized by the planner.
  ``max_df_fraction``
  drops ultra-common terms at build time (the classic stopword guard:
  a term in half the corpus has ~zero idf but a postings list the size
  of the corpus — the one skew shape an inverted index must refuse).

* :func:`tfidf_top_terms` — per-doc top-n characteristic terms
  (keyword extraction): token-scale skinny postings (8-byte-ish rows,
  text never shuffles), vocabulary-scale df aggregate, one join keyed by
  term, and a per-doc rank-limit window (Catalyst WindowGroupLimit
  prunes to n rows per doc map-side).

Determinism contract (the DuckDB-oracle float rules used across this
repo): scores are rounded to ``decimals`` before the >0 filter and the
rank, term contributions are summed in fixed query-term order by
:func:`bm25_search` and :func:`bm25_search_indexed` alike, and every tie
breaks on (score desc, doc_id asc) / (score desc, term asc).

Reference analog: none — the reference is a single-document schema
transpiler (``/root/reference/README.md:100-104``); this extends
SURVEY.md §2.3's pipeline-extra surface like operators/similarity.py.
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compiler.sql import call, lit
from ._joins import attach_group_stats
from .text import tokens


# Java's ``\s``, the class ``text.tokens`` splits documents on; Python's
# ``str.split()`` would also split on Unicode spaces such as U+00A0
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def query_terms(query: str) -> list[str]:
    """Tokenize a query string exactly like document text
    (:func:`text.tokens`: lowercased, split on Java ``\\s+``, empties
    dropped), deduplicated keeping first-occurrence order — the order term
    contributions are summed in."""
    out: list[str] = []
    for t in _JAVA_WS.split(query.lower()):
        if t and t not in out:
            out.append(t)
    return out


def _term_eq(term: str):
    """Single-arg HOF predicate for one term.  Must stay single-arg: a
    two-arg lambda would make ``F.filter`` pass the element INDEX as the
    second argument."""
    return lambda t: t == F.lit(term)


def _bm25_contribution(
    tf: Column, df: Column, n: Column, dl: Column, avgdl: Column,
    k1: float, b: float,
) -> Column:
    """One term's BM25 contribution.  idf = ln(1 + (N - df + .5)/(df + .5))
    (always positive — the Lucene form), tf saturation k1, length
    normalization b."""
    idf = F.log(
        F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5))
    )
    return idf * (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)
    )


def bm25_search(
    df: DataFrame,
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    decimals: int = 6,
) -> DataFrame:
    """Top-``k`` docs for ``query`` by BM25, no index: returns
    (rank, ``id_col``, score).

    Shape: one projection computes dl + per-query-term tf via HOF counts
    (tokenization happens once per row — subexpression elimination), one
    scalar aggregate computes (N, Σdl, df per term) and rides back as a
    1-row broadcast, the score is a fixed-order sum of per-term
    contributions, and the top-k is TakeOrderedAndProject.  Docs matching
    no term score exactly 0 and are dropped post-rounding."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no terms after tokenization")
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("__dl"),
        *[
            F.size(F.filter(toks, _term_eq(term))).alias(f"__tf_{i}")
            for i, term in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__dl").cast("double").alias("__sumdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = attach_group_stats(base, stats, None)
    avgdl = F.col("__sumdl") / F.col("__n")
    score: Optional[Column] = None
    for i in range(len(terms)):
        c = _bm25_contribution(
            F.col(f"__tf_{i}"), F.col(f"__df_{i}"), F.col("__n"),
            F.col("__dl"), avgdl, k1, b,
        )
        score = c if score is None else score + c
    out = (
        scored.select(
            F.col(id_col), F.round(score, decimals).alias("score")
        )
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return out.withColumn("rank", F.row_number().over(w)).select(
        "rank", id_col, "score"
    )


def build_bm25_index(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    max_df_fraction: float = 1.0,
) -> None:
    """Write the stored BM25 index under ``path``: ``postings/`` (bucket,
    term, doc_id, tf, dl) partitioned by the term-hash bucket, ``terms/``
    (bucket, term, df) on the same layout, and ``meta/`` (n_docs,
    sum_dl) — one row.

    Postings are one row per (doc, distinct term): text never enters the
    index.  ``max_df_fraction < 1`` drops terms present in more than that
    fraction of docs (near-zero idf, corpus-sized postings lists — the
    inverted index's one skew hazard)."""
    if not 0.0 < max_df_fraction <= 1.0:
        raise ValueError(f"max_df_fraction must be in (0, 1], got {max_df_fraction}")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__t"),
    ).select("doc_id", F.size("__t").alias("dl"), F.explode("__t").alias("term"))
    postings = (
        base.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    meta = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("sum_dl"),
    )
    meta.coalesce(1).write.mode("error").parquet(f"{path}/meta")
    n_docs = None
    if max_df_fraction < 1.0:
        n_docs = meta.sparkSession.read.parquet(f"{path}/meta").head()["n_docs"]
    term_df = postings.groupBy("bucket", "term").agg(
        F.count(F.lit(1)).alias("df")
    )
    if n_docs is not None:
        term_df = term_df.filter(
            F.col("df") <= F.lit(float(max_df_fraction)) * F.lit(n_docs)
        )
        postings = postings.join(
            term_df.select("term", "df"), "term", "left_semi"
        )
    postings.select("bucket", "term", "doc_id", "tf", "dl").write.mode(
        "error"
    ).partitionBy("bucket").parquet(f"{path}/postings")
    term_df.select("bucket", "term", "df").write.mode("error").partitionBy(
        "bucket"
    ).parquet(f"{path}/terms")


def bm25_search_indexed(
    spark: SparkSession,
    path: str,
    query: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    decimals: int = 6,
) -> DataFrame:
    """Top-``k`` docs for ``query`` against a :func:`build_bm25_index`
    index: reads ONLY the query terms' bucket partitions (PartitionFilters
    pruning — scan cost is O(query-term postings), not O(corpus)).
    Returns (rank, doc_id, score); terms dropped at build time (the
    ``max_df_fraction`` guard) simply contribute nothing, mirroring their
    ~zero idf."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no terms after tokenization")
    buckets = sorted(
        {b_ for (b_,) in
         spark.createDataFrame([(t,) for t in terms], "term string")
         .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b"))
         .collect()}
    )
    meta = spark.read.parquet(f"{path}/meta").head()
    n, sumdl = float(meta["n_docs"]), float(meta["sum_dl"])
    avgdl = F.lit(sumdl / n)
    tdf = (
        spark.read.parquet(f"{path}/terms")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .select("term", "df")
    )
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .select("term", "doc_id", "tf", "dl")
    )
    contrib = _bm25_contribution(
        F.col("tf").cast("double"), F.col("df").cast("double"), F.lit(n),
        F.col("dl").cast("double"), avgdl, k1, b,
    )
    # fold the contributions in query-term order from 0.0, not with a sum
    # in posting order: the score is then bit-identical to bm25_search's
    # fixed-order sum under any postings layout
    order = call("array_position", call("array", *map(lit, terms)), "term")
    scored = (
        postings.join(tdf, "term")
        .select("doc_id", F.expr(order).alias("__i"), contrib.alias("__c"))
        .groupBy("doc_id")
        .agg(F.expr(
            "round(aggregate(sort_array(collect_list(struct(__i, __c))), "
            f"0.0D, (acc, t) -> acc + t.__c), {int(decimals)}) AS score"
        ))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    top_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    decimals: int = 6,
) -> DataFrame:
    """Per-doc top-``top_n`` characteristic terms by tf·idf
    (idf = ln(N/df), raw tf): returns (``id_col``, term_rank, term,
    tf, df, tfidf).

    Shape: postings = explode → (doc, term) hash-agg (skinny token-scale
    shuffle — text never moves), df = vocabulary-scale agg on term, one
    term-keyed join, then a per-doc rank window that Catalyst prunes
    map-side (WindowGroupLimit).  ``min_df`` drops hapax noise.  Ties
    break (tfidf desc, term asc) after rounding, so ranks are
    engine-stable; idf uses the corpus doc count N collected as one
    scalar-free broadcast row (no driver state)."""
    postings = (
        df.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_row = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    term_df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        term_df = term_df.filter(F.col("df") >= min_df)
    scored = (
        attach_group_stats(postings.join(term_df, "term"), n_row, None)
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), decimals
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top_n)
        .select(id_col, "term_rank", "term", "tf", "df", "tfidf")
    )
