"""Full-text search operators (operators/search.py): BM25 ad-hoc vs a
brute-force re-derivation, indexed ≡ ad-hoc equivalence with real
partition pruning, the max_df stopword guard, and TF-IDF keyword
extraction with the rank-limit plan shape."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from json_to_avro_schema_spark.operators.search import (  # noqa: E402
    bm25_search,
    bm25_search_indexed,
    build_bm25_index,
    query_terms,
    tfidf_top_terms,
)
from json_to_avro_schema_spark.operators.text import tokens  # noqa: E402

CORPUS = [
    (1, "hash join merge join hash"),
    (2, "sort merge join over the sorted runs"),
    (3, "window functions and group by aggregation"),
    (4, "hash aggregation with spill to disk"),
    (5, "the quick broadcast hash join wins small tables"),
    (6, "merge"),
    (7, "totally unrelated text about pelicans"),
]


def _brute_bm25(query, k=10, k1=1.2, b=0.75):
    terms = query_terms(query)
    docs = {i: t.lower().split() for i, t in CORPUS}
    n = float(len(docs))
    avgdl = sum(len(t) for t in docs.values()) / n
    dfs = {t: float(sum(1 for d in docs.values() if t in d)) for t in terms}
    out = []
    for i, toks in docs.items():
        dl = float(len(toks))
        s = 0.0
        for t in terms:
            tf = float(toks.count(t))
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        s = round(s, 6)
        if s > 0:
            out.append((i, s))
    out.sort(key=lambda r: (-r[1], r[0]))
    return [(rank + 1, i, s) for rank, (i, s) in enumerate(out[:k])]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_query_terms_dedup_order():
    assert query_terms("Hash JOIN hash  merge") == ["hash", "join", "merge"]


def test_query_terms_split_like_document_tokens(spark):
    """A no-break space (U+00A0) is not Java ``\\s``: document tokens keep
    it inside a token, so query terms must too."""
    q = "Hash\u00a0Join merge\tHASH\u00a0join"
    doc = spark.createDataFrame([(q,)], "t string")
    jvm = doc.select(tokens(F.col("t")).alias("t")).first()["t"]
    assert query_terms(q) == list(dict.fromkeys(jvm)) == ["hash\u00a0join", "merge"]
    with pytest.raises(ValueError):
        bm25_search(None, "   ")


def test_bm25_matches_bruteforce(corpus_df):
    got = [tuple(r) for r in bm25_search(corpus_df, "hash join merge").collect()]
    assert got == _brute_bm25("hash join merge")
    # single-term query, non-matching docs excluded
    got1 = [tuple(r) for r in bm25_search(corpus_df, "pelicans").collect()]
    assert got1 == _brute_bm25("pelicans")
    assert [r[1] for r in got1] == [7]


def test_bm25_topk_plan_is_take_ordered(corpus_df):
    plan = bm25_search(corpus_df, "hash join")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_indexed_equals_adhoc(spark, corpus_df, tmp_path):
    path = str(tmp_path / "bm25_idx")
    build_bm25_index(corpus_df, path)
    for q in ("hash join merge", "sorted runs", "pelicans"):
        direct = [tuple(r) for r in bm25_search(corpus_df, q).collect()]
        indexed = [
            tuple(r) for r in bm25_search_indexed(spark, path, q).collect()
        ]
        assert indexed == direct, q

    # pruning evidence: bucket predicate lands in PartitionFilters
    terms = query_terms("hash join")
    buckets = sorted(
        {r["b"] for r in spark.createDataFrame([(t,) for t in terms], "term string")
         .select(F.pmod(F.xxhash64("term"), F.lit(64)).alias("b")).collect()}
    )
    spark.read.parquet(f"{path}/postings").createOrReplaceTempView("bm25_postings_v")
    plan = "\n".join(
        r[0] for r in spark.sql(
            "EXPLAIN FORMATTED SELECT doc_id FROM bm25_postings_v "
            f"WHERE bucket IN ({','.join(str(b) for b in buckets)})"
        ).collect()
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "bucket" in pf[0] and "IN" in pf[0], plan


def test_bm25_index_max_df_drops_stopword(spark, tmp_path):
    # 'common' appears in every doc; with max_df_fraction=0.5 it must
    # leave both the terms table and the postings
    rows = [(i, f"common word{i}") for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "bm25_capped")
    build_bm25_index(df, path, max_df_fraction=0.5)
    terms = spark.read.parquet(f"{path}/terms")
    assert terms.filter(F.col("term") == "common").count() == 0
    assert (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("term") == "common")
        .count()
        == 0
    )
    # a dropped term contributes nothing; surviving terms still score
    assert bm25_search_indexed(spark, path, "common").count() == 0
    got = bm25_search_indexed(spark, path, "common word3").collect()
    assert [r["doc_id"] for r in got] == [3]
    with pytest.raises(ValueError):
        build_bm25_index(df, path + "_bad", max_df_fraction=0.0)


def _brute_tfidf(top_n=2, min_df=1):
    docs = {i: t.lower().split() for i, t in CORPUS}
    n = float(len(docs))
    dfs: dict[str, int] = {}
    for toks in docs.values():
        for t in set(toks):
            dfs[t] = dfs.get(t, 0) + 1
    out = []
    for i, toks in docs.items():
        scored = []
        for t in set(toks):
            if dfs[t] < min_df:
                continue
            tf = toks.count(t)
            scored.append((t, tf, dfs[t], round(tf * math.log(n / dfs[t]), 6)))
        scored.sort(key=lambda r: (-r[3], r[0]))
        for rank, (t, tf, df_, s) in enumerate(scored[:top_n]):
            out.append((i, rank + 1, t, tf, df_, s))
    return sorted(out)


def test_tfidf_top_terms_matches_bruteforce(corpus_df):
    got = sorted(
        tuple(r) for r in tfidf_top_terms(corpus_df, top_n=2).collect()
    )
    assert got == _brute_tfidf(top_n=2)
    # min_df prunes hapax terms
    got2 = sorted(
        tuple(r) for r in tfidf_top_terms(corpus_df, top_n=2, min_df=2).collect()
    )
    assert got2 == _brute_tfidf(top_n=2, min_df=2)
    assert all(r[4] >= 2 for r in got2)


def test_tfidf_rank_window_prunes(corpus_df):
    plan = (
        tfidf_top_terms(corpus_df, top_n=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_bm25_indexed_sum_is_order_stable(spark, tmp_path):
    """Indexed scores fold term contributions in query-term order, so the
    unrounded score equals bm25_search's fixed-order sum bit for bit,
    whatever the postings layout."""
    words = (
        "array('hash', 'join', 'merge', 'sort', 'spill', 'disk', 'tree', "
        "'scan', 'page', 'heap', 'lock', 'log')"
    )
    df = spark.range(1000).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(1, 4 + CAST(id % 13 AS INT)), "
        f"j -> element_at({words}, "
        "CAST((id * j * 31 + j * 7 + id) % 12 AS INT) + 1))) AS text",
    )
    query = "spill tree hash scan join lock heap"
    # decimals=30 rounds a double to itself: the scores are unrounded
    want = {
        r["doc_id"]: r["score"]
        for r in bm25_search(df, query, k=1000, decimals=30).collect()
    }
    assert len(want) > 500
    for n in (1, 3, 7, 16):
        path = str(tmp_path / f"idx{n}")
        build_bm25_index(df.repartition(n, F.col("doc_id")), path, n_buckets=4)
        got = {
            r["doc_id"]: r["score"]
            for r in bm25_search_indexed(
                spark, path, query, k=1000, n_buckets=4, decimals=30
            ).collect()
        }
        assert got == want, n
