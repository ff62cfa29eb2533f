"""Unit tests for the corpus-LM scoring operators (operators/lm.py) and
the exact-substring duplication operator (dedup.duplicated_ngrams)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from json_to_avro_schema_spark.operators import lm as LM
from json_to_avro_schema_spark.operators.dedup import duplicated_ngrams


def _docs(spark, texts):
    return spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, text string"
    )


# ------------------------------------------------------------- unigram LM


def test_unigram_lm_prob_mass_sums_to_one(spark):
    df = _docs(spark, ["a b b c", "a a c"])
    m = LM.unigram_lm(df, min_count=1, alpha=0.5)
    probs = [math.exp(r["logprob"]) for r in m.vocab.collect()]
    total = sum(probs) + math.exp(m.oov_logprob)
    assert m.n_tokens == 7 and m.vocab_size == 3
    assert total == pytest.approx(1.0, abs=1e-12)


def test_unigram_lm_min_count_folds_to_oov(spark):
    df = _docs(spark, ["a a a b"])
    m = LM.unigram_lm(df, min_count=2, alpha=0.5)
    kept = {r["token"] for r in m.vocab.collect()}
    assert kept == {"a"}
    # N counts ALL tokens (incl. the folded-out one)
    assert m.n_tokens == 4 and m.vocab_size == 1


def test_score_documents_hand_value(spark):
    df = _docs(spark, ["a a b"])
    m = LM.unigram_lm(df, min_count=1, alpha=0.5)
    # p(a) = 2.5/4.5, p(b) = 1.5/4.5 (N=3, V=2, denom = 3 + 0.5*3)
    expected = -(2 * math.log(2.5 / 4.5) + math.log(1.5 / 4.5)) / 3
    got = LM.score_documents(df, m).collect()[0]
    assert got["log_ppl"] == pytest.approx(expected, abs=1e-12)
    assert got["n_tokens"] == 3


def test_score_documents_oov_and_empty(spark):
    train = _docs(spark, ["a a a"])
    m = LM.unigram_lm(train, min_count=1, alpha=0.5)
    score = _docs(spark, ["zzz", "  "])
    rows = {r["doc_id"]: r for r in LM.score_documents(score, m).collect()}
    assert rows["0"]["log_ppl"] == pytest.approx(-m.oov_logprob, abs=1e-12)
    assert rows["1"]["log_ppl"] == 0.0 and rows["1"]["n_tokens"] == 0


def test_perplexity_filter_keeps_low_bucket(spark):
    # 8 in-distribution docs + 2 OOV-heavy outliers; keep half
    df = _docs(spark, ["a b c d"] * 8 + ["q r s t", "u v w x"])
    kept = LM.perplexity_filter(df, keep_quantile=0.5)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert {"8", "9"}.isdisjoint(ids) and len(ids) >= 5


def test_importance_weights_directional(spark):
    corpus = _docs(spark, ["x y z w"] * 8 + ["a b c d"] * 2)
    target = _docs(spark, ["a b c d", "a b d c"])
    t_lm = LM.unigram_lm(target, min_count=1, alpha=0.5)
    c_lm = LM.unigram_lm(corpus, min_count=1, alpha=0.5)
    w = LM.importance_weights(corpus, t_lm, c_lm)
    rows = w.select("text", "dsir_weight").distinct().collect()
    by_text = {r["text"]: r["dsir_weight"] for r in rows}
    assert by_text["a b c d"] > 1.0 > by_text["x y z w"]


def test_vocab_broadcast_guard(spark, monkeypatch, auto_broadcast_off):
    # The vocab goes through broadcast_if_fits with the size the fit
    # counted. Spark's stats-based auto-broadcast stays free to broadcast a
    # genuinely tiny vocab, so the hint is pinned with auto-broadcast off:
    # under the cap the scoring join still broadcasts, past it the join
    # plans no broadcast, and the scores agree either way (up to float
    # summation order).
    from json_to_avro_schema_spark.operators import _joins

    df = _docs(spark, ["a b c d e f"])
    m = LM.unigram_lm(df, min_count=1, alpha=0.5)
    with auto_broadcast_off():
        scored = LM.score_documents(df, m)
        assert "BroadcastHashJoin" in scored._jdf.queryExecution().executedPlan().toString()
        rows_bc = {r["doc_id"]: (r["n_tokens"], r["log_ppl"]) for r in scored.collect()}
        monkeypatch.setattr(_joins, "BROADCAST_MAX_ROWS", 0)
        scored = LM.score_documents(df, m)
        assert "BroadcastHashJoin" not in scored._jdf.queryExecution().executedPlan().toString()
        rows_no = {r["doc_id"]: (r["n_tokens"], r["log_ppl"]) for r in scored.collect()}
        assert rows_no.keys() == rows_bc.keys()
        for k, (n, lp) in rows_no.items():
            assert n == rows_bc[k][0] and lp == pytest.approx(rows_bc[k][1])


# ------------------------------------------------- duplicated n-grams


def test_duplicated_ngrams_hand_case(spark):
    df = _docs(spark, ["a b c d e", "x a b c y"])
    out = {
        r["doc_id"]: r
        for r in duplicated_ngrams(df, k=3, min_docs=2).collect()
    }
    # "a b c" is the only cross-doc gram; spans cover 3 tokens in each
    for i, r in out.items():
        assert r["dup_grams"] == 1, i
        assert r["covered_tokens"] == 3, i
        assert r["n_tokens"] == 5 and r["n_grams"] == 3


def test_duplicated_ngrams_intra_doc_repeat_not_dup(spark):
    # "b c a" repeats inside doc 0 but never crosses docs -> not duplicated;
    # "a b c" occurs in both docs at positions 1 and 4 of doc 0 -> union of
    # [1,4) and [4,7) covers 6 tokens
    df = _docs(spark, ["a b c a b c a b", "a b c"])
    out = {r["doc_id"]: r for r in duplicated_ngrams(df, k=3, min_docs=2).collect()}
    assert out["0"]["dup_grams"] == 2
    assert out["0"]["covered_tokens"] == 6
    assert out["1"]["dup_grams"] == 1 and out["1"]["covered_tokens"] == 3


def test_duplicated_ngrams_short_doc(spark):
    df = _docs(spark, ["a b", "a b c d"])
    out = {r["doc_id"]: r for r in duplicated_ngrams(df, k=3, min_docs=2).collect()}
    assert out["0"]["n_grams"] == 0 and out["0"]["dup_grams"] == 0
    assert out["0"]["covered_tokens"] == 0


def test_duplicated_ngrams_coverage_matches_bruteforce(spark):
    """Differential: interval-union HOF vs a python position-set oracle
    over a seeded random corpus with heavy gram sharing."""
    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
        for _ in range(40)
    ]
    k = 3
    toks = [t.split() for t in texts]
    grams: dict[tuple, set] = {}
    for i, ts in enumerate(toks):
        for p in range(len(ts) - k + 1):
            grams.setdefault(tuple(ts[p : p + k]), set()).add(i)
    dup = {g for g, docs in grams.items() if len(docs) >= 2}
    expected = {}
    for i, ts in enumerate(toks):
        pos = [p for p in range(len(ts) - k + 1) if tuple(ts[p : p + k]) in dup]
        covered = set()
        for p in pos:
            covered.update(range(p, p + k))
        expected[str(i)] = (len(pos), len(covered))
    out = duplicated_ngrams(_docs(spark, texts), k=k, min_docs=2).collect()
    for r in out:
        assert (r["dup_grams"], r["covered_tokens"]) == expected[r["doc_id"]], (
            r["doc_id"]
        )


def test_remove_duplicated_ngrams_hand_case(spark):
    from json_to_avro_schema_spark.operators.dedup import remove_duplicated_ngrams

    df = _docs(spark, ["a b c d e", "x a b c y", "p q r s t"])
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_ngrams(df, k=3, min_docs=2).collect()
    }
    assert out["0"]["clean_text"] == "d e" and out["0"]["kept_tokens"] == 2
    assert out["1"]["clean_text"] == "x y"
    assert out["2"]["clean_text"] == "p q r s t" and out["2"]["kept_tokens"] == 5


def test_remove_duplicated_ngrams_fully_covered(spark):
    from json_to_avro_schema_spark.operators.dedup import remove_duplicated_ngrams

    df = _docs(spark, ["a b c", "a b c"])
    out = remove_duplicated_ngrams(df, k=3, min_docs=2).collect()
    for r in out:
        assert r["clean_text"] == "" and r["kept_tokens"] == 0


def test_remove_matches_stats_coverage(spark):
    """kept_tokens == n_tokens - covered_tokens on a shared random corpus:
    the two halves of the ExactSubstr family must agree."""
    import random

    from json_to_avro_schema_spark.operators.dedup import (
        duplicated_ngrams,
        remove_duplicated_ngrams,
    )

    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20)))
        for _ in range(30)
    ]
    stats = {
        r["doc_id"]: r
        for r in duplicated_ngrams(_docs(spark, texts), k=3, min_docs=2).collect()
    }
    clean = {
        r["doc_id"]: r
        for r in remove_duplicated_ngrams(
            _docs(spark, texts), k=3, min_docs=2
        ).collect()
    }
    for i in stats:
        assert (
            clean[i]["kept_tokens"]
            == stats[i]["n_tokens"] - stats[i]["covered_tokens"]
        ), i


def test_perplexity_split_buckets(spark):
    """CCNet head/middle/tail labeling: explicit-boundary global form,
    per-group dict form (missing group → null bucket, visibly
    unclassified), and the self-bootstrapped quantile form covering the
    corpus completely."""
    texts = ["a a a a", "a a b b", "b c d e", "q r s t"]  # ppl ascending-ish
    df = _docs(spark, texts).withColumn(
        "lang", F.when(F.col("doc_id") < "2", "en").otherwise("xx")
    )
    m = LM.unigram_lm(df, min_count=1, alpha=0.5)

    scored = LM.score_documents(df, m)
    ppl = {r["doc_id"]: r["log_ppl"] for r in scored.collect()}
    order = sorted(ppl, key=ppl.get)
    # decimals=6 + rounded boundaries: bucketing must not hinge on exact
    # float equality between two independently-aggregated scores
    c1, c2 = round(ppl[order[0]], 6), round(ppl[order[1]], 6)

    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in LM.perplexity_split(
            df, m, boundaries=(c1, c2), decimals=6
        ).collect()
    }
    assert got[order[0]] == "head" and got[order[1]] == "middle"
    assert got[order[2]] == "tail" and got[order[3]] == "tail"

    by_lang = LM.perplexity_split(
        df, m, by="lang", boundaries={"en": (c1, 1e9)}, decimals=6
    )
    gl = {r["doc_id"]: r["ppl_bucket"] for r in by_lang.collect()}
    assert set(gl[d] for d in ("0", "1")) <= {"head", "middle"}
    assert gl["2"] is None and gl["3"] is None  # no xx boundaries

    # bootstrapped terciles: every doc gets a bucket, all three appear
    boot = LM.perplexity_split(df, m, cuts=(0.25, 0.75))
    bs = [r["ppl_bucket"] for r in boot.collect()]
    assert None not in bs and {"head", "tail"} <= set(bs)

    # bootstrap by-mode: a NULL group value is a real group — its rows
    # must bucket under their own computed cut points, not fall out of
    # the join unbucketed
    nulled = df.withColumn(
        "lang", F.when(F.col("doc_id") < "2", "en")
    )
    nb = LM.perplexity_split(nulled, m, by="lang", cuts=(0.25, 0.75))
    null_buckets = [
        r["ppl_bucket"] for r in nb.filter("lang IS NULL").collect()
    ]
    assert len(null_buckets) == 2 and None not in null_buckets
