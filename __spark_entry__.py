"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: validate the interleaved documents table
(deterministic synthetic, BASELINE.json input_hint shape) and return the
per-partition verdict DataFrame.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2.2/§2.3 plus the training-data-pipeline operators; every
SQL-expressible one has a DuckDB oracle. All float outputs are rounded in
BOTH engines so value hashes agree; all computed columns are aliased
identically on both sides.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from json_to_avro_schema_spark.compiler.plan import compile_document
from json_to_avro_schema_spark.operators import dedup as dd
from json_to_avro_schema_spark.operators import lm as lmop
from json_to_avro_schema_spark.operators import drift as dr
from json_to_avro_schema_spark.operators import referential as ri
from json_to_avro_schema_spark.operators import similarity as sim
from json_to_avro_schema_spark.operators import stats as st
from json_to_avro_schema_spark.operators import text as tx
from json_to_avro_schema_spark.operators import uniqueness as uq
from json_to_avro_schema_spark.operators import web as wb
from json_to_avro_schema_spark.operators import funnel as fn
from json_to_avro_schema_spark.operators import temporal as tmp
from json_to_avro_schema_spark.operators import classifier as clf
from json_to_avro_schema_spark.operators.tdigest import tdigest_quantiles
from json_to_avro_schema_spark.runner import run_validation
from json_to_avro_schema_spark.sources.derived_spans import (
    span_sequence_key,
    spans_from_documents,
    with_part_key,
)
from json_to_avro_schema_spark.sources.synthetic import (
    documents_iv_spec,
    generate_documents_iv,
)
from json_to_avro_schema_spark.sources.tables import load_table, spread_to_cores
from json_to_avro_schema_spark.streaming import drain, start_available_now

N_DOCS_ENTRY = 20_000


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spec-compile + validate interleaved docs; per-partition
    verdicts (stable schema, >0 rows)."""
    plan = compile_document(documents_iv_spec())
    df = generate_documents_iv(spark, N_DOCS_ENTRY, violation_pct=5)
    res = run_validation(spark, df, plan)
    return res.verdicts.orderBy("part_key", "check_name")


# ------------------------------------------------- scratch-disk helpers

def _in_scratch(
    spark: SparkSession, build: Callable[[str], DataFrame]
) -> DataFrame:
    """``build(scratch)`` in a fresh scratch directory, collected into a
    local frame with the same schema. The directory is removed on every
    exit path; the returned frame never reads it."""
    scratch = tempfile.mkdtemp(prefix="gate_scratch_")
    try:
        out = build(scratch)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _ordered_feed(
    spark: SparkSession, scratch: str, batches: list[DataFrame]
) -> DataFrame:
    """File-stream source replaying ``batches`` in list order: one parquet
    file per batch, mtimes pinned in that order (the file source reads
    oldest first), one file per micro-batch."""
    feed = os.path.join(scratch, "feed")
    os.makedirs(feed)
    now = time.time()
    for i, batch in enumerate(batches):
        staged = os.path.join(scratch, f"batch{i}")
        batch.coalesce(1).write.parquet(staged)
        [part] = glob.glob(os.path.join(staged, "part-*.parquet"))
        path = os.path.join(feed, f"batch{i}.parquet")
        os.rename(part, path)
        os.utime(path, (now + 60 * i, now + 60 * i))
    schema = spark.read.parquet(feed).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )


@contextlib.contextmanager
def _state_partitions(spark: SparkSession):
    """Eight shuffle partitions inside the block, restored after. A stream
    fixes its state-store count from this conf when it starts; 8 stores
    instead of one per shuffle partition cut per-micro-batch state
    overhead on these small corpora (a deployment sizes it to the
    corpus)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# --------------------------------------------------------------- queries

def _q_stats_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    out = st.column_stats(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        quantiles=None, approx_distinct=False,
    )
    return out.select(
        "column",
        "n_rows",
        "n_null",
        F.round("null_rate", 6).alias("null_rate"),
        F.round(F.col("min").cast("double"), 4).alias("min_v"),
        F.round(F.col("max").cast("double"), 4).alias("max_v"),
        F.round("mean", 4).alias("mean_v"),
    ).orderBy("column")


def _o_stats_lineitem() -> str:
    parts = []
    for c in ("l_quantity", "l_extendedprice", "l_discount"):
        parts.append(f"""
        SELECT '{c}' AS "column", count(*) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               round(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS null_rate,
               round(min({c}), 4) AS min_v, round(max({c}), 4) AS max_v,
               round(avg({c}), 4) AS mean_v
        FROM lineitem""")
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


def _q_unique_orders(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return uq.uniqueness_verdict(orders, ["o_orderkey"]).select(
        "n_rows", "n_distinct", "n_dup_rows", "pass"
    )


_O_UNIQUE_ORDERS = """
WITH c AS (SELECT o_orderkey, count(*) AS cnt FROM orders GROUP BY 1)
SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_distinct,
       CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n_dup_rows,
       coalesce(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0) = 0 AS pass
FROM c
"""


def _q_dup_event_users(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        uq.duplicate_keys(ev, ["user_id"])
        .orderBy(F.col("dup_count").desc(), "user_id")
        .limit(50)
    )


_O_DUP_EVENT_USERS = """
SELECT user_id, count(*) AS dup_count FROM events
GROUP BY user_id HAVING count(*) > 1
ORDER BY dup_count DESC, user_id LIMIT 50
"""


def _q_ri_checks(spark: SparkSession, sf: str) -> DataFrame:
    """Both referential-integrity anti-join verdicts (lineitem→orders,
    orders→customer) in one labeled result — each side is the broadcast
    anti-join operator (operators/referential.py), unioned with a check
    column so one gate entry attests both FK directions."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    a = ri.ri_verdict(li, orders, ["l_orderkey"], ["o_orderkey"]).select(
        F.lit("lineitem_orders").alias("check_name"),
        "n_rows", "n_dangling", "pass",
    )
    b = ri.ri_verdict(orders, cust, ["o_custkey"], ["c_custkey"]).select(
        F.lit("orders_customer").alias("check_name"),
        "n_rows", "n_dangling", "pass",
    )
    return a.unionByName(b).orderBy("check_name")


_O_RI_CHECKS = """
SELECT 'lineitem_orders' AS check_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                 AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_dangling,
       sum(CASE WHEN l_orderkey IS NOT NULL
                 AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
            THEN 1 ELSE 0 END) = 0 AS pass
FROM lineitem
UNION ALL
SELECT 'orders_customer' AS check_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN o_custkey IS NOT NULL
                 AND o_custkey NOT IN (SELECT c_custkey FROM customer)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_dangling,
       sum(CASE WHEN o_custkey IS NOT NULL
                 AND o_custkey NOT IN (SELECT c_custkey FROM customer)
            THEN 1 ELSE 0 END) = 0 AS pass
FROM orders
ORDER BY check_name
"""


def _q_enum_returnflag(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("value", "n", F.col("value").isin("A", "N", "R").alias("in_domain"))
        .orderBy("value")
    )


_O_ENUM_RETURNFLAG = """
SELECT l_returnflag AS value, count(*) AS n,
       l_returnflag IN ('A', 'N', 'R') AS in_domain
FROM lineitem GROUP BY 1 ORDER BY value
"""


def _q_range_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")).alias("n_discount_oob"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("n_quantity_oob"),
        F.sum((F.col("l_extendedprice") <= 0).cast("long")).alias("n_price_oob"),
    )


_O_RANGE_LINEITEM = """
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_discount_oob,
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quantity_oob,
       CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_price_oob
FROM lineitem
"""

_HIST_LO, _HIST_HI, _HIST_BINS = 900.0, 105000.0, 32


def _q_histograms(spark: SparkSession, sf: str) -> DataFrame:
    """Global 32-bin AND per-group 8-bin fixed-width histograms (both
    paths of operators/drift.histogram) in one labeled union: the global
    row set carries part_key='ALL', the by= path one row set per
    l_returnflag — each side is one partial+final hash agg, the shape
    per-Iceberg-partition drift baselines are built from."""
    li = load_table(spark, sf, "lineitem")
    g = dr.histogram(
        li, "l_extendedprice", bins=_HIST_BINS, lo=_HIST_LO, hi=_HIST_HI
    ).select(F.lit("ALL").alias("part_key"), "bucket", "n")
    by = dr.histogram(
        li, "l_extendedprice", bins=8, lo=_HIST_LO, hi=_HIST_HI,
        by="l_returnflag",
    ).select("part_key", "bucket", "n")
    return g.unionByName(by).orderBy("part_key", "bucket")


def _o_histograms() -> str:
    w32 = (_HIST_HI - _HIST_LO) / _HIST_BINS
    w8 = (_HIST_HI - _HIST_LO) / 8
    return f"""
    SELECT 'ALL' AS part_key,
           least(greatest(CAST(floor((l_extendedprice - {_HIST_LO}) / {w32}) AS INT), 0),
                 {_HIST_BINS - 1}) AS bucket,
           count(*) AS n
    FROM lineitem WHERE l_extendedprice IS NOT NULL
    GROUP BY 1, 2
    UNION ALL
    SELECT l_returnflag AS part_key,
           least(greatest(CAST(floor((l_extendedprice - {_HIST_LO}) / {w8}) AS INT), 0), 7) AS bucket,
           count(*) AS n
    FROM lineitem WHERE l_extendedprice IS NOT NULL
    GROUP BY 1, 2
    ORDER BY part_key, bucket
    """


def _q_quantiles_price(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    qs = li.selectExpr(
        "percentile(l_extendedprice, array(0.1, 0.25, 0.5, 0.75, 0.9)) AS q"
    )
    return qs.select(
        F.round(F.col("q")[0], 3).alias("q10"),
        F.round(F.col("q")[1], 3).alias("q25"),
        F.round(F.col("q")[2], 3).alias("q50"),
        F.round(F.col("q")[3], 3).alias("q75"),
        F.round(F.col("q")[4], 3).alias("q90"),
    )


_O_QUANTILES_PRICE = """
SELECT round(quantile_cont(l_extendedprice, 0.1), 3) AS q10,
       round(quantile_cont(l_extendedprice, 0.25), 3) AS q25,
       round(quantile_cont(l_extendedprice, 0.5), 3) AS q50,
       round(quantile_cont(l_extendedprice, 0.75), 3) AS q75,
       round(quantile_cont(l_extendedprice, 0.9), 3) AS q90
FROM lineitem
"""


def _q_text_analysis(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    c = F.col("text")
    return (
        docs.select(
            "doc_id",
            tx.whitespace_token_count(c).alias("n_tokens_ws"),
            F.round(tx.punct_ratio(c), 5).alias("punct_ratio"),
            F.round(tx.mean_word_length(c), 5).alias("mean_word_len"),
        )
        .orderBy("doc_id")
        .limit(2000)
    )


_O_TEXT_ANALYSIS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t,
         text
  FROM documents
)
SELECT doc_id,
       len(t) AS n_tokens_ws,
       round(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g')) * 1.0
             / greatest(length(text), 1), 5) AS punct_ratio,
       round(coalesce(list_sum(list_transform(t, x -> length(x))), 0) * 1.0
             / greatest(len(t), 1), 5) AS mean_word_len
FROM toks ORDER BY doc_id LIMIT 2000
"""


def _q_token_totals(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tx.whitespace_token_count(F.col("text"))).alias("n_tokens"),
        )
        .orderBy("lang")
    )


_O_TOKEN_TOTALS = r"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''))) AS BIGINT) AS n_tokens
FROM documents GROUP BY lang ORDER BY lang
"""


def _q_exact_dup_groups(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # deterministic seeded duplicates: re-append every 100th doc
    dup = docs.filter(F.col("doc_id") % 100 == 0)
    both = docs.unionAll(dup)
    groups = dd.exact_duplicates(both, "text", "doc_id")
    return groups.select(
        F.col("min_id").alias("first_doc_id"),
        "n_docs",
    ).orderBy("first_doc_id")


_O_EXACT_DUP_GROUPS = r"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0
), g AS (
  SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k,
         min(doc_id) AS first_doc_id, count(*) AS n_docs
  FROM unioned GROUP BY 1 HAVING count(*) > 1
)
SELECT first_doc_id, n_docs FROM g ORDER BY first_doc_id
"""


def _q_dedup_exact_keep(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup keep-one-representative: after appending every 100th doc
    as a duplicate, dedup_exact must keep exactly one row per normalized
    text, choosing the min doc_id (pinned by the id sum)."""
    docs = load_table(spark, sf, "documents")
    dup = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    both = docs.unionAll(dup)
    kept = dd.dedup_exact(both, "text", "doc_id")
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
    )


_O_DEDUP_EXACT_KEEP = r"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0
), kept AS (
  SELECT min(doc_id) AS doc_id
  FROM unioned
  GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
)
SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids FROM kept
"""


def _q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental exact dedup (continuous-ingestion shape): docs with
    doc_id < 250 form the historical fingerprint index; the new batch is
    the full corpus plus planted clones. Kept = rows not already indexed,
    one min-id representative per fingerprint inside the batch."""
    docs = load_table(spark, sf, "documents")
    index = docs.filter(F.col("doc_id") < 250).select(
        tx.fingerprint(F.col("text")).alias("fingerprint")
    ).distinct()
    clones = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    batch = docs.unionAll(clones)
    kept = dd.dedup_exact_incremental(batch, index)
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
    )


_O_DEDUP_INCREMENTAL = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
  FROM documents
), idx AS (
  SELECT DISTINCT k FROM norm WHERE doc_id < 250
), batch AS (
  SELECT doc_id, k FROM norm
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, k FROM norm WHERE doc_id % 100 = 0
), fresh AS (
  SELECT doc_id, k FROM batch WHERE k NOT IN (SELECT k FROM idx)
), kept AS (
  SELECT min(doc_id) AS doc_id FROM fresh GROUP BY k
)
SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids FROM kept
"""


def _q_colocated_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exchange-free incremental exact dedup over BUCKETED storage: corpus
    and historical fingerprint index are both written bucketBy(fingerprint),
    so the anti-join is bucket-local (zero Exchange — plan pinned in
    tests/test_bucketed.py). Docs with doc_id < 250 form the index; output
    aggregates the not-yet-indexed set.

    The bucketed tables live in the query's scratch directory under
    catalog names derived from it, so concurrent replays never share
    files or tables; both are dropped once the result is collected,
    before the directory goes."""
    from json_to_avro_schema_spark.sources.bucketed import (
        dedup_exact_colocated,
        write_bucketed,
    )

    docs = load_table(spark, sf, "documents").withColumn(
        "fingerprint", tx.fingerprint(F.col("text"))
    )
    index = docs.filter(F.col("doc_id") < 250).select("fingerprint").distinct()

    def build(scratch: str) -> DataFrame:
        tag = os.path.basename(scratch)
        corpus_t, index_t = f"colocated_corpus_{tag}", f"colocated_index_{tag}"
        try:
            for t, df in ((corpus_t, docs), (index_t, index)):
                write_bucketed(df, t, f"{scratch}/{t}", ["fingerprint"], n_buckets=8)
            fresh = dedup_exact_colocated(spark, corpus_t, index_t).agg(
                F.count(F.lit(1)).alias("n_fresh"),
                F.sum("doc_id").alias("sum_fresh_ids"),
            )
            return spark.createDataFrame(fresh.collect(), fresh.schema)
        finally:
            for t in (corpus_t, index_t):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    return _in_scratch(spark, build)


_O_COLOCATED_DEDUP = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
  FROM documents
), idx AS (
  SELECT DISTINCT k FROM norm WHERE doc_id < 250
), fresh AS (
  SELECT doc_id FROM norm WHERE k NOT IN (SELECT k FROM idx)
)
SELECT count(*) AS n_fresh, CAST(sum(doc_id) AS BIGINT) AS sum_fresh_ids
FROM fresh
"""


def _q_sample_split_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/test split of the documents table: key-stable
    (same doc -> same side on any cluster/partitioning, no per-task RNG),
    shuffle-free, and exactly re-derivable in ANSI SQL via the portable
    md5-prefix bucket (operators/sampling.py)."""
    from json_to_avro_schema_spark.operators.sampling import train_test_split

    docs = load_table(spark, sf, "documents")
    return (
        train_test_split(docs, "doc_id", 0.25, seed="s42")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("split")
    )


def _o_sample_split_docs() -> str:
    from json_to_avro_schema_spark.operators.sampling import (
        HASH_SPACE,
        bucket_sql,
    )

    thr = int(round(0.25 * HASH_SPACE))
    b = bucket_sql("doc_id", seed="s42")
    return f"""
SELECT CASE WHEN {b} < {thr} THEN 'test' ELSE 'train' END AS split,
       count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY 1 ORDER BY 1
"""


def _q_stratified_sample_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum key-stable downsampling (keep all errors, thin the
    high-volume event types) — one shuffle-free filter; the CASE threshold
    and md5 bucket are re-derived verbatim in the oracle."""
    from json_to_avro_schema_spark.operators.sampling import stratified_sample

    ev = load_table(spark, sf, "events")
    out = stratified_sample(
        ev,
        "event_type",
        {"error": 1.0, "click": 0.2, "view": 0.05},
        "event_id",
        seed="s7",
        default_fraction=0.5,
    )
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("sum_ids"),
        )
        .orderBy("event_type")
    )


def _o_stratified_sample_events() -> str:
    from json_to_avro_schema_spark.operators.sampling import (
        HASH_SPACE,
        bucket_sql,
    )

    def t(f: float) -> int:
        return int(round(f * HASH_SPACE))

    b = bucket_sql("event_id", seed="s7")
    return f"""
SELECT event_type, count(*) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS sum_ids
FROM events
WHERE {b} < CASE event_type
            WHEN 'error' THEN {t(1.0)}
            WHEN 'click' THEN {t(0.2)}
            WHEN 'view' THEN {t(0.05)}
            ELSE {t(0.5)} END
GROUP BY event_type ORDER BY event_type
"""


def _q_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = sim.brute_force_topk(emb, list(q), k=10)
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


_O_TOPK_COSINE = """
SELECT e.vec_id,
       round(CAST(list_cosine_similarity(e.embedding, q.embedding) AS DOUBLE),
             4) AS cos_sim
FROM embeddings e,
     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC, e.vec_id
LIMIT 10
"""


def _q_events_domain(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.col("event_type").alias("value"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("mean_value"))
        .orderBy("value")
    )


_O_EVENTS_DOMAIN = """
SELECT event_type AS value, count(*) AS n, round(avg(value), 4) AS mean_value
FROM events GROUP BY 1 ORDER BY value
"""


def _q_approx_unique_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """HLL++ distinct vs exact — cross-engine check that Spark's
    approx_count_distinct lands within 2% of DuckDB's exact count."""
    li = load_table(spark, sf, "lineitem")
    key_cols = ["l_orderkey", "l_linenumber"]
    approx = uq.approx_uniqueness(li, key_cols)
    exact = li.select(
        F.count_distinct(*[F.col(c) for c in key_cols]).alias("n_distinct")
    )
    return approx.crossJoin(exact).select(
        "n_rows",
        "n_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("n_distinct"))
            <= 0.02 * F.col("n_distinct")
        ).alias("hll_within_2pct"),
    )


_O_APPROX_UNIQUE_LINEITEM = """
SELECT count(*) AS n_rows,
       count(DISTINCT (l_orderkey, l_linenumber)) AS n_distinct,
       TRUE AS hll_within_2pct
FROM lineitem
"""


_SW_SQL = {
    "en": "['the','and','of','to','in','is','that','it','for','with']",
    "de": "['der','die','und','das','ist','von','nicht','mit','ein','zu']",
    "fr": "['le','la','et','les','des','est','une','dans','que','pour']",
    "es": "['el','la','que','de','los','es','una','por','con','para']",
}


def _q_lang_detect_docs(spark: SparkSession, sf: str) -> DataFrame:
    # interpreted HOF scoring is the per-row cost; spread a few-partition
    # input across cores first (no-op at scale, see spread_to_cores)
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    return (
        docs.select(tx.detect_language(F.col("text")).alias("lang_detected"))
        .groupBy("lang_detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_detected")
    )


def _o_lang_detect_docs() -> str:
    score = {
        lang: (
            f"len(list_filter(t, x -> list_contains({arr}, x))) * 1.0"
            f" / greatest(len(t), 1)"
        )
        for lang, arr in _SW_SQL.items()
    }
    return rf"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
  FROM documents
), sc AS (
  SELECT {score['en']} AS s_en, {score['de']} AS s_de,
         {score['fr']} AS s_fr, {score['es']} AS s_es
  FROM toks
), best AS (
  -- Spark picks array_max over struct(score, lang): max score, lexicographic
  -- max lang on ties → probe fr > es > en > de
  SELECT greatest(s_en, s_de, s_fr, s_es) AS gs,
         CASE WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
              WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
              ELSE 'de' END AS gl
  FROM sc
)
SELECT CASE WHEN gs > 0.02 THEN gl ELSE 'und' END AS lang_detected,
       count(*) AS n_docs
FROM best GROUP BY 1 ORDER BY lang_detected
"""


def _q_quality_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # floor-based half-up rounding: both engines apply the identical IEEE
    # formula to the identical double, so decimal ties can't diverge the way
    # Spark's BigDecimal HALF_UP vs DuckDB's round() do
    docs = spread_to_cores(docs)
    q4 = F.floor(tx.quality_score(F.col("text")) * 10000 + 0.5) / 10000
    return (
        docs.select("doc_id", q4.alias("quality"))
        .orderBy("doc_id")
        .limit(2000)
    )


_O_QUALITY_DOCS = rf"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
  FROM documents
), comp AS (
  SELECT doc_id,
    least(length(text) / 200.0, 1.0) AS length_ok,
    least((len(list_filter(t, x -> list_contains({_SW_SQL['en']}, x))) * 1.0
           / greatest(len(t), 1)) * 4.0, 1.0) AS sw,
    1.0 - least((length(regexp_replace(text, '[^.,;:!?''"()\[\]{{}}]', '', 'g')) * 1.0
                 / greatest(length(text), 1)) * 5.0, 1.0) AS punct_ok,
    coalesce(list_sum(list_transform(t, x -> length(x))), 0) * 1.0
      / greatest(len(t), 1) AS mwl
  FROM toks
)
SELECT doc_id,
       floor((length_ok + sw + punct_ok
              + CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1.0 ELSE 0.3 END) / 4.0
             * 10000 + 0.5) / 10000 AS quality
FROM comp ORDER BY doc_id LIMIT 2000
"""


def _q_bpe_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tx.bpe_ish_token_count(F.col("text"))).alias("n_tokens_bpe"),
        )
        .orderBy("lang")
    )


_O_BPE_TOKEN_STATS = r"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_tokens_bpe
FROM documents GROUP BY lang ORDER BY lang
"""


def _q_pii_docs(spark: SparkSession, sf: str) -> DataFrame:
    """PII scan + redaction (operators/text.py:PII_PATTERNS): per-source
    totals of email/phone/ipv4/ssn matches over text with deterministically
    injected PII (the synthetic corpus has none), plus the invariant that
    redaction removes every match (n_pii_after_redact = 0). All JVM regex,
    one codegen'd projection — the standard pre-training privacy pass."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(d % 5 == 0, F.concat(
            F.lit(" contact user"), d.cast("string"),
            F.lit("@example.com now")))
        .when(d % 5 == 1, F.concat(
            F.lit(" call 555-012-"),
            F.lpad((d % 10000).cast("string"), 4, "0")))
        .when(d % 5 == 2, F.concat(
            F.lit(" host 10.0."), (d % 256).cast("string"), F.lit("."),
            ((d * 7) % 256).cast("string"), F.lit(" up")))
        .when(d % 5 == 3, F.concat(
            F.lit(" ssn 123-45-"),
            F.lpad((d % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit("")),
        F.when(d % 10 == 0, F.lit(" cc admin@test.org")).otherwise(F.lit("")),
    )
    scanned = tx.pii_scan(docs.select("doc_id", "source", injected.alias("text")))
    residual = sum(
        (tx.pii_count(F.col("redacted"), k) for k in tx.PII_PATTERNS),
        F.lit(0),
    )
    return (
        scanned.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("n_email"),
            F.sum("n_phone").alias("n_phone"),
            F.sum("n_ipv4").alias("n_ipv4"),
            F.sum("n_ssn").alias("n_ssn"),
            F.sum((F.col("n_pii") > 0).cast("long")).alias("docs_with_pii"),
            F.sum(residual).alias("n_pii_after_redact"),
        )
        .orderBy("source")
    )


def _o_pii_docs() -> str:
    from json_to_avro_schema_spark.operators.text import PII_PATTERNS

    cnt = {
        k: f"len(regexp_extract_all(text, '{p}'))"
        for k, p in PII_PATTERNS.items()
    }
    redacted = "text"
    for k, p in PII_PATTERNS.items():
        redacted = f"regexp_replace({redacted}, '{p}', '[{k.upper()}]', 'g')"
    res = " + ".join(
        f"len(regexp_extract_all(redacted, '{p}'))"
        for p in PII_PATTERNS.values()
    )
    return f"""
WITH inj AS (
  SELECT source,
    text || CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      WHEN 1 THEN ' call 555-012-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      WHEN 2 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                  || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up'
      WHEN 3 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      ELSE '' END
      || CASE WHEN doc_id % 10 = 0 THEN ' cc admin@test.org' ELSE '' END AS text
  FROM documents
), cnt AS (
  SELECT source,
         {cnt['email']} AS n_email, {cnt['phone']} AS n_phone,
         {cnt['ipv4']} AS n_ipv4, {cnt['ssn']} AS n_ssn,
         {redacted} AS redacted
  FROM inj
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS n_email,
       CAST(sum(n_phone) AS BIGINT) AS n_phone,
       CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
       CAST(sum(CASE WHEN n_email + n_phone + n_ipv4 + n_ssn > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(sum({res}) AS BIGINT) AS n_pii_after_redact
FROM cnt GROUP BY source ORDER BY source
"""


def _q_repetition_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4-style repetition signals (operators/text.py:
    repetition_stats): per-source token totals, distinct-token totals,
    top-token / top-bigram occurrence totals, and the count of
    'repetitive' docs (top token > 10% of tokens) — the boilerplate
    filter a pretraining pipeline runs before dedup. All integer
    aggregates, so the fraction arithmetic is exact on both engines."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    stats = tx.repetition_stats(docs.select("doc_id", "source", "text"))
    # greatest(n,1): a zero-token doc must count as non-repetitive on both
    # engines (Spark 0/0 -> NULL vs DuckDB NaN, which sorts > any number)
    rep = (
        F.col("top_token_count") * 1.0 / F.greatest(F.col("n_tokens"), F.lit(1))
    ) > 0.10
    return (
        stats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_distinct_tokens").alias("sum_distinct"),
            F.sum("top_token_count").alias("sum_top_token"),
            F.sum("top_bigram_count").alias("sum_top_bigram"),
            F.sum(rep.cast("long")).alias("repetitive_docs"),
        )
        .orderBy("source")
    )


_O_REPETITION_DOCS = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
  FROM documents
), tok_counts AS (
  SELECT doc_id, max(c) AS top_tok FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok
  ) GROUP BY doc_id
), bi AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(0, len(t) - 1),
                                  i -> t[i + 1] || ' ' || t[i + 2])
              ELSE [] END AS bg
  FROM toks
), bi_counts AS (
  SELECT doc_id, max(c) AS top_bi FROM (
    SELECT doc_id, b, count(*) AS c
    FROM (SELECT doc_id, unnest(bg) AS b FROM bi) GROUP BY doc_id, b
  ) GROUP BY doc_id
), base AS (
  SELECT tk.doc_id, source, len(t) AS n, len(list_distinct(t)) AS nd,
         coalesce(tc.top_tok, 0) AS top_tok, coalesce(bc.top_bi, 0) AS top_bi
  FROM toks tk
  LEFT JOIN tok_counts tc ON tk.doc_id = tc.doc_id
  LEFT JOIN bi_counts bc ON tk.doc_id = bc.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS sum_tokens,
       CAST(sum(nd) AS BIGINT) AS sum_distinct,
       CAST(sum(top_tok) AS BIGINT) AS sum_top_token,
       CAST(sum(top_bi) AS BIGINT) AS sum_top_bigram,
       CAST(sum(CASE WHEN top_tok * 1.0 / greatest(n, 1) > 0.10 THEN 1 ELSE 0 END) AS BIGINT)
         AS repetitive_docs
FROM base GROUP BY source ORDER BY source
"""


# deterministic structure plants for the gopher-rules gate query —
# shared verbatim between the Spark plan and the DuckDB oracle
_GOPHER_PLANT_BULLETS = "\n" + "\n".join(
    f"- bullet {c}" for c in "abcdefghijk"
)
_GOPHER_PLANT_SYMBOLS = " ### ### ### ### ### ### ###"
_GOPHER_PLANT_ELLIPSIS = "\ntrailing thought...\nanother one…\nplain line"


def _sql_str(s: str) -> str:
    """A Python string as a DuckDB expression: quoted segments joined
    with chr(10) (DuckDB literals don't interpret backslash escapes)."""
    parts = [
        "'" + seg.replace("'", "''") + "'" for seg in s.split("\n")
    ]
    return " || chr(10) || ".join(parts)


def _q_gopher_rules_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Published Gopher rule set (operators/text.py:gopher_rules, Rae et
    al. 2021 A1) over documents with planted structure: every 11th doc
    gains 11 bullet lines (bullet-line fraction > 0.9), every 13th+1 a
    run of '#' symbols (symbol ratio > 0.1), every 17th+2 ellipsis-ended
    lines — so each line-level rule fires on a known subset. Signals are
    exact integers; flags are integer-ratio comparisons, engine-stable."""
    docs = load_table(spark, sf, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.when(did % 11 == 0,
               F.concat(F.col("text"), F.lit(_GOPHER_PLANT_BULLETS)))
        .when(did % 13 == 1,
              F.concat(F.col("text"), F.lit(_GOPHER_PLANT_SYMBOLS)))
        .when(did % 17 == 2,
              F.concat(F.col("text"), F.lit(_GOPHER_PLANT_ELLIPSIS)))
        .otherwise(F.col("text")).alias("text"),
    )
    out = tx.gopher_rules(planted)
    return out.select(
        "doc_id", "n_words", "sum_word_chars", "n_symbol_hits", "n_lines",
        "n_bullet_lines", "n_ellipsis_lines", "n_alpha_words",
        "n_stopword_hits", "pass_word_count", "pass_mean_word_len",
        "pass_symbol", "pass_bullet", "pass_ellipsis", "pass_alpha",
        "pass_stopwords", "pass_gopher",
    ).orderBy("doc_id")


def _o_gopher_rules_docs() -> str:
    stop = ", ".join(f"'{w}'" for w in
                     ("the", "be", "to", "of", "and", "that", "have",
                      "with"))
    return rf"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
                THEN text || {_sql_str(_GOPHER_PLANT_BULLETS)}
              WHEN doc_id % 13 = 1
                THEN text || {_sql_str(_GOPHER_PLANT_SYMBOLS)}
              WHEN doc_id % 17 = 2
                THEN text || {_sql_str(_GOPHER_PLANT_ELLIPSIS)}
              ELSE text END AS text
  FROM documents
), sig AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t,
         list_filter(string_split(text, chr(10)),
                     l -> trim(l) != '') AS ls,
         CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS BIGINT)
           AS n_symbol_hits
  FROM planted
), agg AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
              AS BIGINT) AS sum_word_chars,
         n_symbol_hits,
         CAST(len(ls) AS BIGINT) AS n_lines,
         CAST(len(list_filter(ls,
              l -> regexp_matches(ltrim(l), '^[•‣▪*-]'))) AS BIGINT)
           AS n_bullet_lines,
         CAST(len(list_filter(ls,
              l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
              AS BIGINT) AS n_ellipsis_lines,
         CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(list_distinct(t), [{stop}])) AS BIGINT)
           AS n_stopword_hits
  FROM sig
)
SELECT *,
       n_words >= 50 AND n_words <= 100000 AS pass_word_count,
       sum_word_chars * 1.0 / greatest(n_words, 1) >= 3.0
         AND sum_word_chars * 1.0 / greatest(n_words, 1) <= 10.0
         AS pass_mean_word_len,
       n_symbol_hits * 1.0 / greatest(n_words, 1) <= 0.1 AS pass_symbol,
       n_bullet_lines * 1.0 / greatest(n_lines, 1) <= 0.9 AS pass_bullet,
       n_ellipsis_lines * 1.0 / greatest(n_lines, 1) <= 0.3
         AS pass_ellipsis,
       n_alpha_words * 1.0 / greatest(n_words, 1) >= 0.8 AS pass_alpha,
       n_stopword_hits >= 2 AS pass_stopwords,
       (n_words >= 50 AND n_words <= 100000)
         AND (sum_word_chars * 1.0 / greatest(n_words, 1) >= 3.0
              AND sum_word_chars * 1.0 / greatest(n_words, 1) <= 10.0)
         AND n_symbol_hits * 1.0 / greatest(n_words, 1) <= 0.1
         AND n_bullet_lines * 1.0 / greatest(n_lines, 1) <= 0.9
         AND n_ellipsis_lines * 1.0 / greatest(n_lines, 1) <= 0.3
         AND n_alpha_words * 1.0 / greatest(n_words, 1) >= 0.8
         AND n_stopword_hits >= 2 AS pass_gopher
FROM agg ORDER BY doc_id
"""


_C4_PLANT_GOOD = (
    "\nThis line has at least five words."
    "\nShort line."
    "\nAnother full line with many words here!"
    "\nno terminal punctuation line with words"
    "\nIs this a question with enough words?"
)
_C4_PLANT_LOREM = "\nlorem ipsum dolor sit amet."
_C4_PLANT_BRACE = "\nfunction() { return 1; }"


def _q_c4_clean_docs(spark: SparkSession, sf: str) -> DataFrame:
    """C4 line-level cleaning (operators/text.py:c4_clean, Raffel et al.
    2020 §2.2) with planted line structure: every doc gains a block of
    qualifying + non-qualifying lines (the original one-line synthetic
    text has no terminal punctuation, so it always drops); every 19th+4
    doc gains a lorem-ipsum line, every 23rd+5 a curly-brace line — the
    doc-level drop flags fire on known subsets. Counters are exact
    integers; the cleaned text is compared via its exact length."""
    docs = load_table(spark, sf, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        (F.concat(
            F.col("text"), F.lit(_C4_PLANT_GOOD),
            F.when(did % 19 == 4, F.lit(_C4_PLANT_LOREM)).otherwise(F.lit("")),
            F.when(did % 23 == 5, F.lit(_C4_PLANT_BRACE)).otherwise(F.lit("")),
        )).alias("text"),
    )
    out = tx.c4_clean(planted)
    return out.select(
        "doc_id",
        F.length("c4_text").cast("long").alias("c4_len"),
        "n_lines_kept", "n_lines_dropped", "n_sentences",
        "has_lorem", "has_brace", "keep_doc",
    ).orderBy("doc_id")


def _o_c4_clean_docs() -> str:
    return rf"""
WITH planted AS (
  SELECT doc_id,
         text || {_sql_str(_C4_PLANT_GOOD)}
              || CASE WHEN doc_id % 19 = 4
                      THEN {_sql_str(_C4_PLANT_LOREM)} ELSE '' END
              || CASE WHEN doc_id % 23 = 5
                      THEN {_sql_str(_C4_PLANT_BRACE)} ELSE '' END AS text
  FROM documents
), sig AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS ls
  FROM planted
), kept AS (
  SELECT doc_id, text, ls,
         list_filter(ls, l ->
           (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
            OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
           AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
                               x -> x != '')) >= 5) AS kl
  FROM sig
)
SELECT doc_id,
       CAST(length(array_to_string(kl, chr(10))) AS BIGINT) AS c4_len,
       CAST(len(kl) AS BIGINT) AS n_lines_kept,
       CAST(len(ls) - len(kl) AS BIGINT) AS n_lines_dropped,
       CAST(len(regexp_extract_all(array_to_string(kl, chr(10)), '[.!?]'))
            AS BIGINT) AS n_sentences,
       contains(lower(text), 'lorem ipsum') AS has_lorem,
       contains(text, '{{') AS has_brace,
       NOT contains(lower(text), 'lorem ipsum')
         AND NOT contains(text, '{{')
         AND len(regexp_extract_all(array_to_string(kl, chr(10)), '[.!?]'))
             >= 3 AS keep_doc
FROM kept ORDER BY doc_id
"""


def _q_packed_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget shard packing (operators/packing.py): global running
    token offsets via the distributed prefix-sum shape (per-partition
    totals -> exclusive prefix -> parallel within-partition windows; the
    naive global window would sort the whole table on ONE task). Oracled
    against DuckDB's single-window formulation — bit-identical shard
    assignment at any parallelism is the operator's contract."""
    from json_to_avro_schema_spark.operators.packing import shard_manifest

    # no spread_to_cores: packed_shards range-repartitions itself
    docs = load_table(spark, sf, "documents")
    with_tokens = docs.select(
        "doc_id", tx.whitespace_token_count(F.col("text")).alias("n_tokens")
    )
    return shard_manifest(with_tokens, "n_tokens", "doc_id", 5000)


_O_PACKED_SHARDS = r"""
WITH n AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x != '')) AS nt
  FROM documents
), packed AS (
  SELECT doc_id, nt,
         coalesce(sum(nt) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) // 5000 AS shard_id
  FROM n
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS sum_tokens,
       min(doc_id) AS first_key, max(doc_id) AS last_key
FROM packed GROUP BY shard_id ORDER BY shard_id
"""


# per-source token targets over the synthetic src0..src19 sources; spans
# the edge shapes: target 1 (first doc only), mid-source cuts, and a
# target above the source's total (keep everything)
_MIXTURE_TARGETS = {
    "src0": 400, "src1": 700, "src2": 1000, "src5": 100,
    "src7": 50_000, "src12": 1, "src19": 650,
}


def _q_mixture_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixture selection (operators/packing.py:select_mixture):
    per-source token targets, docs kept while their per-source token
    prefix is under target (grouped distributed prefix sum — same
    machinery as packed_shards, partitioned by (source, doc_id)).
    Summarised per source so the oracle pins both membership (count,
    key span) and the token arithmetic."""
    from json_to_avro_schema_spark.operators.packing import select_mixture

    docs = load_table(spark, sf, "documents")
    with_tokens = docs.select(
        "doc_id", "source",
        tx.whitespace_token_count(F.col("text")).alias("n_tokens"),
    )
    picked = select_mixture(
        with_tokens, "n_tokens", "doc_id", "source", _MIXTURE_TARGETS
    )
    return (
        picked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("first_key"),
            F.max("doc_id").alias("last_key"),
        )
        .orderBy("source")
    )


def _o_mixture_docs() -> str:
    targets = ", ".join(
        f"('{s}', {t})" for s, t in sorted(_MIXTURE_TARGETS.items())
    )
    return rf"""
WITH n AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x != '')) AS nt
  FROM documents
), cum AS (
  SELECT doc_id, source, nt,
         coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb
  FROM n
), tg(source, target) AS (VALUES {targets})
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS sum_tokens,
       min(doc_id) AS first_key, max(doc_id) AS last_key
FROM cum JOIN tg USING (source)
WHERE cb < target
GROUP BY source ORDER BY source
"""


def _q_chunked_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-token-budget document chunking with overlap
    (operators/text.py:chunk_documents): chunk 48 tokens, stride 40 —
    every chunk boundary, chunk text, and token count re-derived in SQL.
    posexplode flatMap, no shuffle."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    out = tx.chunk_documents(
        docs.select("doc_id", "text"), chunk_tokens=48, overlap=8
    )
    return out.select(
        "doc_id", "chunk_id", "chunk_n_tokens", "chunk_text"
    ).orderBy("doc_id", "chunk_id")


_O_CHUNKED_DOCS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), base AS (
  SELECT doc_id, t,
         greatest(CAST(floor((len(t) - 9) / 40.0) AS INT) + 1, 1) AS nc
  FROM toks WHERE len(t) > 0
), ch AS (
  SELECT doc_id, CAST(unnest(range(0, nc)) AS INT) AS chunk_id, t
  FROM base
)
SELECT doc_id, chunk_id,
       CAST(len(list_slice(t, chunk_id * 40 + 1, chunk_id * 40 + 48)) AS INT)
         AS chunk_n_tokens,
       array_to_string(list_slice(t, chunk_id * 40 + 1, chunk_id * 40 + 48),
                       ' ') AS chunk_text
FROM ch ORDER BY doc_id, chunk_id
"""


_CLEAN_KW = dict(
    min_tokens=40, lang="en", max_top_token_frac=0.10, min_quality=0.75
)


def _q_clean_corpus_report(spark: SparkSession, sf: str) -> DataFrame:
    """The composed cleaning pass (operators/text.py:quality_filters):
    length + language-ID + repetition + quality in ONE codegen'd
    projection, with per-filter rejection counts and the final survivor
    count — every sub-signal re-derived in the DuckDB oracle."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    flagged = tx.quality_filters(docs.select("doc_id", "text"), **_CLEAN_KW)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((~F.col("pass_len")).cast("long")).alias("fail_len"),
        F.sum((~F.col("pass_lang")).cast("long")).alias("fail_lang"),
        F.sum((~F.col("pass_rep")).cast("long")).alias("fail_rep"),
        F.sum((~F.col("pass_quality")).cast("long")).alias("fail_quality"),
        F.sum(F.col("pass_all").cast("long")).alias("n_clean"),
    )


def _o_clean_corpus_report() -> str:
    sw_en = _SW_SQL["en"]
    lang_score = {
        l: (
            f"len(list_filter(t, x -> list_contains({arr}, x))) * 1.0"
            f" / greatest(len(t), 1)"
        )
        for l, arr in _SW_SQL.items()
    }
    return rf"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), tok_counts AS (
  SELECT doc_id, max(c) AS top_tok FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok
  ) GROUP BY doc_id
), sig AS (
  SELECT k.doc_id, len(t) AS n, coalesce(tc.top_tok, 0) AS top_tok,
    floor((least(length(text) / 200.0, 1.0)
      + least(({lang_score['en']}) * 4.0, 1.0)
      + 1.0 - least((length(regexp_replace(text,
          '[^.,;:!?''"()\[\]{{}}]', '', 'g')) * 1.0
          / greatest(length(text), 1)) * 5.0, 1.0)
      + CASE WHEN coalesce(list_sum(list_transform(t, x -> length(x))), 0)
                  * 1.0 / greatest(len(t), 1) BETWEEN 3 AND 10
             THEN 1.0 ELSE 0.3 END) / 4.0 * 10000 + 0.5) / 10000 AS q4,
    CASE WHEN greatest({lang_score['en']}, {lang_score['de']},
                       {lang_score['fr']}, {lang_score['es']}) > 0.02
         THEN CASE WHEN {lang_score['fr']} = greatest({lang_score['en']},
                        {lang_score['de']}, {lang_score['fr']},
                        {lang_score['es']}) THEN 'fr'
                   WHEN {lang_score['es']} = greatest({lang_score['en']},
                        {lang_score['de']}, {lang_score['fr']},
                        {lang_score['es']}) THEN 'es'
                   WHEN {lang_score['en']} = greatest({lang_score['en']},
                        {lang_score['de']}, {lang_score['fr']},
                        {lang_score['es']}) THEN 'en'
                   ELSE 'de' END
         ELSE 'und' END AS lang_detected
  FROM toks k LEFT JOIN tok_counts tc ON k.doc_id = tc.doc_id
), flags AS (
  SELECT n >= 40 AS pass_len,
         lang_detected = 'en' AS pass_lang,
         top_tok * 1.0 / greatest(n, 1) <= 0.10 AS pass_rep,
         q4 >= 0.75 AS pass_quality
  FROM sig
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN NOT pass_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
       CAST(sum(CASE WHEN NOT pass_lang THEN 1 ELSE 0 END) AS BIGINT) AS fail_lang,
       CAST(sum(CASE WHEN NOT pass_rep THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep,
       CAST(sum(CASE WHEN NOT pass_quality THEN 1 ELSE 0 END) AS BIGINT) AS fail_quality,
       CAST(sum(CASE WHEN pass_len AND pass_lang AND pass_rep AND pass_quality
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM flags
"""


def _q_skew_report_events(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-key skew diagnostics (operators/skew.py) on events.user_id —
    the measure-first side of the north rule's explicit skew handling:
    top-10 hottest keys with exact count-distribution stats, the skew
    factor, and the salt fan-out a hand-written salted stage would need
    (target_rows_per_task=50 at gate scale so the recommendation is
    non-trivial). rank cast to long: Spark row_number is int, DuckDB's
    is bigint, and the gate hash is type-sensitive."""
    from json_to_avro_schema_spark.operators.skew import skew_report

    ev = load_table(spark, sf, "events")
    rep = skew_report(ev, "user_id", top_k=10, target_rows_per_task=50)
    return rep.withColumn("rank", F.col("rank").cast("long"))


_O_SKEW_REPORT_EVENTS = """
WITH c AS (
  SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY user_id
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         round(avg(cnt), 4) AS avg_cnt,
         round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
         round(quantile_cont(cnt, 0.99), 4) AS p99_cnt
  FROM c
), hot AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank,
         key, CAST(cnt AS BIGINT) AS cnt
  FROM c QUALIFY rank <= 10
)
SELECT rank, key, cnt, n_keys, n_rows, max_cnt, avg_cnt, p50_cnt, p99_cnt,
       round(max_cnt / (n_rows * 1.0 / n_keys), 4) AS skew_factor,
       CAST(ceil(max_cnt / 50.0) AS BIGINT) AS recommended_salt
FROM hot, s ORDER BY rank
"""


def _q_metric_anomalies_events(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-run metric anomaly detection (operators/anomaly.py — the
    Deequ metrics-repository pattern over checkpoint state): events'
    30 days become 30 runs of a per-event-type row-count metric; day 30
    is the current run with a deterministically planted 10x spike on
    'error' (the planted-corruption gate pattern). The operator must
    flag exactly the spike via the rel rule (daily counts are
    near-constant, so z-vs-rel routing is data-driven) and leave the
    other four types unflagged. Thresholds checked on UNROUNDED values
    on both engines; outputs rounded to 6dp for the hash."""
    from json_to_avro_schema_spark.operators.anomaly import metric_anomalies

    ev = load_table(spark, sf, "events")
    m = ev.groupBy(
        F.dayofmonth("ts").alias("run"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    m = m.withColumn(
        "n",
        F.when(
            (F.col("run") == 30) & (F.col("event_type") == "error"),
            F.col("n") * 10,
        ).otherwise(F.col("n")),
    )
    return metric_anomalies(m, "run", "event_type", "n", 30).orderBy(
        "event_type"
    )


_O_METRIC_ANOMALIES_EVENTS = """
WITH m0 AS (
  SELECT date_part('day', ts) AS run, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), m AS (
  SELECT run, event_type,
         CASE WHEN run = 30 AND event_type = 'error' THEN n * 10 ELSE n END AS n
  FROM m0
), cur AS (
  SELECT event_type, CAST(n AS DOUBLE) AS cur_v FROM m WHERE run = 30
), hist AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS hist_n,
         avg(CAST(n AS DOUBLE)) AS mean_v,
         stddev_pop(CAST(n AS DOUBLE)) AS std_v
  FROM m WHERE run < 30 GROUP BY 1
), j AS (
  SELECT coalesce(c.event_type, h.event_type) AS event_type,
         cur_v, coalesce(hist_n, 0) AS hist_n, mean_v, std_v,
         abs(cur_v - mean_v) AS dev,
         CASE WHEN mean_v <> 0 THEN abs(cur_v - mean_v) / abs(mean_v) END AS rel,
         CASE WHEN std_v > 0 THEN abs(cur_v - mean_v) / std_v END AS z,
         coalesce(hist_n, 0) >= 2 AS enough
  FROM cur c FULL OUTER JOIN hist h ON c.event_type = h.event_type
)
SELECT event_type, cur_v AS current, hist_n,
       round(mean_v, 6) AS hist_mean, round(std_v, 6) AS hist_std,
       round(rel, 6) AS rel_change, round(z, 6) AS z_score,
       NOT enough AS insufficient_history,
       CASE WHEN enough AND cur_v IS NULL THEN 'missing'
            WHEN enough AND z > 3.0 THEN 'z'
            WHEN enough AND rel > 0.5 THEN 'rel' END AS reason,
       (CASE WHEN enough AND cur_v IS NULL THEN 'missing'
             WHEN enough AND z > 3.0 THEN 'z'
             WHEN enough AND rel > 0.5 THEN 'rel' END) IS NOT NULL AS anomalous
FROM j ORDER BY event_type
"""


def _q_suggested_spec_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Constraint-suggestion profiler (operators/profile.py) over
    lineitem — the Deequ-style bootstrap step: ONE fused scan profiles
    every atomic column (nulls, exact distinct, min/max, length bounds,
    small enum value sets, exact-verified uniqueness) and the result is
    exactly what suggest_spec() turns into a compilable spec. Lengths
    cast to long: Spark length() is int, DuckDB's is bigint, and the
    gate hash is type-sensitive. exact_distinct=True so every field is
    SQL-re-derivable (the approx/HLL path is the 10^12-row default and
    is pinned by tests/test_profile.py instead)."""
    from json_to_avro_schema_spark.operators.profile import (
        profile_frame,
        profile_table,
    )

    li = load_table(spark, sf, "lineitem")
    profs = profile_table(li, exact_distinct=True)
    pf = profile_frame(li, profs)
    return pf.select(
        "column", "json_type", "n_rows", "n_nulls", "n_distinct",
        "required", "is_unique", "min_num", "max_num",
        F.col("min_len").cast("long").alias("min_len"),
        F.col("max_len").cast("long").alias("max_len"),
        "enum_vals",
    ).orderBy("column")


def _o_suggested_spec_lineitem() -> str:
    # (column, json_type, numeric?, string?) — mirrors profile._json_type
    cols = [
        ("l_orderkey", "integer", True, False),
        ("l_partkey", "integer", True, False),
        ("l_suppkey", "integer", True, False),
        ("l_linenumber", "integer", True, False),
        ("l_quantity", "number", True, False),
        ("l_extendedprice", "number", True, False),
        ("l_discount", "number", True, False),
        ("l_tax", "number", True, False),
        ("l_returnflag", "string", False, True),
        ("l_linestatus", "string", False, True),
        ("l_shipdate", None, False, False),
    ]
    parts = []
    for c, jt, num, s in cols:
        jt_sql = f"'{jt}'" if jt else "CAST(NULL AS VARCHAR)"
        min_num = f"CAST(min({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        max_num = f"CAST(max({c}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        min_len = f"CAST(min(length({c})) AS BIGINT)" if s else "CAST(NULL AS BIGINT)"
        max_len = f"CAST(max(length({c})) AS BIGINT)" if s else "CAST(NULL AS BIGINT)"
        enum = (
            f"CASE WHEN count(DISTINCT {c}) <= 16 THEN (SELECT "
            f"string_agg(v, chr(31) ORDER BY v) FROM (SELECT DISTINCT {c} "
            f"AS v FROM lineitem WHERE {c} IS NOT NULL)) END"
            if s else "CAST(NULL AS VARCHAR)"
        )
        parts.append(f"""
        SELECT '{c}' AS "column", {jt_sql} AS json_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               count(*) = count({c}) AND count(*) > 0 AS required,
               count(DISTINCT {c}) = count(*) AND count(*) = count({c})
                 AND count(*) > 0 AS is_unique,
               {min_num} AS min_num, {max_num} AS max_num,
               {min_len} AS min_len, {max_len} AS max_len,
               {enum} AS enum_vals
        FROM lineitem""")
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


def _q_ref_suggest_containment(spark: SparkSession, sf: str) -> DataFrame:
    """FK/containment suggestion (operators/profile.py:ref_containment) —
    the data-driven bootstrap for x-ref checks: both sides deduped to key
    sets before the anti-join probe, parent uniqueness from ONE fused
    aggregate over all referenced columns. Four candidate pairs exercise
    the outcomes: a real FK (l_orderkey→o_orderkey: full containment,
    unique parent), a coincidental containment against a NON-unique parent
    (l_suppkey→o_custkey — suggest_refs must refuse it: dangling-free
    against a non-key is a join-explosion trap), a dangling pair
    (l_partkey→o_orderkey), and a COMPOSITE key probe
    ((l_orderkey,l_linenumber)→(o_orderkey,o_custkey): unique parent
    tuple, heavily dangling child). ``containment`` is the raw IEEE
    double 1 - dangling/keys on both engines (bit-identical, no decimal
    round)."""
    from json_to_avro_schema_spark.operators.profile import (
        ref_containment,
        ref_containment_frame,
    )

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cands = ref_containment(
        li, orders,
        [("l_orderkey", "o_orderkey"), ("l_suppkey", "o_custkey"),
         ("l_partkey", "o_orderkey"),
         (("l_orderkey", "l_linenumber"), ("o_orderkey", "o_custkey"))],
    )
    return ref_containment_frame(spark, cands).orderBy(
        "child_col", "parent_col"
    )


def _o_ref_suggest_containment() -> str:
    def pair(cc, pc) -> str:
        ccs = [cc] if isinstance(cc, str) else list(cc)
        pcs = [pc] if isinstance(pc, str) else list(pc)
        ks = [f"k{i}" for i in range(len(ccs))]
        c_sel = ", ".join(f"{c} AS {k}" for c, k in zip(ccs, ks))
        p_sel = ", ".join(f"{c} AS {k}" for c, k in zip(pcs, ks))
        c_nn = " AND ".join(f"{c} IS NOT NULL" for c in ccs)
        p_nn = " AND ".join(f"{c} IS NOT NULL" for c in pcs)
        on = " AND ".join(f"c.{k} = p.{k}" for k in ks)
        # WHERE p_nn makes struct-counting equal tuple-counting (a struct
        # with a null field is non-null, unlike SQL's multi-arg DISTINCT)
        p_tuple = f"({', '.join(pcs)})" if len(pcs) > 1 else pcs[0]
        dang = (f"coalesce(sum(CASE WHEN p.{ks[0]} IS NULL "
                f"THEN 1 ELSE 0 END), 0)")
        return f"""
        SELECT '{",".join(ccs)}' AS child_col,
               '{",".join(pcs)}' AS parent_col,
               CAST(count(*) AS BIGINT) AS n_child_keys,
               CAST({dang} AS BIGINT) AS n_dangling_keys,
               CASE WHEN count(*) = 0 THEN 1.0
                    ELSE 1.0 - (CAST({dang} AS DOUBLE) / CAST(count(*) AS DOUBLE))
               END AS containment,
               (SELECT CAST(count(DISTINCT {p_tuple}) AS BIGINT)
                FROM orders WHERE {p_nn}) AS parent_n_keys,
               (SELECT count(*) > 0 AND count(DISTINCT {p_tuple}) = count(*)
                FROM orders WHERE {p_nn}) AS parent_is_unique
        FROM (SELECT DISTINCT {c_sel} FROM lineitem WHERE {c_nn}) c
        LEFT JOIN (SELECT DISTINCT {p_sel} FROM orders WHERE {p_nn}) p
          ON {on}"""

    pairs = [("l_orderkey", "o_orderkey"), ("l_suppkey", "o_custkey"),
             ("l_partkey", "o_orderkey"),
             (("l_orderkey", "l_linenumber"), ("o_orderkey", "o_custkey"))]
    return (" UNION ALL ".join(pair(cc, pc) for cc, pc in pairs)
            + " ORDER BY child_col, parent_col")


def _q_frequent_values_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Most-common-values report (operators/profile.py:frequent_values) —
    the Deequ categorical-range suggestion input for columns past the
    profiler's enum cap: one column-pruned aggregate per column unioned
    (the A/B'd default — same parquet bytes as a wide scan, no melt
    explosion; BENCH/BASELINE.md §1c), rank-limit-pushdown top-k per
    column, deterministic (count DESC, value ASC NULLS FIRST) order."""
    from json_to_avro_schema_spark.operators.profile import frequent_values

    docs = spread_to_cores(load_table(spark, sf, "documents"))
    return frequent_values(docs, ["lang", "source"], k=5).orderBy(
        "column", "rank"
    )


_O_FREQUENT_VALUES_DOCS = """
WITH melted AS (
  SELECT 'lang' AS "column", CAST(lang AS VARCHAR) AS value FROM documents
  UNION ALL
  SELECT 'source', CAST(source AS VARCHAR) FROM documents
), counts AS (
  SELECT "column", value, CAST(count(*) AS BIGINT) AS n
  FROM melted GROUP BY "column", value
), ranked AS (
  SELECT "column", value, n,
         CAST(row_number() OVER (PARTITION BY "column"
              ORDER BY n DESC, value ASC NULLS FIRST) AS INT) AS rank
  FROM counts
)
SELECT * FROM ranked WHERE rank <= 5 ORDER BY "column", rank
"""


def _q_profile_drift_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Run-over-run profile drift (operators/profile.py:profile_drift) —
    the Deequ dataset-comparison step over two profiler outputs:
    'yesterday' = lineitem restricted to l_quantity <= 25 profiling
    (l_orderkey, l_quantity, l_returnflag); 'today' = the full table
    profiling (l_orderkey, l_quantity, l_linestatus). Exercises every
    status (added/removed/kept) plus range_expanded + distinct_shift on
    l_quantity, all re-derived column-by-column in the DuckDB oracle.
    exact_distinct=True for SQL parity; both profile frames are one row
    per COLUMN, so the drift join itself is vocab-scale."""
    from json_to_avro_schema_spark.operators.profile import (
        profile_drift,
        profile_frame,
        profile_table,
    )

    li = load_table(spark, sf, "lineitem")
    old = li.filter(F.col("l_quantity") <= 25)
    opf = profile_frame(old, profile_table(
        old, ["l_orderkey", "l_quantity", "l_returnflag"],
        exact_distinct=True,
    ))
    npf = profile_frame(li, profile_table(
        li, ["l_orderkey", "l_quantity", "l_linestatus"],
        exact_distinct=True,
    ))
    return profile_drift(opf, npf).orderBy("column")


def _o_profile_drift(old_src: str, new_src: str,
                     old_cols, new_cols) -> str:
    """Drift-report oracle builder: per-column SQL profiles of two table
    expressions, full-outer-joined with every flag re-derived — mirrors
    operators/profile.py:profile_drift over two profile_frame outputs."""
    # one profile row per (side, column) — mirrors profile_frame fields
    def prof(col: str, jt: str, src: str) -> str:
        num = jt in ("integer", "number")
        mn = f"CAST(min({col}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(max({col}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"
        minl = (f"min(length({col}))" if jt == "string"
                else "CAST(NULL AS INT)")
        maxl = (f"max(length({col}))" if jt == "string"
                else "CAST(NULL AS INT)")
        ev = (
            f"CASE WHEN count(DISTINCT {col}) <= 16 THEN (SELECT "
            f"string_agg(v, chr(31) ORDER BY v) FROM (SELECT DISTINCT {col} "
            f"AS v FROM {src} WHERE {col} IS NOT NULL)) END"
            if jt == "string" else "CAST(NULL AS VARCHAR)"
        )
        return f"""
        SELECT '{col}' AS col, '{jt}' AS jt,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {col}) AS BIGINT) AS nd,
               {mn} AS mn, {mx} AS mx, {minl} AS minl, {maxl} AS maxl,
               {ev} AS ev,
               count(DISTINCT {col}) = count(*) AND count(*) = count({col})
                 AND count(*) > 0 AS uq
        FROM {src}"""

    o_sql = " UNION ALL ".join(prof(c, t, "o_src") for c, t in old_cols)
    n_sql = " UNION ALL ".join(prof(c, t, "n_src") for c, t in new_cols)
    nr = ("CAST({s}.n_nulls AS DOUBLE) / (CASE WHEN {s}.n_rows >= 1 "
          "THEN {s}.n_rows ELSE 1 END)")
    nro, nrn = nr.format(s="o"), nr.format(s="n")
    both = "o.col IS NOT NULL AND n.col IS NOT NULL"
    null_jump = f"({both} AND ({nrn}) - ({nro}) > 0.01)"
    distinct_shift = (
        f"({both} AND abs(n.nd - o.nd) * 1.0 / "
        f"(CASE WHEN o.nd >= 1 THEN o.nd ELSE 1 END) > 0.5)"
    )
    range_expanded = (
        f"({both} AND (coalesce(n.mn < o.mn, false) "
        f"OR coalesce(n.mx > o.mx, false) "
        f"OR coalesce(n.minl < o.minl, false) "
        f"OR coalesce(n.maxl > o.maxl, false)))"
    )
    enum_widened = (
        f"({both} AND o.ev IS NOT NULL AND (n.ev IS NULL OR "
        f"len(list_filter(string_split(n.ev, chr(31)), "
        f"x -> NOT list_contains(string_split(o.ev, chr(31)), x))) > 0))"
    )
    unique_regressed = f"({both} AND coalesce(o.uq AND NOT n.uq, false))"
    status = (
        "CASE WHEN o.col IS NULL THEN 'added' "
        "WHEN n.col IS NULL THEN 'removed' "
        "WHEN NOT (o.jt IS NOT DISTINCT FROM n.jt) THEN 'type_changed' "
        "ELSE 'kept' END"
    )
    return f"""
    WITH o_src AS ({old_src}),
    n_src AS ({new_src}),
    o AS ({o_sql}),
    n AS ({n_sql})
    SELECT coalesce(o.col, n.col) AS "column",
           {status} AS status,
           round({nro}, 6) AS null_rate_old,
           round({nrn}, 6) AS null_rate_new,
           o.nd AS distinct_old, n.nd AS distinct_new,
           {null_jump} AS null_jump,
           {distinct_shift} AS distinct_shift,
           {range_expanded} AS range_expanded,
           {enum_widened} AS enum_widened,
           {unique_regressed} AS unique_regressed,
           (({status}) != 'kept' OR {null_jump} OR {distinct_shift}
            OR {range_expanded} OR {enum_widened} OR {unique_regressed})
             AS drifted
    FROM o FULL JOIN n ON o.col = n.col
    ORDER BY "column"
    """


def _o_profile_drift_lineitem() -> str:
    return _o_profile_drift(
        "SELECT * FROM lineitem WHERE l_quantity <= 25",
        "SELECT * FROM lineitem",
        [("l_orderkey", "integer"), ("l_quantity", "number"),
         ("l_returnflag", "string")],
        [("l_orderkey", "integer"), ("l_quantity", "number"),
         ("l_linestatus", "string")],
    )


def _q_streaming_profile_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming profile history + drift (streaming/profile.py): the
    documents table is split into two DETERMINISTIC micro-batches
    (doc_id parity, an ordered feed), each micro-batch is profiled inside
    foreachBatch into a vocab-scale (epoch, column) history, and the
    drift between the two epochs is the result — re-derived column by
    column in the DuckDB oracle over the same parity split.
    exact_distinct=True for SQL parity (streaming default is approx)."""
    from json_to_avro_schema_spark.streaming.profile import (
        profile_history_drift,
        profile_stream_to_history,
    )

    docs = load_table(spark, sf, "documents")
    parity = F.col("doc_id") % 2

    def build(scratch: str) -> DataFrame:
        feed = _ordered_feed(
            spark, scratch, [docs.filter(parity == 0), docs.filter(parity == 1)]
        )
        hist = os.path.join(scratch, "hist")
        drain(profile_stream_to_history(
            feed, hist, os.path.join(scratch, "ckpt"),
            ["doc_id", "n_chars", "lang"], exact_distinct=True,
        ), 180)
        return profile_history_drift(spark, hist).orderBy("column")

    return _in_scratch(spark, build)


def _o_streaming_profile_drift() -> str:
    cols = [("doc_id", "integer"), ("n_chars", "integer"),
            ("lang", "string")]
    return _o_profile_drift(
        "SELECT * FROM documents WHERE doc_id % 2 = 0",
        "SELECT * FROM documents WHERE doc_id % 2 = 1",
        cols, cols,
    )


def _q_lm_perplexity_docs(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style corpus self-scoring (operators/lm.py): fit an
    add-alpha unigram LM on the corpus (min_count=2 threshold — no
    global top-V sort), score every doc's log-perplexity under it, and
    report per-source averages plus the high-perplexity doc count. The
    per-doc score is rounded to 6 decimals BEFORE aggregation on both
    engines so sub-ulp float-summation-order noise can't flip the
    threshold comparison or the 4-decimal average."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    m = lmop.unigram_lm(docs, "text", min_count=2, alpha=0.5)
    scored = lmop.score_documents(docs.select("doc_id", "source", "text"), m)
    r6 = F.round(F.col("log_ppl"), 6)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.round(F.avg(r6), 4).alias("avg_log_ppl"),
            F.sum((r6 > 1.0).cast("long")).alias("high_ppl_docs"),
        )
        .orderBy("source")
    )


_O_LM_PERPLEXITY_DOCS = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS token FROM toks
), cnts AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), consts AS (
  SELECT sum(c) AS nn,
         sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS vv
  FROM cnts
), vocab AS (
  SELECT token, ln((c + 0.5) / (nn + 0.5 * (vv + 1))) AS lp
  FROM cnts, consts WHERE c >= 2
), perdoc AS (
  SELECT d.doc_id, count(*) AS nt,
         -sum(coalesce(v.lp,
              (SELECT ln(0.5 / (nn + 0.5 * (vv + 1))) FROM consts)))
           / count(*) AS lppl
  FROM tok d LEFT JOIN vocab v ON d.token = v.token
  GROUP BY d.doc_id
), base AS (
  SELECT k.doc_id, source, coalesce(p.nt, 0) AS nt,
         round(coalesce(p.lppl, 0), 6) AS r6
  FROM toks k LEFT JOIN perdoc p ON k.doc_id = p.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS sum_tokens,
       round(avg(r6), 4) AS avg_log_ppl,
       CAST(sum(CASE WHEN r6 > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS high_ppl_docs
FROM base GROUP BY source ORDER BY source
"""


def _q_perplexity_split_docs(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail labeling (lm.perplexity_split): corpus-fit
    unigram LM (min_count=2), EXPLICIT precomputed boundaries — the
    production CCNet form; (3.3998, 3.4041) are the sf0.01 corpus
    terciles, so the gate exercises all three buckets (166/171/163) —
    and decimals=6 pre-rounding so both engines bucket the identical
    6-decimal score (min |score − boundary| on this corpus is 2e-6, one
    full rounding step of margin). Per (source, bucket) counts + id
    sums pin every doc's bucket assignment."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    m = lmop.unigram_lm(docs, "text", min_count=2, alpha=0.5)
    out = lmop.perplexity_split(
        docs.select("doc_id", "source", "text"), m,
        boundaries=(3.3998, 3.4041), decimals=6,
    )
    return (
        out.groupBy("source", "ppl_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("source", "ppl_bucket")
    )


_O_PERPLEXITY_SPLIT_DOCS = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS token FROM toks
), cnts AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), consts AS (
  SELECT sum(c) AS nn,
         sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS vv
  FROM cnts
), vocab AS (
  SELECT token, ln((c + 0.5) / (nn + 0.5 * (vv + 1))) AS lp
  FROM cnts, consts WHERE c >= 2
), perdoc AS (
  SELECT d.doc_id, round(
         -sum(coalesce(v.lp,
              (SELECT ln(0.5 / (nn + 0.5 * (vv + 1))) FROM consts)))
           / count(*), 6) AS r6
  FROM tok d LEFT JOIN vocab v ON d.token = v.token
  GROUP BY d.doc_id
), labeled AS (
  SELECT k.doc_id, source,
         CASE WHEN coalesce(p.r6, 0) <= 3.3998 THEN 'head'
              WHEN coalesce(p.r6, 0) <= 3.4041 THEN 'middle'
              ELSE 'tail' END AS ppl_bucket
  FROM toks k LEFT JOIN perdoc p ON k.doc_id = p.doc_id
)
SELECT source, ppl_bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM labeled GROUP BY source, ppl_bucket ORDER BY source, ppl_bucket
"""


def _q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance weighting (operators/lm.py:
    importance_weights): target LM fit on the src0 slice (min_count=1),
    corpus LM on everything (min_count=2), per-doc weight
    exp(mean log-likelihood ratio) — one corpus scan feeds both vocab
    joins. Per-source average weight + selected (w > 1) counts, r6
    pre-rounding as in lm_perplexity_docs."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    base = docs.select("doc_id", "source", "text")
    target = lmop.unigram_lm(
        base.filter(F.col("source") == "src0"), "text", min_count=1, alpha=0.5
    )
    corpus = lmop.unigram_lm(base, "text", min_count=2, alpha=0.5)
    w = lmop.importance_weights(base, target, corpus)
    r6 = F.round(F.col("dsir_weight"), 6)
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(r6), 4).alias("avg_weight"),
            F.sum((r6 > 1.0).cast("long")).alias("selected_docs"),
        )
        .orderBy("source")
    )


_O_DSIR_WEIGHTS = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS token FROM toks
), ttok AS (
  SELECT unnest(t) AS token FROM toks WHERE source = 'src0'
), tcnts AS (
  SELECT token, count(*) AS c FROM ttok GROUP BY token
), tconsts AS (
  SELECT sum(c) AS nn, count(*) AS vv FROM tcnts
), tvocab AS (
  SELECT token, ln((c + 0.5) / (nn + 0.5 * (vv + 1))) AS lp
  FROM tcnts, tconsts
), ccnts AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), cconsts AS (
  SELECT sum(c) AS nn,
         sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS vv
  FROM ccnts
), cvocab AS (
  SELECT token, ln((c + 0.5) / (nn + 0.5 * (vv + 1))) AS lp
  FROM ccnts, cconsts WHERE c >= 2
), perdoc AS (
  SELECT d.doc_id,
         exp((sum(coalesce(tv.lp,
                (SELECT ln(0.5 / (nn + 0.5 * (vv + 1))) FROM tconsts)))
            - sum(coalesce(cv.lp,
                (SELECT ln(0.5 / (nn + 0.5 * (vv + 1))) FROM cconsts))))
           / count(*)) AS w
  FROM tok d
  LEFT JOIN tvocab tv ON d.token = tv.token
  LEFT JOIN cvocab cv ON d.token = cv.token
  GROUP BY d.doc_id
), base AS (
  SELECT k.doc_id, source, round(coalesce(p.w, 1.0), 6) AS r6
  FROM toks k LEFT JOIN perdoc p ON k.doc_id = p.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(r6), 4) AS avg_weight,
       CAST(sum(CASE WHEN r6 > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS selected_docs
FROM base GROUP BY source ORDER BY source
"""


def _q_dup_ngram_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring duplication (operators/dedup.py:
    duplicated_ngrams, Lee et al. 2022 re-expressed over token 8-grams):
    per-source totals of duplicated gram positions and the
    interval-union token coverage of duplicated spans, plus the count of
    heavily-duplicated docs (>50% of tokens inside duplicated 8-gram
    spans). All integer aggregates — exact on both engines. The oracle
    re-derives coverage by exploding span positions and counting
    distinct; the Spark side computes the same union with one O(n)
    aggregate HOF over sorted starts — no second explode."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = dd.duplicated_ngrams(
        docs.select("doc_id", "source", "text"), k=8, min_docs=2
    )
    heavy = (
        F.col("covered_tokens") * 1.0 / F.greatest(F.col("n_tokens"), F.lit(1))
    ) > 0.5
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dup_grams").alias("sum_dup_grams"),
            F.sum("covered_tokens").alias("sum_covered"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_grams").alias("sum_grams"),
            F.sum(heavy.cast("long")).alias("heavy_docs"),
        )
        .orderBy("source")
    )


_O_DUP_NGRAM_COVERAGE = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), g AS (
  SELECT doc_id, source, pos, array_to_string(t[pos:pos+7], ' ') AS gram
  FROM (SELECT doc_id, source, t,
               unnest(range(1, len(t) - 6)) AS pos
        FROM toks)
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), dpos AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
), dg AS (
  SELECT doc_id, count(*) AS dup_grams FROM dpos GROUP BY doc_id
), cov AS (
  SELECT doc_id, count(DISTINCT p) AS covered FROM
    (SELECT doc_id, unnest(range(pos, pos + 8)) AS p FROM dpos)
  GROUP BY doc_id
), base AS (
  SELECT k.doc_id, source, len(t) AS nt, greatest(len(t) - 7, 0) AS ng,
         coalesce(dg.dup_grams, 0) AS dupg, coalesce(cov.covered, 0) AS covd
  FROM toks k
  LEFT JOIN dg ON k.doc_id = dg.doc_id
  LEFT JOIN cov ON k.doc_id = cov.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dupg) AS BIGINT) AS sum_dup_grams,
       CAST(sum(covd) AS BIGINT) AS sum_covered,
       CAST(sum(nt) AS BIGINT) AS sum_tokens,
       CAST(sum(ng) AS BIGINT) AS sum_grams,
       CAST(sum(CASE WHEN covd * 1.0 / greatest(nt, 1) > 0.5
                THEN 1 ELSE 0 END) AS BIGINT) AS heavy_docs
FROM base GROUP BY source ORDER BY source
"""


def _q_exactsubstr_clean_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The acting half of the ExactSubstr family (operators/dedup.py:
    remove_duplicated_ngrams): duplicated 8-gram spans removed from every
    doc. Per-source integer aggregates — kept-token totals, modified-doc
    counts, and the total clean-text length as a content checksum (the
    oracle rebuilds each cleaned string independently via zipped unnest +
    anti-join on covered positions + ordered string_agg)."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = dd.remove_duplicated_ngrams(
        docs.select("doc_id", "source", "text"), k=8, min_docs=2
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("kept_tokens").alias("sum_kept"),
            F.sum(
                (F.col("kept_tokens") < F.col("n_tokens")).cast("long")
            ).alias("docs_modified"),
            F.sum(F.length("clean_text").cast("long")).alias("sum_clean_chars"),
        )
        .orderBy("source")
    )


_O_EXACTSUBSTR_CLEAN_DOCS = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), g AS (
  SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM toks)
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), covp AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS p
  FROM (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram))
), toku AS (
  SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS p
  FROM toks
), kept AS (
  SELECT tk.doc_id,
         count(*) AS kept,
         string_agg(tok, ' ' ORDER BY tk.p) AS clean_text
  FROM toku tk LEFT JOIN covp c ON tk.doc_id = c.doc_id AND tk.p = c.p
  WHERE c.p IS NULL GROUP BY tk.doc_id
), base AS (
  SELECT k.doc_id, source, len(t) AS nt,
         coalesce(kp.kept, 0) AS kept,
         coalesce(kp.clean_text, '') AS clean_text
  FROM toks k LEFT JOIN kept kp ON k.doc_id = kp.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS sum_tokens,
       CAST(sum(kept) AS BIGINT) AS sum_kept,
       CAST(sum(CASE WHEN kept < nt THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_modified,
       CAST(sum(length(clean_text)) AS BIGINT) AS sum_clean_chars
FROM base GROUP BY source ORDER BY source
"""


def _q_exactsubstr_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    """The paper-faithful keep-one variant of the ExactSubstr removal
    (remove_duplicated_ngrams(keep_first=True)): each duplicated 8-gram's
    globally-first occurrence (min (doc id, position)) survives, every
    other occurrence is removed. Same per-source integer aggregates and
    content checksum as exactsubstr_clean_docs — the DELTA between the
    two queries is exactly the preserved first copies."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = dd.remove_duplicated_ngrams(
        docs.select("doc_id", "source", "text"), k=8, min_docs=2,
        keep_first=True,
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("kept_tokens").alias("sum_kept"),
            F.sum(
                (F.col("kept_tokens") < F.col("n_tokens")).cast("long")
            ).alias("docs_modified"),
            F.sum(F.length("clean_text").cast("long")).alias("sum_clean_chars"),
        )
        .orderBy("source")
    )


_O_EXACTSUBSTR_KEEP_FIRST = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), g AS (
  SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM toks)
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), ranked AS (
  SELECT g.doc_id, g.pos,
         row_number() OVER (PARTITION BY g.gram
                            ORDER BY g.doc_id, g.pos) AS rn
  FROM g JOIN dup USING (gram)
), covp AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS p
  FROM ranked WHERE rn > 1
), toku AS (
  SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS p
  FROM toks
), kept AS (
  SELECT tk.doc_id,
         count(*) AS kept,
         string_agg(tok, ' ' ORDER BY tk.p) AS clean_text
  FROM toku tk LEFT JOIN covp c ON tk.doc_id = c.doc_id AND tk.p = c.p
  WHERE c.p IS NULL GROUP BY tk.doc_id
), base AS (
  SELECT k.doc_id, source, len(t) AS nt,
         coalesce(kp.kept, 0) AS kept,
         coalesce(kp.clean_text, '') AS clean_text
  FROM toks k LEFT JOIN kept kp ON k.doc_id = kp.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS sum_tokens,
       CAST(sum(kept) AS BIGINT) AS sum_kept,
       CAST(sum(CASE WHEN kept < nt THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_modified,
       CAST(sum(length(clean_text)) AS BIGINT) AS sum_clean_chars
FROM base GROUP BY source ORDER BY source
"""


def _q_fingerprint_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """xxhash64 fingerprint cardinality == normalized-text cardinality
    (collision-free at this scale) — oracles the dedup key itself."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(tx.fingerprint(F.col("text"))).alias("n_distinct_fp"),
    )


_O_FINGERPRINT_DISTINCT = r"""
SELECT count(*) AS n_docs,
       count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_distinct_fp
FROM documents
"""

_DRIFT_LO, _DRIFT_HI, _DRIFT_BINS, _DRIFT_EPS = 900.0, 105000.0, 32, 1e-6


def _q_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """KL/PSI drift between even- and odd-orderkey halves of lineitem —
    per-partition verdicts AND the corpus-wide 'ALL' verdict from ONE
    fully-distributed operator call (divergence as array HOFs per
    partition — the shape 10^5+ Iceberg partitions need). The global row
    is a grouping-sets reaggregation of the per-flag histogram partials
    inside the same aggregation, so each side of the comparison is
    scanned exactly once (operators/drift.partitioned_drift_verdicts
    include_total=True; the r4 predecessor paired a separate driver-side
    drift_verdict for the global row — two more scans for the same
    answer)."""
    li = load_table(spark, sf, "lineitem")
    cur = li.filter(F.col("l_orderkey") % 2 == 0)
    base = li.filter(F.col("l_orderkey") % 2 == 1)
    out = dr.partitioned_drift_verdicts(
        cur, base, "l_extendedprice",
        by="l_returnflag", bins=16, lo=_DRIFT_LO, hi=_DRIFT_HI, eps=1e-6,
        include_total=True,
    )
    return out.select(
        "part_key",
        F.round("kl", 5).alias("kl"), F.round("psi", 5).alias("psi"), "pass",
    ).orderBy("part_key")


def _o_psi_drift() -> str:
    """Mirrors the grouping-sets engine path: each side's histogram CTE
    emits per-flag rows AND the 'ALL' reaggregation level, then one
    generic divergence computation covers every part key incl. ALL."""
    w = (_DRIFT_HI - _DRIFT_LO) / 16
    hist = (
        "SELECT CASE WHEN GROUPING(pk) = 1 THEN 'ALL' ELSE pk END AS part_key, "
        "bucket, count(*) AS n FROM ("
        "  SELECT l_returnflag AS pk, "
        f" least(greatest(CAST(floor((l_extendedprice - {_DRIFT_LO}) / {w}) AS INT), 0), 15) AS bucket"
        "  FROM lineitem "
        "  WHERE l_extendedprice IS NOT NULL AND l_orderkey % 2 = {par}"
        ") GROUP BY GROUPING SETS ((pk, bucket), (bucket))"
    )
    return f"""
WITH cur AS ({hist.format(par=0)}),
bas AS ({hist.format(par=1)}),
parts AS (SELECT part_key FROM cur UNION SELECT part_key FROM bas),
grid AS (SELECT part_key, unnest(range(16)) AS bucket FROM parts),
j AS (SELECT g.part_key, g.bucket,
             coalesce(c.n, 0) AS nc, coalesce(b.n, 0) AS nb
      FROM grid g LEFT JOIN cur c USING (part_key, bucket)
                  LEFT JOIN bas b USING (part_key, bucket)),
t AS (SELECT part_key, sum(nc) AS tc, sum(nb) AS tb FROM j GROUP BY 1),
s AS (SELECT j.part_key,
             greatest(CASE WHEN t.tc > 0 THEN nc * 1.0 / t.tc ELSE 1.0/16 END, 1e-6) AS sp,
             greatest(CASE WHEN t.tb > 0 THEN nb * 1.0 / t.tb ELSE 1.0/16 END, 1e-6) AS sq
      FROM j JOIN t USING (part_key)),
z AS (SELECT part_key, sum(sp) AS zp, sum(sq) AS zq FROM s GROUP BY 1),
n AS (SELECT s.part_key, sp / zp AS p, sq / zq AS q
      FROM s JOIN z USING (part_key))
SELECT n.part_key,
       round(sum(p * ln(p / q)), 5) AS kl,
       round(sum((p - q) * ln(p / q)), 5) AS psi,
       sum((p - q) * ln(p / q)) < 0.2 AS pass
FROM n GROUP BY n.part_key ORDER BY part_key
"""


def _q_categorical_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Categorical KL/PSI drift over event_type proportions between even-
    and odd-event_id halves — no binning; category set = union of observed
    values, eps-smoothed. Distributed part is one groupBy per side."""
    ev = load_table(spark, sf, "events")
    cur = ev.filter(F.col("event_id") % 2 == 0)
    base = ev.filter(F.col("event_id") % 2 == 1)
    rep = dr.categorical_drift_report(cur, base, "event_type", eps=1e-6)
    return spark.createDataFrame(
        [(round(rep.kl, 5), round(rep.psi, 5), bool(rep.ok),
          rep.n_current, rep.n_baseline)],
        "kl double, psi double, pass boolean, n_current long, n_baseline long",
    )


_O_CATEGORICAL_DRIFT = """
WITH cur AS (SELECT event_type AS v, count(*) AS n FROM events
             WHERE event_id % 2 = 0 GROUP BY 1),
bas AS (SELECT event_type AS v, count(*) AS n FROM events
        WHERE event_id % 2 = 1 GROUP BY 1),
cats AS (SELECT v FROM cur UNION SELECT v FROM bas),
ps AS (SELECT c.v, greatest(coalesce(cur.n, 0) * 1.0 / (SELECT sum(n) FROM cur), 1e-6) AS sp
       FROM cats c LEFT JOIN cur ON c.v = cur.v),
qs AS (SELECT c.v, greatest(coalesce(bas.n, 0) * 1.0 / (SELECT sum(n) FROM bas), 1e-6) AS sq
       FROM cats c LEFT JOIN bas ON c.v = bas.v),
pn AS (SELECT v, sp / (SELECT sum(sp) FROM ps) AS p FROM ps),
qn AS (SELECT v, sq / (SELECT sum(sq) FROM qs) AS q FROM qs)
SELECT round(sum(p * ln(p / q)), 5) AS kl,
       round(sum((p - q) * ln(p / q)), 5) AS psi,
       sum((p - q) * ln(p / q)) < 0.2 AS pass,
       (SELECT CAST(sum(n) AS BIGINT) FROM cur) AS n_current,
       (SELECT CAST(sum(n) AS BIGINT) FROM bas) AS n_baseline
FROM pn JOIN qn USING (v)
"""


def _q_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift between even- and odd-
    orderkey halves of lineitem l_extendedprice — the binning-free
    complement to psi_drift (detects shifts smaller than any bin width;
    no lo/hi/bins/eps config). Engine shape: one labeled-union hash agg
    to distinct-value scale, then the SAME two-level distributed prefix
    sum packing.cumulative_tokens uses (per-pid totals collected — O(P)
    rows — exclusive prefixes broadcast back, within-pid window cumsum),
    never a single-partition global window; max |ΔCDF| reduces to one
    row (operators/drift.ks_drift)."""
    li = load_table(spark, sf, "lineitem")
    cur = li.filter(F.col("l_orderkey") % 2 == 0)
    base = li.filter(F.col("l_orderkey") % 2 == 1)
    out = dr.ks_drift(cur, base, "l_extendedprice", ks_threshold=0.05)
    return out.select(
        F.round("ks", 6).alias("ks"), "n_current", "n_baseline", "pass"
    )


_O_KS_DRIFT = """
WITH m AS (
  SELECT l_extendedprice AS v,
         sum(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS nc,
         sum(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS nb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
),
t AS (SELECT sum(nc) AS tc, sum(nb) AS tb FROM m),
s AS (SELECT sum(nc) OVER (ORDER BY v) AS cc,
             sum(nb) OVER (ORDER BY v) AS cb
      FROM m)
SELECT round(max(abs(cc * 1.0 / t.tc - cb * 1.0 / t.tb)), 6) AS ks,
       CAST(t.tc AS BIGINT) AS n_current,
       CAST(t.tb AS BIGINT) AS n_baseline,
       max(abs(cc * 1.0 / t.tc - cb * 1.0 / t.tb)) < 0.05 AS pass
FROM s, t GROUP BY t.tc, t.tb
"""


def _q_emd_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Wasserstein-1 (earth mover's) drift between even-
    and odd-orderkey halves of lineitem l_extendedprice — completes the
    drift family (binned KL/PSI = layout-dependent divergence, KS = the
    largest single CDF gap, W1 = the integrated gap, i.e. how FAR mass
    moved). Same distributed shape as ks_drift plus a within-pid lead
    for the value gaps, pid-boundary successors riding the scaffold's
    O(P) driver rows (operators/drift.emd_drift)."""
    li = load_table(spark, sf, "lineitem")
    cur = li.filter(F.col("l_orderkey") % 2 == 0)
    base = li.filter(F.col("l_orderkey") % 2 == 1)
    out = dr.emd_drift(cur, base, "l_extendedprice", emd_threshold=0.01)
    return out.select(
        F.round("w1", 4).alias("w1"),
        F.round("w1_norm", 6).alias("w1_norm"),
        "n_current", "n_baseline", "pass",
    )


_O_EMD_DRIFT = """
WITH m AS (
  SELECT l_extendedprice AS v,
         sum(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS nc,
         sum(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS nb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
),
t AS (SELECT sum(nc) AS tc, sum(nb) AS tb,
             max(v) - min(v) AS span FROM m),
s AS (SELECT v, lead(v) OVER (ORDER BY v) AS vn,
             sum(nc) OVER (ORDER BY v) AS cc,
             sum(nb) OVER (ORDER BY v) AS cb
      FROM m),
w AS (SELECT sum(coalesce(vn - v, 0)
                 * abs(cc * 1.0 / t.tc - cb * 1.0 / t.tb)) AS w1,
             t.tc AS tc, t.tb AS tb, t.span AS span
      FROM s, t GROUP BY t.tc, t.tb, t.span)
SELECT round(w1, 4) AS w1,
       round(w1 / span, 6) AS w1_norm,
       CAST(tc AS BIGINT) AS n_current,
       CAST(tb AS BIGINT) AS n_baseline,
       w1 / span < 0.01 AS pass
FROM w
"""


def _q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 5-shingle Jaccard on planted (doc, next-doc) pairs — oracles
    the pair-metric used to verify MinHash-LSH candidates."""
    docs = load_table(spark, sf, "documents")
    pairs = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    out = dd.ngram_jaccard(pairs, docs, k=5)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 5).alias("jaccard")
    ).orderBy("id_a")


_O_NGRAM_JACCARD_PAIRS = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(text) - 4, 0) + 1),
           i -> substr(lower(text), CAST(i AS INT), 5))) AS s
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s)) * 1.0
             / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 5) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 100 = 0 ORDER BY id_a
"""


def _q_embedding_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed cosine near-dup pairs over planted exact-duplicate
    vectors (max natural pair cosine in the data is ~0.6, so the planted
    clones are exactly the expected output)."""
    emb = load_table(spark, sf, "embeddings")
    clones = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    both = emb.unionAll(clones)
    pairs = sim.embedding_near_duplicates(both, threshold=0.99, bits=12)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 3).alias("cos_sim")
    ).orderBy("id_a", "id_b")


_O_EMBEDDING_NEAR_DUPS = """
SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS cos_sim
FROM embeddings WHERE vec_id % 50 = 0 ORDER BY id_a, id_b
"""


def _q_semantic_dedup_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (operators/similarity.py:semantic_dedup) over the
    embeddings table + planted clones. The gate runs k_cells=1 — a single
    cell makes the keep-lowest-id policy brute-force re-derivable in SQL
    (DuckDB list_cosine_similarity NOT EXISTS); the threshold 0.99 sits
    far from every real pair's cosine (clones ≈ 1.0, max natural pair
    ≈ 0.6), so engine float-ulp differences cannot flip a decision. The
    clustered path (k_cells>1: IVF assignment bounding the pairwise
    term) is pinned in tests/test_pipeline_ops.py::test_semantic_dedup."""
    emb = load_table(spark, sf, "embeddings")
    clones = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    both = emb.unionAll(clones)
    kept = sim.semantic_dedup(both, threshold=0.99, k_cells=1)
    return kept.select("vec_id").orderBy("vec_id")


_O_SEMANTIC_DEDUP_EMBEDDINGS = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 50 = 0
)
SELECT c.vec_id FROM corpus c
WHERE NOT EXISTS (
  SELECT 1 FROM corpus o
  WHERE o.vec_id < c.vec_id
    AND list_cosine_similarity(o.embedding, c.embedding) >= 0.99
)
ORDER BY vec_id
"""


def _q_vector_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-column validation (training-data op): dimension
    consistency, NaN/null contamination, L2-norm stats — one fused JVM-side
    agg (size/exists/aggregate HOFs). Corruption is planted
    deterministically so every counter is exercised."""
    emb = load_table(spark, sf, "embeddings")
    vid = F.col("vec_id")
    v = F.col("embedding")
    corrupted = emb.select(
        vid,
        F.when(vid % 101 == 0, F.lit(None).cast("array<float>"))
        .when(vid % 103 == 0, F.slice(v, 1, 8))
        .when(
            vid % 107 == 0,
            F.concat(F.slice(v, 1, 63), F.array(F.lit(float("nan")).cast("float"))),
        )
        .otherwise(v)
        .alias("embedding"),
    )
    out = sim.vector_stats(corrupted, "embedding", expected_dim=64)
    return out.select(
        "n_rows", "n_null_vec", "n_dim_mismatch", "n_with_nan",
        F.round("norm_min", 4).alias("norm_min"),
        F.round("norm_max", 4).alias("norm_max"),
        F.round("norm_mean", 4).alias("norm_mean"),
        "expected_dim",
    )


_O_VECTOR_STATS = """
WITH c AS (
  SELECT CASE WHEN vec_id % 101 = 0 THEN NULL
              WHEN vec_id % 103 = 0 THEN embedding[1:8]
              WHEN vec_id % 107 = 0 THEN list_concat(embedding[1:63], ['NaN'::FLOAT])
              ELSE embedding END AS v
  FROM embeddings
), n AS (
  SELECT v,
         CASE WHEN v IS NOT NULL
                   AND len(list_filter(v, x -> x IS NULL OR isnan(x))) = 0
              THEN sqrt(list_sum(list_transform(v, x -> x * x))) END AS nr
  FROM c
)
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_vec,
       CAST(sum(CASE WHEN v IS NOT NULL AND len(v) != 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_mismatch,
       CAST(sum(CASE WHEN v IS NOT NULL
                 AND len(list_filter(v, x -> x IS NULL OR isnan(x))) > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_with_nan,
       round(min(nr), 4) AS norm_min,
       round(max(nr), 4) AS norm_max,
       round(avg(nr), 4) AS norm_mean,
       64 AS expected_dim
FROM n
"""


def _q_stats_events_by_type(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    out = st.column_stats(
        ev, ["value"], by="event_type", quantiles=None, approx_distinct=False
    )
    return out.select(
        "event_type",
        "column",
        "n_rows",
        "n_null",
        F.round("null_rate", 6).alias("null_rate"),
        F.round(F.col("min").cast("double"), 4).alias("min_v"),
        F.round(F.col("max").cast("double"), 4).alias("max_v"),
        F.round("mean", 4).alias("mean_v"),
    ).orderBy("event_type")


_O_STATS_EVENTS_BY_TYPE = """
SELECT event_type, 'value' AS "column", count(*) AS n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       round(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS null_rate,
       round(min(value), 4) AS min_v, round(max(value), 4) AS max_v,
       round(avg(value), 4) AS mean_v
FROM events GROUP BY event_type ORDER BY event_type
"""


def _q_table_checks_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Spec-declared table checks end-to-end: the lineitem spec's x-ref /
    x-drift / x-stats extensions compile into the plan and execute through
    table_checks.run_table_checks — unified (check, kind, n_rows, n_bad,
    pass) verdicts, DuckDB-oracled."""
    import json as _json

    from json_to_avro_schema_spark.table_checks import run_table_checks

    spec_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "json_to_avro_schema_spark", "plans", "lineitem_checks.json",
    )
    with open(spec_path, "r", encoding="utf-8") as f:
        plan = compile_document(_json.load(f))
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    baseline = li.filter(F.col("l_orderkey") % 2 == 1)
    return run_table_checks(
        spark, li, plan,
        ref_tables={"orders": orders},
        drift_baselines={"price_drift": baseline},
    ).orderBy("check_name")


def _o_table_checks_lineitem() -> str:
    # drift baseline = odd-orderkey half, current = full table; PSI math
    # mirrors operators/drift.py (same smoothing + normalization)
    w = (105000.0 - 900.0) / 32
    hist = (
        "SELECT least(greatest(CAST(floor((l_extendedprice - 900.0) / {w}) AS INT), 0), 31) AS bucket, "
        "count(*) AS n FROM lineitem WHERE l_extendedprice IS NOT NULL {where} GROUP BY 1"
    )
    return f"""
WITH cur AS ({hist.format(w=w, where="")}),
bas AS ({hist.format(w=w, where="AND l_orderkey % 2 = 1")}),
b AS (SELECT unnest(range(32)) AS bucket),
ps AS (SELECT b.bucket, greatest(coalesce(c.n, 0) * 1.0 / (SELECT sum(n) FROM cur), 1e-6) AS sp
       FROM b LEFT JOIN cur c ON b.bucket = c.bucket),
qs AS (SELECT b.bucket, greatest(coalesce(c.n, 0) * 1.0 / (SELECT sum(n) FROM bas), 1e-6) AS sq
       FROM b LEFT JOIN bas c ON b.bucket = c.bucket),
psi AS (SELECT sum((p.sp / (SELECT sum(sp) FROM ps) - q.sq / (SELECT sum(sq) FROM qs))
               * ln((p.sp / (SELECT sum(sp) FROM ps)) / (q.sq / (SELECT sum(sq) FROM qs)))) AS v
        FROM ps p JOIN qs q ON p.bucket = q.bucket)
SELECT 'lineitem_orders_fk' AS check_name, 'ref' AS kind,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                 AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       sum(CASE WHEN l_orderkey IS NOT NULL
                 AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
            THEN 1 ELSE 0 END) = 0 AS pass
FROM lineitem
UNION ALL
SELECT 'price_drift', 'drift', (SELECT CAST(sum(n) AS BIGINT) FROM cur),
       CAST(CASE WHEN (SELECT v FROM psi) < 0.2 THEN 0 ELSE 1 END AS BIGINT),
       (SELECT v FROM psi) < 0.2
UNION ALL
SELECT 'stats_' || c, 'stats', (SELECT count(*) FROM lineitem),
       (SELECT CAST(sum(CASE WHEN (CASE c WHEN 'l_quantity' THEN l_quantity
                               WHEN 'l_extendedprice' THEN l_extendedprice
                               ELSE l_discount END) IS NULL THEN 1 ELSE 0 END)
        AS BIGINT) FROM lineitem),
       TRUE
FROM (SELECT unnest(['l_quantity', 'l_extendedprice', 'l_discount']) AS c)
ORDER BY check_name
"""


def _q_format_json_checks(spark: SparkSession, sf: str) -> DataFrame:
    """`format` keyword registry (ipv4/email regexes) + JSON scalar path
    (get_json_object over events.props) through the real spec compiler:
    derived columns with deterministic pass/fail mixes, validated by
    compile_document → run_validation, whole-table verdicts."""
    ev = load_table(spark, sf, "events")
    uid = F.col("user_id")
    derived = ev.select(
        "event_id",
        F.concat(F.lit("10.0.0."), (uid % 300).cast("string")).alias("ip"),
        F.when(
            uid % 7 == 0,
            F.concat(F.lit("u"), uid.cast("string"), F.lit("example.com")),
        ).otherwise(
            F.concat(F.lit("u"), uid.cast("string"), F.lit("@ex.com"))
        ).alias("email"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    spec = {
        "$id": "https://example.com/events_derived",
        "type": "object",
        "required": ["event_id", "ip", "email", "k"],
        "properties": {
            "event_id": {"type": "integer"},
            "ip": {"type": "string", "format": "ipv4"},
            "email": {"type": "string", "format": "email"},
            "k": {"type": "integer", "minimum": 0, "maximum": 50},
        },
    }
    plan = compile_document(spec)
    res = run_validation(spark, derived, plan)
    return res.verdicts.select(
        "check_name", "n_rows", "n_fail", "pass"
    ).orderBy("check_name")


_O_FORMAT_JSON_CHECKS = r"""
WITH d AS (
  SELECT event_id,
         '10.0.0.' || CAST(user_id % 300 AS VARCHAR) AS ip,
         CASE WHEN user_id % 7 = 0
              THEN 'u' || CAST(user_id AS VARCHAR) || 'example.com'
              ELSE 'u' || CAST(user_id AS VARCHAR) || '@ex.com' END AS email,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
), f AS (
  SELECT 'email__conforms' AS check_name,
         sum(CASE WHEN NOT regexp_matches(email, '^[^@\s]+@[^@\s]+\.[^@\s]+$')
              THEN 1 ELSE 0 END) AS n_fail FROM d
  UNION ALL
  SELECT 'email__required', sum(CASE WHEN email IS NULL THEN 1 ELSE 0 END) FROM d
  UNION ALL
  SELECT 'event_id__conforms', sum(0) FROM d
  UNION ALL
  SELECT 'event_id__required', sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) FROM d
  UNION ALL
  SELECT 'ip__conforms',
         sum(CASE WHEN NOT regexp_matches(ip,
              '^((25[0-5]|2[0-4]\d|[01]?\d?\d)\.){3}(25[0-5]|2[0-4]\d|[01]?\d?\d)$')
              THEN 1 ELSE 0 END) FROM d
  UNION ALL
  SELECT 'ip__required', sum(CASE WHEN ip IS NULL THEN 1 ELSE 0 END) FROM d
  UNION ALL
  SELECT 'k__conforms',
         sum(CASE WHEN k IS NOT NULL AND NOT (k >= 0 AND k <= 50)
              THEN 1 ELSE 0 END) FROM d
  UNION ALL
  SELECT 'k__required', sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) FROM d
)
SELECT check_name, (SELECT count(*) FROM d) AS n_rows,
       CAST(n_fail AS BIGINT) AS n_fail, n_fail = 0 AS pass
FROM f ORDER BY check_name
"""


def _q_grouping_verdicts(spark: SparkSession, sf: str) -> DataFrame:
    """Verdict roll-ups over BOTH grouping shapes in one labeled union:
    hierarchical rollup (returnflag → linestatus → grand total) and the
    full 2^2 cube, same two range checks, each a single fused
    aggregation pass; gid = grouping_id disambiguates subtotal rows."""
    li = load_table(spark, sf, "lineitem")
    checks = {
        "discount_bound": (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.08),
        "tax_bound": F.col("l_tax") <= 0.05,
    }
    r = st.verdict_rollup(
        li, ["l_returnflag", "l_linestatus"], checks
    ).withColumn("mode", F.lit("rollup"))
    c = st.verdict_rollup(
        li, ["l_returnflag", "l_linestatus"], checks, cube=True
    ).withColumn("mode", F.lit("cube"))
    return r.unionByName(c).orderBy(
        "mode", "gid", "l_returnflag", "l_linestatus"
    )


def _o_grouping_verdicts() -> str:
    body = """
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag, l_linestatus) AS gid,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.08 THEN 0 ELSE 1 END)
         AS BIGINT) AS n_fail_discount_bound,
       CAST(sum(CASE WHEN l_tax <= 0.05 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_tax_bound,
       (sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.08 THEN 0 ELSE 1 END) = 0
        AND sum(CASE WHEN l_tax <= 0.05 THEN 0 ELSE 1 END) = 0) AS pass,
       '{mode}' AS mode
FROM lineitem
GROUP BY {clause} (l_returnflag, l_linestatus)
"""
    return (
        body.format(mode="rollup", clause="ROLLUP")
        + "UNION ALL"
        + body.format(mode="cube", clause="CUBE")
        + "ORDER BY mode, gid, l_returnflag, l_linestatus"
    )


def _q_topk_price_by_flag(spark: SparkSession, sf: str) -> DataFrame:
    """Per-partition top-K sampling (SURVEY.md §2.3 'Window functions') via
    operators/topk.grouped_topk. Skew safety is Catalyst's rank-limit
    pushdown: the executed plan carries a Partial WindowGroupLimit BELOW
    the exchange, so each map task pre-prunes to its local top-K per flag
    and the 3 post-shuffle flag groups see O(tasks × K) rows, not the whole
    table (plan pinned in tests/test_topk.py; measured faster than a manual
    salted two-phase in BENCH/BASELINE.md, so the engine salts nowhere)."""
    from json_to_avro_schema_spark.operators.topk import grouped_topk

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return grouped_topk(
        li,
        ["l_returnflag"],
        [
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        5,
    ).orderBy("l_returnflag", "rk")


_O_TOPK_PRICE_BY_FLAG = """
SELECT * FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem
) WHERE rk <= 5 ORDER BY l_returnflag, rk
"""


def _q_verdict_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Set-op spec-diff surface (SURVEY.md §2.3): keys failing the discount
    bound but passing the tax bound = except(all_fail, tax_fail)."""
    li = load_table(spark, sf, "lineitem")
    disc_viol = li.filter(
        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.08)
    ).select("l_orderkey", "l_linenumber")
    tax_viol = li.filter(F.col("l_tax") > 0.05).select("l_orderkey", "l_linenumber")
    only_disc = disc_viol.exceptAll(tax_viol)
    both = disc_viol.intersect(tax_viol)
    return only_disc.agg(F.count(F.lit(1)).alias("n_only_disc")).crossJoin(
        both.agg(F.count(F.lit(1)).alias("n_both"))
    )


_O_VERDICT_SET_OPS = """
WITH disc AS (SELECT l_orderkey, l_linenumber FROM lineitem
              WHERE l_discount < 0 OR l_discount > 0.08),
tax AS (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_tax > 0.05)
SELECT (SELECT count(*) FROM (SELECT * FROM disc EXCEPT ALL SELECT * FROM tax)) AS n_only_disc,
       (SELECT count(*) FROM (SELECT DISTINCT * FROM disc INTERSECT SELECT DISTINCT * FROM tax)) AS n_both
"""


# ------------------------- engine-native paths ---------------------------

def _q_span_ri_dangling(spark: SparkSession, sf: str) -> DataFrame:
    """Referential integrity over exploded media spans: the assets table
    is the derived ref set MINUS every 15th doc's asset, so the dangling
    count is pure arithmetic for the oracle. Broadcast anti-join shape
    (operators/referential.py)."""
    docs = load_table(spark, sf, "documents")
    d = spans_from_documents(docs)
    refs = ri.exploded_span_refs(d)
    assets = (
        docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 15 != 0))
        .select(
            F.concat(
                F.lit("m-"),
                F.lpad((F.col("doc_id") % 100_000_000).cast("string"), 8, "0"),
            ).alias("media_ref")
        )
    )
    return ri.ri_verdict(refs, assets, ["media_ref"]).select(
        "n_rows", "n_dangling", "pass"
    )


_O_SPAN_RI_DANGLING = """
SELECT CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id % 15 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dangling,
       (sum(CASE WHEN doc_id % 15 = 0 THEN 1 ELSE 0 END) = 0) AS pass
FROM documents
"""


def _q_tdigest_price(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable t-digest quantile sketch vs the exact quantiles — the
    oracle pins the exact values AND that each t-digest estimate lands
    within 1% relative error (the approx_unique_lineitem pattern: the
    tolerance check runs Spark-side, the oracle asserts it must hold)."""
    li = load_table(spark, sf, "lineitem")
    est = tdigest_quantiles(li, "l_extendedprice", [0.1, 0.5, 0.9])
    exact = li.selectExpr(
        "percentile(l_extendedprice, array(0.1, 0.5, 0.9)) AS q"
    ).first()["q"]
    ok = [abs(e - x) <= 0.01 * abs(x) for e, x in zip(est, exact)]
    return spark.createDataFrame(
        [(
            round(exact[0], 3), round(exact[1], 3), round(exact[2], 3),
            bool(ok[0]), bool(ok[1]), bool(ok[2]),
        )],
        "q10 double, q50 double, q90 double, "
        "td10_within_1pct boolean, td50_within_1pct boolean, "
        "td90_within_1pct boolean",
    )


_O_TDIGEST_PRICE = """
SELECT round(quantile_cont(l_extendedprice, 0.1), 3) AS q10,
       round(quantile_cont(l_extendedprice, 0.5), 3) AS q50,
       round(quantile_cont(l_extendedprice, 0.9), 3) AS q90,
       TRUE AS td10_within_1pct,
       TRUE AS td50_within_1pct,
       TRUE AS td90_within_1pct
FROM lineitem
"""


def _q_lsh_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH buckets; run at full probe
    radius (probe_hamming = bits ⇒ every bucket scanned ⇒ ≡ brute force),
    which makes the exact-top-k DuckDB oracle apply — the same pattern as
    ivf_topk_cosine. Recall at partial probe radius is pinned in
    tests/test_pipeline_ops.py::test_lsh_topk_recall."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = sim.lsh_topk(emb, list(q), k=10, bits=6, probe_hamming=6)
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


def _q_ivf_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN top-k (deterministic k-means coarse quantizer trained on a
    bounded sample, nprobe nearest cells scanned; full probe here ⇒ equals
    brute force, so the exact-top-k DuckDB oracle applies)."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cents = sim.ivf_train_centroids(emb, k=8, iters=2)
    out = sim.ivf_topk(emb, list(q), cents, k=10, nprobe=8)
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


def _q_ivf_indexed_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """IVF over CELL-PARTITIONED storage (ivf_write_index →
    partitionBy(__cell) parquet; search reads only the probed cell
    directories via partition pruning — the 100-TB layout). Full probe here
    ⇒ every cell read ⇒ ≡ brute force, so the exact-top-k oracle applies;
    the pruning itself is pinned in
    tests/test_pipeline_ops.py::test_ivf_indexed_prunes_partitions."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cents = sim.ivf_train_centroids(emb, k=8, iters=2)

    def build(scratch: str) -> DataFrame:
        path = os.path.join(scratch, "index")
        sim.ivf_write_index(emb, path, cents)
        out = sim.ivf_topk_indexed(spark, path, list(q), cents, k=10, nprobe=8)
        return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))

    return _in_scratch(spark, build)


def _q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Media plumbing end-to-end: binary payloads + typed metadata through
    the mapInPandas decode/feature-extract path (deterministic fake codec —
    see operators/multimodal.py). The media table here is derived with
    plain arithmetic so a DuckDB oracle re-derives every plumbing fact:
    media_type routing, frame-sampling counts, decode status, feature
    dimensionality, and the encoder's unit-norm invariant. (Exact feature
    bytes are pinned by pytest; they depend on float32 sha256 expansion,
    which no SQL engine reproduces.)"""
    from json_to_avro_schema_spark.operators import multimodal as mm

    i = F.col("id")
    media = spark.range(2000).select(
        F.format_string("m-%08d", i.cast("int")).alias("media_ref"),
        F.encode(F.format_string("p-%d", i), "utf-8").alias("payload"),
        F.struct(
            F.when(i % 3 == 0, "image").when(i % 3 == 1, "audio")
            .otherwise("video").alias("media_type"),
            F.lit("png").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(16).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    feats = mm.extract_features(media, frames_per_video=4)
    l2 = F.sqrt(F.aggregate(
        F.transform("feature", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x,
    ))
    return feats.select(
        "media_ref",
        "media_type",
        "frames_sampled",
        "decode_ok",
        F.size("feature").alias("feat_dim"),
        # frame-mean of unit vectors isn't unit itself, but a single frame's
        # is; videos average 4 unit vectors so their norm is ≤ 1 and > 0
        ((l2 > 0.0) & (l2 < 1.0001)).alias("norm_ok"),
    ).orderBy("media_ref")


_O_MULTIMODAL_FEATURES = """
SELECT printf('m-%08d', range) AS media_ref,
       CASE WHEN range % 3 = 0 THEN 'image'
            WHEN range % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(CASE WHEN range % 3 = 2 THEN 4 ELSE 1 END AS INT) AS frames_sampled,
       TRUE AS decode_ok,
       16 AS feat_dim,
       TRUE AS norm_ok
FROM range(2000) ORDER BY media_ref
"""


def _q_resize_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only image resize planning (no decode): aspect-preserving
    target dims capped at 512px, full scan speed. The media metadata here
    is derived with plain integer arithmetic (not xxhash64) so a DuckDB
    oracle can re-derive the identical table and check the resize math."""
    from json_to_avro_schema_spark.operators import multimodal as mm

    i = F.col("id")
    media = spark.range(2000).select(
        F.format_string("m-%08d", i.cast("int")).alias("media_ref"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.when(i % 3 == 0, "image").when(i % 3 == 1, "audio")
            .otherwise("video").alias("media_type"),
            F.lit("png").alias("format"),
            ((i * 2654435761) % 1920 + 1).cast("int").alias("width"),
            ((i * 40503) % 1080 + 1).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return mm.resize_plan(media, max_px=512).orderBy("media_ref")


_O_RESIZE_PLAN = """
WITH m AS (
  SELECT printf('m-%08d', range) AS media_ref,
         CAST((range * 2654435761) % 1920 + 1 AS INT) AS width,
         CAST((range * 40503) % 1080 + 1 AS INT) AS height
  FROM range(2000) WHERE range % 3 = 0
), s AS (
  SELECT *, least(512.0 / greatest(width, 1),
                  512.0 / greatest(height, 1), 1.0) AS scale
  FROM m
)
SELECT media_ref, width, height,
       CAST(floor(width * scale + 0.5) AS INT) AS target_width,
       CAST(floor(height * scale + 0.5) AS INT) AS target_height,
       scale < 1.0 AS needs_resize
FROM s ORDER BY media_ref
"""


def _q_checkpoint_resume(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-granular resume WITH persisted sketch state: run validation
    over half the partitions, 'crash', re-run the whole table with the same
    run_id — the second run must skip every completed partition (anti-join
    against the state table) and process only the remainder. Each state row
    also carries the partition's t-digest sketch of the span count
    (``sketch_col``); ``sketch_ok`` asserts the digest merged from the
    crash+resume state rows is IDENTICAL (quantiles at q25/50/75/99) to one
    built directly in a single shot — no completed partition was
    re-sketched, none was lost."""
    from json_to_avro_schema_spark.checkpoint import (
        CheckpointStore,
        merged_state_digest,
        run_with_checkpoint,
    )
    from json_to_avro_schema_spark.operators.tdigest import TDigest
    from json_to_avro_schema_spark.sources.derived_spans import (
        spans_from_documents,
        with_part_key,
    )

    plan = compile_document(_DERIVED_SPANS_SPEC)
    docs = load_table(spark, sf, "documents")
    # part_key is "00".."15" (doc_id % 16), zero-padded so lexicographic
    # < "08" is numeric < 8 — the processed/resumed counts are modulo
    # arithmetic over documents, hence SQL-derivable
    df = with_part_key(
        spans_from_documents(
            docs, corrupt_every=9, bad_ref_every=21, null_spans_every=11
        ),
        n_parts=16,
    ).withColumn(
        "n_spans", F.coalesce(F.size("spans"), F.lit(0)).cast("double")
    )
    def build(scratch: str) -> DataFrame:
        store = CheckpointStore(os.path.join(scratch, "state"))
        out_dir = os.path.join(scratch, "out")
        first = run_with_checkpoint(
            spark, df.filter(F.col("part_key") < "08"), plan, store,
            "run-1", out_dir, sketch_col="n_spans",
        )
        second = run_with_checkpoint(
            spark, df, plan, store, "run-1", out_dir, sketch_col="n_spans"
        )
        third = run_with_checkpoint(
            spark, df, plan, store, "run-1", out_dir, sketch_col="n_spans"
        )
        verdict_parts = (
            spark.read.parquet(os.path.join(out_dir, "verdicts"))
            .select("part_key").distinct().count()
        )
        n_parts = df.select("part_key").distinct().count()
        state = store.read_state(spark).filter(F.col("state_json").isNotNull())
        state_rows = state.count()
        # single-shot twin: per-part digests built directly, merged in the
        # same sorted-key order — must equal the crash+resume state merge
        from json_to_avro_schema_spark.operators.tdigest import keyed_digests

        resumed = merged_state_digest(spark, store, "run-1", plan.spec_hash)
        direct = TDigest.empty()
        for r in sorted(
            keyed_digests(df, "n_spans", "part_key").collect(),
            key=lambda r: r["part_key"],
        ):
            direct = direct.merge(TDigest.from_json(r["state_json"]))
        sketch_ok = all(
            resumed.quantile(q) == direct.quantile(q)
            for q in (0.25, 0.5, 0.75, 0.99)
        ) and resumed.n == direct.n
        return spark.createDataFrame(
            [(
                n_parts,
                first.n_partitions_processed,
                second.n_partitions_resumed,
                second.n_partitions_processed,
                third.n_partitions_resumed,
                verdict_parts,
                state_rows,
                bool(sketch_ok),
            )],
            "n_parts long, first_processed long, second_resumed long, "
            "second_processed long, third_resumed long, verdict_parts long, "
            "state_rows long, sketch_ok boolean",
        )

    return _in_scratch(spark, build)


_O_CHECKPOINT_RESUME = """
WITH p AS (SELECT DISTINCT doc_id % 16 AS pk FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN pk < 8 THEN 1 ELSE 0 END) AS BIGINT) AS first_processed,
       CAST(sum(CASE WHEN pk < 8 THEN 1 ELSE 0 END) AS BIGINT) AS second_resumed,
       CAST(sum(CASE WHEN pk >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS second_processed,
       CAST(count(*) AS BIGINT) AS third_resumed,
       CAST(count(*) AS BIGINT) AS verdict_parts,
       CAST(count(*) AS BIGINT) AS state_rows,
       TRUE AS sketch_ok
FROM p
"""


_STREAM_EVENTS_SPEC = {
    "$id": "https://example.com/events_stream",
    "type": "object",
    "required": ["event_id", "user_id", "event_type", "value"],
    "properties": {
        "event_id": {"type": "integer"},
        "user_id": {"type": "integer", "minimum": 0, "maximum": 99},
        "event_type": {
            "type": "string",
            "enum": ["click", "purchase", "signup", "view"],  # 'error' fails
        },
        "value": {"type": "number", "maximum": 300},
    },
}


def _q_streaming_validation(spark: SparkSession, sf: str) -> DataFrame:
    """Structured-Streaming path end-to-end over the REAL events table:
    file stream → foreachBatch sinks (availableNow) → verdicts read back
    and summed per check. Because the input is the driver's events parquet
    and the checks are plain column predicates, the whole-table totals are
    SQL-derivable — the stream≡batch invariant is additionally pinned in
    tests/test_streaming.py."""
    from json_to_avro_schema_spark.streaming.validate_stream import stream_to_sinks

    plan = compile_document(_STREAM_EVENTS_SPEC)
    events = load_table(spark, sf, "events")

    def build(scratch: str) -> DataFrame:
        verdicts = os.path.join(scratch, "verdicts")
        drain(stream_to_sinks(
            _ordered_feed(spark, scratch, [events]), plan,
            checkpoint_location=os.path.join(scratch, "ckpt"),
            verdicts_path=verdicts,
        ), 120)
        return (
            spark.read.parquet(verdicts)
            .groupBy("check_name")
            .agg(F.sum("n_rows").alias("n_rows"), F.sum("n_fail").alias("n_fail"))
            .withColumn("pass", F.col("n_fail") == 0)
            .orderBy("check_name")
        )

    return _in_scratch(spark, build)


_O_STREAMING_VALIDATION = """
WITH f AS (
  SELECT 'event_id__conforms' AS check_name, CAST(sum(0) AS BIGINT) AS n_fail
  FROM events
  UNION ALL
  SELECT 'event_id__required',
         CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'event_type__conforms',
         CAST(sum(CASE WHEN event_type IS NOT NULL
                        AND event_type NOT IN ('click','purchase','signup','view')
                   THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'event_type__required',
         CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'user_id__conforms',
         CAST(sum(CASE WHEN user_id IS NOT NULL
                        AND NOT (user_id >= 0 AND user_id <= 99)
                   THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'user_id__required',
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'value__conforms',
         CAST(sum(CASE WHEN value IS NOT NULL AND NOT (value <= 300)
                   THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'value__required',
         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
)
SELECT check_name, (SELECT count(*) FROM events) AS n_rows,
       n_fail, n_fail = 0 AS pass
FROM f ORDER BY check_name
"""


def _q_near_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-duplicate clusters: MinHash-LSH pairs (exact-Jaccard
    verified, ≥0.9) → connected components via iterative min-label
    propagation → (id, cluster_rep). Oracle = recursive-CTE transitive
    closure over the same brute-force pair set."""
    docs = load_table(spark, sf, "documents")
    dup = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    both = docs.unionAll(dup)
    pairs = dd.minhash_near_duplicates(both, threshold=0.9)
    return dd.cluster_pairs(pairs).orderBy("id")


_O_NEAR_DUP_CLUSTERS = """
WITH RECURSIVE
unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0
), sh AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(length(text) - 4, 0) + 1),
    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
  FROM unioned WHERE length(text) >= 20
), p AS MATERIALIZED (
  -- length-ratio prefilter: exact for j >= 0.9 (see _O_MINHASH_NEAR_DUPS);
  -- MATERIALIZED hints stop DuckDB re-evaluating the O(n^2) pair join
  -- inside the recursion (oracle 84s -> 6s, same 57 rows)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
   AND len(a.s) * 10 >= len(b.s) * 9 AND len(b.s) * 10 >= len(a.s) * 9
  WHERE len(list_intersect(a.s, b.s)) * 1.0
          / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) >= 0.9
), e AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p
), nodes AS (SELECT DISTINCT a AS id FROM e),
reach AS (
  SELECT id AS src, id AS dst FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
)
SELECT src AS id, min(dst) AS cluster_rep FROM reach GROUP BY src ORDER BY id
"""


def _q_streaming_windowed_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked event-time windowed metrics over a STREAMED read of the
    events table (append mode): hourly tumbling windows per event_type,
    10-minute watermark. availableNow's final flush closes every window
    whose end ≤ max(ts) − 10min, so the emitted set is exactly SQL-derivable
    — the one window still inside the watermark horizon must be absent."""
    from json_to_avro_schema_spark.streaming.stateful import windowed_metrics

    events = load_table(spark, sf, "events")

    def build(scratch: str) -> DataFrame:
        stream = _ordered_feed(spark, scratch, [events]).withColumn(
            # watermarks require TIMESTAMP_LTZ; session tz is pinned UTC so
            # the NTZ→LTZ cast preserves wall-clock values
            "ts", F.col("ts").cast("timestamp")
        )
        out = windowed_metrics(
            stream, ts_col="ts", window_duration="1 hour",
            watermark_delay="10 minutes", group_col="event_type",
            value_col="value",
        )
        path = os.path.join(scratch, "out")
        drain(start_available_now(out, os.path.join(scratch, "ckpt"), path), 180)
        return (
            spark.read.parquet(path)
            .select(
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
                "event_type",
                "n_rows",
                "n_null",
                F.round("min_v", 4).alias("min_v"),
                F.round("max_v", 4).alias("max_v"),
                F.round("mean_v", 4).alias("mean_v"),
            )
            .orderBy("window_start", "event_type")
        )

    return _in_scratch(spark, build)


_O_STREAMING_WINDOWED_METRICS = """
WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       round(min(value), 4) AS min_v,
       round(max(value), 4) AS max_v,
       round(avg(value), 4) AS mean_v
FROM events
GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type
HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= (SELECT wm FROM m)
ORDER BY window_start, event_type
"""


def _q_streaming_session_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked gap sessions over a STREAMED read of the events table
    (streaming/stateful.session_metrics — the streaming twin of
    operators/temporal.session_stats): per-user ``F.session_window`` with
    a 1h gap and 10-minute watermark, append mode.  availableNow's final
    flush closes every session whose end (last event + gap) ≤
    max(ts) − 10min, so the emitted set is exactly SQL-derivable; the
    gap boundary matches the batch operator exactly (a gap EQUAL to the
    threshold stays in the session — pinned by the unit test), so the
    oracle is session_stats' own derivation plus the watermark cut."""
    from json_to_avro_schema_spark.streaming.stateful import session_metrics

    events = load_table(spark, sf, "events")

    def build(scratch: str) -> DataFrame:
        stream = _ordered_feed(spark, scratch, [events]).withColumn(
            # watermarks require TIMESTAMP_LTZ; session tz is pinned UTC so
            # the NTZ→LTZ cast preserves wall-clock values
            "ts", F.col("ts").cast("timestamp")
        )
        out = session_metrics(
            stream, ts_col="ts", gap_duration="1 hour",
            watermark_delay="10 minutes",
        )
        path = os.path.join(scratch, "out")
        drain(start_available_now(out, os.path.join(scratch, "ckpt"), path), 180)
        return spark.read.parquet(path).orderBy("user_id", "start_us")

    return _in_scratch(spark, build)


_O_STREAMING_SESSION_STATS = """
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s2 AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
  FROM s
),
sess AS (
  SELECT user_id, seq, count(*) AS n_events,
         min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
  FROM s2 GROUP BY 1, 2
),
m AS (SELECT max(epoch_us(ts)) - 600000000 AS wm FROM events)
SELECT user_id, start_us, end_us, end_us - start_us AS duration_us, n_events
FROM sess, m
WHERE end_us + 3600000000 <= wm
ORDER BY user_id, start_us
"""


def _q_streaming_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup (streaming/dedup.py): the documents corpus is
    streamed TWICE (two files, maxFilesPerTrigger=1 → two micro-batches);
    cross-batch state-store dedup must drop the entire second pass plus
    the within-corpus duplicates, so kept rows == distinct fingerprints of
    ONE corpus — an arrival-order-independent fact the oracle re-derives.
    The survivor identities are arrival-order; the deterministic output is
    the kept-fingerprint set and counts."""
    from json_to_avro_schema_spark.streaming.dedup import dedup_stream

    docs = load_table(spark, sf, "documents")

    def build(scratch: str) -> DataFrame:
        stream = _ordered_feed(spark, scratch, [docs, docs])
        kept = os.path.join(scratch, "kept")
        with _state_partitions(spark):
            drain(start_available_now(
                dedup_stream(stream), os.path.join(scratch, "ckpt"), kept
            ), 120)
        return spark.read.parquet(kept).agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.count_distinct("fingerprint").alias("n_distinct"),
        ).select(
            "n_kept", "n_distinct",
            (F.col("n_kept") == F.col("n_distinct")).alias("no_dup_survived"),
        )

    return _in_scratch(spark, build)


# streaming over pass1+pass2 keeps exactly one row per distinct
# normalized-text fingerprint of the single corpus
_O_STREAMING_DEDUP = r"""
SELECT CAST(count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
            AS BIGINT) AS n_kept,
       CAST(count(DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
            AS BIGINT) AS n_distinct,
       TRUE AS no_dup_survived
FROM documents
"""


def _q_streaming_dedup_watermarked(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-retention streaming dedup (dropDuplicatesWithinWatermark,
    1h delay): the corpus streams through FOUR times as separate
    micro-batches at event times 00:00 / 03:00 / 03:30 / 04:00. Pass 2
    arrives while pass 1's state is live → dropped; once the watermark
    passes first-seen + 1h the state is evicted, so exactly ONE of passes
    3/4 is re-admitted (which one is end-of-batch eviction timing — the
    oracle pins the timing-independent invariant: every fingerprint is
    kept exactly TWICE, total 2 × distinct). Late-duplicate semantics are
    pinned batch-by-batch in tests/test_streaming.py."""
    from json_to_avro_schema_spark.streaming.dedup import dedup_stream

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    passes = [
        docs.withColumn("ts", F.lit(ts).cast("timestamp"))
        for ts in ["2024-01-01 00:00:00", "2024-01-01 03:00:00",
                   "2024-01-01 03:30:00", "2024-01-01 04:00:00"]
    ]

    def build(scratch: str) -> DataFrame:
        stream = _ordered_feed(spark, scratch, passes).withWatermark(
            "ts", "1 hour"
        )
        kept = os.path.join(scratch, "kept")
        with _state_partitions(spark):
            drain(start_available_now(
                dedup_stream(stream, within_watermark_col="ts"),
                os.path.join(scratch, "ckpt"), kept,
            ), 180)
        per = spark.read.parquet(kept).groupBy("fingerprint").agg(
            F.count(F.lit(1)).alias("c")
        )
        return per.agg(
            F.sum("c").cast("long").alias("n_kept"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.expr("bool_and(c = 2)").alias("kept_twice"),
        )

    return _in_scratch(spark, build)


# retention-bounded dedup over four passes: pass 1 admitted, pass 2 in-state
# dropped, state evicted after the watermark passes 01:00, exactly one of
# passes 3/4 re-admitted -> every distinct fingerprint kept exactly twice
_O_STREAMING_DEDUP_WATERMARKED = r"""
WITH fp AS (
  SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS f
  FROM documents
)
SELECT CAST(2 * count(*) AS BIGINT) AS n_kept,
       CAST(count(*) AS BIGINT) AS n_distinct,
       TRUE AS kept_twice
FROM fp
"""


def _q_streaming_running_verdicts(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-partition verdict totals across micro-batches. Two files stream
    through one at a time; the final emitted state per (part_key, check)
    must equal the batch verdict totals over the full input (pinned in
    tests/test_streaming_stateful.py)."""
    from pyspark.sql.window import Window

    from json_to_avro_schema_spark.streaming.stateful import (
        running_partition_verdicts,
    )

    plan = compile_document(_DERIVED_SPANS_SPEC)
    docs = _derived_corrupted(spark, sf)
    parity = F.col("doc_id") % 2

    def build(scratch: str) -> DataFrame:
        stream = _ordered_feed(
            spark, scratch, [docs.filter(parity == 0), docs.filter(parity == 1)]
        )
        emitted = os.path.join(scratch, "emitted")
        drain(start_available_now(
            running_partition_verdicts(stream, plan),
            os.path.join(scratch, "ckpt"),
            lambda batch, _: batch.write.mode("append").parquet(emitted),
            "update",
        ), 180)
        w = Window.partitionBy("part_key", "check_name").orderBy(
            F.col("n_rows").desc(), F.col("n_fail").desc()
        )
        return (
            spark.read.parquet(emitted)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("rk")
            .orderBy("part_key", "check_name")
        )

    return _in_scratch(spark, build)


def _q_minhash_incremental_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-ingestion near-dup: the historical corpus's LSH band rows
    are materialized once (minhash_write_index, partitioned by band); a new
    batch (clones of every 100th doc under fresh ids) is joined against the
    stored index WITHOUT rescanning historical text, then candidates are
    verified by exact shingle Jaccard ≥ 0.9. Batch-internal pairs keep
    id_a < id_b; batch-vs-history pairs keep the batch id in id_a. Oracled
    by DuckDB brute force over the same split; the stored-index ≡ one-shot
    equivalence is pinned in
    tests/test_pipeline_ops.py::test_minhash_incremental_index_equivalence."""
    docs = load_table(spark, sf, "documents")
    batch = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )

    def build(scratch: str) -> DataFrame:
        path = os.path.join(scratch, "index")
        dd.minhash_write_index(docs, path, bands=4)
        cands = dd.minhash_incremental_candidates(spark, path, batch, bands=4)
        pairs = dd.ngram_jaccard(cands, docs.unionAll(batch)).filter(
            F.col("jaccard") >= 0.9
        )
        return pairs.select(
            "id_a", "id_b", F.round("jaccard", 5).alias("jaccard")
        ).orderBy("id_a", "id_b")

    return _in_scratch(spark, build)


_O_MINHASH_INCREMENTAL_DUPS = """
WITH hist AS (
  SELECT doc_id, text FROM documents
), batch AS (
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0
), unioned AS (
  SELECT * FROM hist UNION ALL SELECT * FROM batch
), sh AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(length(text) - 4, 0) + 1),
    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
  FROM unioned WHERE length(text) >= 20
), p AS (
  -- length-ratio prefilter: exact for j >= 0.9 (see _O_MINHASH_NEAR_DUPS)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) * 1.0
           / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) AS j
  FROM sh a JOIN sh b
    ON a.doc_id >= 10000000
   AND a.doc_id != b.doc_id
   AND (b.doc_id < 10000000 OR a.doc_id < b.doc_id)
   AND len(a.s) * 10 >= len(b.s) * 9 AND len(b.s) * 10 >= len(a.s) * 9
)
SELECT id_a, id_b, round(j, 5) AS jaccard
FROM p WHERE j >= 0.9
ORDER BY id_a, id_b
"""


def _q_minhash_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, DuckDB-oracled against brute-force
    shingle Jaccard: both engines are deterministic and the LSH bands
    (4×8 minhashes) recall every ≥0.9 pair present in this data (verified
    empirically — the borderline natural pair sits at j=0.929, where band
    recall is ~1)."""
    docs = load_table(spark, sf, "documents")
    dup = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    both = docs.unionAll(dup)
    pairs = dd.minhash_near_duplicates(both, threshold=0.9)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 5).alias("jaccard")
    ).orderBy("id_a", "id_b")


_O_MINHASH_NEAR_DUPS = """
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0
), sh AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(length(text) - 4, 0) + 1),
    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
  FROM unioned WHERE length(text) >= 20
), p AS (
  -- length-ratio prefilter is EXACT for j >= 0.9: |A∩B| <= min and
  -- |A∩B| >= 0.9*|A∪B| >= 0.9*max force the set sizes within ratio 0.9,
  -- so no qualifying pair is dropped — only hopeless pairs skip the
  -- expensive list ops (~6x fewer intersections; oracle 30s -> 6s)
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) * 1.0
           / greatest(len(list_distinct(list_concat(a.s, b.s))), 1) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
   AND len(a.s) * 10 >= len(b.s) * 9 AND len(b.s) * 10 >= len(a.s) * 9
)
SELECT id_a, id_b, round(j, 5) AS jaccard FROM p WHERE j >= 0.9
ORDER BY id_a, id_b
"""


def _q_ngram_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 13-gram contamination (operators/dedup.py:
    ngram_contamination — the GPT-3 Appendix-C leak check, complementing
    the whole-doc Jaccard path): benchmark = exact copies of every 97th
    doc (full collision: n_collisions == n_grams) + 20-token EXCERPTS of
    every 101st-shifted doc (the leak shape Jaccard misses — 8
    collisions each) + token-REVERSED decoys (must not flag). The oracle
    re-derives grams as delimiter-joined token strings; the Spark side
    hashes gram token-hash windows — membership is equivalent (64-bit,
    bounded benchmark)."""
    docs = load_table(spark, sf, "documents")
    tok = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
    )
    copies = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"), "text"
    )
    excerpts = docs.filter(F.col("doc_id") % 101 == 3).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.array_join(F.slice(tok, 1, 20), " ").alias("text"),
    )
    decoys = docs.filter(F.col("doc_id") % 97 == 50).select(
        (F.col("doc_id") + 60_000_000).alias("doc_id"),
        F.array_join(F.reverse(tok), " ").alias("text"),
    )
    bench = copies.unionAll(excerpts).unionAll(decoys)
    return dd.ngram_contamination(docs, bench, k=13).orderBy("doc_id")


_O_NGRAM_DECONTAMINATION = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM documents
), bench_text AS (
  SELECT doc_id + 40000000 AS bid, text FROM documents WHERE doc_id % 97 = 0
  UNION ALL
  SELECT doc_id + 50000000, array_to_string(t[1:20], ' ')
  FROM tok WHERE doc_id % 101 = 3
  UNION ALL
  SELECT doc_id + 60000000, array_to_string(list_reverse(t), ' ')
  FROM tok WHERE doc_id % 97 = 50
), btok AS (
  SELECT bid,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM bench_text
), bpos AS (
  SELECT t, unnest(range(1, len(t) - 11)) AS i FROM btok
), bgrams AS (
  SELECT DISTINCT array_to_string(t[CAST(i AS INT):CAST(i + 12 AS INT)],
                                  chr(31)) AS g
  FROM bpos
), cpos AS (
  SELECT doc_id, len(t) AS n, t, unnest(range(1, len(t) - 11)) AS i
  FROM tok
), cgrams AS (
  SELECT doc_id, n,
         array_to_string(t[CAST(i AS INT):CAST(i + 12 AS INT)],
                         chr(31)) AS g
  FROM cpos
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_collisions,
       CAST(greatest(max(c.n) - 12, 0) AS BIGINT) AS n_grams
FROM cgrams c JOIN bgrams b ON c.g = b.g
GROUP BY c.doc_id
ORDER BY doc_id
"""


def _q_decontaminate_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Train-test contamination (operators/dedup.py:contamination_pairs):
    a synthetic benchmark set = exact copies of every 25th doc (must be
    flagged) + reversed-text decoys (must not be), cross-corpus banded
    minhash with exact-Jaccard verification, oracled against brute-force
    shingle Jaccard with the same exact length-ratio prefilter as
    minhash_near_dups. Copies collide in every band (recall 1); near-dup
    recall at the 0.9 borderline follows the same verified band curve."""
    docs = load_table(spark, sf, "documents")
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
    )
    decoys = docs.filter(F.col("doc_id") % 25 == 7).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
    )
    bench = copies.unionAll(decoys)
    pairs = dd.contamination_pairs(docs, bench, threshold=0.9)
    return pairs.select(
        "corpus_id", "bench_id", F.round("jaccard", 5).alias("jaccard")
    ).orderBy("corpus_id", "bench_id")


_O_DECONTAMINATE_PAIRS = """
WITH bench AS (
  SELECT doc_id + 20000000 AS bench_id, text
  FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 30000000 AS bench_id, reverse(text) AS text
  FROM documents WHERE doc_id % 25 = 7
), csh AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(length(text) - 4, 0) + 1),
    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
  FROM documents WHERE length(text) >= 20
), bsh AS MATERIALIZED (
  SELECT bench_id, list_distinct(list_transform(
    range(1, greatest(length(text) - 4, 0) + 1),
    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
  FROM bench WHERE length(text) >= 20
), p AS (
  -- length-ratio prefilter: exact for j >= 0.9 (see _O_MINHASH_NEAR_DUPS)
  SELECT c.doc_id AS corpus_id, b.bench_id,
         len(list_intersect(c.s, b.s)) * 1.0
           / greatest(len(list_distinct(list_concat(c.s, b.s))), 1) AS j
  FROM csh c JOIN bsh b
    ON len(c.s) * 10 >= len(b.s) * 9 AND len(b.s) * 10 >= len(c.s) * 9
)
SELECT corpus_id, bench_id, round(j, 5) AS jaccard FROM p WHERE j >= 0.9
ORDER BY corpus_id, bench_id
"""


def _q_simhash_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash chunk-bucketed candidates at hamming 0, with exact
    token-bag verification FUSED into the bucket join: a 64-bit hash of
    the sorted token bag is computed in the same scan as the signature,
    carried through the chunk explode (8 bytes/band row), and compared at
    pair time — no second corpus scan, no verify joins (the r2 version
    spent three extra jobs on a semi-join + two bag joins). Hamming 0
    guarantees recall of every identical-bag pair, so the verified output
    is exactly the identical-token-multiset pair set — SQL-derivable.
    (Unverified simhash output additionally surfaces vote-collision
    near-dups; that approximate surface is pinned by pytest, not the
    oracle.)"""
    docs = load_table(spark, sf, "documents")
    dup = docs.filter(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    both = docs.unionAll(dup)
    toks = F.array_sort(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    )
    pairs = dd.simhash_near_duplicates(
        both, max_hamming=0, verify_col=F.xxhash64(F.to_json(toks))
    )
    return pairs.select("id_a", "id_b", "hamming").orderBy("id_a", "id_b")


_O_SIMHASH_NEAR_DUPS = r"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0
), t AS (
  SELECT doc_id,
         list_sort(list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> x != '')) AS toks
  FROM unioned WHERE length(text) >= 20
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
FROM t a JOIN t b ON a.toks = b.toks AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# Interleaved-span queries over a DERIVED spans table: documents.text is
# split into fixed-width text spans (+ a media span every 3rd doc) with
# arithmetic only (sources/derived_spans.py), so DuckDB can re-derive the
# identical table and the north rule's span-sequence equality invariant
# (kind, text, media_ref, order) becomes a hard value-hash oracle — unlike
# the engine-synthetic documents_iv table, which DuckDB cannot see.


def _q_span_seq_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc canonical span-sequence key: byte-for-byte agreement with
    the SQL re-derivation proves span construction AND the sequence
    invariant (field order, null sentinels, array order) end-to-end."""
    docs = load_table(spark, sf, "documents")
    d = spans_from_documents(docs)
    return d.select(
        "doc_id", span_sequence_key(F.col("spans")).alias("span_seq")
    ).orderBy("doc_id")


_O_SPAN_SEQ_KEYS = """
WITH base AS (
  SELECT doc_id, text,
         greatest(CAST(ceil(length(text) / 100.0) AS INT), 1) AS n
  FROM documents
), sp AS (
  SELECT doc_id,
    list_transform(range(0, n), i ->
      'text' || chr(1) || substr(text, CAST(i*100+1 AS INT), 100)
             || chr(1) || chr(0) || chr(1) || CAST(i AS VARCHAR))
    || CASE WHEN doc_id % 3 = 0
         THEN ['media' || chr(1) || chr(0) || chr(1) || 'm-'
               || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')
               || chr(1) || CAST(n AS VARCHAR)]
         ELSE [] END AS parts
  FROM base
)
SELECT doc_id, list_aggregate(parts, 'string_agg', chr(2)) AS span_seq
FROM sp ORDER BY doc_id
"""


def _q_span_kind_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-kind span statistics over the exploded interleaved table (the
    real operator shape: explode → hash agg); the oracle computes the same
    totals from the derivation arithmetic."""
    docs = load_table(spark, sf, "documents")
    ex = spans_from_documents(docs).select(
        "doc_id", F.explode("spans").alias("s")
    )
    return (
        ex.groupBy(F.col("s.kind").alias("kind"))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum(F.coalesce(F.length("s.text"), F.lit(0))).alias(
                "total_text_chars"
            ),
            F.count_distinct("s.media_ref").alias("n_distinct_refs"),
        )
        .orderBy("kind")
    )


_O_SPAN_KIND_STATS = """
WITH base AS (
  SELECT doc_id, greatest(CAST(ceil(length(text) / 100.0) AS INT), 1) AS n,
         length(text) AS chars FROM documents
)
SELECT 'media' AS kind, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS total_text_chars,
       CAST(count(DISTINCT doc_id % 100000000) AS BIGINT) AS n_distinct_refs
FROM base WHERE doc_id % 3 = 0
UNION ALL
SELECT 'text', CAST(sum(n) AS BIGINT), CAST(count(DISTINCT doc_id) AS BIGINT),
       CAST(sum(chars) AS BIGINT), CAST(0 AS BIGINT)
FROM base
ORDER BY kind
"""


_DERIVED_SPANS_SPEC = {
    "$id": "http://engine.local/DerivedSpans",
    "type": "object",
    "properties": {
        "doc_id": {"type": "integer"},
        "spans": {
            "type": "array",
            "items": {
                "properties": {
                    "kind": {"type": "string", "enum": ["text", "media"]},
                    "text": {"type": ["string", "null"]},
                    "media_ref": {
                        "type": ["string", "null"],
                        "pattern": "^m-[0-9]{8}$",
                    },
                    "offset": {"type": "integer", "x-bits": 32},
                }
            },
            "x-monotonicIncreasing": ["offset"],
        },
    },
    "required": ["doc_id", "spans"],
}


def _q_span_monotonic_violations(spark: SparkSession, sf: str) -> DataFrame:
    """The COMPILED spec pipeline catching planted span-order corruption:
    every 9th doc's offsets are reversed at derivation; the spec's
    x-monotonicIncreasing check (the sorted distinct non-null offsets must
    be the offsets: compiler/checks.py _monotonic_increasing) must flag
    exactly the docs where the reversal is observable (≥ 2 spans) —
    SQL-derivable from the derivation arithmetic."""
    docs = load_table(spark, sf, "documents")
    bad = spans_from_documents(docs, corrupt_every=9)
    plan = compile_document(_DERIVED_SPANS_SPEC)
    res = run_validation(spark, bad, plan)
    return res.violations.select("doc_id").orderBy("doc_id")


_O_SPAN_MONOTONIC_VIOLATIONS = """
SELECT doc_id FROM documents
WHERE doc_id % 9 = 0
  AND (greatest(CAST(ceil(length(text) / 100.0) AS INT), 1)
       + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) >= 2
ORDER BY doc_id
"""


def _derived_corrupted(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship-shaped input, fully SQL-derivable: interleaved spans
    with three arithmetic corruption families planted (offset reversal
    every 9th doc, bad media ref every 21st, null spans every 11th) and a
    modulo part_key — so the COMPLETE validation pipeline (compile spec →
    per-partition verdicts + violation rows with byte-exact span sequences)
    gets a hard DuckDB value-hash oracle."""
    docs = load_table(spark, sf, "documents")
    return with_part_key(
        spans_from_documents(
            docs, corrupt_every=9, bad_ref_every=21, null_spans_every=11
        )
    )


# shared failure arithmetic for the derived corrupted table: per doc,
# which compiled check fails (mirrors derived_spans.py planting exactly)
_O_DERIVED_F = """
WITH f AS (
  SELECT doc_id,
         greatest(CAST(ceil(length(text) / 100.0) AS INT), 1) AS n,
         greatest(CAST(ceil(length(text) / 100.0) AS INT), 1)
           + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS total,
         (doc_id % 3 = 0) AS has_media,
         (doc_id % 11 = 0) AS null_spans,
         (doc_id % 11 <> 0) AND (
           (doc_id % 9 = 0
            AND greatest(CAST(ceil(length(text) / 100.0) AS INT), 1)
                + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END >= 2)
           OR (doc_id % 3 = 0 AND doc_id % 21 = 0)
         ) AS conforms_fail,
         text
  FROM documents
)
"""


def _q_derived_validation_verdicts(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end flagship pipeline, oracled: compiled spec (required +
    nested enum/pattern/bits + x-monotonicIncreasing) over the corrupted
    derived table → per-partition verdicts. One scan, fused agg."""
    plan = compile_document(_DERIVED_SPANS_SPEC)
    res = run_validation(spark, _derived_corrupted(spark, sf), plan)
    return res.verdicts.orderBy("part_key", "check_name")


_O_DERIVED_VALIDATION_VERDICTS = _O_DERIVED_F + """
, per AS (
  SELECT lpad(CAST(doc_id % 64 AS VARCHAR), 2, '0') AS part_key,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN null_spans THEN 1 ELSE 0 END) AS BIGINT) AS req_fail,
         CAST(sum(CASE WHEN conforms_fail THEN 1 ELSE 0 END) AS BIGINT) AS conf_fail
  FROM f GROUP BY 1
)
SELECT part_key, c.check_name, n_rows,
       CASE c.check_name WHEN 'spans__required' THEN req_fail
                         WHEN 'spans__conforms' THEN conf_fail
                         ELSE CAST(0 AS BIGINT) END AS n_fail,
       (CASE c.check_name WHEN 'spans__required' THEN req_fail
                          WHEN 'spans__conforms' THEN conf_fail
                          ELSE CAST(0 AS BIGINT) END = 0) AS pass
FROM per CROSS JOIN (VALUES ('doc_id__conforms'), ('doc_id__required'),
                            ('spans__conforms'), ('spans__required')) c(check_name)
ORDER BY part_key, check_name
"""


def _q_derived_validation_violations(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized violation rows from the same pipeline, with the span
    sequence re-encoded as the canonical (kind, text, media_ref, order)
    key — the north rule's byte-for-byte invariant as a value hash."""
    plan = compile_document(_DERIVED_SPANS_SPEC)
    res = run_validation(spark, _derived_corrupted(spark, sf), plan)
    return res.violations.select(
        "doc_id", "part_key",
        span_sequence_key(F.col("spans")).alias("span_seq"),
        F.array_join("failed_checks", ",").alias("failed"),
    ).orderBy("doc_id")


_O_DERIVED_VALIDATION_VIOLATIONS = _O_DERIVED_F + """
, sp AS (
  SELECT doc_id, null_spans, conforms_fail,
    CASE WHEN null_spans THEN NULL ELSE
      list_aggregate(
        list_transform(range(0, n), i ->
          'text' || chr(1) || substr(text, CAST(i*100+1 AS INT), 100)
                 || chr(1) || chr(0) || chr(1)
                 || CAST(CASE WHEN doc_id % 9 = 0 THEN total-1-i ELSE i END AS VARCHAR))
        || CASE WHEN has_media
             THEN ['media' || chr(1) || chr(0) || chr(1)
                   || CASE WHEN doc_id % 21 = 0 THEN 'x!BAD'
                      ELSE 'm-' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') END
                   || chr(1)
                   || CAST(CASE WHEN doc_id % 9 = 0 THEN total-1-n ELSE n END AS VARCHAR)]
             ELSE [] END,
        'string_agg', chr(2))
    END AS span_seq
  FROM f
)
SELECT doc_id, lpad(CAST(doc_id % 64 AS VARCHAR), 2, '0') AS part_key, span_seq,
       CASE WHEN null_spans THEN 'spans__required'
            ELSE 'spans__conforms' END AS failed
FROM sp WHERE null_spans OR conforms_fail
ORDER BY doc_id
"""


def _q_url_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + URL dedup + per-domain caps
    (operators/web.py) — the crawl-side stages that run BEFORE any content
    dedup (RefinedWeb §3.1 / CCNet / Dolma). Every 4 consecutive doc_ids
    get 4 SURFACE VARIANTS of one planted page URL (query-param order
    swap; scheme+host case and a www. prefix; an explicit :443 port +
    trailing slash + utm_source param; a #fragment + interleaved
    utm_campaign param), so normalize_url must collapse exactly the
    planted groups — the oracle re-derives the groups from the planting,
    making the hash match an end-to-end check of the canonicalization.
    Pipeline order matches production: domain_filter (planted 2-domain
    blocklist — those domains must vanish) -> url_dedup (min doc_id per
    canonical URL) -> domain_caps (first 7 canonical pages per domain in
    doc_id order — an SQL-portable order so the oracle can re-derive the
    capped set; the default hash order is exercised in
    tests/test_pipeline_ops.py). url_word_score({'utm': 1.0}) over the
    RAW url scores exactly the two utm-planted variants per group.
    Output: one row per surviving planted domain with pre-dedup,
    post-dedup, and post-cap counts + kept-id sums + the summed URL word
    score."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = F.col("doc_id")
    g = F.floor(d / 4).cast("long")
    ks = (g % 20).cast("string")
    gs = g.cast("string")
    site = F.concat(F.lit("site"), ks, F.lit(".com"))
    site_mixed = F.concat(F.lit("Site"), ks, F.lit(".COM"))
    v = d % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://"), site, F.lit("/Docs/"), gs, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(
            F.lit("HTTPS://WWW."), site_mixed, F.lit("/Docs/"), gs,
            F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(
            F.lit("https://"), site, F.lit(":443/Docs/"), gs,
            F.lit("/?a=1&b=2&utm_source=feed")))
        .otherwise(F.concat(
            F.lit("https://"), site, F.lit("/Docs/"), gs,
            F.lit("?a=1&utm_campaign=x&b=2#frag")))
    )
    tbl = docs.select("doc_id", url.alias("url")).withColumn(
        "domain", wb.url_domain(F.col("url")))
    blocked = spark.createDataFrame(
        [("site4.com",), ("site13.com",)], "domain string")
    tbl = wb.domain_filter(tbl, blocked, domain_col="domain")
    pre = tbl.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(wb.url_word_score(F.col("url"), {"utm": 1.0})), 1
        ).alias("sum_url_score"),
    )
    kept = wb.url_dedup(tbl, url_col="url", id_col="doc_id")
    kept_stats = kept.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum("doc_id").alias("sum_kept_ids"),
    )
    capped = wb.domain_caps(
        kept, cap=7, domain_col="domain", id_col="doc_id",
        order_by=[F.col("doc_id").asc()],
    )
    cap_stats = capped.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_capped"),
        F.sum("doc_id").alias("sum_capped_ids"),
    )
    return (
        pre.join(kept_stats, "domain").join(cap_stats, "domain")
        .orderBy("domain")
    )


_O_URL_DEDUP_DOCS = """
WITH planted AS (
  SELECT doc_id, doc_id // 4 AS g,
         'site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.com' AS domain
  FROM documents
  WHERE 'site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.com'
        NOT IN ('site4.com', 'site13.com')
), groups AS (
  SELECT domain, g, min(doc_id) AS kept_id
  FROM planted GROUP BY domain, g
), capped AS (
  SELECT domain, kept_id,
         row_number() OVER (PARTITION BY domain ORDER BY kept_id) AS rn
  FROM groups
)
SELECT g1.domain, g1.n_docs, g1.sum_url_score, g2.n_canonical,
       g2.sum_kept_ids, g3.n_capped, g3.sum_capped_ids
FROM (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(round(sum(CASE WHEN doc_id % 4 IN (2, 3)
                                 THEN 1.0 ELSE 0.0 END), 1) AS DOUBLE)
               AS sum_url_score
      FROM planted GROUP BY domain) g1
JOIN (SELECT domain, CAST(count(*) AS BIGINT) AS n_canonical,
             CAST(sum(kept_id) AS BIGINT) AS sum_kept_ids
      FROM groups GROUP BY domain) g2 USING (domain)
JOIN (SELECT domain, CAST(count(*) AS BIGINT) AS n_capped,
             CAST(sum(kept_id) AS BIGINT) AS sum_capped_ids
      FROM capped WHERE rn <= 7 GROUP BY domain) g3 USING (domain)
ORDER BY domain
"""


def _q_url_dedup_incremental_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental URL dedup against a stored snapshot index
    (web.url_dedup_incremental). Same planted 4-variant page groups as
    url_dedup_docs; the prior-snapshot index holds the canonical-URL
    hashes of every EVEN group (built here from the v=0 surface form —
    normalize_url makes the form irrelevant), so the batch must drop all
    even groups (index hits) plus the 3 later variants of each odd group
    (within-batch refetches), keeping exactly min doc_id = 4g per odd
    group g. The oracle re-derives the kept set from the planting. Output:
    per planted domain, surviving-page count and kept-id sum."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = F.col("doc_id")
    g = F.floor(d / 4).cast("long")
    ks = (g % 20).cast("string")
    gs = g.cast("string")
    site = F.concat(F.lit("site"), ks, F.lit(".com"))
    site_mixed = F.concat(F.lit("Site"), ks, F.lit(".COM"))
    v = d % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://"), site, F.lit("/Docs/"), gs, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(
            F.lit("HTTPS://WWW."), site_mixed, F.lit("/Docs/"), gs,
            F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(
            F.lit("https://"), site, F.lit(":443/Docs/"), gs,
            F.lit("/?a=1&b=2&utm_source=feed")))
        .otherwise(F.concat(
            F.lit("https://"), site, F.lit("/Docs/"), gs,
            F.lit("?a=1&utm_campaign=x&b=2#frag")))
    )
    batch = docs.select("doc_id", url.alias("url"))
    index = (
        batch.filter((F.floor(d / 4) % 2 == 0) & (v == 0))
        .select(
            F.xxhash64(wb.normalize_url(F.col("url"))).alias("url_hash")
        )
        .distinct()
    )
    kept = wb.url_dedup_incremental(batch, index)
    return (
        kept.select(wb.url_domain(F.col("url")).alias("domain"), "doc_id")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_kept_ids"),
        )
        .orderBy("domain")
    )


_O_URL_DEDUP_INCREMENTAL_DOCS = """
WITH pl AS (
  SELECT doc_id, doc_id // 4 AS g,
         'site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.com' AS domain
  FROM documents
), indexed AS (
  -- the index is built from the v=0 surface rows of even groups; derive
  -- it the same way rather than assuming every even group has one
  SELECT DISTINCT g FROM pl WHERE g % 2 = 0 AND doc_id % 4 = 0
), kept AS (
  SELECT domain, g, min(doc_id) AS kid
  FROM pl
  WHERE g NOT IN (SELECT g FROM indexed)
  GROUP BY domain, g
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(kid) AS BIGINT) AS sum_kept_ids
FROM kept
GROUP BY domain
ORDER BY domain
"""


def _q_corpus_funnel_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Composed cleaning funnel (operators/funnel.corpus_funnel) — the
    RefinedWeb-style attrition table from ONE action. Planting: the
    url_dedup_docs 4-variant page groups over 20 domains (2 blocked),
    plus planted page text keyed by (g%5 length class, g%37 content
    class) so URL winners in different groups share text — every stage
    fires: blocked domains, the 3 losing surface variants per group,
    later text twins among URL winners, and a 200-char length gate as
    the quality policy. The oracle re-derives the ENTIRE funnel in SQL —
    blocklist, per-group canonical winner among unblocked rows, the
    normalized-text first-occurrence rule among URL winners, then the
    length gate — and the per-stage doc_id sums pin the exact
    attribution, not just the counts."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = F.col("doc_id")
    g = F.floor(d / 4).cast("long")
    ks = (g % 20).cast("string")
    gs = g.cast("string")
    site = F.concat(F.lit("site"), ks, F.lit(".com"))
    v = d % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://"), site, F.lit("/Docs/"), gs, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(
            F.lit("HTTPS://WWW."), site, F.lit("/Docs/"), gs,
            F.lit("?a=1&b=2")))
        .when(v == 2, F.concat(
            F.lit("https://"), site, F.lit(":443/Docs/"), gs,
            F.lit("/?a=1&b=2&utm_source=feed")))
        .otherwise(F.concat(
            F.lit("https://"), site, F.lit("/Docs/"), gs,
            F.lit("?a=1&utm_campaign=x&b=2#frag")))
    )
    planted_text = F.concat(
        F.repeat(F.lit("x"), F.when(g % 5 == 0, 100).otherwise(250)),
        (g % 37).cast("string"),
    )
    tbl = docs.select("doc_id", url.alias("url"), planted_text.alias("text"))
    blocked = spark.createDataFrame(
        [("site4.com",), ("site13.com",)], "domain string")
    res = fn.corpus_funnel(
        tbl,
        blocked_domains=blocked,
        keep_if=F.length("text") >= 200,
    )
    return (
        res.annotated.groupBy(
            F.coalesce(F.col(fn.DROP_STAGE), F.lit("kept")).alias("stage")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("stage")
    )


_O_CORPUS_FUNNEL_DOCS = r"""
WITH pl AS (
  SELECT doc_id, doc_id // 4 AS g,
         repeat('x', CASE WHEN (doc_id // 4) % 5 = 0 THEN 100 ELSE 250 END)
           || CAST((doc_id // 4) % 37 AS VARCHAR) AS text,
         'site' || CAST((doc_id // 4) % 20 AS VARCHAR) || '.com' AS domain
  FROM documents
), s1 AS (
  SELECT *, domain IN ('site4.com', 'site13.com') AS blocked FROM pl
), urlwin AS (
  SELECT g, min(doc_id) AS win_id FROM s1 WHERE NOT blocked GROUP BY g
), s2 AS (
  SELECT s1.*, (NOT blocked AND doc_id IN (SELECT win_id FROM urlwin))
         AS url_win
  FROM s1
), textwin AS (
  SELECT min(doc_id) AS win_id
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM s2 WHERE url_win)
  GROUP BY norm
), staged AS (
  SELECT doc_id,
         CASE WHEN blocked THEN 'domain_blocked'
              WHEN NOT url_win THEN 'url_duplicate'
              WHEN doc_id NOT IN (SELECT win_id FROM textwin)
                THEN 'text_duplicate'
              WHEN length(text) < 200 THEN 'low_quality'
              ELSE 'kept' END AS stage
  FROM s2
)
SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM staged GROUP BY stage ORDER BY stage
"""


def _q_classifier_quality_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Learned quality-classifier scoring (operators/classifier.py) —
    the FineWeb-Edu / DCLM trained-model gate as pure Column logistic
    inference: engineered features (token/stopword/punct/digit/upper
    HOF signals) plus a literal token->weight lexical term, sigmoid'd,
    6-dp pre-rounded (the lm.perplexity_split float contract). Planting:
    every doc_id % 7 == 0 gets an ad-like suffix (' BUY NOW!!! CALL 555
    123') so the negative punct/digit/upper features and lexicon fire on
    a known subset. The oracle re-derives the ENTIRE dot product +
    sigmoid in SQL; per-source kept-id sums pin each doc's side of the
    0.5 gate (min |r6 - 0.5| on this corpus is >> 1e-6, so the 6-dp
    rounding cannot flip a doc across it)."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = F.col("doc_id")
    planted = F.when(
        d % 7 == 0, F.concat(F.col("text"), F.lit(" BUY NOW!!! CALL 555 123"))
    ).otherwise(F.col("text"))
    tbl = docs.select("doc_id", "source", planted.alias("text"))
    scored = clf.score_quality_classifier(
        tbl,
        {
            "log_n_tokens": 0.35,
            "stopword_ratio": 2.5,
            "punct_ratio": -8.0,
            "digit_ratio": -6.0,
            "upper_ratio": -5.0,
            "mean_word_len": -0.15,
        },
        bias=-1.0,
        token_weights={
            "spark": 0.8, "data": 0.5, "buy": -2.0, "call": -1.5,
            "slow": -0.6,
        },
    )
    r = F.col("clf_quality")
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(r), 4).alias("avg_score"),
            F.sum((r > 0.5).cast("long")).alias("n_kept"),
            F.sum(F.when(r > 0.5, d).otherwise(F.lit(0)))
            .cast("long")
            .alias("sum_kept_ids"),
        )
        .orderBy("source")
    )


_O_CLASSIFIER_QUALITY_DOCS = r"""
WITH pl AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' BUY NOW!!! CALL 555 123' ELSE text END AS text
  FROM documents
), tk AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM pl
), feats AS (
  SELECT doc_id, source,
    ln(1 + len(t)) AS log_n_tokens,
    CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
         AS DOUBLE) / greatest(len(t), 1) AS mean_word_len,
    CAST(len(list_filter(t, x -> x IN ('the','and','of','to','in','is',
                                       'that','it','for','with')))
         AS DOUBLE) / greatest(len(t), 1) AS stopword_ratio,
    CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g'))
         AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
         AS DOUBLE) / greatest(length(text), 1) AS digit_ratio,
    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
         AS DOUBLE) / greatest(length(text), 1) AS upper_ratio,
    coalesce(list_sum(list_transform(t, x ->
      CASE x WHEN 'spark' THEN 0.8 WHEN 'data' THEN 0.5
             WHEN 'buy' THEN -2.0 WHEN 'call' THEN -1.5
             WHEN 'slow' THEN -0.6 ELSE 0.0 END)), 0.0)
      / greatest(len(t), 1) AS lexical
  FROM tk
), sc AS (
  SELECT doc_id, source,
    round(1.0 / (1.0 + exp(-(-1.0
      + 0.35 * log_n_tokens + 2.5 * stopword_ratio - 8.0 * punct_ratio
      - 6.0 * digit_ratio - 5.0 * upper_ratio - 0.15 * mean_word_len
      + lexical))), 6) AS r6
  FROM feats
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(r6), 4) AS avg_score,
       CAST(sum(CASE WHEN r6 > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN r6 > 0.5 THEN doc_id ELSE 0 END) AS BIGINT)
         AS sum_kept_ids
FROM sc GROUP BY source ORDER BY source
"""


def _q_classifier_train_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Closed-form distributed classifier TRAINING
    (classifier.train_quality_classifier, diagonal LDA): labels live in
    the corpus (label 0 = the doc_id % 7 ad-planted docs, 1 = clean),
    sufficient statistics are ONE groupBy(label) agg of count/sum/sum-sq
    per feature (two bounded rows collected), and the resulting linear
    weights feed the SAME score_quality_classifier inference path. The
    oracle re-derives the entire fit in SQL — per-class means, pooled
    n-2 variances, w_f = (mu1-mu0)/s2, bias = ln(n1/n0) - sum (mu1^2 -
    mu0^2)/(2 s2) — then scores every doc with the 6-dp-rounded
    coefficients. Output = the learned parameters (4-dp re-rounded: the
    6-dp fit contract is what scoring uses, the coarser output rounding
    keeps sub-ulp aggregation-order drift between engines away from the
    hash) plus per-source kept counts at the 0.5 gate (measured min
    margin ~0.05 on this corpus, >> any float noise) and 2-dp score
    sums — training AND train->score round trip pinned in one query."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = F.col("doc_id")
    planted = F.when(
        d % 7 == 0, F.concat(F.col("text"), F.lit(" BUY NOW!!! CALL 555 123"))
    ).otherwise(F.col("text"))
    tbl = docs.select(
        "doc_id",
        "source",
        planted.alias("text"),
        (d % 7 != 0).cast("int").alias("label"),
    )
    feats = [
        "log_n_tokens", "stopword_ratio", "punct_ratio", "digit_ratio",
        "upper_ratio",
    ]
    params = clf.train_quality_classifier(tbl, "label", features=feats)
    scored = clf.score_quality_classifier(
        tbl.drop("label"), params["weights"], bias=params["bias"]
    )
    param_rows = [
        ("bias", round(params["bias"], 4)),
        ("n_pos", float(params["n_pos"])),
        ("n_neg", float(params["n_neg"])),
    ] + [(f"w_{k}", round(v, 4)) for k, v in params["weights"].items()]
    params_df = spark.createDataFrame(param_rows, "param string, value double")
    r = F.col("clf_quality")
    per_src = scored.groupBy("source").agg(
        F.sum((r > 0.5).cast("long")).cast("double").alias("kept"),
        F.round(F.sum(r), 2).alias("score_sum"),
    )
    kept_rows = per_src.select(
        F.concat(F.lit("kept_"), F.col("source")).alias("param"),
        F.col("kept").alias("value"),
    )
    sum_rows = per_src.select(
        F.concat(F.lit("sum_score_"), F.col("source")).alias("param"),
        F.col("score_sum").alias("value"),
    )
    return params_df.unionByName(kept_rows).unionByName(sum_rows).orderBy(
        "param"
    )


_O_CLASSIFIER_TRAIN_DOCS = r"""
WITH pl AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' BUY NOW!!! CALL 555 123' ELSE text END AS text,
         CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS y
  FROM documents
), tk AS (
  SELECT doc_id, source, text, y,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x != '') AS t
  FROM pl
), feats AS (
  SELECT doc_id, source, y,
    ln(1 + len(t)) AS f_lnt,
    CAST(len(list_filter(t, x -> x IN ('the','and','of','to','in','is',
                                       'that','it','for','with')))
         AS DOUBLE) / greatest(len(t), 1) AS f_sw,
    CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]{}]', '', 'g'))
         AS DOUBLE) / greatest(length(text), 1) AS f_pu,
    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
         AS DOUBLE) / greatest(length(text), 1) AS f_di,
    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
         AS DOUBLE) / greatest(length(text), 1) AS f_up
  FROM tk
), st AS (
  SELECT
    count(*) FILTER (WHERE y = 1) AS n1,
    count(*) FILTER (WHERE y = 0) AS n0,
    sum(f_lnt) FILTER (WHERE y = 1) AS s1_lnt,
    sum(f_lnt * f_lnt) FILTER (WHERE y = 1) AS q1_lnt,
    sum(f_lnt) FILTER (WHERE y = 0) AS s0_lnt,
    sum(f_lnt * f_lnt) FILTER (WHERE y = 0) AS q0_lnt,
    sum(f_sw) FILTER (WHERE y = 1) AS s1_sw,
    sum(f_sw * f_sw) FILTER (WHERE y = 1) AS q1_sw,
    sum(f_sw) FILTER (WHERE y = 0) AS s0_sw,
    sum(f_sw * f_sw) FILTER (WHERE y = 0) AS q0_sw,
    sum(f_pu) FILTER (WHERE y = 1) AS s1_pu,
    sum(f_pu * f_pu) FILTER (WHERE y = 1) AS q1_pu,
    sum(f_pu) FILTER (WHERE y = 0) AS s0_pu,
    sum(f_pu * f_pu) FILTER (WHERE y = 0) AS q0_pu,
    sum(f_di) FILTER (WHERE y = 1) AS s1_di,
    sum(f_di * f_di) FILTER (WHERE y = 1) AS q1_di,
    sum(f_di) FILTER (WHERE y = 0) AS s0_di,
    sum(f_di * f_di) FILTER (WHERE y = 0) AS q0_di,
    sum(f_up) FILTER (WHERE y = 1) AS s1_up,
    sum(f_up * f_up) FILTER (WHERE y = 1) AS q1_up,
    sum(f_up) FILTER (WHERE y = 0) AS s0_up,
    sum(f_up * f_up) FILTER (WHERE y = 0) AS q0_up
  FROM feats
), mu AS (
  SELECT n1, n0,
    s1_lnt / n1 AS mu1_lnt, s0_lnt / n0 AS mu0_lnt,
    greatest((greatest(q1_lnt - s1_lnt * s1_lnt / n1, 0)
            + greatest(q0_lnt - s0_lnt * s0_lnt / n0, 0))
             / (n1 + n0 - 2), 1e-9) AS s2_lnt,
    s1_sw / n1 AS mu1_sw, s0_sw / n0 AS mu0_sw,
    greatest((greatest(q1_sw - s1_sw * s1_sw / n1, 0)
            + greatest(q0_sw - s0_sw * s0_sw / n0, 0))
             / (n1 + n0 - 2), 1e-9) AS s2_sw,
    s1_pu / n1 AS mu1_pu, s0_pu / n0 AS mu0_pu,
    greatest((greatest(q1_pu - s1_pu * s1_pu / n1, 0)
            + greatest(q0_pu - s0_pu * s0_pu / n0, 0))
             / (n1 + n0 - 2), 1e-9) AS s2_pu,
    s1_di / n1 AS mu1_di, s0_di / n0 AS mu0_di,
    greatest((greatest(q1_di - s1_di * s1_di / n1, 0)
            + greatest(q0_di - s0_di * s0_di / n0, 0))
             / (n1 + n0 - 2), 1e-9) AS s2_di,
    s1_up / n1 AS mu1_up, s0_up / n0 AS mu0_up,
    greatest((greatest(q1_up - s1_up * s1_up / n1, 0)
            + greatest(q0_up - s0_up * s0_up / n0, 0))
             / (n1 + n0 - 2), 1e-9) AS s2_up
  FROM st
), w AS (
  SELECT n1, n0,
    round((mu1_lnt - mu0_lnt) / s2_lnt, 6) AS w_lnt,
    round((mu1_sw - mu0_sw) / s2_sw, 6) AS w_sw,
    round((mu1_pu - mu0_pu) / s2_pu, 6) AS w_pu,
    round((mu1_di - mu0_di) / s2_di, 6) AS w_di,
    round((mu1_up - mu0_up) / s2_up, 6) AS w_up,
    round(ln(CAST(n1 AS DOUBLE) / n0)
      - (mu1_di * mu1_di - mu0_di * mu0_di) / (2 * s2_di)
      - (mu1_lnt * mu1_lnt - mu0_lnt * mu0_lnt) / (2 * s2_lnt)
      - (mu1_pu * mu1_pu - mu0_pu * mu0_pu) / (2 * s2_pu)
      - (mu1_sw * mu1_sw - mu0_sw * mu0_sw) / (2 * s2_sw)
      - (mu1_up * mu1_up - mu0_up * mu0_up) / (2 * s2_up), 6) AS bias
  FROM mu
), sc AS (
  SELECT f.source,
    round(1.0 / (1.0 + exp(-(w.bias
      + w.w_lnt * f.f_lnt + w.w_sw * f.f_sw + w.w_pu * f.f_pu
      + w.w_di * f.f_di + w.w_up * f.f_up))), 6) AS r6
  FROM feats f CROSS JOIN w
)
SELECT param, value FROM (
  SELECT 'bias' AS param, round(bias, 4) AS value FROM w
  UNION ALL SELECT 'n_pos', CAST(n1 AS DOUBLE) FROM w
  UNION ALL SELECT 'n_neg', CAST(n0 AS DOUBLE) FROM w
  UNION ALL SELECT 'w_log_n_tokens', round(w_lnt, 4) FROM w
  UNION ALL SELECT 'w_stopword_ratio', round(w_sw, 4) FROM w
  UNION ALL SELECT 'w_punct_ratio', round(w_pu, 4) FROM w
  UNION ALL SELECT 'w_digit_ratio', round(w_di, 4) FROM w
  UNION ALL SELECT 'w_upper_ratio', round(w_up, 4) FROM w
  UNION ALL SELECT 'kept_' || source,
    CAST(sum(CASE WHEN r6 > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
  FROM sc GROUP BY source
  UNION ALL SELECT 'sum_score_' || source, round(sum(r6), 2)
  FROM sc GROUP BY source
) ORDER BY param
"""


def _q_streaming_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming URL dedup (streaming/dedup.url_dedup_stream): a planted
    crawl feed arrives in two micro-batches — batch 1 carries two surface
    variants per page group (param-order swap; WWW+case), batch 2 REFETCHES
    every page under a third form (:443 + trailing slash + utm param).
    The state store keyed on the canonical hash must keep exactly one row
    per page group and drop the whole second pass — the kept-hash set
    and counts are arrival-order-independent facts the oracle re-derives
    from the planting (pages = distinct doc_id//2 groups)."""
    from json_to_avro_schema_spark.streaming.dedup import url_dedup_stream

    docs = load_table(spark, sf, "documents").select("doc_id")
    d = F.col("doc_id")
    gs = F.floor(d / 2).cast("long").cast("string")
    b1 = docs.select(
        "doc_id",
        F.when(
            d % 2 == 0,
            F.concat(F.lit("https://crawl"), gs, F.lit(".net/p?b=2&a=1")),
        ).otherwise(
            F.concat(F.lit("HTTPS://WWW.Crawl"), gs, F.lit(".NET/p?a=1&b=2"))
        ).alias("url"),
    )
    b2 = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://crawl"), gs,
            F.lit(".net:443/p/?a=1&b=2&utm_source=f"),
        ).alias("url"),
    )

    def build(scratch: str) -> DataFrame:
        stream = _ordered_feed(spark, scratch, [b1, b2])
        kept = os.path.join(scratch, "kept")
        with _state_partitions(spark):
            drain(start_available_now(
                url_dedup_stream(stream), os.path.join(scratch, "ckpt"), kept
            ), 120)
        return spark.read.parquet(kept).agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.count_distinct("url_hash").alias("n_distinct"),
        ).select(
            "n_kept", "n_distinct",
            (F.col("n_kept") == F.col("n_distinct")).alias("no_dup_survived"),
        )

    return _in_scratch(spark, build)


# one survivor per planted page group (doc_id // 2), second pass dropped
_O_STREAMING_URL_DEDUP = """
SELECT CAST(count(DISTINCT doc_id // 2) AS BIGINT) AS n_kept,
       CAST(count(DISTINCT doc_id // 2) AS BIGINT) AS n_distinct,
       TRUE AS no_dup_survived
FROM documents
"""


def _q_paragraph_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document paragraph dedup, keep-first-occurrence
    (dedup.paragraph_dedup — the Dolma/CCNet paragraph-granularity
    stage). The gate corpus has no newlines, so the query PLANTS a
    5-paragraph document per row, deterministically from doc_id: a
    shared banner keyed by doc_id % 7 (cross-doc dup class — only the
    min doc_id of each class keeps it), a case+pad surface variant of
    that banner (same identity, later position: an intra-doc dup in
    EVERY doc), a blank structure line (kept everywhere), the doc's own
    leading 40 characters and a per-doc tail line (unique content that
    must survive). The oracle re-derives the full contract in SQL over
    the same planting — case/trim-insensitive identity, min-(doc_id,
    position) winner rule, structure retention, and the cleaned text
    rebuilt paragraph-by-paragraph — so the hash match pins the rewrite
    byte-for-byte across all 500 docs."""
    docs = spread_to_cores(load_table(spark, sf, "documents"))
    d = F.col("doc_id")
    cls = (d % 7).cast("string")
    planted = F.concat_ws(
        "\n",
        F.concat(F.lit("Shared banner "), cls),
        F.concat(F.lit("  SHARED BANNER "), cls, F.lit("  ")),
        F.lit(""),
        F.substring("text", 1, 40),
        F.concat(F.lit("tail "), d.cast("string")),
    )
    out = dd.paragraph_dedup(
        docs.select("doc_id", planted.alias("text"))
    )
    return (
        out.select("doc_id", "n_paras", "dup_paras", "clean_text")
        .orderBy("doc_id")
    )


_O_PARAGRAPH_DEDUP_DOCS = """
WITH planted AS (
  SELECT doc_id,
         'Shared banner ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
         '  SHARED BANNER ' || CAST(doc_id % 7 AS VARCHAR) || '  ' ||
         chr(10) || chr(10) ||
         substr(text, 1, 40) || chr(10) ||
         'tail ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
), paras AS (
  SELECT doc_id, unnest(ps) AS para,
         CAST(unnest(range(0, len(ps))) AS INT) AS pos
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM planted)
), elig AS (
  SELECT doc_id, pos, lower(trim(para)) AS key
  FROM paras WHERE length(trim(para)) >= 1
), winners AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
    FROM elig)
  WHERE rn = 1
), kept AS (
  SELECT p.doc_id, p.pos, p.para FROM paras p
  WHERE length(trim(p.para)) < 1
     OR EXISTS (SELECT 1 FROM winners w
                WHERE w.doc_id = p.doc_id AND w.pos = p.pos)
), per_doc AS (
  SELECT d.doc_id,
         CAST(coalesce(e.n, 0) AS INT) AS n_paras,
         CAST(coalesce(e.n, 0) - coalesce(w.n, 0) AS INT) AS dup_paras,
         coalesce(k.txt, '') AS clean_text
  FROM planted d
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM elig GROUP BY doc_id) e
         USING (doc_id)
  LEFT JOIN (SELECT doc_id, count(*) AS n FROM winners GROUP BY doc_id) w
         USING (doc_id)
  LEFT JOIN (SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS txt
             FROM kept GROUP BY doc_id) k
         USING (doc_id)
)
SELECT doc_id, n_paras, dup_paras, clean_text
FROM per_doc
ORDER BY doc_id
"""


def _q_ri_bloom_dangling(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter RI pre-filter (operators/referential.bloom_ri_violations):
    distinct lineitem part keys DEFINITELY absent from a subset parent
    (part keys not divisible by 5 — the testdata FKs are clean, so the
    query synthesizes dangling refs by shrinking the parent).  The parent
    contributes one bitmap-bounded aggregation (shuffle ≤ n_bits/64 rows
    regardless of parent size); the child side is probed MAP-SIDE with
    zero exchange (plan-pinned in tests) — the 10^12-child-row shape where
    the exact anti-join's key shuffle is the dominant cost.  Bloom filters
    have no false negatives, so at the gate's key counts (FP odds < 1e-12
    at 2^24 bits / 5 hashes) the result is exactly the anti-join's key set."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(F.col("p_partkey") % 5 != 0)
    viol = ri.bloom_ri_violations(li, part, ["l_partkey"], ["p_partkey"])
    return viol.select("l_partkey").distinct().orderBy("l_partkey")


_O_RI_BLOOM_DANGLING = """
SELECT DISTINCT l_partkey
FROM lineitem l
WHERE l_partkey IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM part p
    WHERE p.p_partkey % 5 <> 0 AND p.p_partkey = l.l_partkey)
ORDER BY l_partkey
"""


def _q_session_stats_events(spark: SparkSession, sf: str) -> DataFrame:
    """Gap sessionization (operators/temporal.session_stats): per-user
    sessions with a 1h inactivity gap over the events stream, rolled up to
    (user, session_seq, n_events, start_us, end_us, duration_us).  ONE
    corpus exchange total: the (user) window sort is reused by the rollup's
    groupBy (plan-pinned).  Gap arithmetic is exact integer microseconds
    via a timezone-independent NTZ epoch, so the oracle matches on any
    machine; ties break on event_id."""
    ev = load_table(spark, sf, "events")
    out = tmp.session_stats(
        ev, gap_seconds=3600, tiebreak_cols=["event_id"]
    )
    return out.orderBy("user_id", "session_seq")


_O_SESSION_STATS_EVENTS = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s2 AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM s
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
       max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
FROM s2 GROUP BY 1, 2 ORDER BY 1, 2
"""


def _q_asof_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (operators/temporal.asof_join): every click event
    annotated with the user's most recent purchase value at or before the
    click (backward inclusive) — the union-trick plan (tag, union, one
    key exchange, running last-ignorenulls window), never a range
    explosion or a per-key collect.  The purchase side is pre-aggregated
    to one row per (user, ts) — the operator's uniqueness contract — so
    the match is engine-deterministic; the oracle is DuckDB's native
    ASOF LEFT JOIN."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = tmp.asof_join(
        clicks, purch, ["user_id"], matched_ts_col="purchase_ts_us"
    )
    return out.select(
        "event_id",
        "user_id",
        tmp._epoch_us(out, "ts").alias("ts_us"),
        F.col("asof_pvalue").alias("last_purchase_value"),
        "purchase_ts_us",
    ).orderBy("event_id")


_O_ASOF_JOIN_EVENTS = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, max(value) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       r.pvalue AS last_purchase_value, epoch_us(r.ts) AS purchase_ts_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def _q_sequence_gaps_events(spark: SparkSession, sf: str) -> DataFrame:
    """Global sequence-gap detection (operators/temporal.sequence_gaps):
    the id ranges missing from the click-filtered event stream — the
    surrogate-key / completeness audit.  A naive global window is a
    single-partition sort; this buckets the ids by approximate-quantile
    value bounds embedded as plan literals (the operators/_prefix
    scaffold shared with packing and the KS/EMD drift checks), finds
    holes per bucket with a bucket-partitioned window (ascending bucket
    == ascending id), and stitches the ≤P−1 boundary holes from an
    O(P)-row min/max aggregate — never a global sort, never the data on
    the driver."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    out = tmp.sequence_gaps(clicks, "event_id")
    return out.orderBy("gap_start")


_O_SEQUENCE_GAPS_EVENTS = """
WITH c AS (
  SELECT event_id FROM events
  WHERE event_type = 'click' AND event_id IS NOT NULL
),
s AS (
  SELECT event_id, lag(event_id) OVER (ORDER BY event_id) AS prev
  FROM c
)
SELECT prev + 1 AS gap_start, event_id - 1 AS gap_end,
       event_id - prev - 1 AS n_missing
FROM s WHERE event_id - prev > 1
ORDER BY gap_start
"""


def _q_fd_violations_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency violation extraction (operators/profile.
    fd_violations): sources whose documents span more than one language —
    the source⇒lang consistency check, with min/max example values as
    triage evidence.  ONE map-side-combined hash-aggregate scan; output
    is one row per violating key, driver state zero."""
    from json_to_avro_schema_spark.operators.profile import fd_violations

    docs = load_table(spark, sf, "documents")
    out = fd_violations(docs, ["source"], ["lang"])
    return out.orderBy("source")


def _q_correlations_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Pearson correlation profiling (operators/profile.
    correlations — the Deequ correlation analyzer): all 6 unordered pairs
    of the four lineitem value columns in ONE fused agg scan (F.corr is a
    declarative aggregate, map-side-combined running moments; the unpivot
    is a literal-struct explode on the one-row result).  NaN (zero
    variance) normalized to null, 6-dp rounded per the module's
    cross-engine float contract."""
    from json_to_avro_schema_spark.operators.profile import correlations

    li = load_table(spark, sf, "lineitem")
    out = correlations(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    return out.orderBy("col_x", "col_y")


def _q_entropy_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon entropy per column (operators/profile.entropy — the Deequ
    Entropy analyzer) over documents lang + source: k columns in one
    pass via a skinny (column, value) explode + vocabulary-scale
    hash-agg, folded with H = ln(N) − Σ n·ln(n)/N (no per-value p
    division, so no pre-computed totals).  6-dp rounded."""
    from json_to_avro_schema_spark.operators.profile import entropy

    docs = load_table(spark, sf, "documents")
    return entropy(docs, ["lang", "source"]).orderBy("column")


_O_ENTROPY_DOCS = """
SELECT * FROM (
  SELECT 'lang' AS "column",
         CAST(sum(n) AS BIGINT) AS n_values,
         count(*) AS n_distinct,
         round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
  FROM (SELECT count(*) AS n FROM documents
        WHERE lang IS NOT NULL GROUP BY lang)
  UNION ALL
  SELECT 'source' AS "column",
         CAST(sum(n) AS BIGINT) AS n_values,
         count(*) AS n_distinct,
         round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
  FROM (SELECT count(*) AS n FROM documents
        WHERE source IS NOT NULL GROUP BY source)
)
ORDER BY "column"
"""


def _q_mutual_info_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information between column pairs (operators/profile.
    mutual_information — the Deequ MutualInformation analyzer): the
    categorical dependence detector over documents (lang, source) and
    (source, n_chars).  Both pairs in ONE corpus scan: skinny triple
    explode + one groupingSets pass (joint + both margins + total),
    folded via MI = ln N + (Σn_xy·ln n_xy − Σn_x·ln n_x − Σn_y·ln n_y)/N."""
    from json_to_avro_schema_spark.operators.profile import mutual_information

    docs = load_table(spark, sf, "documents")
    out = mutual_information(
        docs, [("lang", "source"), ("source", "n_chars")]
    )
    return out.orderBy("col_x", "col_y")


def _mi_pair_sql(a: str, b: str) -> str:
    nn = f"{a} IS NOT NULL AND {b} IS NOT NULL"
    return f"""SELECT '{a}' AS col_x, '{b}' AS col_y,
       CAST(t.N AS BIGINT) AS n_pairs,
       round(ln(t.N) + (t.sxy - mx.sx - my.sy) / t.N, 6) AS mi
FROM
 (SELECT sum(n) AS N, sum(n*ln(n)) AS sxy FROM
   (SELECT count(*) AS n FROM documents WHERE {nn} GROUP BY {a}, {b})) t,
 (SELECT sum(n*ln(n)) AS sx FROM
   (SELECT count(*) AS n FROM documents WHERE {nn} GROUP BY {a})) mx,
 (SELECT sum(n*ln(n)) AS sy FROM
   (SELECT count(*) AS n FROM documents WHERE {nn} GROUP BY {b})) my"""


_O_MUTUAL_INFO_DOCS = (
    _mi_pair_sql("lang", "source")
    + "\nUNION ALL\n"
    + _mi_pair_sql("source", "n_chars")
    + "\nORDER BY col_x, col_y"
)


def _q_table_diff_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot diff (operators/diff.table_diff): added/removed/changed
    keys between two deterministically derived versions of orders (old
    drops keys ≡3 mod 10; new drops ≡5 mod 13 and doubles o_totalprice
    on multiples of 7).  The full-outer join shuffles only
    (key, xxhash64 fingerprint) rows — row bodies are pruned before the
    exchange; the oracle re-derives statuses with per-column
    IS DISTINCT FROM (fingerprint equality ≡ value equality modulo a
    2^-64 collision, absent here)."""
    from json_to_avro_schema_spark.operators.diff import table_diff

    o = load_table(spark, sf, "orders")
    key = F.col("o_orderkey")
    old = o.filter(key % 10 != 3)
    new = o.filter(key % 13 != 5).withColumn(
        "o_totalprice",
        F.when(key % 7 == 0, F.col("o_totalprice") * 2).otherwise(
            F.col("o_totalprice")
        ),
    )
    out = table_diff(old, new, ["o_orderkey"])
    return out.orderBy("o_orderkey")


_O_TABLE_DIFF_ORDERS = """
WITH old AS (
  SELECT * FROM orders WHERE o_orderkey % 10 <> 3
), new AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 13 <> 5
), j AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
                OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
              THEN 'changed' ELSE 'unchanged' END AS status
  FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, status FROM j
WHERE status <> 'unchanged'
ORDER BY o_orderkey
"""


def _q_null_patterns_events(spark: SparkSession, sf: str) -> DataFrame:
    """Missingness-structure report (operators/profile.null_patterns):
    frequency + share of every observed null/non-null combination — the
    joint view per-column null rates can't give (columns missing
    TOGETHER = one ingestion fault).  The synthetic tables are null-free,
    so nulls are derived deterministically (value masked below 50,
    props masked on clicks — the same CASE logic in the oracle), giving
    all four patterns.  ONE map-side-combined hash-agg bounded at 2^k
    groups; the pct denominator is a running sum over that aggregate."""
    from json_to_avro_schema_spark.operators.profile import null_patterns

    ev = load_table(spark, sf, "events")
    d = ev.select(
        F.when(F.col("value") >= 50, F.col("value")).alias("value_hi"),
        F.when(F.col("event_type") != "click", F.col("props")).alias(
            "nonclick_props"
        ),
    )
    out = null_patterns(d, ["value_hi", "nonclick_props"])
    return out.orderBy("value_hi_null", "nonclick_props_null")


_O_NULL_PATTERNS_EVENTS = """
WITH d AS (
  SELECT CASE WHEN value >= 50 THEN value END AS value_hi,
         CASE WHEN event_type <> 'click' THEN props END AS nonclick_props
  FROM events
), p AS (
  SELECT value_hi IS NULL AS value_hi_null,
         nonclick_props IS NULL AS nonclick_props_null,
         count(*) AS n_rows
  FROM d GROUP BY 1, 2
)
SELECT value_hi_null, nonclick_props_null, n_rows,
       round(n_rows / (SELECT sum(n_rows) FROM p), 6) AS pct
FROM p
ORDER BY value_hi_null, nonclick_props_null
"""


def _corr_pair_sql(a: str, b: str) -> str:
    return (
        f"SELECT '{a}' AS col_x, '{b}' AS col_y,\n"
        f"       round(corr({a}, {b}), 6) AS pearson_r,\n"
        f"       count(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL "
        f"THEN 1 END) AS n_pairs\n"
        f"FROM lineitem"
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_O_CORRELATIONS_LINEITEM = (
    "\nUNION ALL\n".join(
        _corr_pair_sql(a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    )
    + "\nORDER BY col_x, col_y"
)


_O_FD_VIOLATIONS_DOCS = """
SELECT source,
       count(DISTINCT lang) AS n_distinct,
       count(*) AS n_rows,
       min(lang) AS lang_min,
       max(lang) AS lang_max
FROM documents
GROUP BY source
HAVING count(DISTINCT lang) > 1
ORDER BY source
"""


def _q_interval_overlaps_events(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap validation (operators/temporal.interval_overlaps):
    per-(user, event_type) 1h-gap session intervals, flagged when they
    overlap a session of ANOTHER type for the same user ("was the user
    mid-click-session while a purchase session ran?" — the
    bookings-must-not-overlap check shape).  One exchange + one window
    sort per stage (plan-pinned): running max(hi) catches predecessor
    overlaps, the next row's lo catches successor overlaps — never the
    naive per-key self-join, which is quadratic under hot users.
    Same-(user, type) sessions are disjoint by construction, so every
    flag is a cross-type overlap."""
    ev = load_table(spark, sf, "events")
    sess = tmp.session_stats(
        ev,
        user_col=["user_id", "event_type"],
        gap_seconds=3600,
        tiebreak_cols=["event_id"],
    )
    iv = sess.select(
        "user_id",
        "event_type",
        "session_seq",
        F.col("start_us").alias("lo_us"),
        F.col("end_us").alias("hi_us"),
    )
    out = tmp.interval_overlaps(
        iv, ["user_id"], tiebreak_cols=["event_type", "session_seq"]
    )
    return out.filter(F.col("overlaps")).orderBy(
        "user_id", "event_type", "session_seq"
    )


_O_INTERVAL_OVERLAPS_EVENTS = """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
),
s2 AS (
  SELECT user_id, event_type, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM s
),
iv AS (
  SELECT user_id, event_type, session_seq,
         min(epoch_us(ts)) AS lo_us, max(epoch_us(ts)) AS hi_us
  FROM s2 GROUP BY 1, 2, 3
)
SELECT a.user_id, a.event_type, a.session_seq, a.lo_us, a.hi_us,
       TRUE AS overlaps
FROM iv a
WHERE EXISTS (
  SELECT 1 FROM iv b
  WHERE b.user_id = a.user_id
    AND (b.event_type <> a.event_type OR b.session_seq <> a.session_seq)
    AND a.lo_us <= b.hi_us AND b.lo_us <= a.hi_us)
ORDER BY a.user_id, a.event_type, a.session_seq
"""


def _q_range_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketized point-in-interval range join (operators/temporal.
    range_join): every purchase event annotated with the user's
    click-session interval containing it (1h-gap sessions over click
    events only, so a purchase can fall between sessions — inner join
    drops those).  The plan is a plain equi-join on (user, hour-bucket)
    + exact BETWEEN filter — intervals replicate into overlapped buckets,
    points land in exactly one, so no BroadcastNestedLoopJoin and no
    key-only quadratic pairing (plan-pinned in tests).  Same-user click
    sessions are time-disjoint by construction, so each purchase matches
    at most one interval and the result is deterministic."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    sess = tmp.session_stats(
        clicks, gap_seconds=3600, tiebreak_cols=["event_id"]
    )
    intervals = sess.select(
        "user_id",
        F.col("session_seq"),
        F.col("start_us").alias("lo_us"),
        F.col("end_us").alias("hi_us"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", tmp._epoch_us(ev, "ts").alias("ts_us")
    )
    out = tmp.range_join(
        purch, intervals, ["user_id"], bucket_width_us=3_600_000_000
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("iv_session_seq").alias("click_session"),
        "lo_us",
        "hi_us",
    ).orderBy("event_id")


_O_RANGE_JOIN_EVENTS = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
              THEN 1 ELSE 0 END AS ns
  FROM events WHERE event_type = 'click'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
c2 AS (
  SELECT user_id, ts,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM c
),
sess AS (
  SELECT user_id, session_seq,
         min(epoch_us(ts)) AS lo_us, max(epoch_us(ts)) AS hi_us
  FROM c2 GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       s.session_seq AS click_session, s.lo_us, s.hi_us
FROM events p
JOIN sess s
  ON p.user_id = s.user_id
 AND epoch_us(p.ts) BETWEEN s.lo_us AND s.hi_us
WHERE p.event_type = 'purchase'
ORDER BY p.event_id
"""


_BM25_QUERY = "hash join merge"
_BM25_K = 20


def _q_bm25_search_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Ad-hoc BM25 full-text search (operators/search.bm25_search): top-20
    docs for the fixed query, NO inverted index — per-term tf is a HOF
    count in one codegen'd projection (tokenization subexpression-
    eliminated, no explode), corpus stats (N, Σdl, per-term df) are one
    scalar agg broadcast back, and the top-k is TakeOrderedAndProject.
    Scores 6-dp pre-rounded before the >0 filter and the (score desc,
    doc_id) rank, so ranks are engine-stable."""
    from json_to_avro_schema_spark.operators.search import bm25_search

    docs = load_table(spark, sf, "documents")
    return bm25_search(docs, _BM25_QUERY, k=_BM25_K)


def _bm25_oracle_sql(query: str, k: int, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB re-derivation mirroring bm25_search exactly: same
    tokenization, same fixed-order left-associated contribution sum, same
    double promotions, same post-round filter/rank."""
    from json_to_avro_schema_spark.operators.search import query_terms

    terms = query_terms(query)
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(len(terms))
    )
    contribs = "\n           + ".join(
        f"(ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1 + 1.0!r}) / (tf{i} + {k1!r} *"
        f" ({1.0 - b!r} + {b!r} * dl / avgdl)))"
        for i in range(len(terms))
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x != '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM tok
), s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(dl) AS DOUBLE) AS sumdl,
         {df_cols}
  FROM base
), scored AS (
  SELECT doc_id,
         round({contribs}, 6) AS score
  FROM base, (SELECT *, sumdl / n AS avgdl FROM s)
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
       doc_id, score
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id LIMIT {k}
"""


def _q_bm25_indexed_docs(spark: SparkSession, sf: str) -> DataFrame:
    """STORED-index BM25 (operators/search.build_bm25_index +
    bm25_search_indexed): builds the term-hash-bucketed postings index in
    a fresh temp dir, then answers the same fixed query reading ONLY the
    query terms' bucket partitions (PartitionFilters pruning, pinned in
    tests).  Oracled by the SAME SQL as the ad-hoc path — the indexed
    search must be result-identical to index-free scoring."""
    from json_to_avro_schema_spark.operators.search import (
        bm25_search_indexed,
        build_bm25_index,
    )

    docs = load_table(spark, sf, "documents")

    def build(scratch: str) -> DataFrame:
        build_bm25_index(docs, scratch)
        return bm25_search_indexed(spark, scratch, _BM25_QUERY, k=_BM25_K)

    return _in_scratch(spark, build)


def _q_tfidf_top_terms_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc top-3 characteristic terms by tf·idf (operators/search.
    tfidf_top_terms — keyword extraction): skinny token-scale postings
    (text never shuffles), vocabulary-scale df agg, one term-keyed join,
    per-doc rank window with the WindowGroupLimit map-side prune.  Ties
    break (tfidf desc, term asc) after the 6-dp round."""
    from json_to_avro_schema_spark.operators.search import tfidf_top_terms

    docs = load_table(spark, sf, "documents")
    return tfidf_top_terms(docs, top_n=3).orderBy("doc_id", "term_rank")


_O_TFIDF_TOP_TERMS_DOCS = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x != '')) AS term
  FROM documents
), post AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), tdf AS (
  SELECT term, count(*) AS df FROM post GROUP BY term
), scored AS (
  SELECT p.doc_id, p.term, p.tf, t.df,
         round(p.tf * ln(nn.n / t.df), 6) AS tfidf
  FROM post p JOIN tdf t ON p.term = t.term, nn
), ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS term_rank
  FROM scored
)
SELECT doc_id, term_rank, term, tf, df, tfidf
FROM ranked WHERE term_rank <= 3
ORDER BY doc_id, term_rank
"""


def _q_outliers_events(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level outlier detection (operators/outliers.py), both
    detectors as one labeled union: per-event_type MAD robust-z
    (|z| > 3.5, Iglewicz-Hoaglin) and Tukey IQR fences (factor 3.0 —
    'far out') over events.value.  Group stats are group-scale
    broadcast joins; rows never shuffle.  stat_a/stat_b carry
    (med, mad) / (lo_fence, hi_fence); score is the robust z (null for
    iqr).  All floats 6-dp pre-rounded, flags compare rounded values."""
    from json_to_avro_schema_spark.operators.outliers import (
        iqr_outliers,
        mad_outliers,
    )

    ev = load_table(spark, sf, "events")
    mad = mad_outliers(ev, "value", by=["event_type"], k=3.5).select(
        F.lit("mad").alias("method"),
        "event_id",
        "event_type",
        "value",
        F.col("med").alias("stat_a"),
        F.col("mad").alias("stat_b"),
        F.col("robust_z").alias("score"),
    )
    iqr = iqr_outliers(ev, "value", by=["event_type"], factor=3.0).select(
        F.lit("iqr").alias("method"),
        "event_id",
        "event_type",
        "value",
        F.col("lo_fence").alias("stat_a"),
        F.col("hi_fence").alias("stat_b"),
        F.lit(None).cast("double").alias("score"),
    )
    return mad.unionByName(iqr).orderBy("method", "event_id")


_O_OUTLIERS_EVENTS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
), mz AS (
  SELECT 'mad' AS method, e.event_id, e.event_type, e.value,
         round(m.med, 6) AS stat_a, round(d.mad, 6) AS stat_b,
         round(0.6745 * (e.value - m.med) / d.mad, 6) AS score
  FROM events e
  JOIN med m USING (event_type) JOIN mad d USING (event_type)
  WHERE d.mad > 0
    AND abs(round(0.6745 * (e.value - m.med) / d.mad, 6)) > 3.5
), q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
), iq AS (
  SELECT 'iqr' AS method, e.event_id, e.event_type, e.value,
         round(q.q1 - 3.0 * (q.q3 - q.q1), 6) AS stat_a,
         round(q.q3 + 3.0 * (q.q3 - q.q1), 6) AS stat_b,
         CAST(NULL AS DOUBLE) AS score
  FROM events e JOIN q USING (event_type)
  WHERE e.value < round(q.q1 - 3.0 * (q.q3 - q.q1), 6)
     OR e.value > round(q.q3 + 3.0 * (q.q3 - q.q1), 6)
)
SELECT * FROM (SELECT * FROM mz UNION ALL SELECT * FROM iq)
ORDER BY method, event_id
"""


def _q_fd_suggest_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency discovery (operators/profile.fd_candidates —
    the suggest side of the new x-fd table check): all 6 ordered pairs of
    documents (lang, source, n_chars) measured as one column-pruned
    grouped agg per determinant (each determinant's dependents share the
    pass), melted to (determinant, dependent, n_keys, n_violating_keys,
    violation_fraction, fd_holds).  violation_fraction is the raw IEEE
    division (ref_containment float contract)."""
    from json_to_avro_schema_spark.operators.profile import fd_candidates

    docs = load_table(spark, sf, "documents")
    return fd_candidates(docs, ["lang", "source", "n_chars"]).orderBy(
        "determinant", "dependent"
    )


def _fd_pair_sql(a: str, b: str) -> str:
    return f"""SELECT '{a}' AS determinant, '{b}' AS dependent,
       count(*) AS n_keys,
       CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_violating_keys,
       CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) / count(*) AS violation_fraction,
       CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) <= 0.0 * count(*) AS fd_holds
FROM (SELECT {a} AS k, count(DISTINCT {b}) AS nd
      FROM documents GROUP BY {a})"""


_FD_COLS = ["lang", "source", "n_chars"]
_O_FD_SUGGEST_DOCS = (
    "\nUNION ALL\n".join(
        _fd_pair_sql(a, b) for a in _FD_COLS for b in _FD_COLS if a != b
    )
    + "\nORDER BY determinant, dependent"
)


def _q_weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-100 weighted sample (operators/sampling.weighted_sample —
    Efraimidis-Spirakis A-ES over the portable md5 bucket): documents
    weighted by n_chars, reproducible on any partitioning, physically a
    TakeOrderedAndProject on the 9-dp pre-rounded priority.  Oracle
    re-derives the priority bit-for-bit via weighted_priority_sql."""
    from json_to_avro_schema_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", 100, seed="r5ws").select(
        "doc_id", "n_chars", "priority"
    )


def _weighted_sample_oracle() -> str:
    from json_to_avro_schema_spark.operators.sampling import (
        weighted_priority_sql,
    )

    return f"""
SELECT doc_id, n_chars,
       {weighted_priority_sql("doc_id", "n_chars", "r5ws")} AS priority
FROM documents
WHERE doc_id IS NOT NULL AND n_chars > 0
ORDER BY priority DESC, doc_id LIMIT 100
"""


def _q_quantile_bins_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-frequency discretization (operators/binning.quantile_bins):
    l_extendedprice into 8 quantile bins — ONE exact-percentile scan for
    the 7 edges (6-dp pre-rounded, the engine-stability contract), then a
    shuffle-free literal-comparison assignment, summarized per bin.  The
    oracle re-derives edges via quantile_cont (same interpolation) and
    the identical >= chain."""
    from json_to_avro_schema_spark.operators.binning import (
        assign_bins,
        quantile_bin_edges,
    )

    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    edges = quantile_bin_edges(li, "l_extendedprice", 8)
    return (
        li.select(
            assign_bins("l_extendedprice", edges).alias("bin"),
            F.col("l_extendedprice").alias("v"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        )
        .orderBy("bin")
    )


def _quantile_bins_oracle(n_bins: int = 8) -> str:
    ps = [i / n_bins for i in range(1, n_bins)]
    e_cols = ", ".join(
        f"round(quantile_cont(l_extendedprice, {p!r}), 6) AS e{i}"
        for i, p in enumerate(ps)
    )
    chain = " + ".join(
        f"CAST(l_extendedprice >= e{i} AS INT)" for i in range(len(ps))
    )
    return f"""
WITH e AS (
  SELECT {e_cols} FROM lineitem WHERE l_extendedprice IS NOT NULL
), b AS (
  SELECT ({chain}) AS bin, l_extendedprice AS v
  FROM lineitem, e WHERE l_extendedprice IS NOT NULL
)
SELECT bin, count(*) AS n_rows, min(v) AS v_min, max(v) AS v_max
FROM b GROUP BY bin ORDER BY bin
"""


def _q_benford_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-digit conformity (operators/drift.benford_report —
    the forensic screen for fabricated/truncated amounts) over
    l_extendedprice: one 9-group hash-agg on the clamped arithmetic
    digit, 9-row downstream arithmetic, MAD verdict on every row."""
    from json_to_avro_schema_spark.operators.drift import benford_report

    li = load_table(spark, sf, "lineitem")
    return benford_report(li, "l_extendedprice")


_O_BENFORD_LINEITEM = """
WITH v AS (
  SELECT abs(l_extendedprice) AS x FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND abs(l_extendedprice) > 0
), o AS (
  SELECT CAST(CASE WHEN d0 >= 10 THEN 1 WHEN d0 < 1 THEN 9 ELSE d0 END
              AS INT) AS digit,
         count(*) AS n
  FROM (SELECT floor(x / pow(10, floor(log10(x)))) AS d0 FROM v)
  GROUP BY 1
), d AS (
  SELECT CAST(gs AS INT) AS digit FROM generate_series(1, 9) t(gs)
), j AS (
  SELECT d.digit, coalesce(o.n, 0) AS n FROM d LEFT JOIN o USING (digit)
), t AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total FROM j
), s AS (
  SELECT digit, n, n / total AS op,
         log10(1 + 1.0 / digit) AS ep
  FROM j, t
), m AS (
  SELECT round(avg(abs(op - ep)), 6) AS mad FROM s
)
SELECT digit, CAST(n AS BIGINT) AS n, round(op, 6) AS observed_p,
       round(ep, 6) AS expected_p, round(abs(op - ep), 6) AS abs_dev,
       m.mad AS mad, m.mad <= 0.015 AS conforms
FROM s, m ORDER BY digit
"""


def _q_set_similarity_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT set-similarity join (operators/dedup.set_similarity_join —
    AllPairs/PPJoin prefix filter): all doc pairs with distinct-token
    Jaccard ≥ 0.9 over the doc_id<400 slice, recall 1.0 by construction
    (the exact-guarantee complement of the minhash path).  Candidates
    come from an equi-join on each doc's rarest-token prefix — never a
    cartesian — and only candidates pay the exact verify.  The ≥ compare
    uses the raw IEEE division; the output jaccard is 6-dp rounded."""
    from json_to_avro_schema_spark.operators.dedup import (
        set_similarity_join,
    )

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 400)
    return set_similarity_join(docs, threshold=0.9).orderBy(
        "doc_id_1", "doc_id_2"
    )


_O_SET_SIMILARITY_PAIRS = """
WITH d AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(
           regexp_split_to_array(lower(text), '\\s+'), x -> x != ''))) AS t
  FROM documents WHERE doc_id < 400
), dd AS (
  SELECT doc_id, t FROM d WHERE len(t) > 0
), p AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         CAST(len(a.t) AS INT) AS n_tokens_1,
         CAST(len(b.t) AS INT) AS n_tokens_2,
         CAST(len(list_intersect(a.t, b.t)) AS INT) AS n_common
  FROM dd a JOIN dd b ON a.doc_id < b.doc_id
)
SELECT doc_id_1, doc_id_2, n_tokens_1, n_tokens_2, n_common,
       round(n_common * 1.0 / (n_tokens_1 + n_tokens_2 - n_common), 6)
         AS jaccard
FROM p
WHERE n_common * 1.0 / (n_tokens_1 + n_tokens_2 - n_common) >= 0.9
ORDER BY doc_id_1, doc_id_2
"""


def _q_zorder_events(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) key projection (operators/layout.with_zorder —
    the data-skipping clustering key `write_zordered` range-partitions
    on): events quantized to 6 bits per column over (user_id, value),
    bits interleaved in a pure codegen'd shift-and-or chain.  One
    min/max agg (4 scalars) + one projection; the oracle re-derives the
    quantization and every bit position arithmetically."""
    from json_to_avro_schema_spark.operators.layout import with_zorder

    ev = load_table(spark, sf, "events")
    return (
        with_zorder(ev, ["user_id", "value"], bits=6, out_col="z")
        .select("event_id", "z")
        .orderBy("event_id")
    )


def _zorder_oracle(bits: int = 6) -> str:
    def q(col: str, lo: str, hi: str) -> str:
        return (
            f"CAST(least(greatest(floor((CAST({col} AS DOUBLE) - {lo}) / "
            f"({hi} - {lo}) * {float(2 ** bits - 1)!r}), 0), "
            f"{2 ** bits - 1}) AS BIGINT)"
        )

    terms = []
    for j, qc in enumerate(("qx", "qy")):
        for i in range(bits):
            terms.append(f"((({qc} >> {i}) & 1) << {i * 2 + j})")
    z = " | ".join(terms)
    return f"""
WITH r AS (
  SELECT min(CAST(user_id AS DOUBLE)) AS lox,
         max(CAST(user_id AS DOUBLE)) AS hix,
         min(CAST(value AS DOUBLE)) AS loy,
         max(CAST(value AS DOUBLE)) AS hiy
  FROM events
), qq AS (
  SELECT event_id,
         CASE WHEN user_id IS NULL OR hix - lox <= 0 THEN 0
              ELSE {q("user_id", "lox", "hix")} END AS qx,
         CASE WHEN value IS NULL OR hiy - loy <= 0 THEN 0
              ELSE {q("value", "loy", "hiy")} END AS qy
  FROM events, r
)
SELECT event_id, CAST({z} AS BIGINT) AS z FROM qq ORDER BY event_id
"""


# decomposed acute (e + U+0301), decomposed ring (A + U+030A), a tab and
# double spaces for the collapse pass — single-quote-free so it embeds in
# the oracle SQL literally; ASCII whitespace only (Python \s and RE2 \s
# agree there, not on NBSP)
_UNICODE_SUFFIX = (
    "  Cafe\u0301 A\u030angstro\u0308m\tNAIVE  "
)


def _q_normalize_unicode_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode normalization (operators/text.normalize_unicode — the
    CCNet-style cleanup pass, one of the package's three sanctioned
    Arrow/pandas surfaces): every doc's text gets a planted suffix with
    DECOMPOSED accents + messy whitespace, then NFC + lowercase +
    whitespace-collapse in one mapInPandas pass.  The oracle re-derives
    via DuckDB nfc_normalize (bit-identical to Python NFC, pinned in
    tests) + lower + RE2 collapse."""
    from json_to_avro_schema_spark.operators.text import normalize_unicode

    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(_UNICODE_SUFFIX)).alias("text")
    )
    out = normalize_unicode(
        docs, "text", lowercase=True, collapse_whitespace=True,
        out_col="norm_text",
    )
    return out.select("doc_id", "norm_text").orderBy("doc_id")


def _normalize_unicode_oracle() -> str:
    return f"""
SELECT doc_id,
       trim(regexp_replace(
         lower(nfc_normalize(text || '{_UNICODE_SUFFIX}')),
         '\\s+', ' ', 'g')) AS norm_text
FROM documents ORDER BY doc_id
"""


def _q_standardize_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Group-wise z-score standardization (operators/binning.standardize):
    l_extendedprice scaled per l_returnflag over the l_orderkey<200 slice
    — one group-scale avg/stddev agg broadcast back, scaling in a
    codegen'd projection.  Degenerate/null-variance groups scale to
    null; 6-dp round is the cross-engine float contract (stddev merge
    order differs at ~1e-15)."""
    from json_to_avro_schema_spark.operators.binning import standardize

    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_orderkey") < 200
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    out = standardize(li, "l_extendedprice", by=["l_returnflag"])
    return out.orderBy("l_orderkey", "l_linenumber")


_O_STANDARDIZE_LINEITEM = """
WITH t AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
  FROM lineitem WHERE l_orderkey < 200
), s AS (
  SELECT l_returnflag, avg(l_extendedprice) AS m,
         stddev_samp(l_extendedprice) AS sd
  FROM t GROUP BY l_returnflag
)
SELECT t.l_orderkey, t.l_linenumber, t.l_returnflag, t.l_extendedprice,
       CASE WHEN s.sd > 0
            THEN round((t.l_extendedprice - s.m) / s.sd, 6)
       END AS l_extendedprice_scaled
FROM t JOIN s USING (l_returnflag)
ORDER BY l_orderkey, l_linenumber
"""


_FUZZY_DIRTY_NAME = (
    "CASE CAST(c_custkey % 3 AS INT) "
    "WHEN 0 THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11) "
    "WHEN 1 THEN substr(c_name, 1, 9) || substr(c_name, 11) "
    "ELSE substr(c_name, 1, 9) || 'XY' || substr(c_name, 12) END"
)


def _q_fuzzy_match_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Blocking-based fuzzy record linkage (operators/matching.
    fuzzy_join — Fellegi-Sunter blocking + Levenshtein verify): a
    deterministically corrupted copy of customer names (1-char
    substitute / delete / 2-char substitute by key mod 3) linked back to
    the clean side, blocked on c_nationkey, distance ≤ 2.  Candidates
    come from the hash equi-join on the block key only — never a
    nested loop.  The custkey<300 slice keeps the oracle's quadratic
    re-derivation tractable."""
    from json_to_avro_schema_spark.operators.matching import fuzzy_join

    cust = load_table(spark, sf, "customer").filter(F.col("c_custkey") < 300)
    clean = cust.select(
        F.col("c_custkey").alias("right_id"),
        F.col("c_name").alias("name"),
        "c_nationkey",
    )
    dirty = cust.select(
        F.col("c_custkey").alias("left_id"),
        F.expr(_FUZZY_DIRTY_NAME).alias("name"),
        "c_nationkey",
    )
    out = fuzzy_join(
        dirty, clean, on="name", block_on="c_nationkey", max_distance=2
    )
    return out.orderBy("left_id", "right_id")


_O_FUZZY_MATCH_CUSTOMERS = f"""
WITH clean AS (
  SELECT c_custkey AS right_id, c_name AS name, c_nationkey
  FROM customer WHERE c_custkey < 300
), dirty AS (
  SELECT c_custkey AS left_id,
         {_FUZZY_DIRTY_NAME} AS name,
         c_nationkey
  FROM customer WHERE c_custkey < 300
)
SELECT d.left_id, c.right_id, d.name AS name_left, c.name AS name_right,
       CAST(levenshtein(d.name, c.name) AS INT) AS distance
FROM dirty d JOIN clean c USING (c_nationkey)
WHERE levenshtein(d.name, c.name) <= 2
ORDER BY left_id, right_id
"""


def _q_width_bins_events(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-width binning over a DECLARED range (operators/binning.
    width_bins — the zero-scan sibling of quantile_bins): events.value
    into 10 bins over [0, 500) with the drift-histogram clamp, rolled up
    to per-bin (n_rows, v_min, v_max).  Pure projection + one hash-agg;
    the oracle re-derives the floor/clamp arithmetic."""
    from json_to_avro_schema_spark.operators.binning import width_bins

    ev = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    return (
        width_bins(ev, "value", 10, 0.0, 500.0, out_col="bin")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .orderBy("bin")
    )


_O_WIDTH_BINS_EVENTS = """
WITH b AS (
  SELECT CAST(least(greatest(floor((value - 0.0) / 500.0 * 10), 0), 9)
              AS INT) AS bin,
         value
  FROM events WHERE value IS NOT NULL
)
SELECT bin, count(*) AS n_rows, min(value) AS v_min, max(value) AS v_max
FROM b GROUP BY bin ORDER BY bin
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Insertion order is deliberate: the driver's correctness gate
    records the FIRST 50 entries, so positions 1-50 carry the flagship
    derived-validation pair and one representative of EVERY operator
    family. Positions 51+ are variants of families already attested
    above (merged or sibling queries); they stay fully oracled and are
    replayed by scripts/check_correctness.py.

    Round-5 rotation (VERDICT r4 #1): the 15 round-4 queries that had
    never been driver-recorded (plus the new classifier_quality_docs)
    moved INTO the first 50; 16 queries that WERE driver-attested green
    in CORRECTNESS_r04.json and whose families stay represented moved to
    51+ (they remain oracled and replay-checked)."""
    return {
        # flagship pipeline, fully oracled over the derived corrupted
        # table (the engine-native generate_documents_iv twin stays in
        # entry() and pytest's golden/byte-equality suites)
        "derived_validation_verdicts": _q_derived_validation_verdicts,
        "derived_validation_violations": _q_derived_validation_violations,
        "span_ri_dangling": _q_span_ri_dangling,
        "span_monotonic_violations": _q_span_monotonic_violations,
        # sketches / checkpoint / multimodal
        "tdigest_price": _q_tdigest_price,
        "checkpoint_resume": _q_checkpoint_resume,
        "multimodal_features": _q_multimodal_features,
        # near-dup + ANN + semantic-dedup scale paths
        "simhash_near_dups": _q_simhash_near_dups,
        "near_dup_clusters": _q_near_dup_clusters,
        "ivf_indexed_topk_cosine": _q_ivf_indexed_topk_cosine,
        "semantic_dedup_embeddings": _q_semantic_dedup_embeddings,
        # streaming (batch≡stream, watermarked state-store dedup, windows,
        # applyInPandasWithState, URL dedup, profile history)
        "streaming_validation": _q_streaming_validation,
        "streaming_dedup_watermarked": _q_streaming_dedup_watermarked,
        "streaming_windowed_metrics": _q_streaming_windowed_metrics,
        "streaming_running_verdicts": _q_streaming_running_verdicts,
        "streaming_url_dedup": _q_streaming_url_dedup,
        "streaming_profile_drift": _q_streaming_profile_drift,
        # §2.3 table-level checks (SQL-expressible, DuckDB-oracled)
        "stats_lineitem": _q_stats_lineitem,
        "unique_orders": _q_unique_orders,
        "ri_checks": _q_ri_checks,
        # r5 new family: zero-child-shuffle bloom RI pre-filter
        "ri_bloom_dangling": _q_ri_bloom_dangling,
        "range_lineitem": _q_range_lineitem,
        "psi_drift": _q_psi_drift,
        "table_checks_lineitem": _q_table_checks_lineitem,
        "format_json_checks": _q_format_json_checks,
        "grouping_verdicts": _q_grouping_verdicts,
        "topk_price_by_flag": _q_topk_price_by_flag,
        # r5 new family: temporal operators (gap sessions + as-of join)
        "session_stats_events": _q_session_stats_events,
        "asof_join_events": _q_asof_join_events,
        # profiler family (profile->spec round trip, FK suggestion,
        # run-over-run drift, most-common values)
        "ref_suggest_containment": _q_ref_suggest_containment,
        "profile_drift_lineitem": _q_profile_drift_lineitem,
        "frequent_values_docs": _q_frequent_values_docs,
        # training-data pipeline ops (oracled)
        "gopher_rules_docs": _q_gopher_rules_docs,
        "c4_clean_docs": _q_c4_clean_docs,
        "classifier_quality_docs": _q_classifier_quality_docs,
        "packed_shards": _q_packed_shards,
        "mixture_docs": _q_mixture_docs,
        "corpus_funnel_docs": _q_corpus_funnel_docs,
        "url_dedup_incremental_docs": _q_url_dedup_incremental_docs,
        "paragraph_dedup_docs": _q_paragraph_dedup_docs,
        "skew_report_events": _q_skew_report_events,
        "perplexity_split_docs": _q_perplexity_split_docs,
        # r5 new family: full-text relevance search (BM25, no index —
        # HOF tf projection + one scalar agg + TakeOrderedAndProject);
        # dsir_weights moved to 51+ (driver-attested green in r04, lm
        # family stays recorded via perplexity_split_docs above)
        "bm25_search_docs": _q_bm25_search_docs,
        "dup_ngram_coverage": _q_dup_ngram_coverage,
        "exactsubstr_clean_docs": _q_exactsubstr_clean_docs,
        "exactsubstr_keep_first": _q_exactsubstr_keep_first,
        # r5 new family: row-level outlier detection (MAD robust-z +
        # IQR fences as one labeled union); exact_dup_groups moved to
        # 51+ (driver-attested green in r04, exact-dedup family stays
        # recorded via the url/paragraph/exactsubstr entries)
        "outliers_events": _q_outliers_events,
        "minhash_near_dups": _q_minhash_near_dups,
        "ngram_decontamination": _q_ngram_decontamination,
        "stratified_sample_events": _q_stratified_sample_events,
        # ---- position 51+: family variants; every name below was either
        # driver-attested green in a prior round's CORRECTNESS file or is
        # a sibling of an attested family member; all stay oracled ----
        "streaming_dedup": _q_streaming_dedup,
        "metric_anomalies_events": _q_metric_anomalies_events,
        "verdict_set_ops": _q_verdict_set_ops,
        "token_totals": _q_token_totals,
        "suggested_spec_lineitem": _q_suggested_spec_lineitem,
        "lang_detect_docs": _q_lang_detect_docs,
        "pii_docs": _q_pii_docs,
        "repetition_docs": _q_repetition_docs,
        "chunked_docs": _q_chunked_docs,
        "clean_corpus_report": _q_clean_corpus_report,
        "url_dedup_docs": _q_url_dedup_docs,
        "lm_perplexity_docs": _q_lm_perplexity_docs,
        "dedup_incremental": _q_dedup_incremental,
        "colocated_dedup": _q_colocated_dedup,
        "decontaminate_pairs": _q_decontaminate_pairs,
        "embedding_near_dups": _q_embedding_near_dups,
        "quality_docs": _q_quality_docs,
        "stats_events_by_type": _q_stats_events_by_type,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "vector_stats": _q_vector_stats,
        "quantiles_price": _q_quantiles_price,
        "events_domain": _q_events_domain,
        "text_analysis": _q_text_analysis,
        "dedup_exact_keep": _q_dedup_exact_keep,
        "fingerprint_distinct": _q_fingerprint_distinct,
        "sample_split_docs": _q_sample_split_docs,
        "minhash_incremental_dups": _q_minhash_incremental_dups,
        "span_seq_keys": _q_span_seq_keys,
        "span_kind_stats": _q_span_kind_stats,
        "topk_cosine": _q_topk_cosine,
        "lsh_topk_cosine": _q_lsh_topk_cosine,
        "ivf_topk_cosine": _q_ivf_topk_cosine,
        "bpe_token_stats": _q_bpe_token_stats,
        "dup_event_users": _q_dup_event_users,
        "resize_plan": _q_resize_plan,
        "categorical_drift": _q_categorical_drift,
        # r5 addition: distributed closed-form training for the classifier
        # family attested by classifier_quality_docs above
        "classifier_train_docs": _q_classifier_train_docs,
        # r5 addition: exact binning-free KS drift, sibling of the
        # driver-attested psi_drift / categorical_drift family
        "ks_drift": _q_ks_drift,
        # r5 addition: exact Wasserstein-1 drift (integrated CDF gap),
        # same family and scaffold as ks_drift
        "emd_drift": _q_emd_drift,
        # r5 demotions making room for the bloom-RI + temporal families:
        # all three were driver-attested green in CORRECTNESS_r04.json and
        # their families stay recorded (range_lineitem, unique_orders,
        # psi_drift)
        "enum_returnflag": _q_enum_returnflag,
        "histograms": _q_histograms,
        "approx_unique_lineitem": _q_approx_unique_lineitem,
        # r5 addition: streaming twin of session_stats_events (gap
        # sessions via F.session_window, state bounded by OPEN sessions)
        "streaming_session_stats": _q_streaming_session_stats,
        # r5 addition: bucketized point-in-interval range join (temporal
        # family sibling of the recorded session_stats/asof entries)
        "range_join_events": _q_range_join_events,
        # r5 addition: interval-overlap validation (same family)
        "interval_overlaps_events": _q_interval_overlaps_events,
        # r5 additions: sequence completeness + FD consistency checks
        "sequence_gaps_events": _q_sequence_gaps_events,
        "fd_violations_docs": _q_fd_violations_docs,
        # r5 addition: pairwise Pearson correlation profiling (profiler
        # family sibling of the recorded profile_drift/fd entries)
        "correlations_lineitem": _q_correlations_lineitem,
        # r5 addition: joint missingness-structure report (profiler
        # family sibling of the recorded profile_drift/fd entries)
        "null_patterns_events": _q_null_patterns_events,
        # r5 addition: snapshot diff (added/removed/changed keys) —
        # validation-extra family, skinny key+fingerprint shuffle
        "table_diff_orders": _q_table_diff_orders,
        # r5 addition: Deequ-parity entropy analyzer (profiler family)
        "entropy_docs": _q_entropy_docs,
        # r5 addition: Deequ-parity mutual information (profiler family)
        "mutual_info_docs": _q_mutual_info_docs,
        # r5 demotion: driver-attested green in CORRECTNESS_r04.json; the
        # lm family stays recorded via perplexity_split_docs
        "dsir_weights": _q_dsir_weights,
        # r5 addition: search-family sibling of the recorded
        # bm25_search_docs (per-doc tf·idf keyword extraction)
        "tfidf_top_terms_docs": _q_tfidf_top_terms_docs,
        # r5 demotion: driver-attested green in CORRECTNESS_r04.json;
        # the exact-dedup family stays recorded in the first 50
        "exact_dup_groups": _q_exact_dup_groups,
        # r5 addition: FD discovery (profiler family sibling of the
        # recorded ref_suggest_containment / fd_violations entries;
        # feeds the new x-fd table check)
        "fd_suggest_docs": _q_fd_suggest_docs,
        # r5 addition: weighted exact-N sampling (sampling family
        # sibling of the recorded stratified_sample_events entry)
        "weighted_sample_docs": _q_weighted_sample_docs,
        # r5 addition: equal-frequency discretization (quantile family
        # sibling of the recorded tdigest_price entry)
        "quantile_bins_lineitem": _q_quantile_bins_lineitem,
        # r5 addition: Benford first-digit conformity (distribution-shape
        # family sibling of the recorded psi_drift entry)
        "benford_lineitem": _q_benford_lineitem,
        # r5 addition: exact prefix-filtered set-similarity join
        # (near-dup family sibling of the recorded minhash/simhash
        # entries — the recall-1.0 exact complement)
        "set_similarity_pairs": _q_set_similarity_pairs,
        # r5 addition: Z-order clustering key (layout family; the writer
        # itself is a sink, pytest-pinned like write_packed_shards)
        "zorder_events": _q_zorder_events,
        # r5 addition: stored-index BM25 (search-family sibling; must be
        # result-identical to the ad-hoc path, so it shares its oracle)
        "bm25_indexed_docs": _q_bm25_indexed_docs,
        # r5 addition: Unicode NFC normalization pass (text family; the
        # third sanctioned Arrow/pandas surface)
        "normalize_unicode_docs": _q_normalize_unicode_docs,
        # r5 addition: group-wise z-score scaling (feature family,
        # sibling of the binning/outlier group-stats broadcast shape)
        "standardize_lineitem": _q_standardize_lineitem,
        # r5 addition: blocking + Levenshtein record linkage (dedup
        # family sibling — the structured-field counterpart of
        # set_similarity_pairs)
        "fuzzy_match_customers": _q_fuzzy_match_customers,
        # r5 addition: declared-range width binning (binning-family
        # sibling of quantile_bins_lineitem)
        "width_bins_events": _q_width_bins_events,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # flagship + spans
        "derived_validation_verdicts": _O_DERIVED_VALIDATION_VERDICTS,
        "derived_validation_violations": _O_DERIVED_VALIDATION_VIOLATIONS,
        "span_ri_dangling": _O_SPAN_RI_DANGLING,
        "span_monotonic_violations": _O_SPAN_MONOTONIC_VIOLATIONS,
        # sketches / checkpoint / multimodal
        "tdigest_price": _O_TDIGEST_PRICE,
        "checkpoint_resume": _O_CHECKPOINT_RESUME,
        "multimodal_features": _O_MULTIMODAL_FEATURES,
        "resize_plan": _O_RESIZE_PLAN,
        # near-dup + ANN
        "simhash_near_dups": _O_SIMHASH_NEAR_DUPS,
        "near_dup_clusters": _O_NEAR_DUP_CLUSTERS,
        "ivf_indexed_topk_cosine": _O_TOPK_COSINE,  # full probe ≡ exact
        # streaming
        "streaming_validation": _O_STREAMING_VALIDATION,
        "streaming_dedup": _O_STREAMING_DEDUP,
        "streaming_windowed_metrics": _O_STREAMING_WINDOWED_METRICS,
        # final stateful-stream state ≡ batch totals over the full input
        "streaming_running_verdicts": _O_DERIVED_VALIDATION_VERDICTS,
        # table-level checks
        "stats_lineitem": _o_stats_lineitem(),
        "unique_orders": _O_UNIQUE_ORDERS,
        "metric_anomalies_events": _O_METRIC_ANOMALIES_EVENTS,
        "dup_event_users": _O_DUP_EVENT_USERS,
        "ri_checks": _O_RI_CHECKS,
        "enum_returnflag": _O_ENUM_RETURNFLAG,
        "range_lineitem": _O_RANGE_LINEITEM,
        "histograms": _o_histograms(),
        "psi_drift": _o_psi_drift(),
        "categorical_drift": _O_CATEGORICAL_DRIFT,
        "ks_drift": _O_KS_DRIFT,
        "emd_drift": _O_EMD_DRIFT,
        "ri_bloom_dangling": _O_RI_BLOOM_DANGLING,
        "session_stats_events": _O_SESSION_STATS_EVENTS,
        "asof_join_events": _O_ASOF_JOIN_EVENTS,
        "table_checks_lineitem": _o_table_checks_lineitem(),
        "classifier_quality_docs": _O_CLASSIFIER_QUALITY_DOCS,
        "classifier_train_docs": _O_CLASSIFIER_TRAIN_DOCS,
        "format_json_checks": _O_FORMAT_JSON_CHECKS,
        "grouping_verdicts": _o_grouping_verdicts(),
        "verdict_set_ops": _O_VERDICT_SET_OPS,
        "topk_price_by_flag": _O_TOPK_PRICE_BY_FLAG,
        "stats_events_by_type": _O_STATS_EVENTS_BY_TYPE,
        "approx_unique_lineitem": _O_APPROX_UNIQUE_LINEITEM,
        # training-data pipeline ops
        "token_totals": _O_TOKEN_TOTALS,
        "suggested_spec_lineitem": _o_suggested_spec_lineitem(),
        "bpe_token_stats": _O_BPE_TOKEN_STATS,
        "lang_detect_docs": _o_lang_detect_docs(),
        "quality_docs": _O_QUALITY_DOCS,
        "pii_docs": _o_pii_docs(),
        "repetition_docs": _O_REPETITION_DOCS,
        "packed_shards": _O_PACKED_SHARDS,
        "mixture_docs": _o_mixture_docs(),
        "chunked_docs": _O_CHUNKED_DOCS,
        "clean_corpus_report": _o_clean_corpus_report(),
        "skew_report_events": _O_SKEW_REPORT_EVENTS,
        "lm_perplexity_docs": _O_LM_PERPLEXITY_DOCS,
        "perplexity_split_docs": _O_PERPLEXITY_SPLIT_DOCS,
        "dsir_weights": _O_DSIR_WEIGHTS,
        "dup_ngram_coverage": _O_DUP_NGRAM_COVERAGE,
        "exact_dup_groups": _O_EXACT_DUP_GROUPS,
        "dedup_incremental": _O_DEDUP_INCREMENTAL,
        "colocated_dedup": _O_COLOCATED_DEDUP,
        "minhash_near_dups": _O_MINHASH_NEAR_DUPS,
        "decontaminate_pairs": _O_DECONTAMINATE_PAIRS,
        "ngram_jaccard_pairs": _O_NGRAM_JACCARD_PAIRS,
        "embedding_near_dups": _O_EMBEDDING_NEAR_DUPS,
        "vector_stats": _O_VECTOR_STATS,
        "stratified_sample_events": _o_stratified_sample_events(),
        # position 51+ variants
        "quantiles_price": _O_QUANTILES_PRICE,
        "events_domain": _O_EVENTS_DOMAIN,
        "text_analysis": _O_TEXT_ANALYSIS,
        "dedup_exact_keep": _O_DEDUP_EXACT_KEEP,
        "fingerprint_distinct": _O_FINGERPRINT_DISTINCT,
        "sample_split_docs": _o_sample_split_docs(),
        "minhash_incremental_dups": _O_MINHASH_INCREMENTAL_DUPS,
        "span_seq_keys": _O_SPAN_SEQ_KEYS,
        "span_kind_stats": _O_SPAN_KIND_STATS,
        "topk_cosine": _O_TOPK_COSINE,
        "lsh_topk_cosine": _O_TOPK_COSINE,  # full-probe LSH ≡ exact top-k
        "ivf_topk_cosine": _O_TOPK_COSINE,  # full-probe IVF ≡ exact top-k
        "streaming_dedup_watermarked": _O_STREAMING_DEDUP_WATERMARKED,
        "exactsubstr_clean_docs": _O_EXACTSUBSTR_CLEAN_DOCS,
        "ref_suggest_containment": _o_ref_suggest_containment(),
        "profile_drift_lineitem": _o_profile_drift_lineitem(),
        "frequent_values_docs": _O_FREQUENT_VALUES_DOCS,
        "streaming_profile_drift": _o_streaming_profile_drift(),
        "ngram_decontamination": _O_NGRAM_DECONTAMINATION,
        "semantic_dedup_embeddings": _O_SEMANTIC_DEDUP_EMBEDDINGS,
        "gopher_rules_docs": _o_gopher_rules_docs(),
        "c4_clean_docs": _o_c4_clean_docs(),
        "exactsubstr_keep_first": _O_EXACTSUBSTR_KEEP_FIRST,
        "url_dedup_docs": _O_URL_DEDUP_DOCS,
        "url_dedup_incremental_docs": _O_URL_DEDUP_INCREMENTAL_DOCS,
        "streaming_url_dedup": _O_STREAMING_URL_DEDUP,
        "streaming_session_stats": _O_STREAMING_SESSION_STATS,
        "range_join_events": _O_RANGE_JOIN_EVENTS,
        "interval_overlaps_events": _O_INTERVAL_OVERLAPS_EVENTS,
        "sequence_gaps_events": _O_SEQUENCE_GAPS_EVENTS,
        "fd_violations_docs": _O_FD_VIOLATIONS_DOCS,
        "correlations_lineitem": _O_CORRELATIONS_LINEITEM,
        "null_patterns_events": _O_NULL_PATTERNS_EVENTS,
        "table_diff_orders": _O_TABLE_DIFF_ORDERS,
        "entropy_docs": _O_ENTROPY_DOCS,
        "mutual_info_docs": _O_MUTUAL_INFO_DOCS,
        "bm25_search_docs": _bm25_oracle_sql(_BM25_QUERY, _BM25_K),
        "tfidf_top_terms_docs": _O_TFIDF_TOP_TERMS_DOCS,
        "outliers_events": _O_OUTLIERS_EVENTS,
        "fd_suggest_docs": _O_FD_SUGGEST_DOCS,
        "weighted_sample_docs": _weighted_sample_oracle(),
        "quantile_bins_lineitem": _quantile_bins_oracle(),
        "benford_lineitem": _O_BENFORD_LINEITEM,
        "set_similarity_pairs": _O_SET_SIMILARITY_PAIRS,
        "zorder_events": _zorder_oracle(),
        "bm25_indexed_docs": _bm25_oracle_sql(_BM25_QUERY, _BM25_K),
        "normalize_unicode_docs": _normalize_unicode_oracle(),
        "standardize_lineitem": _O_STANDARDIZE_LINEITEM,
        "fuzzy_match_customers": _O_FUZZY_MATCH_CUSTOMERS,
        "width_bins_events": _O_WIDTH_BINS_EVENTS,
        "corpus_funnel_docs": _O_CORPUS_FUNNEL_DOCS,
        "paragraph_dedup_docs": _O_PARAGRAPH_DEDUP_DOCS,
    }
