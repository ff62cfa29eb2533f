"""Deterministic, key-stable sampling and split operators.

A training-data pipeline needs samples and held-out splits that are
REPRODUCIBLE: the same document must land on the same side of a split on
every run, on any cluster size, under any partitioning — which rules out
``df.sample()`` (per-task RNG seeded by partition id: repartitioning or a
task retry changes the sample). Everything here instead derives membership
from a portable hash of ``(seed, key)``:

    bucket(key) = conv(substring(md5(seed || key), 1, 8), 16, 10)

a uniform value in ``[0, 2^32)`` that ANSI engines reproduce exactly
(DuckDB: ``CAST('0x' || substring(md5(..), 1, 8) AS BIGINT)``), so every
operator in this module is SQL-oracle-able. Properties that fall out:

* **shuffle-free**: sampling is a codegen'd ``filter`` — embarrassingly
  parallel, no data movement, scales linearly to any corpus size;
* **stable**: membership depends only on (seed, key) — task retries,
  AQE re-plans and cluster resizes cannot change the sample;
* **nested**: the 10 % sample is a strict subset of the 20 % sample for
  the same seed (thresholds on one bucket value), so growing a sample
  never invalidates work done on a smaller one;
* **disjoint by construction**: train/test partition the bucket space.

Reference analog: none (the reference validates one in-memory schema,
README.md:100-104); this extends SURVEY.md §2.3's pipeline-extra surface.
"""

from __future__ import annotations

import re
from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._joins import broadcast_if_fits

# bucket space: first 8 hex chars of md5 -> [0, 2^32)
HASH_SPACE = 1 << 32

# seeds are restricted to identifier-ish chars so the SQL rendering in
# bucket_sql can embed them as a plain string literal (no quote escaping,
# no injection surface) and the Spark and oracle forms can never drift
_SEED_RE = re.compile(r"[A-Za-z0-9_.\-]*\Z")


def _check_seed(seed: str) -> str:
    if not _SEED_RE.match(seed):
        raise ValueError(
            f"seed must match [A-Za-z0-9_.-]*, got {seed!r} — it is "
            "embedded verbatim in both the Spark hash and the SQL oracle"
        )
    return seed


def sample_bucket(key: Column, seed: str = "") -> Column:
    """Uniform bucket in ``[0, 2^32)`` from a portable hash of (seed, key).

    ``md5`` (not ``xxhash64``) on purpose: its hex form is bit-identical
    across engines, so oracles can re-derive membership exactly.

    Null keys hash to NULL, so every comparison against a threshold is
    false: :func:`deterministic_sample` and :func:`stratified_sample` DROP
    null-key rows, and :func:`train_test_split` routes them to 'train'
    (the ``otherwise`` arm) — callers needing null keys sampled must
    coalesce them to a sentinel first.
    """
    h = F.md5(F.concat(F.lit(_check_seed(seed)), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def _threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return int(round(fraction * HASH_SPACE))


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, *, seed: str = ""
) -> DataFrame:
    """Key-stable Bernoulli sample: keep rows whose bucket falls below
    ``fraction`` of the hash space. Pure filter — no shuffle, no RNG."""
    thr = _threshold(fraction)
    return df.filter(sample_bucket(F.col(key_col), seed) < F.lit(thr))


def train_test_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float,
    *,
    seed: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column ('test' | 'train') partitioning the rows by
    bucket threshold. Every row appears in exactly one side; membership is
    stable across runs and cluster layouts."""
    thr = _threshold(test_fraction)
    bucket = sample_bucket(F.col(key_col), seed)
    return df.withColumn(
        split_col,
        F.when(bucket < F.lit(thr), F.lit("test")).otherwise(F.lit("train")),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str,
    *,
    seed: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum key-stable sampling (e.g. downsample boilerplate-heavy
    sources harder). Strata absent from ``fractions`` use
    ``default_fraction``. Small maps compile to a CASE over the stratum
    column — one shuffle-free filter; large maps (per-domain fractions can
    run to thousands of strata, where a literal CASE chain bloats the plan)
    join a threshold lookup table instead, a ``createDataFrame`` list
    hinted through ``_joins.broadcast_if_fits`` with its known size —
    still no shuffle of ``df`` under the row cap."""
    if len(fractions) > 64:
        spark = df.sparkSession
        lookup = spark.createDataFrame(
            [(s, _threshold(f)) for s, f in sorted(fractions.items())],
            f"{strata_col} string, __thr long",
        )
        lookup = broadcast_if_fits(lookup, n_rows=len(fractions))
        joined = df.join(lookup, [strata_col], "left")
        thr = F.coalesce(F.col("__thr"), F.lit(_threshold(default_fraction)))
        return (
            joined.filter(sample_bucket(F.col(key_col), seed) < thr)
            .select(*df.columns)  # joins hoist the key; keep caller's order
        )
    thr: Column = F.lit(_threshold(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        thr = (
            F.when(F.col(strata_col) == F.lit(stratum), F.lit(_threshold(frac)))
            .otherwise(thr)
        )
    return df.filter(sample_bucket(F.col(key_col), seed) < thr)


def deterministic_topn_sample(
    df: DataFrame, key_col: str, n: int, *, seed: str = ""
) -> DataFrame:
    """Exact-N uniform sample without replacement: the N globally smallest
    buckets (hash ties broken by key). Physically a TakeOrdered — each
    partition keeps its local top-N, the driver merges N·P candidates —
    no global sort, no full shuffle."""
    bucket = sample_bucket(F.col(key_col), seed)
    return df.orderBy(bucket.asc(), F.col(key_col).asc()).limit(n)


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    *,
    seed: str = "",
    decimals: int = 9,
) -> DataFrame:
    """Exact-N WEIGHTED sample without replacement (Efraimidis & Spirakis
    2006 A-ES/A-ExpJ key): each row gets priority ``ln(u)/w`` with
    ``u = (bucket+1)/2^32 ∈ (0,1]`` from the portable (seed, key) hash,
    and the N largest priorities win — inclusion probability proportional
    to weight, reproducible on any cluster size (same determinism story
    as :func:`deterministic_sample`: no per-task RNG).

    Physically a TakeOrdered on (priority desc, key asc) — per-partition
    heaps, no shuffle, no global sort.  Priorities are pre-rounded to
    ``decimals`` so the selection itself is engine-stable (ties broken by
    key); the ``priority`` column stays in the output for auditability.
    Rows with null key or non-positive/null weight are dropped —
    zero-weight rows have inclusion probability 0 by definition, and the
    log form is undefined there."""
    u = (
        (sample_bucket(F.col(key_col), seed) + F.lit(1)).cast("double")
        / F.lit(float(HASH_SPACE))
    )
    pr = F.round(F.log(u) / F.col(weight_col), decimals)
    return (
        df.filter(F.col(key_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("priority", pr)
        .orderBy(F.col("priority").desc(), F.col(key_col).asc())
        .limit(n)
    )


def weighted_priority_sql(
    key_sql: str, weight_sql: str, seed: str = "", decimals: int = 9
) -> str:
    """Oracle-side rendering of :func:`weighted_sample`'s priority, kept
    next to the Spark form so they can't drift."""
    return (
        f"round(ln(({bucket_sql(key_sql, seed)} + 1) / 4294967296.0) "
        f"/ {weight_sql}, {decimals})"
    )


def bucket_sql(key_sql: str, seed: str = "") -> str:
    """The oracle-side rendering of :func:`sample_bucket` for ANSI engines
    (DuckDB syntax), kept next to the Spark form so they can't drift.
    Seeds are validated to the quote-free charset (see ``_check_seed``),
    so the literal interpolation below cannot break or inject SQL."""
    return (
        f"CAST(('0x' || substring(md5('{_check_seed(seed)}' || "
        f"CAST({key_sql} AS VARCHAR)), 1, 8)) AS BIGINT)"
    )
