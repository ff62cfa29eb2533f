"""Blocking-based fuzzy record linkage: approximate string matching at
join scale.

The classic entity-resolution shape (Fellegi-Sunter blocking + edit-
distance verify): comparing every left row to every right row is O(n·m)
and impossible at 10^12 rows, so candidates come from an EQUI-join on a
cheap blocking key (a prefix, a phonetic code, a zip code — anything two
true matches almost always share), and only candidates pay the
Levenshtein verify.  Recall is bounded by the blocking choice — a pair
disagreeing on the block key is never compared — which is the standard,
documented trade (run multiple passes with different keys for higher
recall).

Distributed shape: one equi-join on the block key (hash join, no
nested loop — plan-pinned in tests), `F.levenshtein` verify JVM-side in
the join's projection.  Block-key SKEW is the one hazard: a degenerate
key ("", "UNKNOWN") makes a quadratic bucket.  ``max_block_size`` caps
it with the minhash bucket cap (``_joins.small_buckets``: per-side
block counts, a group-scale aggregate the planner sizes and joins):
oversized blocks drop out of candidate generation, trading bounded
recall loss for a bounded join (dropped blocks are visible via
:func:`block_stats`).

Reference analog: none (``/root/reference/README.md:100-104``); extends
SURVEY.md §2.4's dedup/similarity family with the structured-field
counterpart of dedup.set_similarity_join.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._joins import small_buckets


def block_stats(df: DataFrame, block_col: str) -> DataFrame:
    """Per-block-key row counts — the skew diagnostic to run before
    choosing ``max_block_size`` (same role as skew.key_counts)."""
    return df.groupBy(F.col(block_col).alias("block_key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    block_on: str,
    max_distance: int = 2,
    max_block_size: Optional[int] = 10_000,
    left_id: str = "left_id",
    right_id: str = "right_id",
) -> DataFrame:
    """Pairs (``left_id``, ``right_id``, left value, right value,
    ``distance``) where both rows share a ``block_on`` key and the
    Levenshtein distance between their ``on`` strings is ≤
    ``max_distance``.  Null keys/values never match (SQL equi-join +
    null-safe verify semantics).

    ``left``/``right`` must carry ``left_id``/``right_id`` columns; the
    output keeps only the id pair, both strings, and the distance —
    join wider context back by id.  ``max_block_size`` (default 10k)
    excludes degenerate blocks on BOTH sides; pass ``None`` to disable
    (gate-scale only)."""
    lt = left.select(
        F.col(left_id), F.col(on).alias("__vl"), F.col(block_on).alias("__b")
    ).filter(F.col("__b").isNotNull() & F.col("__vl").isNotNull())
    rt = right.select(
        F.col(right_id), F.col(on).alias("__vr"), F.col(block_on).alias("__b")
    ).filter(F.col("__b").isNotNull() & F.col("__vr").isNotNull())
    if max_block_size is not None:
        lt = lt.join(small_buckets(lt, ["__b"], max_block_size), "__b", "left_semi")
        rt = rt.join(small_buckets(rt, ["__b"], max_block_size), "__b", "left_semi")
    dist = F.levenshtein(F.col("__vl"), F.col("__vr"))
    return (
        lt.join(rt, "__b")
        .filter(dist <= max_distance)
        .select(
            left_id,
            right_id,
            F.col("__vl").alias(f"{on}_left"),
            F.col("__vr").alias(f"{on}_right"),
            dist.alias("distance"),
        )
    )


def fuzzy_dedup_candidates(
    df: DataFrame,
    *,
    on: str,
    block_on: str,
    id_col: str = "doc_id",
    max_distance: int = 2,
    max_block_size: Optional[int] = 10_000,
) -> DataFrame:
    """Self-linkage: unordered within-table pairs (id_1 < id_2) whose
    ``on`` strings are within ``max_distance`` edits inside the same
    block — the structured-field near-dup detector (set_similarity_join
    is its token-set sibling).  Same blocking/cap semantics as
    :func:`fuzzy_join`."""
    a = df.select(
        F.col(id_col).alias("__id1"),
        F.col(on).alias("__v1"),
        F.col(block_on).alias("__b"),
    ).filter(F.col("__b").isNotNull() & F.col("__v1").isNotNull())
    if max_block_size is not None:
        a = a.join(small_buckets(a, ["__b"], max_block_size), "__b", "left_semi")
    b = a.select(
        F.col("__id1").alias("__id2"),
        F.col("__v1").alias("__v2"),
        "__b",
    )
    dist = F.levenshtein(F.col("__v1"), F.col("__v2"))
    return (
        a.join(b, "__b")
        .filter((F.col("__id1") < F.col("__id2")) & (dist <= max_distance))
        .select(
            F.col("__id1").alias(f"{id_col}_1"),
            F.col("__id2").alias(f"{id_col}_2"),
            F.col("__v1").alias(f"{on}_1"),
            F.col("__v2").alias(f"{on}_2"),
            dist.alias("distance"),
        )
    )
