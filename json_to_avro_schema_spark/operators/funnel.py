"""Composed corpus-cleaning funnel with a one-action attrition report.

Production web-corpus recipes (RefinedWeb §3's Figure-2 funnel, FineWeb,
Dolma) run the same ordered stages — URL blocklist → URL dedup → content
dedup → quality gate — and the number every paper reports is the
ATTRITION TABLE: how many documents each stage removed. This operator
composes the engine's existing stage operators and produces that table
from ONE action.

The trick is that every stage is expressed as a drop-ATTRIBUTION over the
original rows instead of a chain of shrinking frames: ``annotated``
carries one ``drop_stage`` column (null = survived the whole funnel), each
stage only labels rows still alive (``coalesce`` keeps the FIRST dropping
stage, the funnel semantics), and the report is a single
``groupBy(drop_stage).count()`` — one job, however many stages ran.

Stage order and semantics (each optional):

1. ``domain_blocked``   — registered domain in the blocklist
                          (web.url_domain identity, userinfo-proof).
2. ``url_duplicate``    — not the min-``id`` row of its canonical URL
                          (web.normalize_url identity).
3. ``text_duplicate``   — not the min-``id`` row of its normalized-text
                          fingerprint (text.fingerprint identity).
4. ``low_quality``      — fails the caller's ``keep_if`` predicate.
                          Thresholds are policy, so none ships here (same
                          contract as web.url_word_score); compose it from
                          text.quality_score / gopher_rules / analyze
                          columns or any Column expression.

Dedup winner selection considers only rows ALIVE after the earlier stages
(a URL-blocked page must not steal a canonical-URL win from a clean
refetch), which is what makes the order load-bearing — exactly as in the
published recipes.

Distributed shape: ALL stage flags are derived on one PRUNED frame —
(id, domain, url-key, text-key), ~40 bytes/row, text never on it — and
the original rows are joined back exactly ONCE, against the LOSER set
(rows with a non-null drop stage). Each dedup stage's winner set still
uses the rank-1 WindowGroupLimit pushdown (map tasks pre-prune to one
row per key) over only the rows alive after the earlier stages, and the
aliveness chain (blocked → url winner → text winner) is resolved with
skinny id-keyed joins on the pruned frame. Consequences at scale:
the corpus text crosses at most ONE exchange (the loser join-back's
df side — and none at all when the loser side is small enough for AQE
to broadcast, e.g. a mostly-clean corpus), versus one full-row exchange
per dedup stage in the naive chain. The pruned frame is persisted by
default (``persist_pruned``): every stage and the loser projection
consume it, and without the barrier each consumer re-runs the
canonicalize/fingerprint projection over the full corpus text (A/B'd
~1.5× at 10 M rows, BENCH/BASELINE.md §1d); it is per-doc and key-only,
so the cache stays bounded at 10^12 docs, and ``FunnelResult.unpersist``
releases it. The blocklist joins as in web.domain_filter, through
``_joins.broadcast_if_fits`` (whose bounded count runs one tiny job at
plan-construction time — the only eager work here). No driver
state; everything else stays lazy until the caller triggers an action.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._joins import broadcast_if_fits
from .text import fingerprint
from .topk import grouped_topk
from .web import normalize_url, url_domain

DROP_STAGE = "drop_stage"
STAGES = ("domain_blocked", "url_duplicate", "text_duplicate", "low_quality")


@dataclass
class FunnelResult:
    annotated: DataFrame   # original columns + drop_stage (null = kept)
    kept: DataFrame        # surviving rows, original columns untouched
    report: DataFrame      # (stage, n_docs): one row per stage that
                           # dropped anything + the terminal "kept" row;
                           # unordered (aggregation output) — sort on read
    # the persisted pruned frame (None when persist_pruned=False or no
    # stage needed it). Spark's CacheManager holds persisted plans until
    # unpersist or session end — long-running services that call the
    # funnel repeatedly should release each run's cache when done.
    _pruned: Optional[DataFrame] = None

    def unpersist(self) -> None:
        """Release the persisted pruned frame (idempotent, safe to skip
        for one-shot jobs — session teardown releases it too)."""
        if self._pruned is not None:
            self._pruned.unpersist()


def _first_alive_winner(
    alive: DataFrame, key_col: str, id_col: str, stage: str
) -> DataFrame:
    """Min-``id_col`` row per ``key_col`` among ``alive`` rows, as an id
    set. Only (id, key) enter the shuffle; rank-1 pushdown prunes
    map-side."""
    pruned = alive.select(F.col(id_col), F.col(key_col))
    return (
        grouped_topk(
            pruned, [key_col], [F.col(id_col).asc()], 1,
            rank_col="__frk",
        )
        .select(F.col(id_col), F.lit(True).alias(f"__win_{stage}"))
    )


def corpus_funnel(
    df: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    blocked_domains: Optional[DataFrame] = None,
    dedup_urls: bool = True,
    dedup_text: bool = True,
    keep_if: Optional[Column] = None,
    persist_pruned: bool = True,
) -> FunnelResult:
    """Run the funnel; see module docstring for stages and semantics."""
    clash = {
        DROP_STAGE, "__blocked_domain", "__win_url", "__win_text",
        "__fdom", "__fukey", "__ftkey", "__fblk", "__frk",
    } & set(df.columns)
    if clash:
        raise ValueError(
            f"corpus_funnel output/working columns {sorted(clash)} already "
            f"exist on the input"
        )
    original_columns = list(df.columns)
    pruned_handle: Optional[DataFrame] = None

    if blocked_domains is not None or dedup_urls or dedup_text:
        # ALL stage flags derive on this pruned frame — id + the 8-byte
        # stage keys; the document text never rides it
        sel = [F.col(id_col)]
        if blocked_domains is not None:
            sel.append(url_domain(F.col(url_col)).alias("__fdom"))
        if dedup_urls:
            sel.append(
                F.xxhash64(normalize_url(F.col(url_col))).alias("__fukey")
            )
        if dedup_text:
            sel.append(fingerprint(F.col(text_col)).alias("__ftkey"))
        skinny = df.select(*sel)

        if blocked_domains is not None:
            b_col = blocked_domains.columns[0]
            # a blocklist Catalyst cannot size, as in web.domain_filter
            b = broadcast_if_fits(
                blocked_domains.select(
                    F.col(b_col).alias("__blocked_domain")
                ).distinct()
            )
            skinny = (
                skinny.join(
                    b, F.col("__fdom") == F.col("__blocked_domain"), "left"
                )
                .withColumn(
                    "__fblk", F.col("__blocked_domain").isNotNull()
                )
                .drop("__blocked_domain", "__fdom")
            )
        else:
            skinny = skinny.withColumn("__fblk", F.lit(False))

        # persist the pruned frame: every winner stage AND the loser
        # projection consume it, and without the barrier each consumer
        # re-runs the canonicalize/fingerprint projection over the FULL
        # corpus text from the base scan — up to four corpus scans where
        # one suffices. Same-session INTERLEAVED A/B at the 10 M skewed
        # scale point (BENCH/BASELINE.md §1d): no-persist 29.8/22.2 s vs
        # persist 17.0/17.3 s — ~1.5× with each run paying full cache
        # materialization and releasing it after. The frame is per-DOC
        # (~40 B/row: id + three 8-byte keys + flag — text never on it),
        # so the cache is ~40 TB at 10^12 docs — bounded and spillable
        # (MEMORY_AND_DISK default), unlike a per-paragraph frame (see
        # paragraph_dedup's deliberate recompute). persist_pruned=False
        # restores recompute for cache-constrained clusters; the result's
        # unpersist() releases the cache for long-running services.
        if persist_pruned:
            skinny = skinny.persist()
            pruned_handle = skinny

        if dedup_urls:
            alive = skinny.filter(~F.col("__fblk"))
            skinny = skinny.join(
                _first_alive_winner(alive, "__fukey", id_col, "url"),
                id_col,
                "left",
            )
        if dedup_text:
            alive = skinny.filter(~F.col("__fblk"))
            if dedup_urls:
                # text-stage aliveness chains off the url stage: only url
                # winners compete — resolved here on the skinny frame
                alive = alive.filter(F.col("__win_url").isNotNull())
            skinny = skinny.join(
                _first_alive_winner(alive, "__ftkey", id_col, "text"),
                id_col,
                "left",
            )

        # first-dropping-stage attribution, all on the pruned frame
        arms = [F.when(F.col("__fblk"), F.lit("domain_blocked"))]
        if dedup_urls:
            arms.append(
                F.when(F.col("__win_url").isNull(), F.lit("url_duplicate"))
            )
        if dedup_text:
            arms.append(
                F.when(F.col("__win_text").isNull(), F.lit("text_duplicate"))
            )
        losers = skinny.select(
            F.col(id_col), F.coalesce(*arms).alias(DROP_STAGE)
        ).filter(F.col(DROP_STAGE).isNotNull())
        # the ONE join-back carrying original columns; on a mostly-clean
        # corpus the loser side is small and AQE broadcasts it — the text
        # then never enters an exchange at all
        cur = df.join(losers, id_col, "left")
    else:
        cur = df.withColumn(DROP_STAGE, F.lit(None).cast("string"))

    if keep_if is not None:
        cur = cur.withColumn(
            DROP_STAGE,
            F.coalesce(
                DROP_STAGE,
                F.when(~F.coalesce(keep_if, F.lit(False)),
                       F.lit("low_quality")),
            ),
        )

    report = (
        cur.groupBy(
            F.coalesce(DROP_STAGE, F.lit("kept")).alias("stage")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return FunnelResult(
        annotated=cur,
        kept=cur.filter(F.col(DROP_STAGE).isNull()).select(
            *[F.col(c) for c in original_columns]
        ),
        report=report,
        _pruned=pruned_handle,
    )
