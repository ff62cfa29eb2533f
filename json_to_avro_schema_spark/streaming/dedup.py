"""Streaming exact dedup for continuous ingestion.

``dedup_stream`` fingerprints each document (same normalized-text
``xxhash64`` key as the batch dedup family — ``operators/dedup.py``) and
drops rows whose fingerprint was already seen ANYWHERE earlier in the
stream: Spark's streaming ``dropDuplicates`` keeps the seen-key set in
the state store (RocksDB/HDFS-backed on a cluster), so the dedup is
cross-micro-batch by construction — the stream twin of
``dedup_exact_incremental``'s stored-fingerprint index.

Scale note: the state is one 8-byte key per distinct document, hash-
partitioned across executors by the shuffle on the dedup key — no
single-node set. Without an event-time watermark the state grows with
the distinct corpus (that IS the semantics of global exact dedup);
bounded-retention variants should pass a watermarked event-time column
via ``within_watermark_col``, which switches to
``dropDuplicatesWithinWatermark`` (late duplicates beyond the watermark
are then the caller's accepted trade).

Which duplicate survives is arrival/partition order — deterministic
facts about the output are the kept-fingerprint SET and counts, which is
what the oracle and tests pin.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import fingerprint
from ..operators.web import normalize_url


def dedup_stream(
    stream_df: DataFrame,
    text_col: str = "text",
    *,
    fingerprint_col: str = "fingerprint",
    within_watermark_col: Optional[str] = None,
) -> DataFrame:
    """Streaming DataFrame → streaming DataFrame with ``fingerprint_col``
    added and cross-batch duplicate fingerprints dropped. Run it into a
    parquet sink with ``streaming.start_available_now``.

    ``within_watermark_col`` switches to the bounded-retention
    ``dropDuplicatesWithinWatermark`` variant: state for a fingerprint
    expires once the watermark passes its first-seen event time + delay,
    so duplicates arriving LATER than that are kept."""
    with_fp = stream_df.withColumn(
        fingerprint_col, fingerprint(F.col(text_col))
    )
    if within_watermark_col is not None:
        # caller must have applied .withWatermark(within_watermark_col, ...)
        return with_fp.dropDuplicatesWithinWatermark([fingerprint_col])
    return with_fp.dropDuplicates([fingerprint_col])


def url_dedup_stream(
    stream_df: DataFrame,
    url_col: str = "url",
    *,
    canon_col: str = "canonical_url",
    hash_col: str = "url_hash",
    within_watermark_col: Optional[str] = None,
    tracking_params: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Streaming URL dedup for a live crawl feed: canonicalize
    (``operators/web.normalize_url`` — the same documented 7-rule form as
    the batch path), key on the 64-bit canonical hash, and drop refetches
    seen ANYWHERE earlier in the stream via the state store — the stream
    twin of ``operators/web.url_dedup_incremental`` with the state store
    playing the snapshot index (8 bytes per distinct page, hash-
    partitioned across executors).

    ``within_watermark_col`` switches to bounded-retention
    ``dropDuplicatesWithinWatermark`` (caller applies ``withWatermark``
    first): a page's state expires past the watermark delay, so refetches
    FARTHER apart than the delay are kept — the right trade for crawl
    feeds, where refetch bursts cluster near the first fetch and a
    months-later refetch usually IS new content.
    """
    with_h = stream_df.withColumn(
        canon_col, normalize_url(F.col(url_col), tracking_params)
    ).withColumn(hash_col, F.xxhash64(F.col(canon_col)))
    if within_watermark_col is not None:
        return with_h.dropDuplicatesWithinWatermark([hash_col])
    return with_h.dropDuplicates([hash_col])
