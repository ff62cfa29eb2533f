"""Temporal operators: gap sessionization and as-of joins (pipeline-extra,
SURVEY.md §2 distributed-operator surface).

Neither exists in the reference (a schema transpiler) or as a Spark
built-in; both are staples of event-stream validation pipelines — the
north rule's events/metrics side — and both have a canonical distributed
shape that avoids the naive O(n·m) range join:

* ``sessionize`` — assign gap-based session ids per user: ONE exchange on
  the user key, then two window passes over the same (user, ts) sort
  (Catalyst reuses the single sort for both), so the cost is exactly one
  corpus shuffle.  At 10^12 events the per-key window is the right
  primitive as long as no single user's history outsizes an executor —
  the skew diagnostics in :mod:`.skew` size that risk, and the streaming
  counterpart for unbounded histories is
  ``streaming`` session windows (``F.session_window``).
* ``asof_join`` — for each left row, the most recent right row at or
  before (``backward``) / the earliest at or after (``forward``) its
  timestamp, per key.  Implemented with the union trick: tag both sides,
  union, ONE exchange on the key, and a ``last(..., ignorenulls=True)``
  running window carries right-side values onto left rows.  No range
  explosion, no per-key collect, no broadcast of either side — the plan
  is two scans + one shuffle + one window, which survives a 100× scale-up
  wherever a plain join on the key would.
* ``range_join`` — point-in-interval join (event ts ∈ [lo, hi] per key).
  Catalyst plans a raw ``l.ts BETWEEN r.lo AND r.hi`` as
  broadcast-nested-loop (intervals must fit in memory) or a sort-merge
  on the key alone (every point meets every same-key interval before the
  range filter — quadratic under hot keys).  The bucketized form turns
  it into a plain equi-join: intervals replicate into the fixed-width
  buckets they overlap, points land in exactly ONE bucket, and the join
  key becomes (key, bucket) — each point meets only the interval copies
  sharing its bucket, and since a point has one bucket, no
  post-join dedup is needed.  Replication factor = interval_len/width+1,
  so callers size ``bucket_width_us`` to the TYPICAL interval length
  (the same bin-size trade as Databricks' range-join hint; degenerate
  giant intervals are the caller's skew to split).

Determinism notes (both operators feed hash-compared oracles): window
order ties are broken by caller-supplied tiebreak columns; ``asof_join``
requires the right side to be unique per (key, ts) — rows tied on
(key, ts) would make "the" match undefined in ANY engine (DuckDB's ASOF
picks arbitrarily) — pre-aggregate the right side to enforce it.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _prefix

_SIDE = "__asof_side"
_TS = "__asof_ts"
_MATCH_TS = "__asof_match_ts"


def _epoch_us(df: DataFrame, col: str):
    """Exact epoch-microseconds long for either timestamp flavor.

    TIMESTAMP_NTZ (what parquet naive timestamps load as) goes through
    ``timestamp_diff`` against a naive epoch — a pure calendar
    subtraction with NO session-timezone dependency, matching DuckDB's
    ``epoch_us`` on naive values byte-for-byte on any machine.  LTZ
    timestamps are already instants: ``unix_micros``.
    """
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[col].dataType, TimestampNTZType):
        return F.timestamp_diff(
            "MICROSECOND",
            F.lit("1970-01-01").cast("timestamp_ntz"),
            F.col(col),
        )
    return F.unix_micros(F.col(col))


def _key_cols(user_col) -> list:
    return [user_col] if isinstance(user_col, str) else list(user_col)


def sessionize(
    events: DataFrame,
    *,
    user_col="user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_cols: Sequence[str] = (),
    out_col: str = "session_seq",
) -> DataFrame:
    """Add a per-user 1-based session sequence number: a new session
    starts at the first event and whenever the gap since the previous
    event exceeds ``gap_seconds``.  ``user_col`` may be one column name
    or a sequence of them (composite session key, e.g.
    ``["user_id", "event_type"]``).

    Gap arithmetic is exact integer epoch microseconds (:func:`_epoch_us`,
    timezone-independent for NTZ inputs) — no float epoch, no sub-second
    truncation.  Rows with a null
    timestamp sort first within their user under Spark's nulls-first
    ascending order; callers wanting SQL-portable output should filter
    them (engines disagree on null placement).
    """
    if out_col in events.columns:
        raise ValueError(
            f"sessionize output column {out_col!r} already exists on the input"
        )
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]]
    w = Window.partitionBy(*_key_cols(user_col)).orderBy(*order)
    us = _epoch_us(events, ts_col)
    prev_us = F.lag(us).over(w)
    gap_us = int(gap_seconds) * 1_000_000
    new_session = (
        prev_us.isNull() | ((us - prev_us) > F.lit(gap_us))
    ).cast("long")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn(out_col, F.sum(new_session).over(run))


def session_stats(
    events: DataFrame,
    *,
    user_col="user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-session rollup over :func:`sessionize`:
    (user, session_seq, n_events, start_us, end_us, duration_us).

    Bounds are exact epoch microseconds (longs) so the result is
    engine-portable and hash-stable.  One corpus shuffle (the window's)
    — the rollup reuses the session frame's (user) partitioning, so the
    groupBy's exchange is partial-aggregated on already-local keys.
    """
    s = sessionize(
        events,
        user_col=user_col,
        ts_col=ts_col,
        gap_seconds=gap_seconds,
        tiebreak_cols=tiebreak_cols,
    )
    us = _epoch_us(s, ts_col)
    return (
        s.groupBy(*[F.col(c) for c in _key_cols(user_col)], F.col("session_seq"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(us).alias("start_us"),
            F.max(us).alias("end_us"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )


def sequence_gaps(
    df: DataFrame,
    seq_col: str,
    *,
    key_cols: Optional[Sequence[str]] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Missing ranges in an integer sequence column — the surrogate-key /
    event-id completeness check: one output row per hole, as
    (key…, gap_start, gap_end, n_missing) where ``[gap_start, gap_end]``
    are the absent values between two adjacent present ones.  Duplicate
    present values are not gaps; null sequence values are ignored.

    With ``key_cols`` the sort distributes on the keys (one exchange, one
    window).  WITHOUT keys a naive global window is a single-partition
    sort — the anti-pattern — so the global mode is the value-bounded
    prefix-sum scaffold of :mod:`._prefix`: approximate-quantile bounds of
    the sequence, computed once and embedded as plan literals, assign
    every value a pid (ascending pid == ascending value, equal values
    share a pid).  Holes inside a pid come from a window partitioned by
    the pid; the ≤P−1 holes across pid boundaries are stitched on the
    driver from the previous pid's max to the current pid's min, an
    O(P)-row aggregate.  Both branches see the same literal bounds, so
    the result is exact at any ``num_partitions`` (a requested pid-bucket
    count, defaulting to twice the default parallelism).  The global mode
    needs a numeric sequence column (``TypeError`` otherwise).
    """
    key_cols = list(key_cols or [])
    seq = F.col(seq_col)
    if key_cols:
        w = Window.partitionBy(*key_cols).orderBy(seq.asc())
        prev = F.lag(seq).over(w)
        return (
            df.filter(seq.isNotNull())
            .select(*key_cols, seq)
            .withColumn("__prev", prev)
            .filter(seq - F.col("__prev") > 1)
            .select(
                *key_cols,
                (F.col("__prev") + 1).alias("gap_start"),
                (seq - 1).alias("gap_end"),
                (seq - F.col("__prev") - 1).alias("n_missing"),
            )
        )

    spark = df.sparkSession
    part = _prefix.with_pid(
        df.filter(seq.isNotNull()).select(seq.alias("__seq")),
        "__seq", "__pid", _prefix.bucket_count(spark, num_partitions),
    )
    if part is None:
        raise TypeError(
            f"sequence_gaps needs a numeric sequence column; {seq_col!r} "
            f"is {df.schema[seq_col].dataType.simpleString()}"
        )
    w = Window.partitionBy("__pid").orderBy(F.col("__seq").asc())
    within = (
        part.withColumn("__prev", F.lag("__seq").over(w))
        .filter(F.col("__seq") - F.col("__prev") > 1)
        .select(
            (F.col("__prev") + 1).alias("gap_start"),
            (F.col("__seq") - 1).alias("gap_end"),
            (F.col("__seq") - F.col("__prev") - 1).alias("n_missing"),
        )
    )
    # boundary holes between adjacent non-empty pids: O(P) rows to the
    # driver, never the data
    spans = _prefix.pid_totals(
        part, "__pid", F.min("__seq").alias("lo"), F.max("__seq").alias("hi")
    )
    edge_rows = [
        (int(prev["hi"]) + 1, int(cur["lo"]) - 1, int(cur["lo"] - prev["hi"] - 1))
        for prev, cur in zip(spans, spans[1:])
        if cur["lo"] - prev["hi"] > 1
    ]
    edges = spark.createDataFrame(
        edge_rows, "gap_start long, gap_end long, n_missing long"
    )
    return within.unionByName(edges)


def interval_overlaps(
    intervals: DataFrame,
    on: Sequence[str],
    *,
    lo_col: str = "lo_us",
    hi_col: str = "hi_us",
    tiebreak_cols: Sequence[str] = (),
    out_col: str = "overlaps",
) -> DataFrame:
    """Flag every interval that overlaps ANOTHER interval of the same key
    (inclusive bounds: touching endpoints count) — the validation twin of
    :func:`range_join` for "bookings/sessions must not overlap" checks.

    The naive form is a per-key self-join (quadratic under hot keys).
    This is ONE exchange + ONE window sort by (lo asc, hi desc): a row
    overlaps some PREDECESSOR iff the running ``max(hi)`` over earlier
    rows reaches its lo, and overlaps some SUCCESSOR iff the next row's
    lo (the minimum among successors, by the sort) is within its hi —
    together that's "overlaps anything", each row flagged in O(1) state.

    Null-bound and inverted (lo > hi) rows match nothing and come back
    flagged ``false`` (SQL comparison semantics — the compiled range
    checks catch those separately).  Duplicate intervals overlap each
    other and both flag ``true``.
    """
    on = list(on)
    if out_col in intervals.columns:
        raise ValueError(
            f"interval_overlaps output column {out_col!r} already exists "
            f"on the input"
        )
    valid = (
        F.col(lo_col).isNotNull()
        & F.col(hi_col).isNotNull()
        & (F.col(lo_col) <= F.col(hi_col))
    )
    # invalid rows sort LAST so they never sit between two valid rows
    # (which would break the next-row-is-min-successor-lo invariant), and
    # their bounds are masked out of the running aggregates so they can't
    # flag a neighbor.
    order = [
        valid.desc(),
        F.col(lo_col).asc(),
        F.col(hi_col).desc(),
        *[F.col(c).asc() for c in tiebreak_cols],
    ]
    w = Window.partitionBy(*on).orderBy(*order)
    prev_max_hi = F.max(F.when(valid, F.col(hi_col))).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_lo = F.lead(F.when(valid, F.col(lo_col))).over(w)
    hit = (F.col(lo_col) <= prev_max_hi) | (next_lo <= F.col(hi_col))
    return intervals.withColumn(
        out_col, F.when(valid, F.coalesce(hit, F.lit(False))).otherwise(False)
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    *,
    point_ts: str = "ts_us",
    lo_col: str = "lo_us",
    hi_col: str = "hi_us",
    bucket_width_us: int = 3_600_000_000,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join: each point row paired with every interval
    row of the same key whose ``[lo_col, hi_col]`` (both ends inclusive)
    contains the point's timestamp.  All three bound columns are epoch-µs
    longs — convert timestamps with :func:`_epoch_us` first, so bucket
    arithmetic is exact integer math.

    Plan shape (the module docstring's bucketization): intervals explode
    into the ``ceil(len/width)+1``-ish buckets they overlap, points
    compute ONE bucket each, and the join is a plain hash/sort-merge
    equi-join on (key…, bucket) followed by the exact BETWEEN filter —
    never a broadcast-nested-loop and never a key-only join that pairs
    every point with every same-key interval.  Interval columns other
    than lo/hi come back prefixed ``iv_``; ``how='left'`` keeps
    unmatched points with nulls (a point inside k overlapping intervals
    yields k rows — same as SQL).

    Null contract: null-timestamp points and null-bound intervals match
    nothing (SQL BETWEEN semantics); under ``left`` the null-ts points
    still surface with null interval columns.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if bucket_width_us <= 0:
        raise ValueError(f"bucket_width_us must be > 0, got {bucket_width_us}")
    on = list(on)
    w = F.lit(int(bucket_width_us))

    def bucket_of(col):
        # floor-div via pmod subtraction: the numerator is an EXACT
        # multiple of w, so the (double) division is correctly rounded to
        # the true integer for |µs| < 2^53 — epoch-µs stays under that
        # until year ~2255.  (A bare floor(col/w) has the same double
        # detour but ALSO rounds the non-integer quotient; this form's
        # error mode is none in the representable range.)
        return ((col - F.pmod(col, w)) / w).cast("long")

    iv_vals = [c for c in intervals.columns if c not in (*on, lo_col, hi_col)]
    clash = [
        c
        for c in (lo_col, hi_col, "__bucket", *[f"iv_{v}" for v in iv_vals])
        if c in points.columns
    ]
    if clash:
        raise ValueError(f"interval columns collide with point side: {clash}")
    iv = (
        intervals.filter(
            F.col(lo_col).isNotNull()
            & F.col(hi_col).isNotNull()
            & (F.col(lo_col) <= F.col(hi_col))
        )
        .select(
            *on,
            F.col(lo_col),
            F.col(hi_col),
            *[F.col(c).alias(f"iv_{c}") for c in iv_vals],
            F.explode(
                F.sequence(
                    bucket_of(F.col(lo_col)), bucket_of(F.col(hi_col))
                )
            ).alias("__bucket"),
        )
    )
    pts = points.withColumn("__bucket", bucket_of(F.col(point_ts)))
    cond = [
        *[(pts[c] == iv[c]) for c in on],
        pts["__bucket"] == iv["__bucket"],
        pts[point_ts] >= iv[lo_col],
        pts[point_ts] <= iv[hi_col],
    ]
    joined = pts.join(iv, cond, how)
    return joined.select(
        *[pts[c] for c in points.columns],
        iv[lo_col],
        iv[hi_col],
        *[iv[f"iv_{c}"] for c in iv_vals],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance_us: Optional[int] = None,
    matched_ts_col: Optional[str] = None,
) -> DataFrame:
    """Left as-of join: every left row, annotated with the right row's
    value columns from the most recent right timestamp ≤ the left's
    (``backward``, inclusive) or the earliest ≥ it (``forward``).

    All right-side non-key, non-timestamp columns come back prefixed
    ``asof_`` (they must not collide with left column names after
    prefixing).  Unmatched left rows keep nulls — LEFT join semantics.
    ``tolerance_us`` nulls out matches farther than that many
    microseconds from the left timestamp.  ``matched_ts_col`` optionally
    exposes the matched right timestamp as epoch micros.

    The right side must be unique per (key, right_ts): ties would make
    the matched row engine-dependent — pre-aggregate to enforce (the
    docstring contract, not a runtime scan: checking would cost the
    very shuffle this saves).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}"
        )
    on = list(on)
    val_cols = [c for c in right.columns if c not in (*on, right_ts)]
    if not val_cols:
        raise ValueError("right side carries no value columns to join")
    clash = [f"asof_{c}" for c in val_cols if f"asof_{c}" in left.columns]
    if clash:
        raise ValueError(f"prefixed right columns collide with left: {clash}")
    work_clash = ({_SIDE, _TS, _MATCH_TS} & set(left.columns)) | (
        {_SIDE, _TS, _MATCH_TS} & set(right.columns)
    )
    if work_clash:
        raise ValueError(
            f"asof_join working columns {sorted(work_clash)} already exist "
            f"on an input"
        )

    lhs = left.withColumns(
        {
            _SIDE: F.lit(1),
            _TS: _epoch_us(left, left_ts),
        }
    )
    rhs = right.select(
        *[F.col(c) for c in on],
        _epoch_us(right, right_ts).alias(_TS),
        _epoch_us(right, right_ts).alias(_MATCH_TS),
        F.lit(0).alias(_SIDE),
        *[F.col(c).alias(f"asof_{c}") for c in val_cols],
    )
    u = lhs.unionByName(rhs, allowMissingColumns=True)

    # backward: ascending ts, right rows (side 0) before left at equal ts
    # so the inclusive running last() sees same-instant right rows.
    # forward mirrors with descending ts.
    ts_order = F.col(_TS).asc() if direction == "backward" else F.col(_TS).desc()
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, F.col(_SIDE).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = {
        f"asof_{c}": F.last(f"asof_{c}", ignorenulls=True).over(w)
        for c in val_cols
    }
    carried[_MATCH_TS] = F.last(_MATCH_TS, ignorenulls=True).over(w)
    annotated = u.withColumns(carried).filter(F.col(_SIDE) == 1)

    if tolerance_us is not None:
        dist = F.abs(F.col(_TS) - F.col(_MATCH_TS))
        within = F.col(_MATCH_TS).isNotNull() & (dist <= F.lit(int(tolerance_us)))
        annotated = annotated.withColumns(
            {
                **{
                    f"asof_{c}": F.when(within, F.col(f"asof_{c}"))
                    for c in val_cols
                },
                _MATCH_TS: F.when(within, F.col(_MATCH_TS)),
            }
        )
    if matched_ts_col is not None:
        annotated = annotated.withColumn(matched_ts_col, F.col(_MATCH_TS))
    return annotated.drop(_SIDE, _TS, _MATCH_TS)
