"""Table profiling → constraint-spec suggestion (the Deequ-style
"constraint suggestion" loop, closed: ``suggest_spec(df)`` emits a spec
document the engine's own compiler accepts, so profile → compile →
validate round-trips with zero violations on the profiled table).

The reference repo converts hand-written schemas; it has no profiler
(nothing in /root/reference/src/main derives a schema from data). This
extends the engine the way the dedup/packing family does: an operator a
large-scale validation deployment needs on day one — bootstrap the spec
from yesterday's partition, review, then enforce on tomorrow's.

Distributed shape (must survive 100 TB):

- ``profile_table``: ONE fused ``df.agg(...)`` scan carrying, per column,
  null count + min/max (numerics) + length min/max (strings) + HLL
  distinct (``approx_count_distinct``, single-pass, no Expand blow-up).
  Driver state is O(columns), never O(rows).
- Enum candidates (distinct ≤ ``enum_max``) get their value sets from a
  SECOND bounded aggregate over just those columns —
  ``slice(array_sort(collect_set(c)), 1, enum_max+1)`` so a lying HLL
  estimate can only cost ``enum_max+1`` values of memory, after which the
  oversized set disqualifies the column instead of OOMing an executor.
- Uniqueness candidates (HLL distinct ≈ row count) are re-verified with
  EXACT ``count_distinct`` in a third aggregate restricted to the
  candidate columns — the Deequ two-phase pattern: the corpus-wide exact
  distinct shuffle is paid only for columns that already look unique.
  ``exact_distinct=True`` skips HLL and does exact counts for every
  column in one multi-distinct aggregate (Catalyst's Expand multiplies
  the scan by the distinct-agg count — right for gate-scale oracling,
  wrong at 10^12 rows; the default approx path is the scale path).

Type mapping into spec keywords: long → ``integer``; int → ``integer`` +
``x-bits: 32``; float/double/decimal → ``number``; boolean → ``boolean``;
string → ``string`` (+ ``minLength``/``maxLength``). Other Spark types
(date, timestamp, array, struct, binary) get no ``properties`` entry —
presence can still be enforced (they appear in ``required`` when
null-free) and their conformance belongs to the typed expected_schema,
not value keywords. Cross-table x-ref inference is out of scope
(containment profiling needs a join per table pair; suggest refs from
lineage, not data).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# spec "type" per Spark atomic type class (None = no properties entry)
_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)

# delimiter for the profile_frame enum_vals string — the ASCII unit
# separator, not a comma: profile_drift set-diffs the split string, so
# the delimiter must be impossible inside a value
ENUM_SEP = "\x1f"


@dataclass(frozen=True)
class ColumnProfile:
    """One column's fused-scan profile (all driver-side scalars)."""

    name: str
    spark_type: str
    json_type: Optional[str]  # integer | number | string | boolean | None
    x_bits: Optional[int]  # 32 for int-typed columns, else None
    n_rows: int
    n_nulls: int
    n_distinct: int
    distinct_is_exact: bool
    min_value: Optional[float]  # numerics only
    max_value: Optional[float]
    min_length: Optional[int]  # strings only
    max_length: Optional[int]
    enum_values: Optional[List[str]]  # strings with distinct <= enum_max
    is_unique: bool  # exact-verified (approx mode re-verifies candidates)


def _json_type(dt: T.DataType) -> tuple[Optional[str], Optional[int]]:
    if isinstance(dt, T.BooleanType):
        return "boolean", None
    if isinstance(dt, _INT_TYPES):
        bits = 32 if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)) else None
        return "integer", bits
    if isinstance(dt, _FLOAT_TYPES):
        return "number", None
    if isinstance(dt, T.StringType):
        return "string", None
    return None, None


def profile_table(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    *,
    enum_max: int = 16,
    exact_distinct: bool = False,
    rsd: float = 0.05,
) -> List[ColumnProfile]:
    """Profile ``columns`` (default: every atomic column) in one fused
    scan + at most two bounded follow-up aggregates (enum value sets;
    exact uniqueness verification). Returns driver-side scalars only."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(columns) if columns is not None else [
        c for c, dt in fields.items()
        if _json_type(dt)[0] is not None
        or isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType))
    ]

    exprs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        dt = fields[c]
        jt, _ = _json_type(dt)
        exprs.append(
            # coalesce: sum over ZERO rows is NULL, and an empty table must
            # profile as all-zero counts, not crash the int() conversion
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0)
            ).alias(f"{c}__nulls")
        )
        if exact_distinct:
            exprs.append(F.count_distinct(F.col(c)).alias(f"{c}__nd"))
        else:
            exprs.append(
                F.approx_count_distinct(F.col(c), rsd).alias(f"{c}__nd")
            )
        if jt in ("integer", "number"):
            # integers stay integral end-to-end: a double round-trip could
            # round a >2^53 min UP, suggesting a `minimum` the data violates
            cast_to = "long" if jt == "integer" else "double"
            exprs.append(F.min(c).cast(cast_to).alias(f"{c}__min"))
            exprs.append(F.max(c).cast(cast_to).alias(f"{c}__max"))
        elif jt == "string":
            exprs.append(F.min(F.length(c)).alias(f"{c}__minlen"))
            exprs.append(F.max(F.length(c)).alias(f"{c}__maxlen"))
    row = df.agg(*exprs).collect()[0].asDict()
    n_rows = int(row["__n"])

    # ---- bounded enum pass: strings whose (approx) distinct fits enum_max
    enum_cands = [
        c for c in cols
        if _json_type(fields[c])[0] == "string"
        and 0 < int(row[f"{c}__nd"]) <= enum_max
    ]
    enums: Dict[str, List[str]] = {}
    if enum_cands:
        erow = df.agg(*[
            F.slice(
                F.array_sort(F.collect_set(c)), 1, enum_max + 1
            ).alias(c)
            for c in enum_cands
        ]).collect()[0].asDict()
        for c, vals in erow.items():
            if vals and len(vals) <= enum_max:
                enums[c] = list(vals)

    # ---- exact uniqueness verification (approx mode: candidates only)
    uniq_cands = [
        c for c in cols
        if int(row[f"{c}__nulls"]) == 0
        and int(row[f"{c}__nd"]) >= n_rows * (1 - 2 * rsd)
    ]
    exact_nd: Dict[str, int] = {}
    if exact_distinct:
        exact_nd = {c: int(row[f"{c}__nd"]) for c in cols}
    elif uniq_cands and n_rows > 0:
        vrow = df.agg(*[
            F.count_distinct(F.col(c)).alias(c) for c in uniq_cands
        ]).collect()[0].asDict()
        exact_nd = {c: int(v) for c, v in vrow.items()}

    out: List[ColumnProfile] = []
    for c in cols:
        dt = fields[c]
        jt, bits = _json_type(dt)
        nd = exact_nd.get(c, int(row[f"{c}__nd"]))
        ev = enums.get(c)
        if ev is not None:
            nd = len(ev)  # collect_set is exact; trust it over the HLL
        out.append(ColumnProfile(
            name=c,
            spark_type=dt.simpleString(),
            json_type=jt,
            x_bits=bits,
            n_rows=n_rows,
            n_nulls=int(row[f"{c}__nulls"]),
            n_distinct=nd,
            distinct_is_exact=exact_distinct or c in exact_nd or ev is not None,
            min_value=row.get(f"{c}__min"),
            max_value=row.get(f"{c}__max"),
            min_length=row.get(f"{c}__minlen"),
            max_length=row.get(f"{c}__maxlen"),
            enum_values=ev,
            is_unique=(
                c in exact_nd and n_rows > 0 and exact_nd[c] == n_rows
                and int(row[f"{c}__nulls"]) == 0
            ),
        ))
    return out


def suggest_spec(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    *,
    enum_max: int = 16,
    exact_distinct: bool = False,
    schema_id: str = "http://engine.local/SuggestedSpec",
    profiles: Optional[List[ColumnProfile]] = None,
) -> dict:
    """Profile ``df`` and emit a constraint-spec document (dict) that
    ``compiler.plan.compile_document`` accepts. Every suggested keyword
    holds on the profiled data by construction — observed min/max become
    ``minimum``/``maximum``, observed length bounds become
    ``minLength``/``maxLength``, exact small value sets become ``enum``,
    null-free columns become ``required``, and exactly-verified unique
    null-free columns become ``x-unique`` entries — so validating the
    profiled table under the suggested spec yields ZERO violations (the
    round-trip invariant pinned in tests/test_profile.py)."""
    profs = profiles if profiles is not None else profile_table(
        df, columns, enum_max=enum_max, exact_distinct=exact_distinct
    )
    properties: Dict[str, dict] = {}
    required: List[str] = []
    uniques: List[dict] = []
    stats_cols: List[str] = []
    for p in profs:
        node: dict = {}
        if p.json_type is not None:
            node["type"] = p.json_type
        if p.x_bits is not None:
            node["x-bits"] = p.x_bits
        if p.enum_values is not None:
            node["enum"] = p.enum_values
        elif p.json_type in ("integer", "number"):
            if p.min_value is not None:
                node["minimum"] = (
                    int(p.min_value) if p.json_type == "integer"
                    else float(p.min_value)
                )
            if p.max_value is not None:
                node["maximum"] = (
                    int(p.max_value) if p.json_type == "integer"
                    else float(p.max_value)
                )
            stats_cols.append(p.name)
        elif p.json_type == "string":
            if p.min_length is not None:
                node["minLength"] = int(p.min_length)
            if p.max_length is not None:
                node["maxLength"] = int(p.max_length)
        if node:
            properties[p.name] = node
        if p.n_nulls == 0 and p.n_rows > 0:
            required.append(p.name)
        if p.is_unique:
            uniques.append(
                {"name": f"unique_{p.name}", "columns": [p.name]}
            )
    doc: dict = {
        "$schema": "http://json-schema.org/draft-06/schema#",
        "$id": schema_id,
        "description": "Constraint spec suggested by operators/profile.py "
                       "(every keyword observed to hold on the profiled table)",
        "type": "object",
        "properties": properties,
        "required": required,
    }
    if uniques:
        doc["x-unique"] = uniques
    if stats_cols:
        doc["x-stats"] = stats_cols
    return doc


@dataclass(frozen=True)
class RefCandidate:
    """One (child key → parent key) containment measurement. For
    composite keys ``child_col``/``parent_col`` are comma-joined column
    lists and the measured key is the column TUPLE."""

    child_col: str
    parent_col: str
    n_child_keys: int  # distinct fully-non-null child keys
    n_dangling_keys: int  # child keys with no parent match
    containment: float  # 1 - dangling/child_keys (1.0 for an empty child)
    parent_n_keys: int  # distinct fully-non-null parent keys
    parent_is_unique: bool  # parent key is exact (distinct == non-null rows)


def _as_cols(spec) -> tuple:
    return (spec,) if isinstance(spec, str) else tuple(spec)


def ref_containment(
    child: DataFrame,
    parent: DataFrame,
    pairs: Sequence[tuple],
) -> List[RefCandidate]:
    """Measure key containment for candidate FK ``pairs`` of
    ``(child_key, parent_key)`` — each side a column name or a list of
    names (composite FK) — the data-driven bootstrap for the engine's
    ``x-ref`` checks (referential.py runs them; this suggests them).
    Rows with ANY null key column are excluded on both sides, matching
    SQL's FK match-simple semantics (referential.py's anti-join treats
    them the same way).

    Distributed shape, per 10^12-row table: both sides are DEDUPED TO KEY
    SETS before any join (the anti-join input is |distinct keys|, not
    |rows|), parent key-ness comes from ONE fused aggregate over all
    referenced keys, and each pair costs exactly one join job emitting two
    scalars (key count + dangling count) via a fused count/sum — never a
    row-level materialization. The candidate list is bounded (schema-
    sized), so driver state is O(pairs).
    """
    norm = [(_as_cols(cc), _as_cols(pc)) for cc, pc in pairs]
    for cc, pc in norm:
        if len(cc) != len(pc):
            raise ValueError(
                f"ref pair arity mismatch: child key {cc} has {len(cc)} "
                f"column(s), parent key {pc} has {len(pc)}"
            )
    # one fused aggregate for every referenced parent key (single- or
    # multi-column): n = fully-non-null rows, nd = distinct key tuples
    pkeys_list = sorted({pc for _, pc in norm})
    aggs = []
    for pc in pkeys_list:
        tag = ",".join(pc)
        nonnull = F.lit(True)
        for c in pc:
            nonnull = nonnull & F.col(c).isNotNull()
        aggs.append(F.sum(nonnull.cast("long")).alias(f"{tag}__n"))
        aggs.append(F.count_distinct(*[F.col(c) for c in pc]).alias(f"{tag}__nd"))
    pagg = parent.agg(*aggs).collect()[0].asDict()

    def _measure(pair) -> RefCandidate:
        cc, pc = pair
        tag = ",".join(pc)
        knames = [f"__k{i}" for i in range(len(pc))]
        pk = parent.select(
            *[F.col(c).alias(k) for c, k in zip(pc, knames)]
        )
        ck = child.select(
            *[F.col(c).alias(k) for c, k in zip(cc, knames)]
        )
        for k in knames:
            pk = pk.filter(F.col(k).isNotNull())
            ck = ck.filter(F.col(k).isNotNull())
        pk = pk.distinct().withColumn("__hit", F.lit(True))
        row = ck.distinct().join(pk, knames, "left").agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.col("__hit").isNull().cast("long")), F.lit(0)
            ).alias("dangling"),
        ).collect()[0]
        n, dang = int(row["n"]), int(row["dangling"])
        n_parent = int(pagg[f"{tag}__n"] or 0)
        return RefCandidate(
            child_col=",".join(cc),
            parent_col=tag,
            n_child_keys=n,
            n_dangling_keys=dang,
            containment=1.0 - (dang / n) if n else 1.0,
            parent_n_keys=int(pagg[f"{tag}__nd"]),
            parent_is_unique=(
                n_parent > 0 and int(pagg[f"{tag}__nd"]) == n_parent
            ),
        )

    # per-pair jobs submit concurrently (same pattern as
    # table_checks.run_table_checks): Spark job submission is
    # thread-safe and the scheduler overlaps the scans
    from concurrent.futures import ThreadPoolExecutor

    if len(norm) <= 1:
        return [_measure(p) for p in norm]
    with ThreadPoolExecutor(max_workers=min(len(norm), 8)) as ex:
        return list(ex.map(_measure, norm))


def suggest_refs(
    child: DataFrame,
    parent: DataFrame,
    pairs: Sequence[tuple],
    *,
    ref_table: str,
    containment_threshold: float = 1.0,
    candidates: Optional[List[RefCandidate]] = None,
) -> List[dict]:
    """``x-ref`` spec entries (compiler/plan.py:_compile_extensions shape)
    for every measured pair whose containment meets the threshold AND
    whose parent column is an exact key — a dangling-free FK against a
    non-unique parent is a join-explosion trap, not a constraint."""
    cands = candidates if candidates is not None else ref_containment(
        child, parent, pairs
    )
    return [
        {
            "name": f"ref_{c.child_col.replace(',', '_')}_{ref_table}",
            "columns": c.child_col.split(","),
            "refTable": ref_table,
            "refColumns": c.parent_col.split(","),
        }
        for c in cands
        if c.parent_is_unique and c.containment >= containment_threshold
    ]


def ref_containment_frame(
    spark, candidates: List[RefCandidate]
) -> DataFrame:
    """Containment measurements as a small DataFrame (one row per pair) —
    the oracle-hashable surface for the driver gate. ``containment`` is the
    exact IEEE double ``1.0 - dangling/keys`` (never decimal-rounded:
    Python's banker's rounding disagrees with SQL HALF_UP on ties, while
    the raw division is bit-identical on every engine)."""
    rows = [
        (
            c.child_col, c.parent_col, c.n_child_keys, c.n_dangling_keys,
            c.containment, c.parent_n_keys, c.parent_is_unique,
        )
        for c in candidates
    ]
    return spark.createDataFrame(
        rows,
        "child_col string, parent_col string, n_child_keys long, "
        "n_dangling_keys long, containment double, parent_n_keys long, "
        "parent_is_unique boolean",
    )


def frequent_values(
    df: DataFrame, columns: Sequence[str], *, k: int = 10,
    single_pass: bool = False,
) -> DataFrame:
    """Top-``k`` most frequent values per column — the Deequ
    "most common values" / categorical-range suggestion input, for
    columns whose cardinality blew past the profiler's ``enum_max`` cap.
    NULL counts as a value (a null-modal column is the signal that
    matters); ties break deterministically by value ASC NULLS FIRST.
    Returns (column, value, n, rank).

    Two plan shapes, A/B'd at 10 M rows × 3 columns on local[32]
    (BENCH/BASELINE.md §1c, identical results pinned in tests):

    - default (``single_pass=False``): one column-pruned aggregate PER
      column, unioned. On a columnar source this reads the SAME bytes as
      one wide scan (each scan prunes to its one column) and skips the
      melt's n_cols× row explosion into the hash-agg — measured 1.6×
      faster (median 0.93 s vs 1.50 s).
    - ``single_pass=True``: melt every column map-side into
      (column, value) pairs with explode-over-struct-array and count in
      ONE pass. Use when ``df`` is an expensive COMPUTED plan (e.g. the
      output of a cleaning pass), where per-column scans would recompute
      the input n_cols times — the bytes argument flips.

    Both end in :func:`operators.topk.grouped_topk`, so Catalyst's
    rank-limit pushdown keeps the final window O(tasks × columns × k);
    the pre-agg shuffle carries ≤ partitions × Σ per-column distincts.
    """
    from .topk import grouped_topk

    if not columns:
        raise ValueError("frequent_values needs at least one column")
    if single_pass:
        pairs = F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("value"),
            )
            for c in columns
        ]))
        counts = (
            df.select(pairs.alias("p"))
            .select("p.column", "p.value")
            .groupBy("column", "value")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    else:
        parts = [
            df.groupBy(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("value"),
            ).agg(F.count(F.lit(1)).alias("n"))
            for c in columns
        ]
        counts = parts[0]
        for p in parts[1:]:
            counts = counts.unionByName(p)
    return grouped_topk(
        counts, ["column"],
        [F.col("n").desc(), F.asc_nulls_first("value")],
        k, rank_col="rank",
    )


def fd_violations(
    df: DataFrame,
    determinants: Sequence[str],
    dependents: Sequence[str],
    *,
    with_examples: bool = True,
) -> DataFrame:
    """Functional-dependency violation extraction: determinant values
    that map to MORE than one distinct dependent combination — the
    "source must imply lang" / "order implies customer" consistency
    check (Deequ's uniqueness-within-group shape, inverted to report
    the violating keys).

    One hash-aggregate scan, map-side combined: per determinant group,
    ``count_distinct`` over the dependents plus total rows and, as
    evidence, the min/max of each dependent (two concrete conflicting
    values when the FD is violated — enough to triage without a second
    scan).  Rows whose dependents are all null don't count toward
    distinctness (SQL COUNT DISTINCT semantics); driver state is zero,
    output is one row per violating key.
    """
    determinants = list(determinants)
    dependents = list(dependents)
    if not determinants or not dependents:
        raise ValueError("determinants and dependents must be non-empty")
    overlap = set(determinants) & set(dependents)
    if overlap:
        raise ValueError(f"columns on both sides: {sorted(overlap)}")
    aggs = [
        F.count_distinct(*[F.col(c) for c in dependents]).alias("n_distinct"),
        F.count(F.lit(1)).alias("n_rows"),
    ]
    if with_examples:
        for c in dependents:
            aggs += [
                F.min(c).alias(f"{c}_min"),
                F.max(c).alias(f"{c}_max"),
            ]
    return (
        df.groupBy(*determinants)
        .agg(*aggs)
        .filter(F.col("n_distinct") > 1)
    )


def fd_candidates(
    df: DataFrame,
    columns: Sequence[str],
    *,
    pairs: Optional[Sequence[tuple]] = None,
    max_violation_fraction: float = 0.0,
) -> DataFrame:
    """Functional-dependency DISCOVERY (the Deequ/Metanome profiling
    loop closed, like :func:`ref_containment` for FKs): measure every
    ordered pair of ``columns`` (or the explicit ``pairs``) and report
    ``(determinant, dependent, n_keys, n_violating_keys,
    violation_fraction, fd_holds)`` — the input :func:`suggest_fds`
    turns into compiler-accepted ``x-fd`` entries, which
    table_checks.run_table_checks then enforces every run.

    Distributed shape: ONE column-pruned grouped aggregate per
    determinant (all that determinant's dependents measured in the same
    pass via per-dependent ``count_distinct``), reduced to a 1-row
    frame and melted — so k columns cost k key-scale aggs, never k²
    scans, and driver state is O(pairs).  ``violation_fraction`` is the
    raw IEEE division (never decimal-rounded — the ref_containment
    float contract); ``fd_holds`` compares exact integers when the
    threshold is 0 (the default).

    Null semantics match SQL: a null determinant value forms a key
    (GROUP BY), null dependents don't count toward distinctness
    (COUNT DISTINCT) — so an all-null dependent group never violates."""
    if pairs is None:
        cols = list(columns)
        if len(cols) < 2:
            raise ValueError("fd_candidates needs >= 2 columns")
        pairs = [(a, b) for a in cols for b in cols if a != b]
    by_lhs: "dict[str, list[str]]" = {}
    for a, b in pairs:
        if a == b:
            raise ValueError(f"pair ({a!r}, {b!r}): columns must differ")
        by_lhs.setdefault(a, []).append(b)
    parts = []
    for a, rhs in by_lhs.items():
        g = df.groupBy(F.col(a).alias("__k")).agg(
            *[
                F.count_distinct(F.col(b)).alias(f"__nd_{j}")
                for j, b in enumerate(rhs)
            ]
        )
        red = g.agg(
            F.count(F.lit(1)).alias("n_keys"),
            *[
                F.coalesce(
                    F.sum((F.col(f"__nd_{j}") > 1).cast("long")), F.lit(0)
                ).alias(f"__v_{j}")
                for j in range(len(rhs))
            ],
        )
        melted = red.select(
            F.lit(a).alias("determinant"),
            F.col("n_keys"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("dependent"),
                            F.col(f"__v_{j}").alias("n_violating_keys"),
                        )
                        for j, b in enumerate(rhs)
                    ]
                )
            ).alias("p"),
        ).select("determinant", "p.dependent", "n_keys", "p.n_violating_keys")
        parts.append(melted)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "determinant",
        "dependent",
        "n_keys",
        "n_violating_keys",
        (F.col("n_violating_keys") / F.col("n_keys")).alias(
            "violation_fraction"
        ),
        (
            F.col("n_violating_keys")
            <= F.lit(max_violation_fraction) * F.col("n_keys")
        ).alias("fd_holds"),
    )


def suggest_fds(
    df: DataFrame,
    columns: Sequence[str],
    *,
    pairs: Optional[Sequence[tuple]] = None,
    max_violation_fraction: float = 0.0,
) -> List[dict]:
    """``x-fd`` spec entries (compiler/plan.py:_compile_extensions shape)
    for every measured pair that holds at the threshold — the
    profile→suggest→compile→enforce round trip, FD edition.  Collects
    O(pairs) rows, never data."""
    held = (
        fd_candidates(
            df, columns, pairs=pairs,
            max_violation_fraction=max_violation_fraction,
        )
        .filter(F.col("fd_holds"))
        .collect()
    )
    return [
        {
            "name": f"fd_{r['determinant']}__{r['dependent']}",
            "determinants": [r["determinant"]],
            "dependents": [r["dependent"]],
            "maxViolationFraction": max_violation_fraction,
        }
        for r in sorted(held, key=lambda r: (r["determinant"], r["dependent"]))
    ]


def correlations(
    df: DataFrame,
    cols: Sequence[str],
    *,
    decimals: Optional[int] = 6,
) -> DataFrame:
    """Pairwise Pearson correlation over the given numeric columns — the
    Deequ correlation analyzer: (col_x, col_y, pearson_r, n_pairs) for
    every unordered pair, the redundant-feature / derived-column detector
    that feeds FD triage (a |r|≈1 pair is an FD candidate for
    :func:`fd_violations`; spec-wise, a derived column wants an x-stats
    check, not independent range checks).

    Distributed shape: ONE fused ``df.agg`` scan — ``F.corr`` is a
    declarative aggregate (map-side-combined running moments), so all
    k·(k−1)/2 pairs ride a single pass with O(k²) scalar state and a
    one-row result; the unpivot to pair rows is a literal-struct explode
    on that single row, never a shuffle.  k² agg columns bound the
    practical pair count (~50 columns ≈ 1225 aggregates), which is the
    profiler's regime — at wider k, select candidate pairs first.

    Semantics pinned for the cross-engine oracle: rows where EITHER side
    is null are excluded per pair (SQL ``corr`` — both inputs are masked
    to the pairwise-complete subset before the moment aggregates, so the
    stddevs see exactly the rows the covariance does); sample
    correlation; zero-variance / sub-2-row pairs return null (DuckDB's
    NULL there; ``F.corr`` itself is ANSI-fatal on zero variance —
    DIVIDE_BY_ZERO — so the ratio is built from ``covar_samp`` /
    ``stddev_samp`` under ``try_divide``, numerically the same
    stable-update moments ``corr`` runs); ``decimals`` pre-rounds
    (default 6, the module float contract; ``None`` = raw).  ``n_pairs``
    is the per-pair non-null row count the coefficient was computed over
    — the evidence column (r over 3 rows is noise, over 10^9 it's
    structure).
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError(f"correlations needs >= 2 columns, got {cols}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate columns: {cols}")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns missing from the frame: {missing}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = []
    for i, (a, b) in enumerate(pairs):
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        ma = F.when(both, F.col(a))
        mb = F.when(both, F.col(b))
        aggs.append(
            F.try_divide(
                F.covar_samp(ma, mb),
                F.stddev_samp(ma) * F.stddev_samp(mb),
            ).alias(f"__r{i}")
        )
        aggs.append(F.count(F.when(both, 1)).alias(f"__n{i}"))
    one = df.agg(*aggs)
    structs = []
    for i, (a, b) in enumerate(pairs):
        r = F.col(f"__r{i}")
        r = F.when(~F.isnan(r), r)  # NaN (zero variance, n<2) -> null
        if decimals is not None:
            r = F.round(r, decimals)
        structs.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                r.alias("pearson_r"),
                F.col(f"__n{i}").alias("n_pairs"),
            )
        )
    return (
        one.select(F.explode(F.array(*structs)).alias("__p"))
        .select("__p.*")
    )


def null_patterns(
    df: DataFrame,
    cols: Sequence[str],
    *,
    decimals: Optional[int] = 6,
) -> DataFrame:
    """Missingness-structure report: one row per OBSERVED null/non-null
    combination of the given columns — ``<col>_null`` boolean flags plus
    ``n_rows`` and ``pct`` — the md.pattern-style view data-observability
    tools ship: it distinguishes "these columns go missing together"
    (one joint ingestion fault) from independent nulls, which per-column
    null rates cannot (the profiler's null_count sees 10% + 10% whether
    that's one broken 10% slice or two).

    Distributed shape: ONE map-side-combined hash-agg on the k boolean
    flags — at most ``2^k`` groups regardless of row count, so the
    shuffle carries ≤ 2^k tiny rows (k is capped at 20 ⇒ ≤ 1 M groups;
    in practice patterns observed ≪ 2^k).  The ``pct`` denominator is a
    single-partition running sum OVER THE AGGREGATE — bounded by the
    same 2^k, never the corpus.  Output ordering is unspecified; sort on
    the flag columns for deterministic presentation.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("null_patterns needs at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate columns: {cols}")
    if len(cols) > 20:
        raise ValueError(
            f"null_patterns is bounded at 20 columns (2^k pattern groups); "
            f"got {len(cols)} — profile a column subset"
        )
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns missing from the frame: {missing}")
    flags = [F.col(c).isNull().alias(f"{c}_null") for c in cols]
    grouped = df.groupBy(*flags).agg(F.count(F.lit(1)).alias("n_rows"))
    from pyspark.sql import Window

    total = F.sum("n_rows").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    pct = F.col("n_rows") / total
    if decimals is not None:
        pct = F.round(pct, decimals)
    return grouped.withColumn("pct", pct)


def entropy(
    df: DataFrame,
    cols: Sequence[str],
    *,
    decimals: Optional[int] = 6,
) -> DataFrame:
    """Shannon entropy (nats) of each column's value distribution — the
    Deequ Entropy analyzer: (column, n_values, n_distinct, entropy),
    nulls excluded.  Near-zero entropy on a supposedly-informative
    column (one value dominates) and entropy ≈ ln(n_distinct) on a
    supposedly-skewed one are both anomaly signals the null/distinct
    profile alone misses; run-over-run entropy shifts feed
    :func:`profile_drift`-style monitoring.

    Distributed shape: ALL k columns in one pass — each row explodes to
    k skinny (column, value-string) pairs, one map-side-combined
    hash-agg on (column, value) builds the per-value counts (the shuffle
    is vocabulary-scale, the same regime as categorical drift), and a
    k-row second agg folds them with the identity
    ``H = ln(N) − Σ n·ln(n) / N`` — no per-value p=n/N division, so one
    pass needs no pre-computed totals.  The string cast only routes
    GROUPING (injective per column for atomic types); the values
    themselves never reach the output, so cross-engine formatting
    differences cannot skew the result.  ``decimals`` rounds the
    entropy (default 6, the module float contract).
    """
    cols = list(cols)
    if not cols:
        raise ValueError("entropy needs at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate columns: {cols}")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns missing from the frame: {missing}")
    # same melt shape as frequent_values(single_pass=True); that
    # function's A/B note (per-column pruned scans beat the melt ~1.6x
    # on columnar sources) trades differently here — entropy needs EVERY
    # value's count (no rank pruning), so k pruned scans each shuffle a
    # full per-column vocabulary anyway and the melt keeps it one pass;
    # for k == 1 the two shapes coincide
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("__val"),
            )
            for c in cols
        ]
    )
    counts = (
        df.select(F.explode(pairs).alias("__p"))
        .select("__p.*")
        .filter(F.col("__val").isNotNull())
        .groupBy("column", "__val")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    n = F.col("__n").cast("double")
    per_col = counts.groupBy("column").agg(
        F.sum("__n").alias("n_values"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(n * F.log(n)).alias("__s"),
    )
    h = F.log(F.col("n_values").cast("double")) - F.col("__s") / F.col(
        "n_values"
    )
    if decimals is not None:
        h = F.round(h, decimals)
    return per_col.select("column", "n_values", "n_distinct", h.alias("entropy"))


def mutual_information(
    df: DataFrame,
    pairs: Sequence,
    *,
    decimals: Optional[int] = 6,
) -> DataFrame:
    """Mutual information (nats) between column pairs — the Deequ
    MutualInformation analyzer: (col_x, col_y, n_pairs, mi) per pair,
    rows with either side null excluded.  MI is the categorical
    dependence detector :func:`correlations` (linear, numeric) cannot
    be: MI ≈ 0 means independent, MI ≈ min(H(X), H(Y)) means one column
    determines the other — the soft form of :func:`fd_violations`.

    Distributed shape: ALL pairs in ONE corpus scan.  Rows explode to
    skinny (pair_id, x-string, y-string) triples; a single
    ``groupingSets`` aggregation — sets (pid,x,y), (pid,x), (pid,y),
    (pid) — produces joint counts, both margins, and the total in one
    map-side-combined pass (Expand ×4 of the already-skinny exploded
    rows, the :func:`~..stats.verdict_rollup` machinery); a second
    aggregate over those vocabulary-scale rows folds each grouping
    level with Σ n·ln(n) and combines via the identity

        MI = ln(N) + (Σ n_xy·ln n_xy − Σ n_x·ln n_x − Σ n_y·ln n_y) / N

    so no per-cell probability division and no joined margin frames.
    The string cast only routes grouping (injective per column for
    atomic types); values never reach the output.
    """
    pairs = [tuple(p) for p in pairs]
    if not pairs:
        raise ValueError("mutual_information needs at least one pair")
    if len(set(pairs)) != len(pairs):
        raise ValueError(f"duplicate pairs: {pairs}")
    for a, b in pairs:
        if a == b:
            raise ValueError(f"pair ({a!r}, {b!r}) compares a column to itself")
        missing = [c for c in (a, b) if c not in df.columns]
        if missing:
            raise ValueError(f"columns missing from the frame: {missing}")
    entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("__pid"),
                F.col(a).cast("string").alias("__x"),
                F.col(b).cast("string").alias("__y"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    ex = (
        df.select(F.explode(entries).alias("__e"))
        .select("__e.*")
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    )
    # gid bits over (__pid, __x, __y): 0=(pid,x,y) joint, 1=(pid,x)
    # x-margin, 2=(pid,y) y-margin, 3=(pid) total
    cells = ex.groupingSets(
        [["__pid", "__x", "__y"], ["__pid", "__x"], ["__pid", "__y"],
         ["__pid"]],
        "__pid", "__x", "__y",
    ).agg(F.grouping_id().alias("__gid"), F.count(F.lit(1)).alias("__n"))
    n = F.col("__n").cast("double")
    nlogn = n * F.log(n)
    folded = cells.groupBy("__pid").agg(
        F.sum(F.when(F.col("__gid") == 0, nlogn)).alias("__sxy"),
        F.sum(F.when(F.col("__gid") == 1, nlogn)).alias("__sx"),
        F.sum(F.when(F.col("__gid") == 2, nlogn)).alias("__sy"),
        F.max(F.when(F.col("__gid") == 3, F.col("__n"))).alias("n_pairs"),
    )
    mi = F.log(F.col("n_pairs").cast("double")) + (
        F.col("__sxy") - F.col("__sx") - F.col("__sy")
    ) / F.col("n_pairs")
    # a pair with zero non-null rows never appears in `folded`; surface
    # it as (0, null) so callers see every requested pair
    if decimals is not None:
        mi = F.round(mi, decimals)
    names = F.array(
        *[
            F.struct(
                F.lit(i).alias("__pid"),
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    spark_names = (
        df.sparkSession.range(1)
        .select(F.explode(names).alias("__e"))
        .select("__e.*")
    )
    return (
        spark_names.join(folded, "__pid", "left")
        .select(
            "col_x",
            "col_y",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            mi.alias("mi"),
        )
    )


def profile_drift(old: DataFrame, new: DataFrame,
                  *,
                  null_rate_jump: float = 0.01,
                  distinct_rel_change: float = 0.5) -> DataFrame:
    """Run-over-run schema/profile drift report (the Deequ dataset-
    comparison step, closing the profiler loop the way
    ``operators/anomaly.py`` closes the metrics loop): given two
    ``profile_frame`` outputs — yesterday's partition vs today's — emit
    one row per column with a status in {'added','removed',
    'type_changed','kept'} and per-signal flags:

    - ``null_jump``        null rate rose by more than ``null_rate_jump``
    - ``distinct_shift``   |Δ distinct| / old distinct > ``distinct_rel_change``
    - ``range_expanded``   new min/max (or length bounds) outside old
    - ``enum_widened``     new values beyond the old enum set, or the
                           enum blew past the profiler's cap entirely
    - ``unique_regressed`` was an exact key, is not anymore

    Both inputs are vocab-scale (one row per COLUMN), so this is a tiny
    full-outer join — the expensive part already happened inside the two
    profile scans. Everything is a null-gated Column expression."""
    o = old.select([F.col(c).alias(f"o_{c}") for c in old.columns])
    n = new.select([F.col(c).alias(f"n_{c}") for c in new.columns])
    j = o.join(
        n, o["o_column"] == n["n_column"], "full_outer"
    )
    status = (
        F.when(F.col("o_column").isNull(), F.lit("added"))
        .when(F.col("n_column").isNull(), F.lit("removed"))
        .when(~F.col("o_json_type").eqNullSafe(F.col("n_json_type")),
              F.lit("type_changed"))
        .otherwise(F.lit("kept"))
    )
    both = F.col("o_column").isNotNull() & F.col("n_column").isNotNull()
    nr_old = F.col("o_n_nulls") / F.greatest(F.col("o_n_rows"), F.lit(1))
    nr_new = F.col("n_n_nulls") / F.greatest(F.col("n_n_rows"), F.lit(1))
    null_jump = both & ((nr_new - nr_old) > F.lit(null_rate_jump))
    distinct_shift = both & (
        F.abs(F.col("n_n_distinct") - F.col("o_n_distinct"))
        / F.greatest(F.col("o_n_distinct"), F.lit(1))
        > F.lit(distinct_rel_change)
    )
    range_expanded = both & (
        F.coalesce(F.col("n_min_num") < F.col("o_min_num"), F.lit(False))
        | F.coalesce(F.col("n_max_num") > F.col("o_max_num"), F.lit(False))
        | F.coalesce(F.col("n_min_len") < F.col("o_min_len"), F.lit(False))
        | F.coalesce(F.col("n_max_len") > F.col("o_max_len"), F.lit(False))
    )
    # old had a bounded enum; new either has values outside it or blew
    # past the profiler's enum cap (enum_vals null despite string type)
    enum_widened = both & F.col("o_enum_vals").isNotNull() & (
        F.col("n_enum_vals").isNull()
        | (F.size(F.array_except(
            F.split(F.col("n_enum_vals"), ENUM_SEP),
            F.split(F.col("o_enum_vals"), ENUM_SEP),
        )) > 0)
    )
    unique_regressed = both & F.coalesce(
        F.col("o_is_unique") & ~F.col("n_is_unique"), F.lit(False)
    )
    flags = (null_jump | distinct_shift | range_expanded | enum_widened
             | unique_regressed)
    return j.select(
        F.coalesce(F.col("o_column"), F.col("n_column")).alias("column"),
        status.alias("status"),
        F.round(nr_old, 6).alias("null_rate_old"),
        F.round(nr_new, 6).alias("null_rate_new"),
        F.col("o_n_distinct").alias("distinct_old"),
        F.col("n_n_distinct").alias("distinct_new"),
        null_jump.alias("null_jump"),
        distinct_shift.alias("distinct_shift"),
        range_expanded.alias("range_expanded"),
        enum_widened.alias("enum_widened"),
        unique_regressed.alias("unique_regressed"),
        ((status != F.lit("kept")) | flags).alias("drifted"),
    )


def profile_frame(df: DataFrame, profiles: List[ColumnProfile]) -> DataFrame:
    """The profile as a small DataFrame (one row per column) — the
    oracle-hashable surface for the driver gate: every field is exactly
    re-derivable in SQL when the profile ran with ``exact_distinct=True``."""
    spark = df.sparkSession
    rows = [
        (
            p.name, p.json_type, p.n_rows, p.n_nulls, p.n_distinct,
            p.n_nulls == 0 and p.n_rows > 0, p.is_unique,
            float(p.min_value) if p.min_value is not None else None,
            float(p.max_value) if p.max_value is not None else None,
            p.min_length, p.max_length,
            # \x1f-joined (same unit separator as the uniqueness keys):
            # profile_drift set-diffs this string, so the delimiter must
            # never occur inside a value — a comma can
            ENUM_SEP.join(p.enum_values) if p.enum_values is not None
            else None,
        )
        for p in profiles
    ]
    return spark.createDataFrame(
        rows,
        "column string, json_type string, n_rows long, n_nulls long, "
        "n_distinct long, required boolean, is_unique boolean, "
        "min_num double, max_num double, min_len int, max_len int, "
        "enum_vals string",
    )
