"""Deterministic documents → interleaved-spans derivation.

The engine's native input (BASELINE.json input_hint) is the interleaved
table ``(doc_id, spans:array<struct<kind,text,media_ref,offset>>)``. This
module derives that shape from a plain text corpus with arithmetic only —
fixed-width text chunks plus a media span for every third document — so
every span-level operator becomes DuckDB-oracle-able: the same derivation
is re-expressed in SQL and both engines must agree byte-for-byte on the
span sequences (the north rule's (kind, text, media_ref, order) invariant).

All construction is one SQL text projection of HOF expressions (one
parse on the JVM, codegen'd, zero Python): at 100 TB this is a
projection, not a shuffle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compiler.sql import call, field, ident, lam, lit, when


#: media_ref value planted by ``bad_ref_every`` — fails ``^m-[0-9]{8}$``.
BAD_REF = "x!BAD"


def spans_from_documents(
    docs: DataFrame,
    *,
    chunk: int = 100,
    media_every: int = 3,
    corrupt_every: Optional[int] = None,
    bad_ref_every: Optional[int] = None,
    null_spans_every: Optional[int] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, spans) with text split into ``chunk``-char spans (offset =
    chunk index) and, for every ``media_every``-th doc, one trailing media
    span whose ref is derived from the id (zero-padded to the reference's
    ``m-[0-9]{8}`` shape).

    Arithmetic corruption planting (each SQL-derivable for the oracle):

    - ``corrupt_every``: every N-th doc gets its offsets reversed —
      x-monotonicIncreasing violation for any doc with ≥ 2 spans.
    - ``bad_ref_every``: every N-th doc's media span (if it has one) gets
      ``BAD_REF`` as its ref — a ``pattern`` violation. Pick a multiple of
      ``media_every`` so every selected doc actually carries a media span.
    - ``null_spans_every``: every N-th doc's spans column is NULL — a
      ``required`` violation (applied last, overriding the other two).
    """
    did, txt = ident(id_col), ident(text_col)
    n = f"greatest(CAST(ceil(length({txt}) / {chunk}) AS INT), 1)"

    def every(k: int) -> str:
        return f"{did} % {k} = 0"

    def span(kind: str, text: str, media_ref: str, offset: str) -> str:
        return (
            f"struct({kind} AS kind, {text} AS text, "
            f"{media_ref} AS media_ref, CAST({offset} AS INT) AS offset)"
        )

    no_str = "CAST(NULL AS STRING)"
    text_spans = call("transform", f"sequence(0, {n} - 1)", lam(
        lambda i: span(
            lit("text"), f"substr({txt}, {i} * {chunk} + 1, {chunk})",
            no_str, i,
        ), "i",
    ))
    ref = f"concat('m-', lpad(CAST({did} % 100000000 AS STRING), 8, '0'))"
    if bad_ref_every is not None:
        ref = when(every(bad_ref_every), lit(BAD_REF), ref)
    media_span = span(lit("media"), no_str, ref, n)
    spans = when(
        every(media_every), f"concat({text_spans}, array({media_span}))",
        text_spans,
    )
    if corrupt_every is not None:
        reversed_spans = call("transform", spans, lam(
            lambda s: span(
                field(s, "kind"), field(s, "text"), field(s, "media_ref"),
                f"size({spans}) - 1 - {field(s, 'offset')}",
            ), "s",
        ))
        spans = when(every(corrupt_every), reversed_spans, spans)
    if null_spans_every is not None:
        spans = when(every(null_spans_every), "NULL", spans)
    return docs.selectExpr(f"{did} AS doc_id", f"{spans} AS spans")


def with_part_key(derived: DataFrame, *, n_parts: int = 64) -> DataFrame:
    """Zero-padded modulo partition key ("00".."63") — lexicographic order
    equals numeric order, and ``doc_id % n_parts`` is SQL-derivable."""
    return derived.withColumn(
        "part_key",
        F.format_string("%02d", (F.col("doc_id") % n_parts).cast("int")),
    )


def span_sequence_key(spans: Column) -> Column:
    """Canonical string of the span sequence — the north rule's per-row
    equality invariant (kind, text, media_ref, order) as a comparable
    value: fields joined by \\x01 within a span, spans by \\x02, in array
    order. Two rows have byte-identical span sequences iff their keys are
    equal, and the key is reproducible in any engine (no hash seeds)."""
    return F.array_join(
        F.transform(
            spans,
            lambda s: F.concat_ws(
                "\x01",
                s["kind"],
                F.coalesce(s["text"], F.lit("\x00")),
                F.coalesce(s["media_ref"], F.lit("\x00")),
                s["offset"].cast("string"),
            ),
        ),
        "\x02",
    )
