"""``x-monotonicIncreasing``: the listed struct fields of an array's elements
strictly increase along the array, compared in the field's own Spark type.

A seeded per-row Python oracle pins the semantics on integer, number and
string fields: a null element or a null field fails, a tie or a decrease
anywhere fails, an empty array passes, a single element needs only its
field present, and with two listed fields each must increase on its own.
"""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_to_avro_schema_spark.compiler.plan import compile_document  # noqa: E402
from json_to_avro_schema_spark.errors import SpecCompileError  # noqa: E402
from json_to_avro_schema_spark.runner import run_validation  # noqa: E402

SEED = 5
N_ROWS = 400

# field JSON type → (Spark type of the field, value pool with ties)
FIELD_TYPES = {
    "integer": ("bigint", [-3, 0, 1, 2, 2, 5, 9, 40]),
    "number": ("double", [-1.5, -0.0, 0.0, 0.5, 1.2, 1.7, 2.0, 9.25]),
    "string": ("string", ["", "B", "a", "ab", "b", "b", "ba", "z"]),
}


def _doc(a_type: str, fields) -> dict:
    items = {"properties": {"a": {"type": a_type}, "b": {"type": "integer"}}}
    return {
        "$id": "x://t/Mono",
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            "v": {"type": "array", "items": items, "x-monotonicIncreasing": list(fields)},
        },
    }


def _failing_ids(spark, a_type: str, fields, rows):
    spark_type = FIELD_TYPES[a_type][0]
    df = spark.createDataFrame(rows, f"id bigint, v array<struct<a: {spark_type}, b: bigint>>")
    res = run_validation(spark, df, compile_document(_doc(a_type, fields)))
    return {r["id"] for r in res.violations.select("id").collect()}


def _increasing(arr, fields) -> bool:
    """The oracle: JSON values compare as Python values (strings by code
    point, which is Spark's UTF-8 byte order)."""
    if arr is None:
        return True  # an absent property passes every value keyword
    for f in fields:
        vals = [None if e is None else e[f] for e in arr]
        if any(v is None for v in vals):
            return False
        if any(b <= a for a, b in zip(vals, vals[1:])):
            return False
    return True


def _rows(rng: random.Random, pool):
    def element():
        if rng.random() < 0.06:
            return None
        a = None if rng.random() < 0.06 else rng.choice(pool)
        b = None if rng.random() < 0.06 else rng.randint(-2, 12)
        return {"a": a, "b": b}

    def array(n):
        arr = [element() for _ in range(n)]
        if n and rng.random() < 0.5:  # mostly increasing, broken at one position
            ordered = sorted(set(pool))
            start = rng.randrange(len(ordered))
            for k, e in enumerate(arr):
                if e is not None and e["a"] is not None:
                    e["a"] = ordered[min(start + k, len(ordered) - 1)]
                if e is not None and e["b"] is not None:
                    e["b"] = k
            if n > 1 and rng.random() < 0.5:
                k = rng.randrange(1, n)
                arr[k - 1], arr[k] = arr[k], arr[k - 1]
        return arr

    rows = [(i, None if rng.random() < 0.03 else array(rng.randint(0, 5)))
            for i in range(N_ROWS)]
    edge = [[], [{"a": pool[1], "b": 0}], [{"a": None, "b": 0}], [None],
            [{"a": pool[3], "b": 0}, {"a": pool[3], "b": 1}]]
    return rows + [(N_ROWS + k, arr) for k, arr in enumerate(edge)]


@pytest.mark.parametrize("fields", [("a",), ("b",), ("a", "b")])
@pytest.mark.parametrize("a_type", sorted(FIELD_TYPES))
def test_monotonic_matches_python_oracle(spark, a_type, fields):
    rng = random.Random(f"{SEED}-{a_type}-{fields}")
    rows = _rows(rng, FIELD_TYPES[a_type][1])
    want = {rid for rid, arr in rows if not _increasing(arr, fields)}
    spark_rows = [(rid, None if arr is None else [
        None if e is None else (e["a"], e["b"]) for e in arr
    ]) for rid, arr in rows]
    assert _failing_ids(spark, a_type, fields, spark_rows) == want


def test_monotonic_number_field_compares_numerically(spark):
    """Not truncated to an integer first: 1.7 then 1.2 is a decrease."""
    rows = [(1, [(1.7, 0), (1.2, 1)]), (2, [(1.2, 0), (1.7, 1)]),
            (3, [(1.2, 0), (1.9, 1), (1.5, 2)]), (4, [(0.0, 0), (-0.0, 1)])]
    assert _failing_ids(spark, "number", ("a",), rows) == {1, 3, 4}


def test_monotonic_string_field_compares_as_strings(spark):
    """Spark's string order, with no cast that raises on a non-numeric
    string."""
    rows = [(1, [("b", 0), ("a", 1)]), (2, [("a", 0), ("ab", 1), ("b", 2)]),
            (3, [("B", 0), ("a", 1)]), (4, [("x", 0), ("x", 1)])]
    assert _failing_ids(spark, "string", ("a",), rows) == {1, 4}


def test_monotonic_unorderable_field_rejected_at_compile():
    """A field Spark cannot sort (a map here) is a compile error naming the
    path, not a Spark error at execution."""
    doc = _doc("integer", ("a",))
    doc["properties"]["v"]["items"]["properties"]["a"] = {"type": "object"}
    with pytest.raises(SpecCompileError, match=r"x-monotonicIncreasing at \$\.v.*\ba\b"):
        compile_document(doc)
