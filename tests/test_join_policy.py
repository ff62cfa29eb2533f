"""The broadcast rule of ``operators/_joins.py``: the planner sizes every
join it can, and a hint rides only on a frame it cannot size (a
``createDataFrame`` list, through ``broadcast_if_fits``) or on one small by
construction (the keyed join). Pinned with the session threshold at -1, so
only a hint can broadcast."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_to_avro_schema_spark.operators import _joins  # noqa: E402
from json_to_avro_schema_spark.operators.dedup import (  # noqa: E402
    contamination_pairs,
)
from json_to_avro_schema_spark.operators.matching import (  # noqa: E402
    fuzzy_dedup_candidates,
    fuzzy_join,
)
from json_to_avro_schema_spark.operators.packing import (  # noqa: E402
    select_mixture,
)
from json_to_avro_schema_spark.operators.sampling import (  # noqa: E402
    stratified_sample,
)
from json_to_avro_schema_spark.operators.search import (  # noqa: E402
    bm25_search_indexed,
    build_bm25_index,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog and runs to the hills",
    "the quick brown fox jumps over the lazy dog and runs to the hills",
    "a sorted merge join sorts both sides before it merges the runs",
    "hash join builds a table from one side and probes it with the other",
    "totally unrelated text about thermodynamics and its basic laws",
]


def _rows(rows):
    return sorted(map(tuple, rows), key=repr)


def test_planner_sized_joins_carry_no_hint(
    spark, tmp_path, auto_broadcast_off, final_plan
):
    """The bucket cap, the benchmark band rows and the pruned term scan are
    frames the planner sizes: with the threshold at -1 none of these
    operators plans a BroadcastHashJoin, and the rows equal the default
    session's."""
    people = spark.createDataFrame(
        [(1, "jonathan smith", "js"), (2, "maria garcia", "mg"),
         (3, "jon smith", "js"), (4, "wei chen", "wc"), (5, "jon smyth", "js")],
        "left_id long, name string, blk string",
    )
    docs = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")
    bench = docs.filter("doc_id = 0").selectExpr("doc_id + 100 AS doc_id", "text")
    index = str(tmp_path / "bm25")
    build_bm25_index(docs, index)
    ops = {
        "fuzzy_join": lambda: fuzzy_join(
            people, people.withColumnRenamed("left_id", "right_id"),
            on="name", block_on="blk",
        ),
        "fuzzy_dedup_candidates": lambda: fuzzy_dedup_candidates(
            people, on="name", block_on="blk", id_col="left_id",
        ),
        "contamination_pairs": lambda: contamination_pairs(
            docs, bench, threshold=0.9
        ),
        "bm25_search_indexed": lambda: bm25_search_indexed(
            spark, index, "hash join sorts"
        ),
    }
    for name, op in ops.items():
        want, _ = final_plan(op())
        with auto_broadcast_off():
            got, plan = final_plan(op())
        assert "BroadcastHashJoin" not in plan, (name, plan)
        assert _rows(got) == _rows(want) and want, name


def test_created_lookups_broadcast_only_under_the_cap(
    spark, auto_broadcast_off, final_plan
):
    """``select_mixture``'s targets and a >64-strata lookup of
    ``stratified_sample`` are ``createDataFrame`` lists: under the row cap
    they broadcast with the threshold at -1, past it they do not, and the
    rows are equal either way."""
    df = spark.range(600).selectExpr(
        "id AS doc_id", "concat('s', CAST(id % 80 AS STRING)) AS grp",
        "id % 17 + 1 AS n_tokens",
    )
    fractions = {f"s{i}": (i % 10) / 10 for i in range(80)}
    ops = {
        "select_mixture": lambda: select_mixture(
            df, "n_tokens", "doc_id", "grp", {"s1": 40, "s2": 5, "s3": 0}
        ),
        "stratified_sample": lambda: stratified_sample(
            df, "grp", fractions, "doc_id", seed="p"
        ),
    }
    with auto_broadcast_off():
        for name, op in ops.items():
            want, plan = final_plan(op())
            assert "BroadcastHashJoin" in plan, (name, plan)
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(_joins, "BROADCAST_MAX_ROWS", 1)
                got, plan = final_plan(op())
            assert "BroadcastHashJoin" not in plan, (name, plan)
            assert _rows(got) == _rows(want) and want, name
