from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_to_avro_schema_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="engine-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def auto_broadcast_off(spark):
    """Context-manager factory: inside it ``autoBroadcastJoinThreshold`` is
    -1, so neither the planner nor AQE broadcasts a join side on its own
    and only an explicit hint does."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextlib.contextmanager
    def off():
        prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    return off


@pytest.fixture
def final_plan():
    """Function collecting ``df`` once and returning ``(rows, plan)``: the
    final adaptive plan, without the initial plan AQE prints beneath it."""

    def run(df):
        rows = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return rows, plan.split("== Initial Plan ==")[0]

    return run
