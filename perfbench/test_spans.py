"""Stage attribution of the benchmark's tracer.

    python3 -m pytest perfbench/test_spans.py -q

Two back-to-back spans, a nested span and a job run between spans must
not leak stages into each other.
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


@pytest.fixture(scope="module")
def spark():
    from pyjedai_spark.session import get_spark

    s = get_spark("perfbench-spans-test", master="local[2]",
                  shuffle_partitions=4,
                  extra_confs={"spark.driver.memory": "1g",
                               "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _shuffle_job(spark, n):
    return spark.range(n).selectExpr("id % 7 AS k").groupBy("k").count() \
        .collect()


def test_back_to_back_spans_do_not_share_stages(spark):
    from spans import Tracer, totals

    tr = Tracer(spark, "t", enabled=True)
    with tr.span("a"):
        _shuffle_job(spark, 1000)
    spark.range(10).collect()  # between spans: belongs to no span
    with tr.span("b"):
        _shuffle_job(spark, 2000)
        _shuffle_job(spark, 3000)
    tr.collect(tr.spans)
    a, b = tr.spans
    assert a["jobs"] >= 1 and b["jobs"] >= 2
    assert b["jobs"] > a["jobs"]
    assert not set(a["stage_ids"]) & set(b["stage_ids"])
    assert totals(a)["shuffle_write_b"] > 0
    assert totals(b)["shuffle_write_b"] > 0


def test_nested_span_owns_its_jobs(spark):
    from spans import Tracer, self_times

    tr = Tracer(spark, "n", enabled=True)
    with tr.span("execution", layer=False):
        with tr.span("child"):
            _shuffle_job(spark, 1000)
        _shuffle_job(spark, 1000)
    tr.collect(tr.spans)
    root, child = tr.spans
    assert child["parent"] == root["span_id"]
    assert root["jobs"] >= 1 and child["jobs"] >= 1
    assert not set(root["stage_ids"]) & set(child["stage_ids"])
    st = self_times(tr.spans)
    assert 0 < st[root["span_id"]] < root["end"] - root["start"]


def test_disabled_tracer_records_only_the_root(spark):
    from spans import Tracer

    tr = Tracer(spark, "d", enabled=False)
    with tr.span("execution", layer=False):
        with tr.span("layer") as rec:
            assert rec is None
            _shuffle_job(spark, 500)
    tr.collect(tr.spans)
    (root,) = tr.spans
    assert root["jobs"] >= 1
