"""Self-tests of the benchmark. From the repository root:

    python3 -m pytest lakebench -q -p no:cacheprovider

They pin the measurement contract: every timed read or query ends in
the ``noop`` sink, the sink keeps the operators that ``.count()`` lets
Catalyst prune, the output checks catch a wrong value, and
BENCHMARK.json lists exactly the metrics the runs print.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pytest

from lakebench import checks, inputs, workloads
from lakebench.run import ROOT, session_conf


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from datarepo_spark.session import get_spark

    work = str(tmp_path_factory.mktemp("lakebench"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    session = get_spark(
        "lakebench-selftest", master="local[2]", shuffle_partitions=2,
        extra_conf=session_conf(work, trace=False),
    )
    yield session
    session.stop()


@pytest.fixture(scope="module")
def star(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("star"))
    inputs.write_star(root, inputs.star_tables(seed=7))
    return root


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_timed_request_goes_through_the_noop_sink(spark, tmp_path, monkeypatch, workload):
    from pyspark.sql import DataFrameWriter

    formats, sunk = [], []
    real_format, real_sink = DataFrameWriter.format, workloads.sink

    def recording_format(self, source):
        formats.append(source)
        return real_format(self, source)

    def recording_sink(df):
        formats.clear()
        real_sink(df)
        sunk.append(list(formats))

    monkeypatch.setattr(DataFrameWriter, "format", recording_format)
    monkeypatch.setattr(workloads, "sink", recording_sink)
    h = workloads.Harness(spark, str(tmp_path), seed=5, seconds=0, trace=False)
    workloads.WORKLOADS[workload](h)

    reads = [s for s in h.samples if s.kind not in ("append", "merge")]
    assert reads, "the loop issued no timed read"
    assert h.failed == 0 and not h.check_failures
    # the warm-up passes sink too, so there are at least as many sinks
    assert len(sunk) >= len(reads)
    assert all(f == ["noop"] for f in sunk), sunk


# Operators each count-pruned row computes, as they print in a physical
# plan: the regex projections of the text rows, the as-of join's window.
OPERATORS = {
    "text_quality_score": ["regexp_extract_all(", " AS quality#"],
    "text_pii_redact": ["regexp_replace(", "sha2(", " AS clean_sha#"],
    "join_asof_backward": ["Window ", "Union ", "Sort "],
}


def _last_execution_plan(spark) -> str:
    """The final physical plan of the latest SQL execution, as the
    session's SQL status store recorded it."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return executions.last().physicalPlanDescription()


@pytest.mark.parametrize("name", workloads.COUNT_PRUNED)
def test_noop_sink_keeps_the_operators_count_prunes(spark, star, name):
    from datarepo_spark.queries import extensions  # noqa: F401
    from datarepo_spark.queries.registry import REGISTRY

    df = REGISTRY[name].spark_fn(spark, star)
    workloads.sink(df)
    sunk_plan = _last_execution_plan(spark)
    counted_plan = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    assert "NoopWrite" in sunk_plan, "the recorded plan is not the noop save"
    assert "ReadSchema: struct<>" in counted_plan, f"{name}: count() kept columns"
    for operator in OPERATORS[name]:
        assert operator in sunk_plan, f"{name}: {operator!r} missing under the noop sink"
        assert operator not in counted_plan, f"{name}: count() kept {operator!r}"


def test_fingerprint_matches_and_catches_one_wrong_value(spark):
    rows = inputs.readings_rows(np.random.default_rng(3), np.arange(500), 4)
    columns = inputs.READINGS_COLUMNS
    want = checks.expected_fingerprint(rows, columns)
    df = spark.createDataFrame(rows.to_pandas())
    assert checks.frame_fingerprint(df, columns) == want

    amounts = rows.column("amount").to_pylist()
    amounts[17] += 0.01
    changed = rows.set_column(3, "amount", pa.array(amounts))
    assert checks.expected_fingerprint(changed, columns) != want
    # a permutation of rows is the same multiset
    assert checks.expected_fingerprint(rows.take(list(range(499, -1, -1))), columns) == want


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == workloads.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == workloads.PER_LAYER
