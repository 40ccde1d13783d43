"""Tests for the status-store reader.

    python3 -m pytest perfbench/test_status.py -q

Run from the root of a checkout.  The Spark test runs one tiny query whose
plan is known (one shuffle Exchange, one Python node, one file scan) and
checks the job count, the node metrics and the stage totals the reader
returns for it.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from status import StatusReader, parse_value, stage_totals  # noqa: E402


@pytest.mark.parametrize("text, value", [
    ("5.8 KiB", 5.8 * 1024),
    ("0.0 B", 0.0),
    ("1141.0 B", 1141.0),
    ("64.2 MiB", 64.2 * 1024 ** 2),
    ("2.0 s", 2.0),
    ("354 ms", 0.354),
    ("100,000", 100_000.0),
    ("7", 7.0),
    ("total (min, med, max (stageId: taskId))\n202 ms (42 ms, 56 ms, 58 ms (stage 0.0: task 1))", 0.202),
    ("total (min, med, max (stageId: taskId))\n1024.0 KiB (256.0 KiB, 256.0 KiB, 256.0 KiB (stage 0.0: task 1))",
     1024.0 * 1024),
])
def test_parse_value(text, value):
    assert parse_value(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["n/a", "5 parsecs"])
def test_parse_value_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_value(text)


@pytest.fixture(scope="module")
def spark():
    from lakehouse_ingestion_spark.session import SparkConfig, get_spark

    s = get_spark(SparkConfig(master="local[2]", shuffle_partitions=4,
                              extra={"spark.ui.showConsoleProgress": "false"}))
    yield s
    s.stop()


def test_reader_on_known_query(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": list(range(1000))}), path)
    src = spark.read.parquet(path)  # its footer read is not part of the query
    reader = StatusReader(spark)
    reader.settle()
    job0, exec0 = reader.max_job_id(), reader.max_execution_id()

    def passthrough(batches):
        yield from batches

    sc = spark.sparkContext
    sc.setJobGroup("status-test", "known query")
    try:
        rows = (
            src.selectExpr("id % 10 AS k")
            .groupBy("k").count()  # one shuffle Exchange
            .mapInArrow(passthrough, "k long, count long")  # one Python node
            .collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    reader.settle()
    assert sorted(r["count"] for r in rows) == [100] * 10

    # AQE runs the shuffle map stage and the result stage as two jobs
    jobs = reader.jobs(after=job0)
    assert len(jobs) == 2
    assert {j["jobGroup"] for j in jobs} == {"status-test"}

    execs = reader.executions(after=exec0)
    assert len(execs) == 1
    assert sorted(execs[0]["jobs"]) == sorted(j["jobId"] for j in jobs)
    nodes = reader.plan_nodes(execs[0]["id"])
    exchanges = [n for n in nodes if "shuffle records written" in n["metrics"]]
    python = [n for n in nodes if "data sent to Python workers" in n["metrics"]]
    scans = [n for n in nodes if "number of files read" in n["metrics"]]
    assert len(exchanges) == 1 and len(python) == 1 and len(scans) == 1
    assert exchanges[0]["metrics"]["shuffle records written"] > 0
    assert python[0]["metrics"]["number of output rows"] == 10
    assert python[0]["metrics"]["data sent to Python workers"] > 0
    assert scans[0]["metrics"]["number of files read"] == 1
    assert scans[0]["metrics"]["number of output rows"] == 1000

    totals = stage_totals(jobs, reader.stages())
    assert totals["jobs"] == 2
    assert totals["stages"] >= 2
    assert totals["tasks"] >= 2 and totals["tasks_failed"] == 0
    assert totals["shuffle_write_bytes"] > 0
    assert totals["executor_cpu_s"] > 0
