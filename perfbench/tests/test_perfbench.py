"""Tests of the benchmark's own code: metric names, the output digest, and
the attribution of Spark jobs to spans.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import trace
from perfbench import workloads as w

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid_and_within_limits():
    s = spec()
    e2e = [m["name"] for m in s["end_to_end"]]
    layers = [m["name"] for m in s["per_layer"]]
    assert all(NAME.match(n) for n in e2e + layers)
    assert len(e2e) <= 16 and len(layers) <= 128
    assert len(set(e2e + layers)) == len(e2e + layers)
    # the code reports exactly the declared metrics
    assert e2e == w.end_to_end_names()
    assert layers == w.per_layer_names()
    assert [x["name"] for x in s["workloads"]] == list(w.WORKLOADS)


def test_union_and_low_concurrency_lengths():
    assert trace.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    # concurrency: [0,1) one task, [1,2) two, [2,3) one, [3,4) none
    tasks = [(0, 2), (1, 3)]
    assert trace.low_concurrency_length(tasks, 0, 4) == 3


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("data", "__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "monthly_1k", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    """A session with the event log on, as the traced run has it."""
    from pyspark.sql import SparkSession

    from monthly_report_etl_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    log_dir = tmp_path_factory.mktemp("eventlog")
    session = get_spark(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield session, str(log_dir)
    session.stop()


def test_digest_ignores_row_order_and_partitioning(spark):
    from perfbench import checks

    spark, _ = spark
    rows = [(i, f"s{i % 3}", i / 7.0, [i, i + 1], None if i % 4 else "x") for i in range(50)]
    rows.append(rows[0])  # duplicates count
    df = spark.createDataFrame(rows, "a INT, b STRING, c DOUBLE, d ARRAY<INT>, e STRING")
    base = checks.frame_digest(df)
    assert checks.frame_digest(df.orderBy(df.a.desc()).repartition(3)) == base
    assert checks.frame_digest(df.dropDuplicates()) != base
    changed = df.withColumn("c", (df.a == 3).cast("double") + df.c)
    assert checks.frame_digest(changed)[1] != base[1]


def test_tsv_digest_ignores_row_order_and_rounds_floats(tmp_path):
    from perfbench import checks

    header = "lender\tperformance\tamount\n"
    rows = [f"L{i % 3}\tP{i % 2}\t{i / 7.0:.9f}\n" for i in range(20)]
    rows.append(rows[0])  # duplicates count

    def digest(name, lines, bom=True):
        d = tmp_path / name
        d.mkdir()
        (d / "part-00000-x.csv").write_text(("\ufeff" if bom else "") + header + "".join(lines))
        return checks.tsv_digest(str(d), "performance")

    base = digest("base", rows)
    assert base[0] == 21 and base[2] == {"P0", "P1"}
    assert digest("reversed", rows[::-1], bom=False) == base
    # a float that differs only past FLOAT_DIGITS decimals is the same value
    assert digest("noise", [rows[0].replace("0.000000000", "0.000000001")] + rows[1:]) == base
    assert digest("dedup", rows[:-1])[1] != base[1]
    assert digest("changed", rows[:-1] + ["L0\tP0\t1.5\n"])[1] != base[1]


def test_sink_thread_jobs_attributed_to_export_span(spark, tmp_path):
    """run_export_job submits its two sinks from ThreadPoolExecutor threads,
    which do not inherit the caller's job group. Attribution by submission
    time still puts every one of their jobs under the export span; by job
    group it would lose those that carry no group."""
    from monthly_report_etl_spark import jobs
    from monthly_report_etl_spark.fixtures import write_fixture

    spark, log_dir = spark
    deals, comp = write_fixture(str(tmp_path / "fx"), n_scenarios=40, seed=7)
    tracer = trace.Tracer()
    spark.sparkContext.setJobGroup("export", "export under test")
    with tracer.span("jobs.run_export_job"):
        jobs.run_export_job(
            spark, deals, comp, str(tmp_path / "tsv"), parquet_dir=str(tmp_path / "pq")
        )
    spark.sparkContext.setJobGroup("after", "after the span")
    spark.range(10).count()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    log = trace.read_event_log(trace.find_event_log(log_dir, app_id))
    attr = trace.attribute(tracer, log)
    span = tracer.spans[0]
    in_span = [j for j in log.jobs if span.start <= j.submit <= span.end]
    assert in_span, "no Spark job was submitted during the export"
    groupless = [j for j in in_span if j.group is None]
    assert groupless, "expected sink-thread jobs without the caller's job group"
    assert all(attr.job_span[j.job_id] == 0 for j in in_span)
    assert all(attr.job_span[j.job_id] is None for j in log.jobs if j.group == "after")
    counters = trace.span_counters(tracer, log, attr, 0)
    assert counters["jobs"] == len(in_span)
    assert counters["tasks"] > 0 and counters["executor_cpu_s"] > 0
    assert 0 <= counters["driver_s"] <= span.wall
    assert 0 < counters["serial_frac"] <= 1
