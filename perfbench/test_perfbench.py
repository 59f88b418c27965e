"""Self-tests of the benchmark harness.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench.checks import expected_routes, frame_digest, normalized_rows, same_rows
from perfbench.resources import ResourceReader
from perfbench.tracing import Tracer
from perfbench.workloads import END_TO_END, INVARIANTS, PER_LAYER, Context, Pipeline, Recorder

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def recorder(spark):
    return Recorder(Context(spark, ResourceReader(spark), Tracer("test", enabled=True)))


def test_forced_output_mismatch_counts_as_failure(recorder, tmp_path):
    recorder.call("ok", lambda: 1, lambda r: None)
    recorder.call("mismatch", lambda: 1, lambda r: "output differs")
    recorder.call("raises", lambda: 1 / 0)
    assert recorder.attempted == 3
    assert recorder.failures == ["output differs", "raises raised ZeroDivisionError: division by zero"]

    wl = Pipeline(seed=3, work=str(tmp_path))
    wl.batch_routes = {"vitals": 5, "claims": 2, "ehr": 1, "unknown": 1, "dropped": 1}
    wl.BATCH_MESSAGES = 10
    assert wl._check_routes({"vitals": 5, "claims": 2, "ehr": 1, "unknown": 1}) is None
    assert "expected" in wl._check_routes({"vitals": 4, "claims": 2, "ehr": 1, "unknown": 1})


def test_reader_counts_jobs_of_a_known_group(spark):
    reader = ResourceReader(spark)
    with reader.group("known") as gid:
        spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    rec = reader.read(gid)
    assert rec.jobs > 0 and rec.tasks > 0
    assert rec.cpu_s > 0 and rec.shuffle_write_mb > 0
    assert reader.read("no-such-group").jobs == 0


def test_spans_nest_under_their_parent():
    tracer = Tracer("run-1", enabled=True)
    with tracer.span("pass"):
        with tracer.span("etl"):
            pass
        tracer.add("micro_batch", 1.0, 2.0)
    names = {s.name: s for s in tracer.spans}
    assert names["etl"].parent == names["pass"].id == names["micro_batch"].parent
    assert all(s.run_id == "run-1" and s.end >= s.start for s in tracer.spans)
    assert not Tracer("run-2", enabled=False).spans


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, specs in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = [(m["name"], m["unit"], m["better"]) for m in bench[key]]
        assert listed == list(specs)
    names = [name for name, *_ in END_TO_END + PER_LAYER + INVARIANTS]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)


def test_route_reference_adds_up():
    from healthcare_data_lakehouse_using_gcp_spark.config import EngineConfig
    from healthcare_data_lakehouse_using_gcp_spark.sources.generator import (
        HealthcareDataGenerator,
    )

    msgs = HealthcareDataGenerator(seed=5).generate_messages(400)
    routes = expected_routes(msgs, EngineConfig().thresholds)
    assert sum(routes.values()) == 400
    assert min(routes.values()) > 0


def test_digest_ignores_row_order_but_not_values(spark):
    df = spark.range(100).select("id", (F.col("id") / 3).alias("x"))
    assert frame_digest(df) == frame_digest(df.orderBy(F.desc("id")).repartition(3))
    assert frame_digest(df) != frame_digest(df.withColumn("x", F.col("x") + 1))


def test_oracle_rows_allow_summation_order_only():
    spark_rows = normalized_rows([("A", 1, 0.0501), ("B", 2, 1e9 + 0.01)], ["k", "n", "x"])
    oracle = normalized_rows([("B", 2, 1e9), ("A", 1, 0.0500)], ["k", "n", "x"])
    assert same_rows(spark_rows, oracle)
    assert not same_rows(spark_rows, normalized_rows([("A", 1, 0.06), ("B", 2, 1e9)], ["k", "n", "x"]))
    assert not same_rows(spark_rows, oracle[:1])
