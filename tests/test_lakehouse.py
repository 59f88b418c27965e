"""End-to-end lakehouse test: raw JSON → zones → fact → reports,
including partition-pruning of the date-partitioned processed zone."""

from __future__ import annotations

import os

from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse
from healthcare_data_lakehouse_using_gcp_spark.sources.generator import HealthcareDataGenerator


def test_full_pipeline(spark, cfg, tmp_path):
    gen = HealthcareDataGenerator(seed=23, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    msgs = gen.generate_messages(400)
    (raw_dir / "batch1.json").write_text("\n".join(msgs))

    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    out = lh.run_all(str(raw_dir))

    assert out["etl_counts"]["vitals"] > 0
    assert out["freshness"]["recent_records"] > 0
    assert out["health"]["total_encounters"] > 0
    assert spark.table("fact_patient_encounters").count() > 0
    # every report carries a dbt-style severity status in the facade
    assert set(out["gate_statuses"]) == {
        "freshness", "quality", "monitoring", "claims", "health", "staleness"
    }
    assert all(s in ("pass", "warn", "error") for s in out["gate_statuses"].values())

    # processed zone is date-partitioned (hive-style directories)
    vit_dir = os.path.join(str(tmp_path / "wh"), "processed", "vitals")
    parts = [p for p in os.listdir(vit_dir) if p.startswith("event_date=")]
    assert len(parts) > 1

    # partition pruning: a single-date filter must scan < all partitions
    one_date = parts[0].split("=", 1)[1]
    df = spark.read.parquet(vit_dir).filter(f"event_date = DATE'{one_date}'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or df.count() < lh.read_processed("vitals").count()


def test_facade_warn_gate_does_not_raise(spark, cfg, tmp_path):
    """A warn_if breach surfaces as status 'warn' in run_reports output
    without raising (dbt_project.yml:89-94 severity semantics)."""
    import dataclasses

    from healthcare_data_lakehouse_using_gcp_spark.config import GatePolicy

    gen = HealthcareDataGenerator(seed=31, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "b.json").write_text("\n".join(gen.generate_messages(400)))
    # warn on any staleness at all, never error
    tight = dataclasses.replace(
        cfg, staleness_gate=GatePolicy(warn_if=0, error_if=None, store_failures=False)
    )
    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), tight)
    out = lh.run_all(str(raw_dir))
    assert out["gate_statuses"]["staleness"] == "warn"
    assert out["staleness"]["gate_status"] == "warn"
    assert "gate_failed" not in out["staleness"]


def test_incremental_append(spark, cfg, tmp_path):
    gen = HealthcareDataGenerator(seed=29, now=cfg.as_of)
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    (raw_dir / "b1.json").write_text("\n".join(gen.generate_messages(100)))
    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    c1 = lh.run_etl(str(raw_dir))["vitals"]
    # Run-scoped counts (Count.Globally counts records processed in
    # THIS run, healthcare_etl_pipeline.py:351-355): the second run's
    # metric equals its own batch size, while the table itself is
    # append-only (WRITE_APPEND, healthcare_etl_pipeline.py:306) and
    # holds both batches.
    c2 = lh.run_etl(str(raw_dir))["vitals"]
    assert c2 == c1
    assert lh.read_processed("vitals").count() == 2 * c1


def test_bucketed_curated_join_no_exchange(spark, cfg, tmp_path):
    """ROADMAP 5: joins between patient_id-bucketed curated tables
    plan with no Exchange on either side."""
    import contextlib
    import io

    from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse

    lh = HealthcareLakehouse(spark, str(tmp_path), cfg)
    v = spark.createDataFrame(
        [("P%03d" % i, 60 + i) for i in range(50)], "patient_id string, heart_rate int"
    )
    c = spark.createDataFrame(
        [("P%03d" % (i % 40), 100.0 * i) for i in range(80)],
        "patient_id string, total_amount double",
    )
    bucketed = lh.materialize_bucketed_staging({"vitals_b": v, "claims_b": c}, num_buckets=8)
    joined = bucketed["vitals_b"].join(bucketed["claims_b"], "patient_id")

    # at test scale the planner would broadcast (hiding the bucketing);
    # disable it to exercise the sort-merge path a 100 TB join takes
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # and the join still answers correctly
        assert joined.count() == 80  # every claim matches exactly one vitals row
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS curated_vitals_b")
    spark.sql("DROP TABLE IF EXISTS curated_claims_b")


def test_snapshot_append_packs_whole_files(spark, tmp_path):
    # Optimization r17 (guide §6, VERDICT r16 item 6): the snapshot
    # append path used to write one part file per upstream task per
    # batch (SnapshotTable._write_data never reshuffles — it also
    # serves layout commits). The caller-side rebalance by event_date
    # packs whole files and tightens per-file min/max pruning stats.
    import glob

    from pyspark.sql import functions as F

    from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import (
        SnapshotTable,
    )

    df = spark.range(0, 20000, 1, 32).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01"), (F.col("id") % 5).cast("int")).alias(
            "event_date"
        ),
    )
    st = SnapshotTable(spark, str(tmp_path / "zone"))
    st.commit_append(df.hint("rebalance", "event_date"))
    files = glob.glob(str(tmp_path / "zone" / "data" / "*" / "*.parquet"))
    # 5 dates over 20k rows: a handful of whole files, never the
    # 32-per-batch task count (AQE may split a hot date — allow 2x)
    assert 0 < len(files) <= 10, files
    assert st.read().count() == 20000


def test_cli_txn_id_with_plain_append_is_usage_error():
    # ADVICE r10: the documented incompatibility must surface as a
    # clean argparse usage error (exit code 2), never run_etl's
    # ValueError traceback — and it must fire BEFORE a SparkSession
    # is built (this test would hang for ~20 s if it didn't).
    import pytest

    from healthcare_data_lakehouse_using_gcp_spark.__main__ import main

    with pytest.raises(SystemExit) as e:
        main([
            "etl", "--raw", "/nonexistent", "--warehouse", "/nonexistent",
            "--txn-id", "t1", "--plain-append",
        ])
    assert e.value.code == 2


def test_cli_stream_upsert_with_snapshot_is_usage_error():
    # the two stream zone modes are one choice: asking for both must be
    # an argparse usage error (exit code 2) before a SparkSession is
    # built, never a silent pick of one of them
    import pytest

    from healthcare_data_lakehouse_using_gcp_spark.__main__ import main

    with pytest.raises(SystemExit) as e:
        main([
            "stream", "--raw", "/nonexistent", "--warehouse", "/nonexistent",
            "--upsert", "--snapshot",
        ])
    assert e.value.code == 2


def _raw_batch(spark, cfg, n, seed, partitions=None):
    gen = HealthcareDataGenerator(seed=seed, now=cfg.as_of)
    df = spark.createDataFrame([(m,) for m in gen.generate_messages(n)], "value string")
    return df.repartition(partitions) if partitions else df


def _max_files_per_date(df):
    from pyspark.sql import functions as F

    per_date = (
        df.select("event_date", F.input_file_name().alias("f"))
        .distinct()
        .groupBy("event_date")
        .count()
        .collect()
    )
    assert per_date
    return max(r["count"] for r in per_date)


def test_partitioned_zone_write_packs_whole_files(spark, cfg, tmp_path):
    # A 32-partition raw batch holds every date in every partition.
    # The shared ETL writer rebalances by event_date before both the
    # plain append and the snapshot commit, so each date lands in whole
    # files instead of one sliver per upstream task.
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

    raw = _raw_batch(spark, cfg, 1500, seed=43, partitions=32)
    plain = HealthcareLakehouse(spark, str(tmp_path / "plain"), cfg)
    counts = plain.run_etl(raw_df=raw, snapshot=False)
    snap = HealthcareLakehouse(spark, str(tmp_path / "snap"), cfg)
    make_etl_sink(snap.warehouse, cfg, mode="snapshot")(raw, 0)
    for lh in (plain, snap):
        for e in ("vitals", "claims", "ehr"):
            zone = lh.read_processed(e)
            assert zone.count() == counts[e], (lh.warehouse, e)
            # AQE may split a genuinely hot date — allow a small factor
            assert _max_files_per_date(zone) <= 2, (lh.warehouse, e)


def test_stream_append_after_batch_plain_etl_is_readable(spark, cfg, tmp_path):
    # A batch plain ETL and a stream append into the same warehouse
    # write one layout, so every row of both stays visible.
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

    raw = _raw_batch(spark, cfg, 200, seed=41)
    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    counts = lh.run_etl(raw_df=raw, snapshot=False)
    make_etl_sink(lh.warehouse, cfg, mode="append")(raw, 0)
    for e in ("vitals", "claims", "ehr"):
        assert lh.read_processed(e).count() == 2 * counts[e], e
    assert spark.read.json(lh.zone_path("errors")).count() == 2 * counts["unknown"]


def test_stream_append_into_snapshot_zone_raises(spark, cfg, tmp_path):
    # The CLI etl default (snapshot zones) followed by the stream's
    # default append mode: the append would write files no manifest
    # references, so the micro-batch must fail instead.
    import pytest

    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

    raw = _raw_batch(spark, cfg, 200, seed=41)
    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    counts = lh.run_etl(raw_df=raw, snapshot=True)
    with pytest.raises(ValueError, match="snapshot-managed"):
        make_etl_sink(lh.warehouse, cfg)(raw, 0)
    for e in ("vitals", "claims", "ehr"):
        assert lh.read_processed(e).count() == counts[e], e


# run_etl on 200 messages of generator seed 41 under the suite's frozen
# as-of time, measured when each route paid its own count() action:
# these counts, 16 Spark jobs for a fresh snapshot run
SEED41_COUNTS = {"vitals": 97, "claims": 45, "ehr": 36, "unknown": 7}
SEED41_JOBS_BEFORE = 16
# a fresh run of that one-file batch: three unshuffled entity commits,
# the two-job count aggregate and the errors/ append
SEED41_FRESH_JOBS = 6


def test_run_etl_counts_in_one_aggregate(spark, cfg, tmp_path):
    # The per-route counts come from one aggregate over the persisted
    # batch, not from a count() per route: the same counts with at
    # least 4 fewer jobs, fresh and on a txn replay. The one-partition
    # batch also skips the rebalance, so a fresh run needs 6 jobs.
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    gen = HealthcareDataGenerator(seed=41, now=cfg.as_of)
    (raw_dir / "m.json").write_text("\n".join(gen.generate_messages(200)))
    lh = HealthcareLakehouse(spark, str(tmp_path / "wh"), cfg)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for run in ("fresh", "replay"):
        group = f"run_etl_jobs_{run}"
        sc.setJobGroup(group, "run_etl job count")
        try:
            counts = lh.run_etl(str(raw_dir), txn_id="seed41")
        finally:
            sc.setJobGroup("", "")
        assert counts == SEED41_COUNTS, run
        n_jobs = len(tracker.getJobIdsForGroup(group) or [])
        assert n_jobs <= SEED41_JOBS_BEFORE - 4, (run, n_jobs)
        if run == "fresh":
            assert n_jobs <= SEED41_FRESH_JOBS, n_jobs
    for e in ("vitals", "claims", "ehr"):
        assert lh.read_processed(e).count() == SEED41_COUNTS[e], e


def _group_jobs_and_write_plans(spark, group):
    """The Spark job ids run under ``group`` and the physical plans of
    the file writes among them (from the SQL status store)."""
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group) or [])
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(executions.size()):
        ui = executions.apply(i)
        plan = ui.physicalPlanDescription()
        if any(ui.jobs().contains(j) for j in jobs) and "InsertIntoHadoopFsRelationCommand" in plan:
            plans.append(plan)
    return jobs, plans


def test_one_partition_batch_writes_without_exchange(spark, cfg, tmp_path):
    # A one-partition micro-batch already lands each route as one file,
    # so the writer skips the event_date rebalance and its shuffles.
    import glob

    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

    raw = _raw_batch(spark, cfg, 200, seed=41).coalesce(1)
    wh = str(tmp_path / "wh")
    sc = spark.sparkContext
    group = "one_partition_sink_batch"
    sc.setJobGroup(group, "one-partition snapshot micro-batch")
    try:
        make_etl_sink(wh, cfg, mode="snapshot")(raw, 0)
    finally:
        sc.setJobGroup("", "")
    jobs, plans = _group_jobs_and_write_plans(spark, group)
    assert len(jobs) <= SEED41_FRESH_JOBS, sorted(jobs)
    assert len(plans) == 4  # three entity commits and errors/
    assert not [p for p in plans if "Exchange" in p]
    lh = HealthcareLakehouse(spark, wh, cfg)
    for e in ("vitals", "claims", "ehr"):
        files = glob.glob(os.path.join(wh, "processed", e, "data", "*", "*.parquet"))
        assert len(files) == 1, (e, files)
        assert lh.read_processed(e).count() == SEED41_COUNTS[e], e


def test_errors_zone_written_only_when_batch_has_unknowns(spark, cfg, tmp_path):
    # errors/ gets a part file only from a batch with unknown-type rows;
    # a clean batch writes nothing there.
    from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

    gen = HealthcareDataGenerator(seed=41, now=cfg.as_of)
    clean = spark.createDataFrame(
        [(m,) for m in gen.generate_messages(100, unknown_rate=0.0)], "value string"
    )
    wh = tmp_path / "wh"
    errors = wh / "errors"
    sink = make_etl_sink(str(wh), cfg, mode="snapshot")

    def part_files():
        return sorted(p.name for p in errors.glob("part-*")) if errors.exists() else []

    sink(clean, 0)
    assert part_files() == []
    sink(_raw_batch(spark, cfg, 200, seed=41), 1)
    written = part_files()
    assert written
    assert spark.read.json(str(errors)).count() == SEED41_COUNTS["unknown"]
    sink(clean, 2)
    assert part_files() == written
