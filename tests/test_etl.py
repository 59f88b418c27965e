"""ETL operator tests (SURVEY.md §2.1-2.2, §2.9) — crafted good/bad
rows per FIXTURES.md edge-row guidance."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from healthcare_data_lakehouse_using_gcp_spark.config import EngineConfig, Thresholds
from healthcare_data_lakehouse_using_gcp_spark.operators import etl
from healthcare_data_lakehouse_using_gcp_spark.sources.generator import HealthcareDataGenerator


def _raw_df(spark, messages):
    return spark.createDataFrame([(m,) for m in messages], "value string")


GOOD_VITALS = {
    "data_type": "patient_vitals",
    "patient_id": "P000001",
    "timestamp": "2024-06-01T10:30:00",
    "heart_rate": 72,
    "blood_pressure_systolic": 120,
    "blood_pressure_diastolic": 80,
    "temperature": 36.8,
    "oxygen_saturation": 98,
    "respiratory_rate": 16,
    "device_id": "DEV0001",
    "location": "ICU",
}

GOOD_CLAIM = {
    "data_type": "insurance_claim",
    "claim_id": "CLM000001",
    "patient_id": "P000001",
    "provider_id": "DR0001",
    "service_date": "2024-05-20",
    "diagnosis_codes": ["I10", "E11.9"],
    "procedure_codes": ["99213"],
    "total_amount": 450.0,
    "insurance_type": "Medicare",
    "claim_status": "Paid",
    "submission_date": "2024-05-25",
}

GOOD_EHR = {
    "data_type": "ehr_record",
    "record_id": "EHR000001",
    "patient_id": "P000002",
    "visit_date": "2024-05-28",
    "provider_id": "DR0002",
    "diagnosis": "stable condition",
    "treatment": "monitoring",
    "medications": ["Aspirin", "Metformin"],
    "lab_results": {
        "Glucose": {"value": 85.0, "unit": "mg/dL", "normal_range": "70.0-100.0"}
    },
    "notes": "follow up recommended",
}


def test_parse_and_demux(spark, cfg):
    msgs = [json.dumps(GOOD_VITALS), json.dumps(GOOD_CLAIM), json.dumps(GOOD_EHR)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["claims"].count() == 1
    assert routed["ehr"].count() == 1
    assert routed["unknown"].count() == 0


def test_malformed_json_dropped_silently(spark, cfg):
    # parse errors are dropped by the quality filter, NOT routed to
    # unknown (healthcare_etl_pipeline.py:113-115, SURVEY.md §3.1.5)
    msgs = [json.dumps(GOOD_VITALS), '{"data_type": "patient_vitals", broken']
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["unknown"].count() == 0


def test_unknown_type_routed(spark, cfg):
    msgs = [json.dumps({"data_type": "mystery_type", "patient_id": "X"})]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["unknown"].count() == 1


def test_anomalies_filtered(spark, cfg):
    bad_hr = dict(GOOD_VITALS, heart_rate=300)  # >200 → anomaly (P2)
    bad_temp = dict(GOOD_VITALS, temperature=45.0)
    bad_amount = dict(GOOD_CLAIM, total_amount=-5.0)
    msgs = [json.dumps(m) for m in (GOOD_VITALS, bad_hr, bad_temp, GOOD_CLAIM, bad_amount)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["claims"].count() == 1


def test_missing_required_filtered(spark, cfg):
    no_pid = {k: v for k, v in GOOD_VITALS.items() if k != "patient_id"}
    no_claim_id = {k: v for k, v in GOOD_CLAIM.items() if k != "claim_id"}
    msgs = [json.dumps(m) for m in (GOOD_VITALS, no_pid, no_claim_id)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["claims"].count() == 0


def test_missing_fourth_required_field_filtered(spark, cfg):
    # the reference requires 4 fields per type
    # (healthcare_etl_pipeline.py:79/93/104): vitals also need
    # temperature, claims service_date, ehr diagnosis
    no_temp = {k: v for k, v in GOOD_VITALS.items() if k != "temperature"}
    no_svc = {k: v for k, v in GOOD_CLAIM.items() if k != "service_date"}
    no_diag = {k: v for k, v in GOOD_EHR.items() if k != "diagnosis"}
    msgs = [json.dumps(m) for m in (GOOD_VITALS, no_temp, no_svc, no_diag, GOOD_EHR)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["vitals"].count() == 1
    assert routed["claims"].count() == 0
    assert routed["ehr"].count() == 1


def test_missing_data_type_routed_unknown(spark, cfg):
    # well-formed JSON lacking data_type is NOT corrupt: the reference
    # defaults it via element.get('data_type', 'unknown')
    # (healthcare_etl_pipeline.py:58) and DataPartitioner sends it to
    # the unknown output (:222-223)
    no_dtype = {k: v for k, v in GOOD_VITALS.items() if k != "data_type"}
    msgs = [json.dumps(no_dtype), json.dumps(GOOD_VITALS)]
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    assert routed["unknown"].count() == 1
    assert routed["vitals"].count() == 1


def test_vitals_enrichment(spark, cfg):
    low = dict(GOOD_VITALS, heart_rate=50)
    high = dict(GOOD_VITALS, heart_rate=120)
    msgs = [json.dumps(m) for m in (GOOD_VITALS, low, high)]
    rows = {
        r["heart_rate"]: r.asDict()
        for r in etl.build_etl(_raw_df(spark, msgs), cfg)["vitals"].collect()
    }
    assert rows[72]["heart_rate_category"] == "normal"
    assert rows[50]["heart_rate_category"] == "low"
    assert rows[120]["heart_rate_category"] == "elevated"
    assert rows[72]["hour_of_day"] == 10
    assert rows[72]["day_of_week"] == "Saturday"  # 2024-06-01
    assert rows[72]["data_quality_score"] == pytest.approx(1.0)


def test_claims_enrichment(spark, cfg):
    row = etl.build_etl(_raw_df(spark, [json.dumps(GOOD_CLAIM)]), cfg)["claims"].first()
    assert row["processing_days"] == 5
    assert row["amount_category"] == "medium"


def test_ehr_enrichment(spark, cfg):
    row = etl.build_etl(_raw_df(spark, [json.dumps(GOOD_EHR)]), cfg)["ehr"].first()
    assert row["medication_count"] == 2
    assert row["lab_test_count"] == 1


def test_generator_mix_end_to_end(spark, cfg):
    gen = HealthcareDataGenerator(seed=7)
    msgs = gen.generate_messages(200)
    routed = etl.build_etl(_raw_df(spark, msgs), cfg)
    counts = {k: routed[k].count() for k in routed}
    assert counts["vitals"] > counts["claims"] > 0
    assert counts["ehr"] > 0
    assert counts["unknown"] > 0
    # total routed ≤ total minus malformed
    assert sum(counts.values()) <= 200


def test_equal_configs_share_one_expression_set(cfg):
    # the ETL's Column trees are built once per config, not per batch
    same = EngineConfig(as_of=cfg.as_of)
    assert same is not cfg
    assert etl.etl_exprs(same) is etl.etl_exprs(cfg)
    assert etl.route_filters() is etl.route_filters()


def test_configs_route_and_stamp_independently(spark, cfg):
    # a threshold and a frozen "now" that differ between two configs in
    # one session must not leak through the memoized expressions
    other = EngineConfig(
        thresholds=Thresholds(min_heart_rate=60),
        as_of=cfg.as_of + dt.timedelta(days=1),
    )
    assert etl.etl_exprs(other) is not etl.etl_exprs(cfg)
    msgs = [json.dumps(dict(GOOD_VITALS, heart_rate=50)), json.dumps(GOOD_VITALS)]
    raw = _raw_df(spark, msgs)
    for _ in range(2):  # interleaved, so neither build reuses the other's
        for c, heart_rates in ((cfg, [50, 72]), (other, [72])):
            rows = etl.build_etl(raw, c)["vitals"].collect()
            assert sorted(r["heart_rate"] for r in rows) == heart_rates
            assert {r["processed_at"] for r in rows} == {c.as_of}


def test_routes_from_shared_expressions_union_and_join(spark, cfg):
    # two batches built from one expression set: their routes union by
    # name and join on patient_id like independently built frames
    first = etl.build_etl(_raw_df(spark, [json.dumps(GOOD_VITALS), json.dumps(GOOD_CLAIM)]), cfg)
    second = etl.build_etl(
        _raw_df(spark, [json.dumps(dict(GOOD_VITALS, heart_rate=90)), json.dumps(GOOD_CLAIM)]), cfg
    )
    both = first["vitals"].unionByName(second["vitals"])
    assert sorted(r["heart_rate"] for r in both.collect()) == [72, 90]
    pairs = (
        first["vitals"].alias("a")
        .join(second["vitals"].alias("b"), "patient_id")
        .select("patient_id", "a.heart_rate", F.col("b.heart_rate").alias("hr_b"))
        .collect()
    )
    assert [(r["patient_id"], r["heart_rate"], r["hr_b"]) for r in pairs] == [("P000001", 72, 90)]
    claims = first["vitals"].join(second["claims"], "patient_id").collect()
    assert [r["claim_id"] for r in claims] == ["CLM000001"]
