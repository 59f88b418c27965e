"""Streaming/batch ETL: parse → validate → filter → enrich → demux.

Re-expresses the reference Beam pipeline
(dataflow/pipelines/healthcare_etl_pipeline.py:49-223) as a single
declarative transform over a DataFrame of raw JSON strings. The same
function runs on ``spark.read`` and ``spark.readStream`` inputs —
the reference's batch/streaming mode switch (T4,
healthcare_etl_pipeline.py:235,255-269) falls out for free because
every step is a stateless per-record Column expression.

Beam stage → Spark mapping (SURVEY.md §2.9):
  parse_message (S2/U1, :49-75)      → from_json PERMISSIVE + corrupt col
  required-field validation (P1)     → isNull flag expressions
  range anomalies (P2, :84-100)      → between() flags
  DataQualityFilter (P3/U2,:109-121) → one filter()
  DataEnricher (U3, :123-208)        → withColumns
  DataPartitioner (P7/U4, :210-223)  → 4 filters off one parsed DF

Scale note: the Column expressions are built once per EngineConfig
(``etl_exprs``, memoized) — building them from Python costs thousands
of py4j round trips — so a streaming micro-batch pays a fixed handful
of DataFrame operations (two selects, two withColumn calls and a drop
to parse; three withColumns and a filter to stamp, flag, filter and
enrich; one filter per route), not a rebuild of every expression. The expressions are session-independent ASTs: ``alias``
gets a fresh exprId each time a plan uses it, and ``processed_at``
stays ``current_timestamp()`` (evaluated per query) unless
``as_of`` pins it. Every expression is JVM-side and codegen-friendly,
and the parsed DF is narrow-transformed only (no shuffle anywhere in
this module), so the pipeline is embarrassingly parallel at any
partition count.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from types import MappingProxyType
from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import scalars as S
from ..schemas import envelope_schema

KNOWN_TYPES = ("patient_vitals", "insurance_claim", "ehr_record")

REQUIRED_FIELDS = {
    # healthcare_etl_pipeline.py:77-82, 91-96, 102-107
    "patient_vitals": ["patient_id", "heart_rate", "temperature", "timestamp"],
    "insurance_claim": ["claim_id", "patient_id", "total_amount", "service_date"],
    "ehr_record": ["record_id", "patient_id", "visit_date", "diagnosis"],
}

ANOMALY_FLAGS = ["heart_rate_anomaly", "temperature_anomaly", "amount_anomaly"]


@dataclass(frozen=True, eq=False)
class EtlExprs:
    """The ETL's Column expressions for one EngineConfig, in the order
    the stage functions apply them. Shared by every caller with an
    equal config, hence read-only."""

    parse: tuple[Column, ...]  # from_json(value) AS r, value AS _raw_message
    corrupt_record: Column
    data_type: Column
    stamps: Mapping[str, Column]  # processed_at, pipeline_version
    flags: Mapping[str, Column]
    keep: Column
    enrich: Mapping[str, Column]


@functools.cache
def etl_exprs(cfg: EngineConfig = DEFAULT_CONFIG) -> EtlExprs:
    """Build the parse, flag, keep and enrich Columns once per config
    (EngineConfig is frozen, so it is the cache key)."""
    return EtlExprs(
        parse=_parse_exprs(),
        corrupt_record=_corrupt_record_expr(),
        data_type=F.when(
            F.col("_corrupt_record").isNull(),
            F.coalesce(F.col("data_type"), F.lit("unknown")),
        ).otherwise(F.col("data_type")),
        stamps=MappingProxyType({
            "processed_at": S.now_col(cfg),  # healthcare_etl_pipeline.py:55
            "pipeline_version": F.lit(cfg.pipeline_version),  # :56
        }),
        flags=MappingProxyType(_flag_exprs(cfg)),
        keep=_keep_expr(),
        enrich=MappingProxyType(_enrich_exprs(cfg)),
    )


def _parse_exprs() -> tuple[Column, ...]:
    return (
        F.from_json(
            F.col("value"),
            envelope_schema(),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
        F.col("value").alias("_raw_message"),
    )


def _corrupt_record_expr() -> Column:
    # from_json yields a NULL struct (all fields null) for malformed
    # input rather than populating the corrupt column; recover the raw
    # text so error records keep the original payload. Only a TRUE
    # parse failure (every parsed field null) is corrupt — well-formed
    # JSON that merely lacks data_type routes to 'unknown', matching
    # element.get('data_type', 'unknown')
    # (healthcare_etl_pipeline.py:58, :222-223).
    all_null = F.lit(True)
    for f in envelope_schema().fields:
        if f.name != "_corrupt_record":
            all_null = all_null & F.col(f.name).isNull()
    return F.when(
        all_null & F.col("_corrupt_record").isNull(), F.col("_raw_message")
    ).otherwise(F.col("_corrupt_record"))


def _flag_exprs(cfg: EngineConfig) -> dict[str, Column]:
    t = cfg.thresholds
    missing = F.lit(False)
    for dtype, fields in REQUIRED_FIELDS.items():
        cond = F.lit(False)
        for name in fields:
            cond = cond | F.col(name).isNull()
        missing = F.when(F.col("data_type") == dtype, cond).otherwise(missing)
    return {
        "missing_required": F.coalesce(missing, F.lit(False)),
        # healthcare_etl_pipeline.py:84-89
        "heart_rate_anomaly": F.when(
            F.col("data_type") == "patient_vitals",
            S.range_anomaly(F.col("heart_rate"), t.min_heart_rate, t.max_heart_rate),
        ).otherwise(F.lit(False)),
        "temperature_anomaly": F.when(
            F.col("data_type") == "patient_vitals",
            S.range_anomaly(F.col("temperature"), t.min_temperature, t.max_temperature),
        ).otherwise(F.lit(False)),
        # healthcare_etl_pipeline.py:98-100 (amount <= 0)
        "amount_anomaly": F.when(
            (F.col("data_type") == "insurance_claim")
            & F.col("total_amount").isNotNull()
            & (F.col("total_amount") <= 0),
            F.lit(True),
        ).otherwise(F.lit(False)),
    }


def _keep_expr() -> Column:
    cond = F.col("_corrupt_record").isNull() & ~F.col("missing_required")
    for flag in ANOMALY_FLAGS:
        cond = cond & ~F.col(flag)
    return cond


def _enrich_exprs(cfg: EngineConfig) -> dict[str, Column]:
    t = cfg.thresholds
    missing_count = (
        (F.col("patient_id").isNull() | (F.col("patient_id") == "")).cast("int")
        + (F.col("timestamp").isNull() | (F.col("timestamp") == "")).cast("int")
    )
    anomaly_count = sum(F.col(f).cast("int") for f in ANOMALY_FLAGS)
    ts = F.to_timestamp(F.col("timestamp"))
    service_d = F.to_date(F.col("service_date"))
    submission_d = F.to_date(F.col("submission_date"))
    return {
        "data_quality_score": S.quality_score(missing_count, anomaly_count),
        # vitals enrichment (:164-175)
        "heart_rate_category": F.when(
            F.col("data_type") == "patient_vitals",
            S.heart_rate_category(F.col("heart_rate"), t),
        ),
        "hour_of_day": F.when(F.col("data_type") == "patient_vitals", S.hour_of_day(ts)),
        "day_of_week": F.when(F.col("data_type") == "patient_vitals", S.day_of_week(ts)),
        # claims enrichment (:182-194)
        "processing_days": F.when(
            F.col("data_type") == "insurance_claim",
            F.datediff(submission_d, service_d),
        ),
        "amount_category": F.when(
            F.col("data_type") == "insurance_claim",
            S.amount_category(F.col("total_amount")),
        ),
        # ehr enrichment (:201-206)
        "medication_count": F.when(
            F.col("data_type") == "ehr_record", F.size(F.col("medications"))
        ),
        "lab_test_count": F.when(
            F.col("data_type") == "ehr_record", F.size(F.map_keys(F.col("lab_results")))
        ),
    }


def parse_envelope(raw: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """S2: JSON bytes → typed columns + processing metadata.

    ``raw`` must have a string column ``value`` (one JSON message per
    row — the shape of kafka/file-stream sources). Malformed JSON
    lands in ``_corrupt_record`` (PERMISSIVE), mirroring the error
    record of healthcare_etl_pipeline.py:70-75; we keep the raw
    message for the error sink instead of a dict with an 'error' key.
    """
    x = etl_exprs(cfg)
    return (
        raw.select(*x.parse)
        .select("r.*", "_raw_message")
        .withColumn("_corrupt_record", x.corrupt_record)
        .withColumn("data_type", x.data_type)
        .drop("_raw_message")
        .withColumns(dict(x.stamps))
    )


def with_validation_flags(parsed: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """P1 + P2: required-field and range-anomaly flags as columns.

    The reference raises per-row and converts to error records
    (healthcare_etl_pipeline.py:58-69); declaratively that is one
    boolean per condition.
    """
    return parsed.withColumns(dict(etl_exprs(cfg).flags))


def quality_filter(flagged: DataFrame) -> DataFrame:
    """P3: drop error records and any row with a truthy anomaly flag.

    Mirrors DataQualityFilter.process
    (healthcare_etl_pipeline.py:109-121) including its quirk: parse
    errors are silently dropped here, NOT routed to the error sink
    (SURVEY.md §3.1 step 5). The predicate depends on no config.
    """
    return flagged.filter(etl_exprs(DEFAULT_CONFIG).keep)


def enrich(clean: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """U3: data_quality_score + per-type derived columns
    (healthcare_etl_pipeline.py:123-208).

    Scoring (_calculate_quality_score, :143-159): start at 1.0,
    -0.2 per falsy field in ['patient_id', 'timestamp'], -0.3 per
    truthy *_anomaly flag, floored at 0. Anomalies are zero here by
    construction (the filter ran first), but the expression keeps the
    general form so the function is also correct pre-filter.
    """
    return clean.withColumns(dict(etl_exprs(cfg).enrich))


@functools.cache
def route_filters() -> Mapping[str, Column]:
    """The data_type predicate of each route (DataPartitioner,
    healthcare_etl_pipeline.py:210-223), built once."""
    data_type = F.col("data_type")
    return MappingProxyType({
        "vitals": data_type == "patient_vitals",
        "claims": data_type == "insurance_claim",
        "ehr": data_type == "ehr_record",
        # well-formed rows with unrecognized data_type (:222-223)
        "unknown": F.col("_corrupt_record").isNull() & ~data_type.isin(*KNOWN_TYPES),
    })


def demux(enriched: DataFrame) -> dict[str, DataFrame]:
    """P7: route by data_type (DataPartitioner,
    healthcare_etl_pipeline.py:210-223).

    Four filters over one lineage; a caller that consumes several
    routes should use build_etl_cached so the scan+parse isn't
    re-executed per branch.
    """
    vitals_cols = [
        "patient_id", "timestamp", "heart_rate", "blood_pressure_systolic",
        "blood_pressure_diastolic", "temperature", "oxygen_saturation",
        "respiratory_rate", "device_id", "location", "processed_at",
        "pipeline_version", "data_quality_score", "heart_rate_category",
        "hour_of_day", "day_of_week",
    ]
    claims_cols = [
        "claim_id", "patient_id", "provider_id", "service_date",
        "diagnosis_codes", "procedure_codes", "total_amount", "insurance_type",
        "claim_status", "submission_date", "processed_at", "pipeline_version",
        "data_quality_score", "processing_days", "amount_category",
    ]
    ehr_cols = [
        "record_id", "patient_id", "visit_date", "provider_id", "diagnosis",
        "treatment", "medications", "lab_results", "notes", "processed_at",
        "pipeline_version", "data_quality_score", "medication_count",
        "lab_test_count",
    ]
    routes = route_filters()
    return {
        "vitals": enriched.filter(routes["vitals"]).select(vitals_cols),
        "claims": enriched.filter(routes["claims"]).select(claims_cols),
        "ehr": enriched.filter(routes["ehr"]).select(ehr_cols),
        "unknown": enriched.filter(routes["unknown"]),
    }


def _enriched(raw: DataFrame, cfg: EngineConfig) -> DataFrame:
    parsed = parse_envelope(raw, cfg)
    flagged = with_validation_flags(parsed, cfg)
    clean = quality_filter(flagged)
    # Unknown-type rows pass the quality filter unchanged (no required
    # fields defined for them, no anomaly flags), matching the
    # reference flow where DataPartitioner runs post-filter
    # (healthcare_etl_pipeline.py:277-293).
    return enrich(clean, cfg)


def build_etl(raw: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> dict[str, DataFrame]:
    """Full pipeline: parse → flags → filter → enrich → demux.

    Works identically on batch and streaming inputs (T4).
    """
    return demux(_enriched(raw, cfg))


def build_etl_cached(
    raw: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> tuple[dict[str, DataFrame], DataFrame]:
    """build_etl over a PERSISTED enriched frame, so a writer that
    consumes all four routes shares one parse/enrich pass instead of
    recomputing the lineage per branch. Returns (routes, enriched);
    the caller unpersists ``enriched`` once its routes are written, so
    a long-lived session does not accumulate cached blocks."""
    enriched = _enriched(raw, cfg).persist()
    return demux(enriched), enriched
