"""Output checks: an independent reference for the ETL's routing, an
order-insensitive digest of a DataFrame, and row normalisation for
comparing Spark results with DuckDB oracle results."""

from __future__ import annotations

import datetime as dt
import json
import math
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROUTES = {"patient_vitals": "vitals", "insurance_claim": "claims", "ehr_record": "ehr"}
REQUIRED = {
    "patient_vitals": ("patient_id", "heart_rate", "temperature", "timestamp"),
    "insurance_claim": ("claim_id", "patient_id", "total_amount", "service_date"),
    "ehr_record": ("record_id", "patient_id", "visit_date", "diagnosis"),
}


def expected_routes(messages: list[str], thresholds) -> dict[str, int]:
    """Route counts of the batch ETL, computed in plain Python.

    Malformed JSON and rows that miss a required field or carry an
    out-of-range value are dropped; well-formed rows of an unknown type
    go to ``unknown``. ``dropped`` makes the counts add up to the
    number of messages."""
    t = thresholds
    out = {"vitals": 0, "claims": 0, "ehr": 0, "unknown": 0, "dropped": 0}
    for msg in messages:
        try:
            rec = json.loads(msg)
        except json.JSONDecodeError:
            out["dropped"] += 1
            continue
        dtype = rec.get("data_type") or "unknown"
        if dtype not in ROUTES:
            out["unknown"] += 1
            continue
        ok = all(rec.get(k) is not None for k in REQUIRED[dtype])
        if dtype == "patient_vitals":
            ok = ok and t.min_heart_rate <= rec["heart_rate"] <= t.max_heart_rate
            ok = ok and t.min_temperature <= rec["temperature"] <= t.max_temperature
        elif dtype == "insurance_claim":
            ok = ok and rec["total_amount"] > 0
        out[ROUTES[dtype] if ok else "dropped"] += 1
    return out


def digest_columns(df: DataFrame) -> list:
    """Aggregates giving the row count and an order-insensitive hash of
    ``df``: the sum of each row's xxhash64. Floating columns are rounded
    to 6 decimals first, so that summation order inside Spark cannot
    flip the digest. Every output column feeds the hash, so the optimiser
    cannot prune any output expression away."""

    def norm(f: T.StructField):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            return F.round(c, 6)
        if isinstance(f.dataType, T.MapType):
            return F.to_json(c)
        return c

    row_hash = F.xxhash64(*[norm(f) for f in df.schema.fields])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash.cast("decimal(38,0)")), F.lit(0)).alias("digest"),
    ]


def frame_digest(df: DataFrame) -> tuple[int, str]:
    row = df.agg(*digest_columns(df)).first()
    return int(row["rows"]), str(row["digest"])


def _norm_cell(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _key(v):
    if v is None:
        return (2, "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (0, "", float(v))
    return (1, str(v))


def normalized_rows(rows, columns: list[str]) -> list[tuple]:
    """Rows with columns in name order and cells normalised, sorted on
    their non-float cells first, so that rows line up even when two
    engines computed a float slightly differently."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: (
        [_key(x) for x in t if not isinstance(x, float)],
        [_key(x) for x in t if isinstance(x, float)],
    ))
    return out


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Equal normalised rows, floats within 1e-6 relative or 1e-3
    absolute. Engines sum doubles in different orders, so a value a
    query rounds can land one unit of its last decimal apart."""

    def close(x, y):
        if isinstance(x, float) and isinstance(y, float):
            return math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-3)
        return x == y

    return len(a) == len(b) and all(
        len(r) == len(s) and all(close(x, y) for x, y in zip(r, s)) for r, s in zip(a, b)
    )
