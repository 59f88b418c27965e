"""End-to-end lakehouse orchestration — the engine's top-level API.

Replaces the reference's deployment surface (setup script + Airflow
DAG + Dataflow jobs + dbt invocations — setup_healthcare_lakehouse.py,
airflow/dags/healthcare_data_pipeline_dag.py:139-149) with one
class over a warehouse root:

    raw/        landed JSON messages (S1 input shape)
    processed/  ETL output per entity, partitioned by event date (S3)
    errors/     unknown-type records as JSON (S4)
    curated/    fact table (S7); staging registered as views (S6)

Zone semantics follow the reference's 3-bucket / 3-dataset split
(terraform/main.tf:118-245). Writes partition by event date — the
partitioning the reference *documents* but never implemented
(docs/architecture/technical_architecture.md:162-164, SURVEY.md §4)
— so every lookback scan (S5) partition-prunes instead of reading
the full history: at 100 TB that is the difference between scanning
30 partitions and 2555 days of them.

One writer lands a routed ETL batch in ``processed/`` and
``errors/``: ``write_etl_batch``. The Beam pipeline runs one
transform graph bounded or unbounded (SURVEY.md §2.8 T4/T5); here
the batch ETL (``HealthcareLakehouse.run_etl``) and the streaming
foreachBatch sink (``streaming.pipeline.make_etl_sink``) both call
it, so zone layout, the zone-mode guard, file packing and the
per-route counts cannot drift between the two modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, EngineConfig
from .operators.etl import build_etl_cached, route_filters
from .plans import reports
from .plans.models import ModelRunner, healthcare_models
from .sources.readers import read_json_batch

# event-date source column per entity route
ENTITY_DATE_COL = {
    "vitals": "timestamp",
    "claims": "service_date",
    "ehr": "visit_date",
}

# natural key per entity route, for the upsert zone mode
UPSERT_KEYS = {
    "vitals": ["patient_id", "timestamp"],
    "claims": ["claim_id"],
    "ehr": ["record_id"],
}

ZONE_MODES = ("snapshot", "append", "upsert")


def _reject_zone_mode_mix(zone: str, snapshot: bool) -> None:
    """Refuse to write a zone in the OTHER mode than it already holds
    data in (ADVICE r8). A snapshot commit next to plain appended
    parquet shadows those rows (manifest reads don't list them); a
    plain append or upsert into a snapshot zone writes files no
    manifest references. Both silently drop committed rows from
    reads — fail loudly instead and point at the migration.

    Detection is O(top-level entries), no tree walk: a plain
    date-partitioned zone has event_date=*/part files at the top
    level; a snapshot zone has only _snapshots/ + data/."""
    if not os.path.isdir(zone):
        return
    entries = set(os.listdir(zone))
    has_manifest = "_snapshots" in entries
    has_plain = any(
        e.startswith("event_date=") or e.endswith(".parquet")
        for e in entries
    )
    if snapshot and has_plain:
        raise ValueError(
            f"zone {zone} already holds PLAIN appended parquet; a "
            "snapshot commit would shadow those rows. Migrate first: "
            "read the zone, commit_append it as the snapshot's "
            "initial version, then remove the plain files."
        )
    if not snapshot and has_manifest:
        raise ValueError(
            f"zone {zone} is snapshot-managed (_snapshots/ present); "
            "a plain append would write files no manifest references. "
            "Keep writing it in snapshot mode."
        )


def write_etl_batch(
    raw: DataFrame,
    warehouse: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    mode: str = "append",
    txn_ids: dict[str, str] | None = None,
) -> dict[str, int]:
    """Run the ETL over one bounded batch of raw messages and land
    each route in its zone — the Beam multi-sink fan-out
    (healthcare_etl_pipeline.py:290-348) for batch and stream alike.

    Entity routes go to ``processed/<entity>`` with an ``event_date``
    column, in one of three zone modes:

    - ``"snapshot"``: SnapshotTable.commit_append, idempotent under
      ``txn_ids[entity]`` (a replayed token no-ops; the other modes
      ignore ``txn_ids``);
    - ``"append"``: plain date-partitioned parquet append, the
      reference's WRITE_APPEND — a replay duplicates rows;
    - ``"upsert"``: sources/upsert.merge_upsert on the entity's
      natural key (latest processed_at wins); only the batch's date
      partitions are rewritten.

    When the persisted enriched frame has more than one partition,
    snapshot and append writes rebalance by ``event_date`` first, so
    a batch writes whole files per date instead of one sliver per
    upstream task (AQE still splits a hot date across writers). A
    one-partition frame (a small file, a one-file micro-batch) already
    lands each route as one file, so it is written without the
    rebalance's shuffle. A zone already holding data in the other
    layout (snapshot vs plain) is refused before any zone is written.
    Unknown-type rows append to ``errors/`` as JSON in every mode
    (at-least-once: a diagnostic stream); a batch without any writes
    nothing there.

    Returns this batch's rows per route — the reference's
    Count.Globally metric (:351-355) — from ONE aggregate over the
    persisted enriched frame, run between the entity writes and the
    ``errors/`` write, so the count is the same on a txn replay, where
    no entity write runs. (A row-count ``Observation`` per write was
    tried: it initializes the session's ObservationManager, which is
    not serializable, and every later Spark ML fit whose closure
    captures the session then fails with "Task not serializable".)
    """
    from .sources.snapshots import SnapshotTable
    from .sources.upsert import merge_upsert

    if mode not in ZONE_MODES:
        raise ValueError(f"unknown zone mode {mode!r}")
    zones = {name: os.path.join(warehouse, "processed", name) for name in ENTITY_DATE_COL}
    for zone in zones.values():
        _reject_zone_mode_mix(zone, snapshot=mode == "snapshot")
    spark = raw.sparkSession
    routed, enriched = build_etl_cached(raw, cfg)
    try:
        # getNumPartitions runs no job; one partition has nothing to pack
        pack = enriched.rdd.getNumPartitions() > 1
        for name, date_col in ENTITY_DATE_COL.items():
            zone = zones[name]
            df = routed[name].withColumn(
                "event_date", F.to_date(F.col(date_col))
            )
            if pack and mode != "upsert":
                # the caller rebalances: SnapshotTable._write_data never
                # reshuffles, because it also serves the layout commits
                df = df.hint("rebalance", "event_date")
            if mode == "snapshot":
                SnapshotTable(spark, zone).commit_append(
                    df, txn_id=(txn_ids or {}).get(name)
                )
            elif mode == "append":
                df.write.mode("append").partitionBy("event_date").parquet(zone)
            else:
                merge_upsert(
                    spark, df, zone, UPSERT_KEYS[name],
                    version_col="processed_at", partition_col="event_date",
                )
        # counted after the entity writes, which fill the cache inside
        # their own jobs; counted first, AQE fills it in a job of its own
        counts = enriched.agg(
            *[F.count_if(cond).alias(name) for name, cond in route_filters().items()]
        ).first().asDict()
        if counts["unknown"] > 0:
            routed["unknown"].drop("_corrupt_record").write.mode("append").json(
                os.path.join(warehouse, "errors")
            )
        return counts
    finally:
        enriched.unpersist()


class HealthcareLakehouse:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        cfg: EngineConfig = DEFAULT_CONFIG,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.cfg = cfg

    # --- zone paths --------------------------------------------------

    def zone_path(self, zone: str, table: str = "") -> str:
        return os.path.join(self.warehouse, zone, table)

    def read_processed(
        self, entity: str, prune: tuple[str, str, object] | None = None
    ) -> DataFrame:
        """Resolve a processed-zone entity table. Zones written in
        snapshot mode (run_etl(txn_id=...) or the streaming snapshot
        sink) resolve through their manifest — explicit file list, so
        torn/orphan commits are invisible — and accept a
        ``prune=(col, op, value)`` manifest-level file-skipping
        predicate (SnapshotTable.prune_files): a lookback scan opens
        only the files whose footer range can match. Plain zones read
        the directory as before (hive partition pruning applies
        there); ``prune`` is ignored for them."""
        path = self.zone_path("processed", entity)
        if os.path.isdir(os.path.join(path, "_snapshots")):
            from .sources.snapshots import SnapshotTable

            return SnapshotTable(self.spark, path).read(prune=prune)
        return self.spark.read.parquet(path)

    # --- ingestion → processed (the Beam pipeline, batch mode) -------

    def run_etl(
        self,
        raw_path: str | None = None,
        raw_df: DataFrame | None = None,
        txn_id: str | None = None,
        snapshot: bool | None = None,
    ) -> dict:
        """Parse/validate/filter/enrich/demux raw JSON messages and
        write each route through ``write_etl_batch``.

        Counterpart of `python healthcare_etl_pipeline.py` in batch
        mode (healthcare_etl_pipeline.py:248-249). Returns per-route
        row counts of THIS run (the Count.Globally metric, :351-355).

        ``snapshot=True`` commits the entity zones through
        SnapshotTable manifests (atomic, time travel, torn writes
        invisible); False writes the reference-parity plain
        date-partitioned append. Default None means snapshot iff
        ``txn_id`` was given. The CLI defaults to snapshot mode (opt
        out with --plain-append).

        ``txn_id`` makes a re-run of the same batch (orchestrator
        retry, backfill replay) converge instead of duplicating rows:
        each entity commits under the token ``{txn_id}-{entity}``. It
        needs snapshot mode. Writing a zone in the other mode than it
        already holds is refused (see ``write_etl_batch``).
        """
        snap = (txn_id is not None) if snapshot is None else bool(snapshot)
        if txn_id is not None and not snap:
            raise ValueError(
                "txn_id requires the snapshot sink: idempotence tokens "
                "live in the manifest (pass snapshot=True or drop txn_id)"
            )
        if raw_df is None:
            raw_df = read_json_batch(self.spark, raw_path)
        return write_etl_batch(
            raw_df,
            self.warehouse,
            self.cfg,
            mode="snapshot" if snap else "append",
            txn_ids=(
                {name: f"{txn_id}-{name}" for name in ENTITY_DATE_COL}
                if txn_id is not None
                else None
            ),
        )

    # --- bucketed curated tables (shuffle-free repeated joins) -------

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_col: str = "patient_id",
        num_buckets: int = 32,
    ) -> DataFrame:
        """Bucketed saveAsTable into the curated zone.

        bucketBy(patient_id) hash-clusters the rows on the fact join
        key at WRITE time, so every later join between two tables
        bucketed alike plans with NO Exchange on either side (the
        bucketed scan's output partitioning already satisfies the
        join's required distribution — and, being a prefix of it, the
        fact windows' (patient_id, ts) clustering too). sortBy keeps
        buckets sorted on the key, letting sort-merge joins skip the
        per-partition sort. At 100 TB this turns every curated
        rebuild/backfill join from a full re-shuffle into a local
        merge. Requires a catalog-backed table (saveAsTable): plain
        .parquet(path) writes cannot record bucketing metadata.
        """
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", self.zone_path("curated", table))
            .saveAsTable(table)
        )
        return self.spark.table(table)

    def materialize_bucketed_staging(
        self, frames: dict[str, DataFrame], num_buckets: int = 32
    ) -> dict[str, DataFrame]:
        """ROADMAP 5: write the fact inputs as patient_id-bucketed
        curated tables; returns the catalog-backed frames to build the
        fact from (joins between them are exchange-free)."""
        return {
            name: self.write_bucketed(df, f"curated_{name}", num_buckets=num_buckets)
            for name, df in frames.items()
        }

    # --- processed → staging views → curated fact (the dbt layer) ----

    def run_models(self) -> dict[str, DataFrame]:
        """Execute the model DAG (staging views + fact table), like
        `dbt run` (healthcare_data_pipeline_dag.py:107-115)."""
        runner = ModelRunner(self.spark, warehouse=self.warehouse, cfg=self.cfg)
        runner.add_source("patient_vitals", self.read_processed("vitals"))
        runner.add_source("insurance_claims", self.read_processed("claims"))
        runner.add_source("ehr_records", self.read_processed("ehr"))
        for m in healthcare_models():
            runner.add(m)
        return runner.run()

    # --- reports (the Airflow-embedded analytics) --------------------

    def run_reports(self) -> dict[str, object]:
        """The six DAG queries + their threshold checks
        (healthcare_data_pipeline_dag.py:152-328)."""
        vitals = self.read_processed("vitals")
        fact = self.spark.read.parquet(self.zone_path("curated", "fact_patient_encounters"))
        out: dict[str, object] = {}
        statuses: dict[str, str] = {}
        for key, fn in (
            ("freshness", lambda: reports.check_freshness(vitals, self.cfg)),
            ("quality", lambda: reports.check_quality(vitals, self.cfg)),
            ("monitoring", lambda: reports.patient_monitoring_report(fact, self.cfg).collect()),
            ("claims", lambda: reports.claims_processing_report(fact, self.cfg).collect()),
            ("health", lambda: reports.check_pipeline_health(fact, self.cfg)),
            ("staleness", lambda: reports.check_staleness(fact, self.cfg)),
        ):
            # gate failures are report results, not crashes (the DAG
            # logs-and-raises per task; we surface them per report).
            # Severity follows the dbt gate semantics
            # (dbt_project.yml:89-94 → config.GatePolicy): a warn_if
            # breach reports status 'warn' and keeps going; only
            # error_if breaches (and the DAG's hard health failures)
            # surface as 'error'.
            try:
                res = fn()
                out[key] = res
                statuses[key] = (
                    res.get("gate_status", "pass") if isinstance(res, dict) else "pass"
                )
            except reports.PipelineHealthError as e:
                out[key] = {"gate_failed": str(e), "gate_status": "error"}
                statuses[key] = "error"
        out["gate_statuses"] = statuses
        return out

    # --- one-shot pipeline (the full DAG run) ------------------------

    def run_all(
        self,
        raw_path: str,
        txn_id: str | None = None,
        snapshot: bool | None = None,
    ) -> dict[str, object]:
        etl_counts = self.run_etl(raw_path, txn_id=txn_id, snapshot=snapshot)
        self.run_models()
        out = self.run_reports()
        out["etl_counts"] = etl_counts
        return out
