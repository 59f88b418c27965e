"""The benchmark's workloads and the metrics they report.

``pipeline`` is the paper's path: a batch DAG run (ETL with snapshot
commits, the dbt-style models, the six DAG reports) on a fresh
warehouse, then a Structured Streaming drain of small JSON files through
the same ETL as a snapshot sink. ``corpus_ops`` runs ten operator-heavy
corpus queries over seeded TPC-H-like tables into a ``noop`` sink.

Each workload makes its inputs from the seed, runs one warm-up pass
whose outputs become the expected values of later passes, then runs
measured passes. Every call into a layer goes through ``Recorder.call``,
which times it, gives it a Spark job group and counts it as one
operation; a micro-batch also counts as one operation.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from .checks import digest_columns, expected_routes, frame_digest, normalized_rows, same_rows
from .resources import Record, ResourceReader
from .tracing import Tracer

CORPUS_QUERIES = (
    "a2_wide_agg", "j1_band_join", "j1_band_join_bucketed", "j3_asof_min_by",
    "tfidf_terms", "text_bm25_topk", "dedup_spans", "dedup_minhash_lsh",
    "hierarchy_roots", "text_heavy_hitters",
)

# (name, unit, better) of every metric; BENCHMARK.json lists the same.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("run_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("microbatch_p50_ms", "ms", "lower"),
)
PER_LAYER = (
    ("etl.wall_s", "s", "lower"),
    ("etl.cpu_s", "s", "lower"),
    ("etl.jobs", "count", "lower"),
    ("etl.tasks", "count", "lower"),
    ("etl.shuffle_write_mb", "MB", "lower"),
    ("snapshots.files_written", "count", "lower"),
    ("snapshots.bytes_written", "bytes", "lower"),
    ("snapshots.bytes_per_input_byte", "ratio", "lower"),
    ("snapshots.versions", "count", "lower"),
    ("models.wall_s", "s", "lower"),
    ("models.cpu_s", "s", "lower"),
    ("models.jobs", "count", "lower"),
    ("models.shuffle_read_mb", "MB", "lower"),
    ("models.spill_mb", "MB", "lower"),
    ("reports.wall_s", "s", "lower"),
    ("reports.cpu_s", "s", "lower"),
    ("reports.jobs", "count", "lower"),
    ("stream.add_batch_ms_p50", "ms", "lower"),
    ("stream.engine_ms_p50", "ms", "lower"),
    ("stream.jobs_per_batch", "count", "lower"),
    ("stream.cpu_s", "s", "lower"),
    *(
        (f"corpus.{q}.{m}", unit, "lower")
        for q in CORPUS_QUERIES
        for m, unit in (("wall_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"), ("jobs", "count"))
    ),
    ("cache.persisted_rdds_left", "count", "lower"),
    ("cache.cached_relations_left", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
)
# Counts fixed by the seed and guarded by the output checks. They are
# printed with the report but are not metrics: more or fewer would be a
# defect, not a gain.
INVARIANTS = (
    ("etl.rows_routed", "rows"),
    ("etl.routed_ratio", "ratio"),
    ("models.fact_rows", "rows"),
    ("stream.input_rows", "rows"),
    ("stream.batches", "count"),
)
# kept as the largest value seen, so that one leaking call shows
MAX_OVER_PASSES = {"cache.persisted_rdds_left", "cache.cached_relations_left"}


@dataclass
class Context:
    spark: object
    reader: ResourceReader
    tracer: Tracer


@dataclass
class Recorder:
    """One pass: the timed layer calls and what they produced."""

    ctx: Context
    traced: bool = False
    run_s: float = 0.0
    cpu_s: float = 0.0
    groups: list[str] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def call(self, layer: str, fn, check=None):
        """Time ``fn()`` in its own job group and span, then run
        ``check(result)``, which returns an error message or None.
        Returns (result, wall seconds, resource record); the result is
        None when the call raised."""
        ctx = self.ctx
        with ctx.reader.group(layer) as gid, ctx.tracer.span(layer):
            t0 = time.perf_counter()
            try:
                result, extra_groups, error = fn(), (), None
                if isinstance(result, Streamed):
                    extra_groups = (result.run_id,)
            except Exception as e:  # noqa: BLE001 - a failed call is a counted failure
                result, extra_groups, error = None, (), f"{layer} raised {type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
        with self._lock:
            self.run_s += wall
            self.groups += [gid, *extra_groups]
        self._count_cache()
        if error is None and check is not None:
            try:
                error = check(result)
            except Exception as e:  # noqa: BLE001 - a check that cannot run is a failure
                error = f"{layer} check raised {type(e).__name__}: {e}"
        self.op(None, error)
        return result, wall, ctx.reader.read(gid, *extra_groups)

    def op(self, ms: float | None, error: str | None) -> None:
        """Count one operation, with its latency sample if it has one."""
        with self._lock:
            self.attempted += 1
            if ms is not None:
                self.op_ms.append(ms)
            if error:
                self.failures.append(error)

    def _count_cache(self) -> None:
        persisted, cached = self.ctx.reader.cache_counts(self.ctx.spark)
        with self._lock:
            for key, n in (("cache.persisted_rdds_left", persisted),
                           ("cache.cached_relations_left", cached)):
                self.layers[key] = max(self.layers.get(key, 0), n)

    def record_layer(self, prefix: str, wall: float, rec: Record) -> None:
        self.layers.update({
            f"{prefix}.wall_s": wall, f"{prefix}.cpu_s": rec.cpu_s,
            f"{prefix}.jobs": rec.jobs, f"{prefix}.tasks": rec.tasks,
            f"{prefix}.shuffle_read_mb": rec.shuffle_read_mb,
            f"{prefix}.shuffle_write_mb": rec.shuffle_write_mb,
            f"{prefix}.spill_mb": rec.spill_mb,
        })


@dataclass
class Streamed:
    """What a streaming drain hands back to its checks."""

    run_id: str
    progress: list


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Pipeline:
    """Batch DAG run plus a streaming ETL drain, each on a fresh warehouse."""

    BATCH_MESSAGES = 5_000
    STREAM_FILES = 5
    FILE_MESSAGES = 300
    WARM_FILES = 1
    AS_OF = dt.datetime(2024, 6, 1, 12, 0, 0)

    def __init__(self, seed: int, work: str):
        from healthcare_data_lakehouse_using_gcp_spark.config import EngineConfig

        self.seed = seed
        self.work = work
        self.cfg = EngineConfig(as_of=self.AS_OF)
        self.expected: dict[str, object] = {}
        self.passes = 0

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        from healthcare_data_lakehouse_using_gcp_spark.sources.generator import (
            HealthcareDataGenerator,
        )

        gen = HealthcareDataGenerator(seed=self.seed, now=self.AS_OF)
        batch = gen.generate_messages(self.BATCH_MESSAGES)
        files = [gen.generate_messages(self.FILE_MESSAGES) for _ in range(self.STREAM_FILES)]
        for d in ("raw", "stream_in", "warm_in"):
            shutil.rmtree(self._dir(d), ignore_errors=True)
            os.makedirs(self._dir(d))
        with open(self._dir("raw", "messages.json"), "w") as f:
            f.write("\n".join(batch))
        for i, msgs in enumerate(files):
            for d in ["stream_in"] + ["warm_in"] * (i < self.WARM_FILES):
                path = self._dir(d, f"messages_{i:03d}.json")
                with open(path, "w") as f:
                    f.write("\n".join(msgs))
                # the file source orders by modification time: make it the file order
                os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        t = self.cfg.thresholds
        self.batch_routes = expected_routes(batch, t)
        self.stream_routes = expected_routes([m for ms in files for m in ms], t)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(root, n))
            for d in ("raw", "stream_in")
            for root, _, names in os.walk(self._dir(d))
            for n in names
        )

    def warm_up(self, rec: Recorder) -> None:
        """One DAG run and a one-file drain. They run concurrently to
        shorten set-up; the drain still warms the streaming code."""
        self.passes += 1
        with ThreadPoolExecutor(1) as pool:
            stream = pool.submit(self._stream, rec, "warm_in", self.WARM_FILES)
            self._dag(rec)
            stream.result()
        self._cleanup()

    def run_pass(self, rec: Recorder) -> None:
        self.passes += 1
        self._dag(rec)
        self._stream(rec, "stream_in", self.STREAM_FILES)
        self._snapshot_layers(rec)
        self._cleanup()

    def _wh(self, kind: str) -> str:
        return self._dir(f"{kind}{self.passes}")

    def _cleanup(self) -> None:
        for kind in ("wh", "swh"):
            shutil.rmtree(self._wh(kind), ignore_errors=True)

    # --- the two halves of a pass -------------------------------------------

    def _dag(self, rec: Recorder) -> None:
        from healthcare_data_lakehouse_using_gcp_spark.lakehouse import HealthcareLakehouse

        self.ctx = rec.ctx
        lh = HealthcareLakehouse(rec.ctx.spark, self._wh("wh"), self.cfg)
        counts, wall, r = rec.call(
            "etl", lambda: lh.run_etl(self._dir("raw"), snapshot=True), self._check_routes
        )
        rec.record_layer("etl", wall, r)
        routed = sum((counts or {}).values())
        rec.layers["etl.rows_routed"] = routed
        rec.layers["etl.routed_ratio"] = routed / self.BATCH_MESSAGES

        self._fact_rows = 0
        _, wall, r = rec.call("models", lh.run_models, self._check_models)
        rec.record_layer("models", wall, r)
        rec.layers["models.fact_rows"] = self._fact_rows
        _, wall, r = rec.call("reports", lh.run_reports, self._check_reports)
        rec.record_layer("reports", wall, r)

    def _stream(self, rec: Recorder, src: str, n_files: int) -> None:
        swh = self._wh("swh")
        streamed, _, r = rec.call(
            "stream",
            lambda: self._drain(rec, src, swh),
            lambda s: self._check_stream(rec, s, swh, n_files),
        )
        self._stream_layers(rec, streamed, r)

    def _drain(self, rec: Recorder, src: str, swh: str) -> Streamed:
        from healthcare_data_lakehouse_using_gcp_spark.sources.readers import read_json_stream
        from healthcare_data_lakehouse_using_gcp_spark.streaming.pipeline import make_etl_sink

        spark = rec.ctx.spark
        q = (
            read_json_stream(spark, self._dir(src), max_files_per_trigger=1)
            .writeStream.foreachBatch(make_etl_sink(swh, self.cfg, mode="snapshot"))
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(swh, "_checkpoint"))
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        for p in progress:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            rec.ctx.tracer.add(
                "micro_batch", start, start + p.durationMs["triggerExecution"] / 1e3,
                batch_id=p.batchId, rows=p.numInputRows,
                add_batch_ms=p.durationMs.get("addBatch", 0),
            )
        return Streamed(str(q.runId), progress)

    # --- checks ----------------------------------------------------------

    def _check_routes(self, counts: dict) -> str | None:
        want = {k: v for k, v in self.batch_routes.items() if k != "dropped"}
        if counts != want:
            return f"etl routes {counts} != expected {want}"
        if sum(counts.values()) + self.batch_routes["dropped"] != self.BATCH_MESSAGES:
            return "etl routes do not add up to the input messages"
        return None

    def _check_models(self, out: dict) -> str | None:
        with self.ctx.reader.group("check"):
            got = {
                name: frame_digest(out[name])
                for name in ("fact_patient_encounters", "dim_patients", "dim_providers")
            }
        self._fact_rows = got["fact_patient_encounters"][0]
        if self._fact_rows == 0:
            return "models: empty fact table"
        # deterministic under the frozen as-of time: the warm-up pass
        # sets the expected digests, later passes must reproduce them
        want = self.expected.setdefault("models", got)
        return None if got == want else "models: output differs from the warm-up pass"

    def _check_reports(self, out: dict) -> str | None:
        statuses = out["gate_statuses"]
        if len(statuses) != 6 or set(statuses.values()) != {"pass"}:
            return f"reports: gate statuses {statuses}"
        rows = {
            key: normalized_rows([tuple(r) for r in out[key]], list(out[key][0].__fields__))
            for key in ("monitoring", "claims")
            if out[key]
        }
        want = self.expected.setdefault("reports", rows)
        same = want.keys() == rows.keys() and all(same_rows(rows[k], want[k]) for k in rows)
        return None if same else "reports: output differs from the warm-up pass"

    def _check_stream(self, rec: Recorder, s: Streamed, swh: str, n_files: int) -> str | None:
        from healthcare_data_lakehouse_using_gcp_spark.sources.snapshots import SnapshotTable

        for p in s.progress:
            rec.op(p.durationMs["triggerExecution"], None if p.numInputRows == self.FILE_MESSAGES
                   else f"micro-batch {p.batchId}: {p.numInputRows} rows, "
                        f"expected {self.FILE_MESSAGES}")
        if len(s.progress) != n_files:
            return f"stream: {len(s.progress)} micro-batches for {n_files} files"
        if n_files != self.STREAM_FILES:
            return None
        spark = rec.ctx.spark
        with rec.ctx.reader.group("check"):
            got = {
                name: SnapshotTable(spark, os.path.join(swh, "processed", name)).read().count()
                for name in ("vitals", "claims", "ehr")
            }
            got["unknown"] = spark.read.json(os.path.join(swh, "errors")).count()
        want = {k: v for k, v in self.stream_routes.items() if k != "dropped"}
        return None if got == want else f"stream zones {got} != expected {want}"

    # --- per-layer records -------------------------------------------------

    def _stream_layers(self, rec: Recorder, s: Streamed | None, r: Record) -> None:
        progress = s.progress if s else []
        trig = [p.durationMs["triggerExecution"] for p in progress]
        add = [p.durationMs.get("addBatch", 0) for p in progress]
        rec.layers.update({
            "stream.add_batch_ms_p50": _median(add),
            "stream.engine_ms_p50": _median([t - a for t, a in zip(trig, add)]),
            "stream.jobs_per_batch": r.jobs / max(len(progress), 1),
            "stream.cpu_s": r.cpu_s,
            "stream.input_rows": sum(p.numInputRows for p in progress),
            "stream.batches": len(progress),
        })

    def _snapshot_layers(self, rec: Recorder) -> None:
        files = nbytes = versions = 0
        for wh in (self._wh("wh"), self._wh("swh")):
            for root, _, names in os.walk(os.path.join(wh, "processed")):
                if os.path.basename(root) == "_snapshots":
                    versions += sum(n.endswith(".json") for n in names)
                for n in names:
                    if n.endswith(".parquet") and os.sep + "data" + os.sep in root + os.sep:
                        files += 1
                        nbytes += os.path.getsize(os.path.join(root, n))
        rec.layers.update({
            "snapshots.files_written": files,
            "snapshots.bytes_written": nbytes,
            "snapshots.bytes_per_input_byte": nbytes / self.input_bytes,
            "snapshots.versions": versions,
        })


class CorpusOps:
    """Ten operator-heavy corpus queries over seeded TPC-H-like tables."""

    TABLES = ("orders", "lineitem", "customer", "documents")

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "corpus")
        self.expected: dict[str, dict] = {}

    def generate(self) -> None:
        from .corpusdata import generate

        generate(self.seed, self.data)

    def warm_up(self, rec: Recorder) -> None:
        """Collect every query once, a few at a time to shorten set-up,
        while DuckDB computes the oracles; compare each result with its
        oracle where it has one and keep its digest for the measured
        passes."""
        from pyspark.sql import Observation

        from healthcare_data_lakehouse_using_gcp_spark import corpus

        queries = corpus.queries()

        def collect(name):
            obs = Observation()
            df = queries[name](rec.ctx.spark, self.data)
            rows = df.observe(obs, *digest_columns(df)).collect()
            return normalized_rows(rows, df.columns), obs.get

        def check(result, name, oracle):
            rows, self.expected[name] = result
            want = oracle.result()
            if name in want and not same_rows(rows, want[name]):
                return f"corpus.{name}: result differs from the DuckDB oracle"
            return None

        with ThreadPoolExecutor(5) as pool:
            oracle = pool.submit(self._oracle_results, corpus.oracle_sql())
            calls = [
                pool.submit(rec.call, f"corpus.{name}", lambda n=name: collect(n),
                            lambda r, n=name: check(r, n, oracle))
                for name in CORPUS_QUERIES
            ]
            for c in calls:
                c.result()

    def _oracle_results(self, oracles: dict[str, str]) -> dict[str, list]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in self.TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            by_sql = {}  # j1_band_join and its bucketed twin share one oracle
            for name in CORPUS_QUERIES:
                sql = oracles.get(name)
                if sql is not None and sql not in by_sql:
                    res = con.execute(sql)
                    by_sql[sql] = normalized_rows(res.fetchall(), [d[0] for d in res.description])
            return {n: by_sql[oracles[n]] for n in CORPUS_QUERIES if n in oracles}
        finally:
            con.close()

    def run_pass(self, rec: Recorder) -> None:
        from pyspark.sql import Observation

        from healthcare_data_lakehouse_using_gcp_spark import corpus

        queries = corpus.queries()
        for name in CORPUS_QUERIES:
            obs = Observation()

            def write(name=name, obs=obs):
                df = queries[name](rec.ctx.spark, self.data)
                df.observe(obs, *digest_columns(df)).write.format("noop").mode(
                    "overwrite"
                ).save()

            def check(_, name=name, obs=obs):
                want = self.expected.get(name)
                return None if obs.get == want else f"corpus.{name}: digest {obs.get} != {want}"

            _, wall, r = rec.call(f"corpus.{name}", write, check)
            rec.op_ms.append(wall * 1e3)
            rec.layers.update({
                f"corpus.{name}.wall_s": wall, f"corpus.{name}.cpu_s": r.cpu_s,
                f"corpus.{name}.shuffle_mb": r.shuffle_write_mb, f"corpus.{name}.jobs": r.jobs,
            })


WORKLOADS = {"pipeline": Pipeline, "corpus_ops": CorpusOps}
