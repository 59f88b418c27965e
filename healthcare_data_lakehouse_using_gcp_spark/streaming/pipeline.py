"""Structured Streaming pipeline (SURVEY.md §2.8, T1-T5).

The reference's streaming mode (healthcare_etl_pipeline.py:255-269):
Pub/Sub read → 60 s fixed windows with a 30 s processing-time
trigger, ACCUMULATING — but its actual dataflow is stateless
per-record transforms (parse/filter/enrich/route), so windows never
feed an aggregation. We mirror that: `start_etl_stream` reads
`readStream` with a processing-time trigger (T2) and hands every
micro-batch to `make_etl_sink`, whose foreachBatch body is
`lakehouse.write_etl_batch` — the SAME transform and the SAME zone
writer the batch `HealthcareLakehouse.run_etl` calls (T4 batch/stream
parity by construction, T5 multi-sink fan-out: 3 entity tables +
error sink, healthcare_etl_pipeline.py:290-348).

Beyond-reference (flagged per SURVEY.md §2.8): event-time windowed
aggregation WITH watermark — Structured Streaming's answer to the
reference's accumulate-forever FixedWindows(60) (T1/T3), exposed as
`windowed_counts` with outputMode("update") as the closest analogue
of ACCUMULATING re-fires.

Scale notes: stateless ETL streams scale linearly with input
partitions (no state store); the windowed agg keys state by
(window, data_type) with a bounded watermark so state size is
O(active windows), not O(stream length).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import DEFAULT_CONFIG, EngineConfig
from ..lakehouse import ENTITY_DATE_COL, ZONE_MODES, write_etl_batch
from ..operators.sessions import _epoch_seconds
from ..sources.readers import read_json_stream


def make_etl_sink(
    warehouse: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    mode: str = "append",
):
    """The per-micro-batch ETL as a foreachBatch function: each batch
    goes through ``lakehouse.write_etl_batch``, the writer the batch
    ``run_etl`` uses, so a stream and a batch run land identical zone
    layouts and can share a warehouse. ``mode`` picks the entity-zone
    mode:

    - ``"append"``: date-partitioned parquet append, byte-faithful to
      the reference's WRITE_APPEND sinks — a replayed batch duplicates
      rows, exactly as the reference would.
    - ``"upsert"``: merge on each route's natural key (latest
      processed_at wins), so at-least-once delivery and micro-batch
      replays converge — the keyed answer to Pub/Sub redelivery.
    - ``"snapshot"``: SnapshotTable commits under the token
      ``etl-batch-{batch_id}`` — the exactly-once sink for keyless
      zones. foreachBatch retries redeliver the same batch_id, the
      token matches an already-published manifest, and the commit
      no-ops. Read the zone through HealthcareLakehouse.read_processed
      (or SnapshotTable.read).

    A zone already holding the other layout (snapshot vs plain) makes
    the batch raise instead of writing rows no reader would see.
    ``errors/`` gets the unknown-type route as JSON in every mode,
    at-least-once.
    """
    if mode not in ZONE_MODES:
        raise ValueError(f"unknown zone mode {mode!r}")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_etl_batch(
            batch_df, warehouse, cfg, mode,
            txn_ids=dict.fromkeys(ENTITY_DATE_COL, f"etl-batch-{batch_id}"),
        )

    return _sink


def make_rollup_sink(
    state_root: str,
    keys: list[str],
    value_cols: list[str],
    distinct_cols: list[str] = (),
):
    """foreachBatch sink maintaining an INCREMENTAL ROLLUP STATE
    TABLE with exactly-once semantics — the streaming face of
    operators/incremental: per micro-batch, fold
    partial_rollup(batch) into the current state
    (merge_rollup_states) and publish the merged state as a snapshot
    commit whose ``txn_id`` is the batch id. A replayed batch
    (foreachBatch's at-least-once recovery contract) finds its token
    already committed and no-ops, so the state NEVER double-counts a
    delta; finalize_rollup over the state at any time equals the
    from-scratch aggregate of everything delivered so far.

    Composition of three engine pieces: mergeable aggregation algebra
    (incremental), atomic versioned publish + idempotence
    (sources/snapshots), and foreachBatch (this module). Single
    streaming writer assumed (Structured Streaming guarantees one
    foreachBatch at a time per query). The state is |keys|-sized and
    rewritten per batch — at very large key spaces, shard the state
    by key range and merge only the shards a batch touches."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.incremental import merge_rollup_states, partial_rollup
        from ..sources.snapshots import SnapshotTable

        st = SnapshotTable(batch_df.sparkSession, state_root)
        delta = partial_rollup(
            batch_df, keys, value_cols, distinct_cols=distinct_cols
        )
        if st.latest_version() > 0:
            new_state = merge_rollup_states(st.read(), delta, keys)
        else:
            new_state = delta
        st.commit_overwrite(new_state, txn_id=f"rollup-batch-{batch_id}")

    return _sink


def make_sharded_rollup_sink(
    state_root: str,
    keys: list[str],
    value_cols: list[str],
    n_shards: int = 16,
    distinct_cols: list[str] = (),
):
    """make_rollup_sink's scale evolution: the state lives in
    ``n_shards`` hash-sharded snapshot tables
    (``state_root/shard=K``), and a batch rewrites ONLY the shards
    its keys hash into — per-batch write work is O(touched keys), not
    O(all keys ever seen), which is what keeps a year-old standing
    aggregate cheap to maintain at 100 TB key cardinalities.

    Exactly-once PER SHARD: each touched shard commits with the batch
    txn token. A crash mid-loop leaves some shards committed and
    others not; on foreachBatch replay the committed shards no-op on
    the token and the rest merge — the state converges to exactly-once
    regardless of where the crash landed. Untouched shards keep their
    version number (proven in tests). Read the full state with
    read_sharded_rollup_state."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.incremental import merge_rollup_states, partial_rollup
        from ..sources.snapshots import SnapshotTable

        delta = partial_rollup(
            batch_df, keys, value_cols, distinct_cols=distinct_cols
        ).withColumn(
            "__shard", F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_shards))
        )
        delta = delta.localCheckpoint(eager=True)  # one pass feeds all shards
        touched = sorted(
            r["__shard"] for r in delta.select("__shard").distinct().collect()
        )

        def _commit_shard(s: int) -> None:
            st = SnapshotTable(
                batch_df.sparkSession, os.path.join(state_root, f"shard={s}")
            )
            d = delta.filter(F.col("__shard") == s).drop("__shard")
            if st.latest_version() > 0:
                d = merge_rollup_states(st.read(), d, keys)
            st.commit_overwrite(d, txn_id=f"rollup-batch-{batch_id}")

        # Optimization r16 (guide §2.6): shard commits are independent
        # jobs over disjoint directories — submit a few concurrently so
        # the next shard's tasks back-fill executors idled by the
        # current shard's merge/commit tail, instead of paying each
        # shard's straggler serially. 2-3 in flight is the guide's
        # sweet spot; exactly-once per shard is untouched (same txn
        # token, same per-shard no-op on replay, any crash subset
        # still converges).
        from concurrent.futures import ThreadPoolExecutor

        if len(touched) <= 1:
            for s in touched:
                _commit_shard(s)
        else:
            with ThreadPoolExecutor(max_workers=min(3, len(touched))) as pool:
                list(pool.map(_commit_shard, touched))

    return _sink


def make_join_view_sink(
    view_root: str,
    dim: DataFrame,
    on: list[str],
    weight_col: str | None = None,
):
    """foreachBatch sink maintaining a MATERIALIZED JOIN VIEW
    incrementally — the streaming face of operators/incremental's
    z-set join IVM: per micro-batch the view delta is ΔR ⋈ dim (the
    only surviving bilinearity term when the dimension side is
    static for the batch), committed as an exactly-once APPEND to a
    z-set snapshot table keyed by the batch txn token. Appending the
    delta instead of rewriting the view keeps per-batch write work
    O(batch × matches) — the view itself is the un-consolidated
    union of deltas; ``read_join_view`` consolidates at read time
    and ``consolidate_join_view`` folds the table back down as a
    transactional overwrite (run it on a maintenance cadence, like
    compact).

    ``weight_col`` names a ±1 multiplicity column already on the
    stream (a CDC feed — e.g. snapshots.changes_between's insert/
    delete rows mapped to ±1): retractions then delete their join
    outputs on consolidation. Without it every row is an insert.
    Replayed batches no-op on the token, so the view never
    double-counts a delivery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.incremental import consolidate, zset
        from ..sources.snapshots import SnapshotTable

        if weight_col is None:
            z = zset(batch_df)
        else:
            z = batch_df.withColumnRenamed(weight_col, "__weight").withColumn(
                "__weight", F.col("__weight").cast("long")
            )
        if "__weight" in dim.columns:
            raise ValueError(
                "dim carries a __weight column; for a two-sided z-set "
                "delta use operators/incremental.join_delta directly"
            )
        delta = consolidate(z.join(dim, on))
        st = SnapshotTable(batch_df.sparkSession, view_root)
        st.commit_append(delta, txn_id=f"joinview-batch-{batch_id}")

    return _sink


def read_join_view(spark: SparkSession, view_root: str) -> DataFrame:
    """The maintained join view, consolidated: identical rows folded
    to one with summed multiplicity, retracted rows gone."""
    from ..operators.incremental import consolidate
    from ..sources.snapshots import SnapshotTable

    return consolidate(SnapshotTable(spark, view_root).read())


def consolidate_join_view(spark: SparkSession, view_root: str) -> int:
    """Fold the appended deltas down to the consolidated z-set as a
    new snapshot version (vacuum reclaims the old delta files later)
    — the join-view analogue of compact(); read_join_view results are
    identical before and after.

    Concurrency: the rewrite is pinned to one source version and the
    publish verifies that version is still the latest file set — a
    streaming delta appended in between rebases (re-read, re-fold)
    instead of being silently dropped from the overwrite manifest
    (lost update, ADVICE r8)."""
    from ..operators.incremental import consolidate
    from ..sources.snapshots import ConcurrentCommitError, SnapshotTable

    st = SnapshotTable(spark, view_root)
    last: ConcurrentCommitError | None = None
    for _attempt in range(8):
        v = st.latest_version()
        if v == 0:
            raise ValueError(f"empty table: no snapshots at {view_root}")
        base = st._load(v)["files"]
        folded = consolidate(st.read(version=v))
        try:
            return st.commit_overwrite(folded, expected_files=base)
        except ConcurrentCommitError as e:
            last = e
            st._rebase_backoff(_attempt)
    raise last


def read_sharded_rollup_state(
    spark: SparkSession, state_root: str
) -> DataFrame:
    """Union of every shard's current state (each shard resolved
    through its own manifest — a mid-commit shard is invisible until
    it publishes). Feed the result to finalize_rollup."""
    from ..sources.snapshots import SnapshotTable

    parts = []
    for name in sorted(os.listdir(state_root)):
        if not name.startswith("shard="):
            continue
        st = SnapshotTable(spark, os.path.join(state_root, name))
        if st.latest_version() > 0:
            parts.append(st.read())
    if not parts:
        raise ValueError(f"no shard state at {state_root}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def start_etl_stream(
    spark: SparkSession,
    input_path: str,
    warehouse: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    trigger_seconds: int = 30,
    checkpoint: str | None = None,
    mode: str = "append",
) -> StreamingQuery:
    """T4+T5: streaming ETL with per-micro-batch multi-sink fan-out.

    foreachBatch applies the same batch transform and writes the 4
    routes — the Spark analogue of Beam's TaggedOutput multi-sink
    (healthcare_etl_pipeline.py:290-348). The 30 s processing-time
    trigger mirrors AfterProcessingTime(30) (:261). See make_etl_sink
    for the append / idempotent-upsert / exactly-once-snapshot zone
    modes.
    """
    raw = read_json_stream(spark, input_path)
    return (
        raw.writeStream.foreachBatch(make_etl_sink(warehouse, cfg, mode))
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .option(
            "checkpointLocation",
            checkpoint or os.path.join(warehouse, "_checkpoints", "etl"),
        )
        .start()
    )


def windowed_counts(
    parsed: DataFrame,
    ts_col: str = "ingest_timestamp",
    window_seconds: int = 60,
    watermark_seconds: int = 120,
) -> DataFrame:
    """T1 (+ beyond-reference watermark): event-time tumbling windows
    over the stream, counting records per (window, data_type).

    Works on batch DataFrames too (watermark is a no-op in batch) —
    used by tests for batch/stream parity.
    """
    ts = F.to_timestamp(F.col(ts_col))
    df = parsed.withColumn("__event_ts", ts)
    if df.isStreaming:
        df = df.withWatermark("__event_ts", f"{watermark_seconds} seconds")
    return (
        df.groupBy(
            F.window("__event_ts", f"{window_seconds} seconds").alias("window"),
            F.col("data_type"),
        )
        .agg(F.count(F.lit(1)).alias("record_count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "data_type",
            "record_count",
        )
    )


def dedup_stream(
    df: DataFrame,
    id_cols: list[str] | tuple[str, ...],
    ts_col: str = "ingest_timestamp",
    watermark_seconds: int = 600,
) -> DataFrame:
    """Beyond-reference: streaming exact dedup with BOUNDED state.

    Pub/Sub is at-least-once — redeliveries reach the reference's
    append sinks as duplicate rows (it leaves this unsolved; our batch
    answer is the merge-upsert sink). This is the in-flight answer:
    ``dropDuplicatesWithinWatermark`` keeps one row per ``id_cols``
    across micro-batches while the watermark lets state for ids older
    than ``watermark_seconds`` be evicted — O(ids per watermark
    horizon) state, not O(stream length), which is what makes it safe
    on an unbounded 100 TB/day stream. (Plain dropDuplicates on a
    stream grows state forever.)

    Works on batch frames too (falls back to dropDuplicates) so the
    same transform serves both modes, like build_etl (T4).
    """
    with_ts = df.withColumn("__event_ts", F.to_timestamp(F.col(ts_col)))
    if with_ts.isStreaming:
        out = with_ts.withWatermark(
            "__event_ts", f"{watermark_seconds} seconds"
        ).dropDuplicatesWithinWatermark(list(id_cols))
    else:
        out = with_ts.dropDuplicates(list(id_cols))
    return out.drop("__event_ts")


def stream_stream_band_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    band_seconds: int = 7 * 86400,
    watermark_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Beyond-reference: the fact table's equi+band join
    (fact_patient_encounters.sql:111-115) as a STREAM-STREAM join —
    continuous enrichment of in-flight vitals with in-flight claims
    instead of a nightly batch.

    Structured Streaming requires exactly this shape for bounded
    state: watermarks on BOTH sides plus an event-time range predicate
    tying the two clocks together. The range bound lets the state
    store evict rows once the other side's watermark passes
    ``band_seconds`` beyond them — state is O(rows per band window),
    not O(stream length), which is the 100 TB/day survival property.
    Works on batch frames too (watermarks are a no-op in batch), so
    the same plan is testable against the batch band_join.
    """
    lts, rts = F.col(left_ts), F.col(right_ts)
    l = left
    r = right
    if l.isStreaming:
        l = l.withWatermark(left_ts, f"{watermark_seconds} seconds")
    if r.isStreaming:
        r = r.withWatermark(right_ts, f"{watermark_seconds} seconds")
    band = F.lit(band_seconds)
    cond = (
        (l[on] == r[on])
        & (rts >= lts - F.make_dt_interval(secs=band))
        & (rts <= lts + F.make_dt_interval(secs=band))
    )
    return l.join(r, cond, how)


def session_window_counts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark_seconds: int = 3600,
) -> DataFrame:
    """Beyond-reference: Spark's BUILT-IN session windows — per-key
    variable-length windows that extend while events keep arriving
    within ``gap_seconds`` and close after a quiet gap. The native
    counterpart of streaming/stateful.streaming_sessions (which keeps
    the applyInPandasWithState custom-logic escape hatch); prefer this
    one when per-session logic is expressible as aggregates — the
    state store handles merging/eviction in the JVM with no Python
    worker round-trip.

    Returns (key, session_start, session_end, n_events, duration_s).

    Works on batch frames too (watermark is a no-op): the batch result
    equals the classic gap-and-island sessionization
    (operators/sessions.sessionize + session_stats) — pinned by test
    and by the corpus oracle. Streaming state is bounded by the
    watermark horizon; sessions older than ``watermark_seconds`` are
    finalized and evicted.
    """
    ts = F.to_timestamp(F.col(ts_col))
    df = events.withColumn("__event_ts", ts)
    if df.isStreaming:
        df = df.withWatermark("__event_ts", f"{watermark_seconds} seconds")
    return (
        df.groupBy(
            F.session_window("__event_ts", f"{gap_seconds} seconds").alias("sw"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            (_epoch_seconds(F.col("sw.end")) - _epoch_seconds(F.col("sw.start")))
            .cast("bigint")
            .alias("duration_s"),
        )
    )


def hopping_window_counts(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    window_seconds: int = 600,
    slide_seconds: int = 300,
    watermark_seconds: int = 3600,
) -> DataFrame:
    """Beyond-reference: HOPPING (sliding) event-time windows — each
    event lands in ``window/slide`` overlapping windows, the standard
    smoothed-rate view (10-min counts every 5 min) that tumbling
    windows (T1) can't express. Same batch/stream duality as
    windowed_counts; streaming state is one row per open window per
    key, bounded by the watermark.

    Scale note: output volume is ``window/slide`` × the tumbling
    equivalent — keep the overlap factor small (2-6) at 100 TB; the
    expansion happens inside the window expression (no explode in the
    user plan), feeding one hash aggregation with map-side partials.
    """
    ts = F.to_timestamp(F.col(ts_col))
    df = events.withColumn("__event_ts", ts)
    if df.isStreaming:
        df = df.withWatermark("__event_ts", f"{watermark_seconds} seconds")
    return (
        df.groupBy(
            F.window(
                "__event_ts", f"{window_seconds} seconds", f"{slide_seconds} seconds"
            ).alias("w"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
        )
    )
