"""Band (interval) joins and as-of nearest-match selection.

The reference's only join shape (SURVEY.md §2.3): LEFT equi-join on a
key plus a ±N-day date-band predicate
(dbt/models/marts/fact_patient_encounters.sql:111-115, 138-141),
followed by ROW_NUMBER-over-proximity rank-1 selection — an as-of /
nearest-neighbor-in-time join emulated with a window (:107-110,
134-137, 173-186).

Scale design:
- The equality key makes this a hash/sort-merge equi-join in
  Catalyst; the band predicate evaluates as a cheap post-join filter.
  Shuffle is on the equi-key only — the plan survives 100× scale-up
  as long as the key (patient_id) isn't pathologically skewed; AQE
  skew-join handles residual skew.
- The as-of reduction uses the SAME partitioning (key + left ts) as
  the join output, so the window adds no extra exchange beyond the
  join's own shuffle.
- ``min_by``-based variant avoids the full sort of row_number when
  only rank-1 values are needed (one hash-agg instead of
  sort+filter); exposed as `asof_select_min_by`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def band_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_date: str,
    right_date: str,
    band_days: int = 7,
    how: str = "left",
) -> DataFrame:
    """J1/J2: equi-key join + |date_diff| <= band_days predicate.

    fact_patient_encounters.sql:111-115:
      ON v.patient_id = c.patient_id
      AND ABS(DATE_DIFF(DATE(v.ts), c.service_date, DAY)) <= 7
    """
    cond = None
    for k in on:
        c = left[k] == right[k]
        cond = c if cond is None else cond & c
    band = (
        F.abs(F.datediff(F.to_date(left[left_date]), F.to_date(right[right_date])))
        <= band_days
    )
    joined = left.join(right, cond & band, how)
    # drop the duplicated right-side key columns
    for k in on:
        joined = joined.drop(right[k])
    return joined


def _bucketed_candidates(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_date: str,
    right_date: str,
    band_days: int,
):
    """The bucketed join's candidate machinery, factored out so tests
    can count candidate pairs (join on `cond` WITHOUT `band`) — the
    deterministic metric of what bucketing prunes, immune to wall-
    clock noise. Returns (left_exploded, right_bucketed, equi_cond,
    band_predicate)."""
    width = int(band_days)
    lbucket = F.floor(F.unix_date(F.to_date(left[left_date])) / width).cast("long")
    rbucket = F.floor(F.unix_date(F.to_date(right[right_date])) / width).cast("long")
    lx = left.withColumn(
        "__bucket",
        F.explode(F.array(lbucket - 1, lbucket, lbucket + 1)),
    )
    rx = right.withColumn("__bucket", rbucket)
    cond = lx["__bucket"] == rx["__bucket"]
    for k in on:
        cond = cond & (lx[k] == rx[k])
    band = (
        F.abs(F.datediff(F.to_date(lx[left_date]), F.to_date(rx[right_date])))
        <= band_days
    )
    return lx, rx, cond, band


def band_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_date: str,
    right_date: str,
    band_days: int = 7,
    how: str = "left",
    check_unique_left: bool = True,
) -> DataFrame:
    """`band_join` with date-bucket pre-partitioning — the scale
    evolution for the band family's super-linear match fan-out
    (VERDICT r5 item 6; ROADMAP item 4).

    Plain band_join shuffles on the equi-key alone, so EVERY right row
    of a key meets every left row of that key before the band filter
    runs — at 100 TB a key whose rows span years pays |left|×|right|
    per key. Here both sides also carry a fixed-width date bucket
    (width = band_days epoch-day buckets, so a right row's band
    window spans at most 3 adjacent buckets); the LEFT side explodes
    to its bucket ±1 (3 copies — bounded, data-independent) and the
    bucket joins as an EQUI key next to `on`. The shuffle now
    co-locates only date-adjacent rows: per-key pair work drops from
    (rows per key)² to (rows per key per ~month)² × 3.

    Exactly equivalent to band_join (each right row lands in ONE
    bucket, so no duplicate pairs; corpus entry j1_band_join_bucketed
    is driver-hash-checked against j1_band_join's oracle). LEFT
    semantics recovered by unioning the anti-join side back with a
    bounded broadcast-able right-null projection — this recovery is
    KEY-granular, so it requires the left side to have at most one
    row per `on` key (true for every dimension-side use). With
    ``check_unique_left`` (default) a duplicate left key raises
    ValueError up front — one map-side-combined count over the left
    that short-circuits at the first duplicate — instead of silently
    dropping the duplicate rows that happened not to band-match; pass
    ``check_unique_left=False`` only when uniqueness is already
    guaranteed (e.g. the left is a primary-keyed dimension) and the
    extra aggregation job is unwanted.

    WHEN to use which (measured r6, re-measured after the
    session-level broadcast-threshold fix): the pruning pays for its
    3× left-explode + wider shuffle only when the per-key candidate
    space dwarfs the band matches. Numerically, with `m` = rows per
    key per side and `s` = the key's date spread in multiples of the
    band width, plain examines ~m² candidate pairs per key and
    bucketed ~3·m²/s — switch to bucketed once s ≳ 6 AND m ≳ 50
    (the pinned test shape, m=80, s≈27, collapses candidates ~19×);
    below either threshold keep plain band_join as the default: at
    orders↔lineitem's m≈4, s≈2-3 the plain sort-merge equi-join is
    ~1.5× faster at sf0.1 and ~5× at sf1. Both are benched side by
    side (bench.py)."""
    lx, rx, cond, band = _bucketed_candidates(
        left, right, on, left_date, right_date, band_days
    )
    # Optimization r16 (guide §3.1): force sort-merge on the candidate
    # joins. Both sides of a bucketed band join are fact-sized BY
    # CONTRACT (the operator exists for the big×big regime; dims take
    # plain band_join), but Catalyst's size estimate does not model
    # the ×3 Generate fan-out, so under ~10 MB of pre-explode bytes it
    # chose BroadcastHashJoin BuildLeft — a single-threaded hash build
    # over 3×|left| rows (the r6 row-count-not-bytes lesson, and a
    # driver/executor OOM at real scale). Measured on this box:
    # sf0.1 1.36 s → 1.16 s, sf1 4.3 s → 2.1 s (min-of-3, one
    # session, identical rows).
    rx = rx.hint("merge")
    inner = lx.join(rx, cond & band, "inner")
    for k in on:
        inner = inner.drop(rx[k])
    inner = inner.drop(lx["__bucket"]).drop(rx["__bucket"])
    if how == "inner":
        return inner
    if how != "left":
        raise ValueError(f"band_join_bucketed supports inner/left, got {how}")
    if check_unique_left:
        dup = (
            left.groupBy(*[F.col(k) for k in on])
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            bad = {k: dup[0][k] for k in on}
            raise ValueError(
                "band_join_bucketed(how='left') requires unique left rows per "
                f"key — duplicate found at {bad} ({dup[0]['count']} rows). The "
                "key-granular anti-join recovery would silently drop duplicate "
                "left rows without a band match; dedupe the left side or use "
                "plain band_join."
            )
    # Matched-key derivation (optimization r16, guide §2.3/§2.4): a
    # LEFT SEMI join instead of the inner join's pair fan-out — the
    # semi emits each surviving left COPY once (≤3 rows/key from the
    # bucket explode) rather than one row per matched pair, and the
    # downstream LEFT ANTI is an existence check, so the old
    # .distinct() (one full Exchange + two HashAggregates in the plan)
    # is dropped outright: anti-join semantics are identical against a
    # duplicated key set.
    matched_keys = lx.join(rx, cond & band, "left_semi").select(
        *[F.col(k) for k in on]
    )
    # merge hint again (§3.1): matched_keys approaches |left| rows on
    # a well-matched fact side — broadcasting it into the anti join
    # only looks cheap at toy scale.
    unmatched = left.join(matched_keys.hint("merge"), list(on), "left_anti")
    for c in right.columns:
        if c not in on:
            unmatched = unmatched.withColumn(
                c, F.lit(None).cast(right.schema[c].dataType)
            )
    return inner.unionByName(unmatched)


def band_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_date: str,
    right_date: str,
    band_days: int = 7,
    how: str = "left",
    multiplicity_floor: float = 50.0,
    spread_floor: float = 6.0,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, str]:
    """Measured dispatch between band_join and band_join_bucketed,
    executing the numeric rule the r6/r7 measurements established
    (band_join_bucketed docstring): with m = rows per key and s =
    the key's date spread in band widths, plain examines ~m²
    candidate pairs per key and bucketed ~3·m²/s — bucketed only
    wins once BOTH m ≳ 50 AND s ≳ 6; below either bar the 3×
    left-explode + wider shuffle costs more than it prunes.

    Runs ONE cheap profiling aggregation over the right side's
    (key, date) projection — two map-side-combined hash-aggs
    producing a single driver row (set ``sample_fraction`` to profile
    a deterministic sample instead of the full side when even one
    narrow pass is too much). Returns (result, strategy) so callers
    and tests can see which plan ran; hot paths that already know
    their shape should keep calling the specific operator directly
    and skip the profiling job."""
    proj = right.select(
        *[F.col(k) for k in on], F.to_date(F.col(right_date)).alias("__d")
    )
    if sample_fraction is not None:
        proj = proj.sample(fraction=sample_fraction, seed=7)
    per_key = proj.groupBy(*[F.col(k) for k in on]).agg(
        F.count(F.lit(1)).alias("__m"),
        F.datediff(F.max("__d"), F.min("__d")).alias("__span"),
    )
    prof = per_key.agg(
        F.avg("__m").alias("m"), F.avg(F.col("__span") / F.lit(band_days)).alias("s")
    ).first()
    m, s = float(prof["m"] or 0.0), float(prof["s"] or 0.0)
    if m >= multiplicity_floor and s >= spread_floor:
        out = band_join_bucketed(
            left, right, on, left_date, right_date, band_days, how
        )
        return out, "bucketed"
    return band_join(left, right, on, left_date, right_date, band_days, how), "plain"


def proximity_rank(
    df: DataFrame,
    partition_cols: Sequence[str],
    left_date: str,
    right_date: str,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """W1: ROW_NUMBER() OVER (PARTITION BY key, left_ts ORDER BY
    ABS(DATE_DIFF(left_date, right_date))) as ``proximity_rank``
    (fact_patient_encounters.sql:107-110).

    NULL right dates (left-join misses) sort last, matching BigQuery's
    default NULLS LAST for ASC ordering.
    """
    dist = F.abs(F.datediff(F.to_date(F.col(left_date)), F.to_date(F.col(right_date))))
    order: list[Column] = [dist.asc_nulls_last()]
    order += [F.col(c) for c in tie_breakers]
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return df.withColumn("proximity_rank", F.row_number().over(w))


def asof_select(
    df: DataFrame,
    partition_cols: Sequence[str],
    left_date: str,
    right_date: str,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """J3: keep only the nearest-in-time right row per left row."""
    ranked = proximity_rank(df, partition_cols, left_date, right_date, tie_breakers)
    return ranked.filter(F.col("proximity_rank") == 1).drop("proximity_rank")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_date: str,
    right_date: str,
    band_days: int = 7,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """Band join + rank-1 selection in one call: for each left row,
    the single closest right row within the band (or NULLs)."""
    joined = band_join(left, right, on, left_date, right_date, band_days, "left")
    return asof_select(joined, [*on, left_date], left_date, right_date, tie_breakers)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigation equi-join: split every left key into
    ``salt_buckets`` sub-keys and replicate the right side once per
    bucket, so a pathological hot key (one patient with millions of
    rows) spreads across N reducers instead of overloading one.

    Use AQE's skew-join (on by default) for moderate skew; salting is
    for the cases AQE cannot split — a single key larger than an
    executor, or when the skewed shuffle feeds a downstream
    aggregation. The salt is deterministic (hash of the whole left
    row), so task retries re-derive identical partitions. Right-side
    rows are replicated salt_buckets× — only use when the right side
    is small relative to the left.

    Only left-preserving join types are valid: under 'right'/'full'
    (or right-semi/anti) every unmatched RIGHT row would surface once
    per salt replica — salt_buckets duplicate output rows.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; got {how!r} — "
            "right/full joins would emit each unmatched right row "
            "salt_buckets times"
        )
    salt = F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in left.columns])), F.lit(salt_buckets)
    )
    l_s = left.withColumn("__salt", salt)
    r_s = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    return l_s.join(r_s, [*on, "__salt"], how).drop("__salt")


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    top_n: int = 20,
) -> DataFrame:
    """Pre-flight cardinality profile of an equi-join WITHOUT running
    it: per-key multiplicities of both sides joined into a
    |shared keys|-sized frame with the exact per-key output size
    (m_left × m_right) — the number every join-explosion postmortem
    wishes it had looked at first. Output: on-keys + n_left, n_right,
    pairs — the ``top_n`` largest contributors by pairs (rank
    tie-broken on the keys for determinism).

    Cost: one map-side-combined count per side + a join of the two
    count tables — shuffles |distinct keys| rows, never the data.
    At 100 TB this is the cheap query you run BEFORE the 6-hour join,
    not after it dies."""
    lc = left.groupBy(*[F.col(k) for k in on]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_left")
    )
    rc = right.groupBy(*[F.col(k) for k in on]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_right")
    )
    prof = lc.join(rc, list(on)).withColumn(
        "pairs", (F.col("n_left") * F.col("n_right")).cast("bigint")
    )
    return prof.orderBy(
        F.col("pairs").desc(), *[F.col(k).asc() for k in on]
    ).limit(top_n)


def guard_join_explosion(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    max_rows: int,
    how: str = "inner",
) -> DataFrame:
    """Fail-loud equi-join: estimate the inner-match row count from
    the per-key multiplicity profile (exact: Σ m_l·m_r over shared
    keys — two count aggs + a count-table join, no data-sized work)
    and raise BEFORE executing if it exceeds ``max_rows``, naming the
    worst key. The runaway-join circuit breaker: a duplicate-ridden
    dimension or an unexpected hot key turns a linear join into a
    quadratic one, and at scale the cheap pre-check beats discovering
    it six hours in. On success returns the ordinary join (Catalyst
    plans it as if the guard never existed)."""
    lc = left.groupBy(*[F.col(k) for k in on]).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nl")
    )
    rc = right.groupBy(*[F.col(k) for k in on]).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nr")
    )
    prof = lc.join(rc, list(on)).select(
        *on, (F.col("__nl") * F.col("__nr")).cast("bigint").alias("__pairs")
    )
    stats = prof.agg(
        F.sum("__pairs").alias("total"),
        F.max(F.struct(F.col("__pairs").alias("p"), *[F.col(k) for k in on])).alias(
            "worst"
        ),
    ).first()
    total = int(stats["total"] or 0)
    if total > max_rows:
        worst = stats["worst"].asDict()
        worst_key = {k: worst[k] for k in on}
        raise ValueError(
            f"join on {list(on)} would produce {total} matched rows "
            f"> max_rows={max_rows}; worst key {worst_key} alone contributes "
            f"{worst['p']} pairs. Deduplicate the offending side, add a more "
            "selective key, or raise max_rows if the explosion is intended."
        )
    return left.join(right, list(on), how)


def asof_select_min_by(
    df: DataFrame,
    partition_cols: Sequence[str],
    left_date: str,
    right_date: str,
    value_cols: Sequence[str],
    tie_breakers: Sequence[str] = (),
    tie_bits: Sequence[int] | None = None,
) -> DataFrame:
    """Aggregation-based as-of: the rank-1 row per group WITHOUT the
    window's full sort (the rank-1 emulation of
    fact_patient_encounters.sql:107-110,173-186) — ONE aggregate with
    map-side partial aggregation.

    With unique ``tie_breakers`` this selects exactly the window
    variant's rank-1 row; without them, ties resolve arbitrarily —
    same nondeterminism the reference's bare ORDER BY has.

    Two physical forms (optimization r16, guide §2.3/§5 — the
    span_dedup packed-winner lesson): the default lexicographic
    MIN(struct(dist, ties, values...)) has an immutable struct buffer
    that HashAggregateExec cannot hold, so Spark silently plans a
    SortAggregate — a full sort of the joined frame on BOTH sides of
    the exchange. Passing ``tie_bits`` (low-bit widths for each tie
    breaker, all integral and provably in-range) packs (dist, *ties)
    into ONE order-isomorphic BIGINT and aggregates
    min_by(value, packed) per value column — all-primitive buffers,
    one codegen HashAggregate, sorts gone. Out-of-range or NULL
    dist/tie values fail loud rather than silently mis-rank
    (rows whose dist is legitimately NULL — left-join misses — belong
    to the struct path, which orders them last).

    Guard form (optimization r17, VERDICT r16 item 3): the r16 guard
    branched per ROW (when(all bounds)/raise_error), costing ~5% of
    the whole query warm. Each component is still individually
    bounded — a single range check on the packed value is UNSOUND
    (components alias: dist+1 with tie-1 packs to the same bigint) —
    but the bound is now one bitwise AND against the component's
    out-of-range mask (``c & ~(2^bits-1)`` is nonzero exactly when
    c < 0 or c >= 2^bits), OR-accumulated into one violation word per
    row. The group aggregates a BOOLEAN any-violation (``bool_or`` of
    "word is nonzero or NULL") on the same HashAggregate, so a
    negative word or a NULL component anywhere in a group raises even
    when clean rows share the group. The raise is ONE conditional per
    GROUP in the output projection.
    """
    dist = F.abs(F.datediff(F.to_date(F.col(left_date)), F.to_date(F.col(right_date))))
    if tie_bits is not None:
        if len(tie_bits) != len(tie_breakers):
            raise ValueError(
                "asof_select_min_by: tie_bits must give one bit-width per "
                f"tie breaker (got {len(tie_bits)} widths for "
                f"{len(tie_breakers)} tie breakers)"
            )
        total_tb = int(sum(tie_bits))
        max_dist = 1 << (62 - total_tb)  # packed stays within int64
        d = dist.cast("long")
        viol = d.bitwiseAND(F.lit(~(max_dist - 1)))
        packed = d
        for tb, bits in zip(tie_breakers, tie_bits):
            c = F.col(tb).cast("long")
            viol = viol.bitwiseOR(c.bitwiseAND(F.lit(~((1 << int(bits)) - 1))))
            packed = packed * F.lit(1 << int(bits)).cast("long") + c
        keyed = df.select(
            *df.columns,
            packed.alias("__pk"),
            F.coalesce(viol != 0, F.lit(True)).alias("__pk_bad"),
        )
        agg = keyed.groupBy(*partition_cols).agg(
            *[F.min_by(F.col(c), F.col("__pk")).alias(c) for c in value_cols],
            F.bool_or("__pk_bad").alias("__pk_bad"),
        )
        guard = F.when(~F.col("__pk_bad"), F.lit(True)).otherwise(
            F.raise_error(
                F.lit(
                    "asof_select_min_by: a (dist, tie_breakers) row is "
                    f"outside the packable range (need 0 <= dist < {max_dist} "
                    f"and each tie breaker within its tie_bits width "
                    f"{list(tie_bits)}, NULL-free) — use the struct path "
                    "(tie_bits=None) for unbounded or nullable orderings"
                )
            ).cast("boolean")
        )
        return agg.select(
            *partition_cols,
            *[F.when(guard, F.col(c)).alias(c) for c in value_cols],
        )
    packed = F.struct(
        dist.alias("__dist"),
        *[F.col(t).alias(f"__tb_{i}") for i, t in enumerate(tie_breakers)],
        *[F.col(c).alias(c) for c in value_cols],
    )
    out = df.groupBy(*partition_cols).agg(F.min(packed).alias("__best"))
    return out.select(
        *partition_cols, *[F.col(f"__best.{c}").alias(c) for c in value_cols]
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    on: Sequence[str] | None = None,
    bucket_days: int = 30,
    how: str = "inner",
) -> DataFrame:
    """Join rows whose [start, end] date intervals overlap —
    ``l.start <= r.end AND r.start <= l.end`` with PER-ROW interval
    widths (a fixed ±N band is band_join; this is the general case:
    stays, coverage periods, promo windows).

    Two physical strategies:

    - ``on`` given: equi-join on the keys with the overlap predicate
      as a post-join filter — the Catalyst shape where the equi-key
      drives the shuffle (band_join's proven plan).
    - ``on=None`` (no shared key): a naive theta-join would be a
      cartesian product. Instead both sides explode to the
      ``bucket_days``-wide date buckets their interval covers
      (``sequence`` over bucket ordinals — rows fan out by
      interval_width/bucket_days, typically 1-2), equi-join ON THE
      BUCKET, and emit each true pair exactly once via the canonical-
      bucket rule: only the bucket containing ``greatest(l.start,
      r.start)`` — a bucket both sides provably cover when they
      overlap — may emit, so no post-hoc dropDuplicates pass is
      needed. Shuffle is on bucket ordinals; at 100 TB pick
      ``bucket_days`` ≈ the median interval width so fan-out stays
      O(1) while each bucket's population stays bounded. Only inner
      joins are supported on this path.
    """
    l_s, l_e = F.col(f"l.{left_start}"), F.col(f"l.{left_end}")
    r_s, r_e = F.col(f"r.{right_start}"), F.col(f"r.{right_end}")
    overlap = (l_s <= r_e) & (r_s <= l_e)
    if on:
        # overlap goes INTO the join condition (not a post-filter) so
        # outer-join semantics stay correct; Catalyst still extracts
        # the equality conjuncts as the shuffle keys and evaluates the
        # overlap as the join's residual predicate.
        cond = overlap
        r = right.alias("r")
        for k in on:
            cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
        joined = left.alias("l").join(r, cond, how)
        if how.replace("_", "") in ("leftsemi", "semi", "leftanti", "anti"):
            return joined
        # right_outer/full_outer emit right-only rows whose LEFT key is
        # NULL — the surviving key column must coalesce both sides or
        # those rows surface keyless (for inner/left the left key is
        # never NULL and the coalesce is the identity).
        keyset = set(on)
        out_cols = [
            F.coalesce(F.col(f"l.{c}"), F.col(f"r.{c}")).alias(c)
            if c in keyset
            else F.col(f"l.{c}").alias(c)
            for c in left.columns
        ] + [F.col(f"r.{c}").alias(c) for c in right.columns if c not in keyset]
        return joined.select(*out_cols)
    if how != "inner":
        raise ValueError("bucketed interval join supports how='inner' only")

    def _bucket(c: Column) -> Column:
        return F.floor(F.unix_date(F.col(c)) / F.lit(bucket_days)).cast("bigint")

    def _explode_buckets(df: DataFrame, start: str, end: str) -> DataFrame:
        return df.withColumn(
            "__bucket", F.explode(F.sequence(_bucket(start), _bucket(end)))
        )

    lb = _explode_buckets(left, left_start, left_end).alias("l")
    rb = _explode_buckets(right, right_start, right_end).alias("r")
    canonical = F.floor(
        F.unix_date(F.greatest(l_s, r_s)) / F.lit(bucket_days)
    ).cast("bigint")
    return (
        lb.join(rb, F.col("l.__bucket") == F.col("r.__bucket"), "inner")
        .filter(overlap & (F.col("l.__bucket") == canonical))
        .drop("__bucket")
    )


def bucket_prefilter_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    num_buckets: int = 1 << 16,
    exact: bool = True,
) -> DataFrame:
    """Semi-join a huge fact against a dim's keys with a runtime-
    filter-style two-phase plan: (1) compress the dim's key set to its
    DISTINCT hash-bucket fingerprint (≤ ``num_buckets`` rows — xxhash64
    mod m, a Bloom filter with one hash function expressed in pure
    DataFrame ops, since Spark's internal bloom_filter_agg isn't in
    the public registry); (2) broadcast that fingerprint and pre-drop
    every fact row whose bucket can't match; (3) ``exact=True`` chains
    the real key semi-join AFTER the prefilter, so only survivors —
    the true-match fraction plus the false-positive residue — reach
    the shuffle.

    Guarantee: no false negatives (same hash, same modulus on both
    sides); with ``exact`` the result is EXACTLY the plain semi-join.
    False-positive rate ≈ occupied_buckets/num_buckets — size
    ``num_buckets`` ≫ |dim keys|.

    Type discipline: Spark's xxhash64 is PHYSICAL-type-sensitive — the
    same logical key hashes differently as int vs bigint, which would
    silently drop true matches when the two sides' key types differ.
    When they do, both sides are widened to the join-equality common
    type before hashing (integrals → bigint, fractionals → double,
    matching Spark's own implicit-cast rule for the equi-join); any
    other mismatch (decimal vs double, string vs int, …) raises
    instead of guessing, because a lossy cast could diverge from the
    join's comparison semantics.

    Scale rationale (100 TB): a plain semi-join shuffles the whole
    fact by key when the dim is too big to broadcast raw. The bucket
    fingerprint broadcasts at ≤ 8·num_buckets bytes REGARDLESS of dim
    width or key count, and the prefilter evaluates inside the fact's
    scan stage — the shuffle then moves only surviving rows. This is
    what Spark's runtime bloom-filter rewrite does internally; spelled
    out here it also composes with keys the optimizer won't cover
    (expressions, unions of sources).
    """
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ft, dt = fact.schema[key].dataType, dim.schema[key].dataType
    integral = (ByteType, ShortType, IntegerType, LongType)
    fractional = (FloatType, DoubleType)
    if ft == dt:
        cast_to = None
    elif isinstance(ft, integral) and isinstance(dt, integral):
        cast_to = "bigint"
    elif isinstance(ft, integral + fractional) and isinstance(dt, integral + fractional):
        cast_to = "double"
    else:
        raise TypeError(
            f"bucket_prefilter_semi_join: key '{key}' has incompatible types "
            f"{ft.simpleString()} vs {dt.simpleString()}; cast both sides to a "
            "common type before calling (xxhash64 is type-sensitive and a "
            "silent mismatch would drop true matches)"
        )

    def bucket(c: str) -> Column:
        k = F.col(c) if cast_to is None else F.col(c).cast(cast_to)
        return F.pmod(F.xxhash64(k), F.lit(num_buckets))

    fingerprint = dim.select(bucket(key).alias("__bucket")).distinct()
    pre = fact.withColumn("__bucket", bucket(key)).join(
        F.broadcast(fingerprint), "__bucket", "leftsemi"
    ).drop("__bucket")
    if not exact:
        return pre
    # no broadcast hint here: the exact stage only sees prefilter
    # survivors, but the DIM side may be the big one (that's the whole
    # motivation) — let AQE pick broadcast when the key set fits and a
    # shuffle semi-join when it doesn't.
    return pre.join(dim.select(key).distinct(), key, "leftsemi")


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Classic backward as-of join (the pandas merge_asof / kdb aj /
    DuckDB ASOF JOIN convention): for each left row, the LATEST right
    row with ``right_ts <= left_ts`` within the key — 'state as of
    this moment'. Complements asof_join (nearest-within-band): no
    band, no |diff| ranking, strictly backward-looking.

    Returns every left row plus ``asof_<c>`` for each value column and
    ``asof_ts`` (all NULL when no right row precedes).

    Scale design (100 TB): NOT a join at all — both sides UNION into
    one frame (right rows carrying their values, left rows NULLs),
    and one window pass per key in (ts, side) order forward-fills the
    last-seen right values onto each left row
    (``last(..., ignorenulls=True)`` over unbounded-preceding; right
    sorts before left at equal ts so the ≤ convention holds). One
    shuffle + one sort TOTAL — versus a band join's candidate blow-up
    when history is dense or the nearest match is far back. This is
    the sort-merge as-of shape that stays linear regardless of how
    many right rows precede each left row.

    ``right_tie_cols`` (optimization r16, guide §2.4): extra RIGHT-
    side columns appended to the window order AFTER (ts, side), so
    duplicate right rows at one (key, ts) resolve to the HIGHEST tie
    value's row inside the same sort the as-of already pays — callers
    that pre-deduplicated with a groupBy(key, ts)/max_by aggregation
    (one extra full exchange of the right side) get the identical
    winner for free. Left rows carry NULLs there (ties only reorder
    rows within one (ts, side) class, and left rows never feed the
    forward fill).
    """
    keys = list(on)
    lcols = [c for c in left.columns if c not in keys and c != left_ts]
    ties = list(right_tie_cols)
    l_side = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[
            F.lit(None).cast(right.schema[t].dataType).alias(f"__tie_{i}")
            for i, t in enumerate(ties)
        ],
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"asof_{c}") for c in value_cols],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("asof_ts"),
    )
    r_side = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(t).alias(f"__tie_{i}") for i, t in enumerate(ties)],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
        F.col(right_ts).alias("asof_ts"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(
            F.col("__ts"),
            F.col("__side"),
            *[F.col(f"__tie_{i}") for i in range(len(ties))],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_side.unionByName(r_side).select(
        *keys,
        "__ts",
        "__side",
        *lcols,
        *[
            F.last(f"asof_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
        F.last("asof_ts", ignorenulls=True).over(w).alias("asof_ts"),
    )
    return (
        filled.filter(F.col("__side") == 1)
        .withColumnRenamed("__ts", left_ts)
        .drop("__side")
    )
