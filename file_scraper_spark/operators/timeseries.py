"""Time-series operators ([EXT]): gap filling, interpolation, and
time-range window frames over the events stream table.

The reference has no time-series surface at all (SURVEY §2.A: its only
temporal construct is the 1-second micro-batch flush, src/fs.rs:100);
these are the hypertable-style operations a telemetry/training
pipeline layer needs next to `timeseries_rollup`:

- ``timeseries_gapfill``   — dense hourly spine, zero-filled buckets
- ``timeseries_locf``      — last-observation-carried-forward fill
- ``window_time_range``    — trailing-interval RANGE window frames

All three are oracle-checked: spines are integer sequences of hour
buckets, fills are quantized-BIGINT sums, and RANGE frame membership
is microsecond-exact in both engines (events.ts is micro-aligned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from file_scraper_spark.functions.exact import QUANT, dsum, oracle_dsum
from file_scraper_spark.registry import query
from file_scraper_spark.tables import load

#: bound the LOCF output: spine users 0..LOCF_USERS-1
LOCF_USERS = 20

#: gapfill force-broadcasts the aggregated hourly frame only while its
#: worst-case size — spine hours x distinct types GRID CELLS, the
#: hourly frame's upper bound — stays under this cap: 250k cells x
#: ~40 B ~ the default 10 MB autoBroadcastJoinThreshold. Past the cap
#: (unbounded type cardinality OR a long time range) the hint is
#: dropped and the join falls back to Catalyst's size-based choice:
#: identical result, never a FORCED driver-sized broadcast. (The cap
#: is on hours*types, not types alone: 5k types over a 2-year hourly
#: spine is ~87M cells — a type-only cap would still force that.)
GAPFILL_BROADCAST_CELL_CAP = 250_000

def gapfill_dense(
    ev: DataFrame,
    broadcast_cell_cap: int = GAPFILL_BROADCAST_CELL_CAP,
    probe: str | None = None,
) -> DataFrame:
    """Dense (hour, event_type) gap-fill over an (bucket, event_type,
    value) frame — the operator behind timeseries_gapfill, reusable and
    guard-tested on synthetic frames.

    Cardinality guard: one cheap probe aggregation
    (exact count_distinct(event_type) + min/max bucket, two pruned
    columns, run on every call) bounds the gap-filled grid at
    hours x types cells; only under ``broadcast_cell_cap`` is the
    hourly frame broadcast-HINTED (bounded grid, the common telemetry
    case). Past the cap the hint is dropped — Catalyst/AQE keep making
    the stats-based call, but nothing forces a driver-sized broadcast.
    Both branches compute identical results; the guard only picks the
    physical join strategy — the same discipline locf_dense_fill
    applies by construction (its only broadcast is the 1-row bounds).

    ``probe`` (default: the ``FSS_GAPFILL_PROBE`` env var, else
    ``"auto"``): ``"never"`` skips the eager probe and assumes the
    bounded branch — for plan-only tooling (dump_plans) that must not
    trigger Spark jobs at DataFrame-build time, mirroring
    exact_collapse's mode."""
    import os  # noqa: PLC0415

    if probe is None:
        probe = os.environ.get("FSS_GAPFILL_PROBE", "auto")
    if probe not in ("auto", "never"):
        raise ValueError(f"gapfill_dense probe {probe!r}")
    if probe == "never":
        n_cells = 0  # assume bounded: keep the hint, plan is static
    else:
        # EXACT distinct, not approx_count_distinct: the probe is one
        # pruned two-column scan anyway, and an HLL underestimate
        # (~2% typical) could put n_cells just under the cap while
        # the true grid is over it, forcing a broadcast past the
        # intended bound (round-7 advisory).
        row = ev.agg(
            F.count_distinct("event_type").alias("nt"),
            F.min("bucket").alias("lo"),
            F.max("bucket").alias("hi"),
        ).first()
        hours = (
            0
            if row["lo"] is None
            else int((row["hi"] - row["lo"]).total_seconds() // 3600) + 1
        )
        n_cells = int(row["nt"]) * hours
    bounds = ev.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("bucket")
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    hourly = ev.groupBy("bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("sv")
    )
    if n_cells <= broadcast_cell_cap:
        hourly = F.broadcast(hourly)
    return grid.join(hourly, ["bucket", "event_type"], "left").select(
        "bucket",
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("sv", F.lit(0.0)).alias("sum_value"),
    )


@query(
    "timeseries_gapfill",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
             event_type, value
      FROM events
    ), b AS (
      SELECT min(bucket) AS lo, max(bucket) AS hi FROM ev
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM b
    ), grid AS (
      SELECT s.bucket, t.event_type
      FROM spine s, (SELECT DISTINCT event_type FROM ev) t
    ), hourly AS (
      SELECT bucket, event_type,
             COUNT(*) AS n, {oracle_dsum('value')} AS sv
      FROM ev GROUP BY bucket, event_type
    )
    SELECT g.bucket, g.event_type,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
           COALESCE(h.sv, 0.0) AS sum_value
    FROM grid g LEFT JOIN hourly h
      ON h.bucket = g.bucket AND h.event_type = g.event_type
    """,
    tags=("timeseries",),
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series gap filling: every (hour, event_type) cell of
    the full [min, max] range appears in the output, absent buckets
    zero-filled — the `time_bucket_gapfill` operation of hypertable
    stores, built from `sequence()` + explode + a broadcast left join.

    Scale shape: the only full-data pass is the hourly pre-aggregation
    (map-side combined shuffle on (bucket, type)). The spine is
    O(hours x types) regardless of row count, and the final left join
    broadcasts the aggregated hourly frame only while |types| is
    bounded — see ``gapfill_dense`` for the cardinality guard."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type", "value"
    )
    return gapfill_dense(ev)


def locf_dense_fill(observations: DataFrame, bounds: DataFrame) -> DataFrame:
    """General LOCF operator: densify sparse per-key observations onto
    an hourly spine and carry the last observation forward.

    ``observations``: (user_id, bucket, sv) sparse hourly sums;
    ``bounds``: a single row (lo, hi) delimiting the spine.

    Scale shape — the grouped dense spine (survives 10^9 users):
    - ONE shuffle keyed on user_id folds each user's observations
      into a map (state per key <= spine length, not data size);
    - the dense timeline explodes a sequence(lo, hi) per user against
      that map — no spine x users grid JOIN, and no broadcast of any
      data-dependent side (the only broadcast is the 1-row bounds);
    - the running `last(ignorenulls)` window partitions on the SAME
      user_id key, so Catalyst reuses the aggregation exchange — the
      whole operator is a single hash-partitioning of the
      observations (asserted in tests/test_plans.py).
    """
    per_user = observations.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "sv"))
        ).alias("obs")
    )
    dense = per_user.join(F.broadcast(bounds)).select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("bucket"),
        "obs",
    )
    sv = F.element_at("obs", F.col("bucket"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        "user_id",
        "bucket",
        sv.isNotNull().cast("int").alias("observed"),
        F.last(sv, ignorenulls=True).over(w).alias("filled_value"),
    )



@query(
    "timeseries_locf",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
             value
      FROM events
      WHERE event_type = 'purchase' AND user_id < {LOCF_USERS}
    ), b AS (
      SELECT min(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS lo,
             max(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM b
    ), grid AS (
      SELECT u.user_id, s.bucket
      FROM spine s, (SELECT DISTINCT user_id FROM ev) u
    ), hourly AS (
      SELECT user_id, bucket, {oracle_dsum('value')} AS sv
      FROM ev GROUP BY user_id, bucket
    )
    SELECT g.user_id, g.bucket,
           CAST((h.sv IS NOT NULL) AS INT) AS observed,
           last_value(h.sv IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM grid g LEFT JOIN hourly h
      ON h.user_id = g.user_id AND h.bucket = g.bucket
    """,
    tags=("timeseries",),
)
def timeseries_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward interpolation: per-user hourly
    spine, observed hours carry their (exact-sum) purchase value,
    gaps repeat the latest earlier observation; leading gaps stay
    NULL. `locf()` of hypertable stores = `last(col, ignorenulls)`
    over an unbounded-preceding running frame.

    The operator itself (``locf_dense_fill``) is unbounded — grouped
    dense spine, one shuffle, no data-dependent broadcast; the
    ``user_id < LOCF_USERS`` predicate here only sizes the REGISTERED
    demo query's output for the driver gate (a filter, not a
    structural cap — drop it and the same plan serves every user)."""
    ev = load(spark, sf_dir, "events")
    purch = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") < LOCF_USERS)
    ).select(
        "user_id", F.date_trunc("hour", "ts").alias("bucket"), "value"
    )
    bounds = ev.select(F.date_trunc("hour", "ts").alias("b")).agg(
        F.min("b").alias("lo"), F.max("b").alias("hi")
    )
    hourly = purch.groupBy("user_id", "bucket").agg(dsum("value").alias("sv"))
    return locf_dense_fill(hourly, bounds)


@query(
    "window_time_range",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(floor(value * {QUANT}) AS BIGINT)) OVER w
                AS DOUBLE) / {QUANT} AS sum_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts
      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """,
    tags=("timeseries", "window"),
)
def window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-interval window frame: for every event, the count and
    exact sum of the same user's events in the preceding hour
    (inclusive of the boundary and of same-timestamp peers — RANGE
    frame semantics, identical in both engines). This is the
    value-based frame the §2.B `window_lag_frame` row-based frame
    cannot express: the frame width varies per row with event density.

    Spark has no interval RANGE frames over timestamps, so the order
    key is `unix_micros(ts)` with a [-3.6e9, 0] micros range — exact,
    since events.ts is microsecond-aligned. Scale shape: one shuffle
    on user_id, then a per-partition ordered scan with a sliding
    two-pointer frame; no state beyond the 1-hour tail."""
    # cast: tolerate TIMESTAMP_NTZ-encoded events tables (unix_micros
    # only accepts TIMESTAMP; the ordering key is timezone-invariant)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (
            F.sum(F.floor(F.col("value") * QUANT)).over(w).cast("double")
            / QUANT
        ).alias("sum_1h"),
    )


@query(
    "timeseries_ohlc",
    oracle=f"""
    SELECT event_type,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
           first(value ORDER BY ts, event_id) AS open,
           last(value ORDER BY ts, event_id) AS close,
           MAX(value) AS high,
           MIN(value) AS low,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {oracle_dsum('value')} AS volume
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick downsampling — the canonical hypertable
    continuous aggregate (TimescaleDB's candlestick_agg): per
    (event_type, hour) the open/close are the values at the earliest/
    latest (ts, event_id) — min_by/max_by on a composite unique key,
    single-pass and map-side combinable, NOT a windowed
    row_number()=1 (no per-bucket sort, no unbounded state; the
    running extremum is one row per bucket per map task). high/low
    are plain MIN/MAX (exact comparisons, order-insensitive) and
    volume is the quantized exact sum.

    Determinism: the ordering key (ts, event_id) is unique, so open/
    close are well-defined under ties on ts; a NULL value AT the
    extremum is returned as NULL by both engines (verified — DuckDB
    first/last ORDER BY and Spark min_by/max_by agree)."""
    ev = load(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max_by("value", key).alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("volume"),
        )
    )


EMA_W = 16  # truncated EMA window (alpha = 1/2, zero-padded history)

_EMA_ORACLE_TERMS = " + ".join(
    f"COALESCE(lag(xq, {k}) OVER "
    "(PARTITION BY event_type ORDER BY bucket), 0)"
    f" * {1 << (EMA_W - 1 - k)}"
    for k in range(EMA_W)
)


@query(
    "timeseries_ema",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
             COALESCE(SUM(CAST(floor(value * {QUANT}) AS BIGINT)), 0)
               AS xq
      FROM events
      GROUP BY event_type, date_trunc('hour', ts)
    )
    SELECT event_type, bucket,
           CAST(xq AS DOUBLE) / {QUANT} AS x_sum,
           CAST(({_EMA_ORACLE_TERMS}) AS DOUBLE)
             / {1 << EMA_W} / {QUANT} AS ema
    FROM b
    """,
)
def timeseries_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average over hourly buckets — the smoothing
    continuous-aggregate of hypertable stores, made bit-exact across
    engines by keeping the recursion INTEGER: the alpha=1/2 EMA
    truncated to the last {EMA_W} observed buckets is
    sum(x[i-k] * 2^({EMA_W}-1-k)) — a pure BIGINT dot product with
    power-of-two weights (no float accumulation to order-diverge) —
    and only the final rescale divides, first by 2^{EMA_W} (exact)
    then by the quantization unit. Zero-padded history: a bucket with
    fewer than {EMA_W} predecessors (or an all-NULL bucket sum,
    COALESCE'd to 0) smooths against zeros, identically in both
    engines.

    Plan shape: the {EMA_W} lag() terms share ONE window (same
    partition/order), so the whole smoothing pass is a single
    WindowExec behind a single exchange+sort on (type, bucket) — the
    per-type bucket series, one row per hour, is tiny relative to the
    event scan that feeds it."""
    ev = load(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.coalesce(
            F.sum(F.floor(F.col("value") * float(QUANT))), F.lit(0)
        ).alias("xq")
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    y_scaled = None
    for k in range(EMA_W):
        term = F.coalesce(F.lag("xq", k).over(w), F.lit(0)) * (
            1 << (EMA_W - 1 - k)
        )
        y_scaled = term if y_scaled is None else y_scaled + term
    return b.select(
        "event_type",
        "bucket",
        (F.col("xq").cast("double") / QUANT).alias("x_sum"),
        (y_scaled.cast("double") / (1 << EMA_W) / QUANT).alias("ema"),
    )


@query(
    "interval_join",
    oracle="""
    WITH a AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             MIN(ts) AS a_start, MAX(ts) AS a_end
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ), b AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             MIN(ts) AS b_start, MAX(ts) AS b_end
      FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT b.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(date_diff('microsecond',
                              greatest(a_start, b_start),
                              least(a_end, b_end))) AS BIGINT)
             AS overlap_us
    FROM a JOIN b
      ON a.day = b.day
     AND a.a_start <= b.b_end AND b.b_start <= a.a_end
    GROUP BY b.event_type
    """,
)
def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval OVERLAP join (two interval sets, pairs that intersect
    in time) — the third temporal-join primitive next to asof_join
    (nearest-earlier) and range_join (points in range). Inputs are
    derived in-plan: per-(user, day) activity spans vs per-(type, day)
    burst windows.

    The naive spelling is a range-predicate join — a cartesian
    blow-up per day at scale. Spark-first form: GRID CELLS. Each
    interval explodes to the hour cells it covers (<= 24 rows/day)
    and the join is an EQUI-join on (day, hour-cell), so Catalyst
    shuffles both sides on a hash key instead of nested-looping range
    predicates. Exactly-once attribution WITHOUT a distinct: two
    overlapping intervals share every cell of their intersection, so
    the pair is kept only in the intersection's FIRST cell
    (date_trunc(hour, greatest(starts)) — both sides provably cover
    it), and every other shared cell drops the duplicate. Overlap
    mass is exact integer microseconds.

    100 TB knob: cell width trades explode fan-out (span/width rows
    per interval) against per-cell join density — hourly cells fit
    day-bounded spans; a year-long-interval workload wants daily or
    weekly cells. The same one-knob trade as dedup's band bits,
    documented here so the operator is tuned, not rewritten."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    day = F.date_trunc("day", "ts").alias("day")
    a = ev.groupBy("user_id", day).agg(
        F.min("ts").alias("a_start"), F.max("ts").alias("a_end")
    )
    b = ev.groupBy("event_type", day).agg(
        F.min("ts").alias("b_start"), F.max("ts").alias("b_end")
    )

    def cells(df, start, end):
        return df.withColumn(
            "cell",
            F.explode(
                F.sequence(
                    F.date_trunc("hour", F.col(start)),
                    F.date_trunc("hour", F.col(end)),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ),
        )

    ac = cells(a, "a_start", "a_end")
    bc = cells(b, "b_start", "b_end").withColumnRenamed("day", "bday")
    j = ac.join(bc, (ac["day"] == bc["bday"]) & (ac["cell"] == bc["cell"]))
    first_cell = F.date_trunc(
        "hour", F.greatest("a_start", "b_start")
    )
    overlap = (
        j.filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
            & (ac["cell"] == first_cell)
        )
    )
    dur = F.unix_micros(
        F.least("a_end", "b_end").cast("timestamp")
    ) - F.unix_micros(F.greatest("a_start", "b_start").cast("timestamp"))
    return overlap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(dur).alias("overlap_us"),
    )
