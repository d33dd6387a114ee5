"""Temporal joins — as-of and range joins, the custom-operator shapes Spark
lacks as built-ins (cited in BASELINE.json's custom-operator list; DuckDB
has native ASOF JOIN, Spark does not).

Both are expressed as compositions of existing DataFrame ops — no UDFs:

- **as_of_join**: for each left row, the right row with the greatest
  right_ts ≤ left_ts (per key) — "the latest snapshot as of this event".
  Implemented with the union + window fill-forward trick: tag both sides,
  union, sort by (key, ts, side), and carry the last non-null right payload
  forward. ONE shuffle on the key, zero join fan-out — the naive
  inequality-join formulation explodes to |L|×|R| per key and then filters,
  which Catalyst plans as a broadcast-nested-loop at small scale and a
  disaster at 100 TB. The union trick is the standard scale formulation.
- **range_join**: left rows matched to right intervals
  (right.start ≤ left.ts < right.end) per key. Equi-join on (key, bucket)
  after bucketing both sides by a caller-chosen `bucket_width` — intervals
  explode to the buckets they overlap, points land in one bucket, and the
  exact range predicate filters after the equi-join. Shuffle stays keyed on
  (key, bucket); fan-out is interval_length / bucket_width per interval, a
  knob the caller sizes to the data (same trick Databricks' range-join hint
  applies internally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..checkpointing import truncate_lineage as _truncate


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str] | None = None,
    tolerance_s: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row gains the nearest right row per key —
    `direction='backward'` (default) the most recent right row at or
    BEFORE its timestamp (the snapshot lookup); `direction='forward'` the
    earliest right row at or AFTER it (the "next refresh/settlement after
    this event" shape — pandas merge_asof's forward direction). Left rows
    with no such right row keep nulls. `tolerance_s` drops matches farther
    than the window in the chosen direction.

    Plan: union(tagged left, tagged right) → window partitionBy(keys)
    orderBy(ts, side) → last(right-row STRUCT, ignorenulls) over
    rows-unbounded-preceding → keep left rows. The entire right payload
    rides in ONE struct column, so the fill-forward is atomic per right
    row: a legitimately-NULL field in the latest snapshot stays NULL
    instead of back-filling from an older row (per-column last() would
    compose a snapshot that never existed). Right rows sort BEFORE left
    rows at equal timestamps (side 0 < 1), so an exactly-simultaneous
    snapshot matches — the ≤ semantics.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("as_of_join: direction must be 'backward' or 'forward'")
    right_payload = right_payload or [
        c for c in right.columns if c not in keys and c != right_ts
    ]
    clash = [c for c in right_payload if c in left.columns]
    if clash:
        raise ValueError(
            f"as_of_join: right payload columns {clash} collide with left "
            "columns — rename them on the right side (or pass an explicit "
            "right_payload) so the output has unambiguous names"
        )
    r_struct = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(c) for c in right_payload],
    )
    r_struct_type = right.select(r_struct.alias("__r")).schema["__r"].dataType

    l_tagged = (
        left.withColumn("__side", F.lit(1))
        .withColumn("__ts", F.col(left_ts))
        .withColumn("__r", F.lit(None).cast(r_struct_type))
    )
    # a right row with a NULL timestamp cannot be "as of" anything — and
    # unfiltered it would sort to an end of the walk and leak into every
    # left row on that side (nulls-first) or confuse the tolerance check
    r_tagged = right.filter(F.col(right_ts).isNotNull()).select(
        *[F.col(k) for k in keys],
        F.lit(0).alias("__side"),
        F.col(right_ts).alias("__ts"),
        r_struct.alias("__r"),
    )
    for c in left.columns:
        if c not in keys:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))

    u = l_tagged.unionByName(r_tagged)
    # forward = the same fill-forward walked in reverse time order; right
    # rows still sort first at equal timestamps (side 0 < 1) so the
    # boundary match is inclusive in both directions. NULL left timestamps
    # sort FIRST in either walk so nothing precedes them — they keep a
    # null match instead of grabbing the extreme right row (plain desc
    # puts nulls LAST, which handed them the earliest snapshot).
    ts_order = (
        F.col("__ts").asc_nulls_first()
        if direction == "backward"
        else F.col("__ts").desc_nulls_first()
    )
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select("*", F.last(F.col("__r"), ignorenulls=True).over(w).alias("__f"))
    out = filled.filter(F.col("__side") == 1)
    if tolerance_s is not None:
        from pyspark.sql import types as T

        def seconds(c):
            if isinstance(left.schema[left_ts].dataType, (T.TimestampType, T.TimestampNTZType)):
                return F.unix_timestamp(c)
            return c.cast("double")  # numeric event-time axis

        gap = seconds(F.col("__ts")) - seconds(F.col("__f.__rts"))
        if direction == "forward":
            gap = -gap
        in_tol = F.col("__f").isNotNull() & (gap <= tolerance_s)
        out = out.withColumn("__f", F.when(in_tol, F.col("__f")))
    return out.select(
        *left.columns,
        *[F.col(f"__f.{c}").alias(c) for c in right_payload],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    keys: list[str],
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Match each point row to the interval rows containing it
    ([start, end) per key) via bucketed equi-join: intervals explode to
    every `bucket_width`-sized bucket they overlap, points hash to one
    bucket, the join runs on (keys..., bucket), and the exact containment
    predicate filters the survivors. `bucket_width` trades interval fan-out
    against per-bucket match density — set it near the median interval
    length.

    `how`: 'inner' (matched pairs only) or 'left' (every point preserved;
    unmatched points carry null interval columns — implemented as inner +
    anti-join union, because filtering the exact predicate after a left
    join would silently drop the null-extended rows and degenerate to
    inner). Empty/inverted intervals (end <= start) contain nothing under
    [start, end) and are dropped before bucketing — this also stops
    `F.sequence` from auto-stepping DESCENDING on an inverted pair, which
    would fan a single corrupt row out into ~(start-end)/width bucket rows.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            "range_join supports how='inner' or 'left'; right/full would "
            "need the interval side preserved, which this bucketed "
            "formulation does not provide"
        )
    p = points.withColumn(
        "__bucket", F.floor(F.col(point_col).cast("double") / bucket_width).cast("long")
    )
    if how == "left":
        # __pid is consumed by TWO subtrees (matched + left-anti); without a
        # materialization barrier each would re-evaluate
        # monotonically_increasing_id under its own (nondeterministic
        # post-shuffle) row order, so a point could appear in both or
        # neither. The checkpoint pins one assignment; it materializes only
        # the compact point rows, never the join fan-out.
        p = _truncate(p.withColumn("__pid", F.monotonically_increasing_id()))
    i = intervals.filter(F.col(end_col) > F.col(start_col)).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col).cast("double") / bucket_width).cast("long"),
                F.floor(
                    (F.col(end_col).cast("double") - 1e-9) / bucket_width
                ).cast("long"),
            )
        ),
    )
    matched = (
        p.join(i, [*keys, "__bucket"], "inner")
        .filter(
            (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
        )
        .drop("__bucket")
    )
    if how == "inner":
        return matched
    unmatched = p.join(matched.select("__pid"), "__pid", "left_anti").drop("__bucket")
    for f in intervals.schema.fields:
        if f.name not in keys:
            unmatched = unmatched.withColumn(f.name, F.lit(None).cast(f.dataType))
    return matched.unionByName(unmatched).drop("__pid")


def resample_ffill(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    keys: list[str] | None = None,
    step: str = "15 minutes",
    align: str = "hour",
) -> DataFrame:
    """Time-series resample onto a regular grid with forward fill — the
    hypertable `time_bucket_gapfill` + `locf` shape: per key, emit one row
    every `step` from `date_trunc(align, min(ts))` to `max(ts)`, each
    carrying the latest observation at-or-before the grid instant (null
    before the first observation). Output: keys + (grid_ts, value).

    Observations are first collapsed to one value per (key, ts) — max, a
    deterministic tie-break — so the fill is well-defined when events
    share a timestamp. The fill itself reuses the as_of_join union trick
    (this module's header): grid points and observations union, sort per
    key by (ts, side) with observations first at equal ts (grid instants
    are inclusive of their own timestamp), and `last(value, ignorenulls)`
    carries forward. ONE key-partitioned shuffle; no inequality join, no
    fan-out. The grid generates distributed via `sequence()` + explode —
    per-key ranges, never a driver-side calendar.

    At 100 TB the knobs that matter: `step` bounds grid fan-out
    (range/step rows per key), and a key whose history spans years at
    fine steps should be resampled per partition-pruned time slice — the
    window itself holds O(1) state per row (running last non-null).
    """
    keys = keys or []
    obs = df.groupBy(*keys, ts_col).agg(F.max(value_col).alias("__v"))
    bounds = obs.groupBy(*keys).agg(
        F.date_trunc(align, F.min(ts_col)).alias("__t0"),
        F.max(ts_col).alias("__t1"),
    )
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence(F.col("__t0"), F.col("__t1"), F.expr(f"interval {step}"))
        ).alias(ts_col),
    )
    g = grid.select(*keys, ts_col, F.lit(None).cast("double").alias("__v"),
                    F.lit(1).alias("__side"))
    o = obs.select(*keys, ts_col, F.col("__v").cast("double"), F.lit(0).alias("__side"))
    w = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        g.unionByName(o)
        .withColumn("__f", F.last(F.col("__v"), ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .select(*keys, F.col(ts_col).alias("grid_ts"), F.col("__f").alias("value"))
    )
