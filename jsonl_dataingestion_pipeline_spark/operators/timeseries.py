"""Time-series resampling operators (hypertable-style continuous views).

Regularize an irregular event stream onto a fixed grid: per-key bucket
downsampling, dense grid generation, and last-observation-carried-forward
(LOCF) gap filling.  This is the batch form of a timescale-style
``time_bucket_gapfill`` + ``locf`` rollup.

Scale design: everything partitions by the series key.
- Bucketing is a map-side expression (no shuffle beyond the one grouped
  aggregate).
- The dense grid is generated per key with ``sequence`` + ``explode`` —
  linear in output rows, no cross-key coordination, no global sort.
- LOCF is ``last(value, ignorenulls=True)`` over a key-partitioned
  window — Spark's WindowExec with a running frame, single pass.
A hot key costs its own span length, the same lower bound any
sequential gap-filler has.

All bucket arithmetic is integer epoch math (``ts - epoch % step``) so
the DuckDB oracle replays it exactly, microseconds included.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ntz_epoch() -> Column:
    # built lazily: F.expr needs an active SparkContext at call time
    return F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")


def time_bucket(
    ts: Column | str, step_seconds: int, *, ntz: bool = False
) -> Column:
    """Floor a timestamp to a fixed grid, microsecond-exact.

    ``ts - (epoch_us % step)`` — identical arithmetic exists in DuckDB
    (``ts - to_microseconds(epoch_us(ts) % step)``), unlike
    ``date_trunc`` which only hits whole units.

    ``ntz=True`` handles TIMESTAMP_NTZ columns (what Spark infers from
    parquet timestamps with ``isAdjustedToUTC=false``): ``unix_micros``
    rejects NTZ, so epoch math runs via ``timestampdiff``/``timestampadd``
    against a naive epoch — fully timezone-independent, type-preserving.
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    step_us = F.lit(int(step_seconds) * 1_000_000)
    if ntz:
        epoch = _ntz_epoch()
        us = F.timestamp_diff("MICROSECOND", epoch, t)
        return F.timestamp_add("MICROSECOND", us - us % step_us, epoch)
    off = F.unix_micros(t) % step_us
    return F.timestamp_micros(F.unix_micros(t) - off)


def _is_ntz(df: DataFrame, ts_col: str) -> bool:
    return dict(df.dtypes).get(ts_col) == "timestamp_ntz"


def bucket_last(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Downsample: deterministic last value per (key, bucket).

    "Last" = max ``ts`` then the tiebreak columns descending, picked via
    ``row_number`` so the result is stable under any partitioning.
    Returns ``key_col, bucket, value_col``.
    """
    b = time_bucket(ts_col, step_seconds, ntz=_is_ntz(df, ts_col)).alias(
        "bucket"
    )
    w = Window.partitionBy(key_col, "bucket").orderBy(
        F.col(ts_col).desc(), *[F.col(c).desc() for c in tiebreak_cols]
    )
    return (
        df.select(F.col(key_col), b, F.col(ts_col), *[F.col(c) for c in tiebreak_cols], F.col(value_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key_col, "bucket", value_col)
    )


def dense_grid(
    sampled: DataFrame, key_col: str, step_seconds: int
) -> DataFrame:
    """Per-key dense bucket grid spanning each key's own [min, max]
    bucket range: ``sequence`` + ``explode``, no shuffle beyond the
    min/max aggregate."""
    span = sampled.groupBy(key_col).agg(
        F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx")
    )
    step = F.expr(f"interval {int(step_seconds)} seconds")
    return span.select(
        F.col(key_col),
        F.explode(F.sequence(F.col("_mn"), F.col("_mx"), step)).alias(
            "bucket"
        ),
    )


def resample_locf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Full resample: bucket-last downsample -> dense per-key grid ->
    left join -> LOCF fill. Returns ``key_col, bucket, value_col,
    filled`` (filled = True where LOCF supplied the value)."""
    sampled = bucket_last(
        df, key_col, ts_col, value_col, step_seconds, tiebreak_cols
    )
    grid = dense_grid(sampled, key_col, step_seconds)
    joined = grid.join(sampled, [key_col, "bucket"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled_val = F.last(value_col, ignorenulls=True).over(w)
    return joined.select(
        F.col(key_col),
        F.col("bucket"),
        filled_val.alias(value_col),
        F.col(value_col).isNull().alias("filled"),
    )


def _epoch_seconds(df: DataFrame, ts_col: str) -> Column:
    """Whole epoch seconds for TIMESTAMP or TIMESTAMP_NTZ columns
    (``cast('long')`` rejects NTZ; second-diff against a naive epoch is
    type-independent and timezone-free)."""
    t = F.col(ts_col)
    if _is_ntz(df, ts_col):
        return F.timestamp_diff("SECOND", _ntz_epoch(), t)
    return t.cast("long")


def detect_gaps(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    min_gap_seconds: int,
) -> DataFrame:
    """Per-key silence detection: every pair of consecutive events more
    than ``min_gap_seconds`` apart — the monitoring primitive behind
    "sensor went dark" / "pipeline stalled" alerts, and the inverse of
    LOCF gap-filling (:func:`resample_locf` repairs what this reports).

    One key-partitioned window (lag), then a filter — no grid
    materialization, so cost is O(events), not O(time range).
    Duplicate timestamps are harmless: any peer ordering yields the
    same gap set (gaps between equal timestamps are zero).

    Returns (key, gap_start, gap_end, gap_seconds).
    """
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    sec = _epoch_seconds(df, ts_col)
    out = (
        df.select(F.col(key_col), F.col(ts_col), sec.alias("__s"))
        .withColumn("__prev_ts", F.lag(ts_col).over(w))
        .withColumn("__prev_s", F.lag("__s").over(w))
        .filter(
            F.col("__prev_s").isNotNull()
            & (F.col("__s") - F.col("__prev_s") > min_gap_seconds)
        )
    )
    return out.select(
        F.col(key_col),
        F.col("__prev_ts").alias("gap_start"),
        F.col(ts_col).alias("gap_end"),
        (F.col("__s") - F.col("__prev_s")).cast("long").alias("gap_seconds"),
    )


def rolling_stats(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    *,
    window_seconds: int,
    scale: int = 6,
    value_grid: "int | None" = None,
) -> DataFrame:
    """Trailing time-RANGE window per key: for every event, count/mean/
    min/max of ``value_col`` over the last ``window_seconds`` seconds
    INCLUSIVE of the current instant — a true range frame (peers by
    time value), not a row frame, so irregular sampling is handled
    correctly and equal timestamps always see identical frames (which
    is also what makes it engine-deterministic).

    One key-partitioned range window over epoch seconds; scales per key
    like every window here.

    ``value_grid`` (r11 float-sum sweep): when the values lie on a
    10^-value_grid decimal grid (e.g. 2 for cent-priced amounts), pass
    it so the mean's numerator is summed as EXACT integer grid units —
    the frame's peer rows (equal timestamps) have no deterministic
    order, so a DOUBLE sum's rounding error is partition-order-
    dependent and a mean rounded off-grid at ``scale`` can flip its
    last digit (the r10 q20 failure class). With ``value_grid`` the
    only float arithmetic is one division chain + round per row. The
    divisor is the frame's non-null value count, as in ``F.avg``.
    ``roll_std`` keeps the float path (its consumers are audit-only) —
    don't compare it cross-engine at full precision.

    Returns the input plus (roll_n, roll_mean, roll_min, roll_max,
    roll_std — sample stddev, NULL for single-row frames).
    """
    sec = _epoch_seconds(df, ts_col)
    base = df.withColumn("__s", sec)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("__s").asc())
        .rangeBetween(-int(window_seconds), 0)
    )
    if value_grid is not None:
        g = float(10 ** value_grid)
        vu = F.round(F.col(value_col) * F.lit(g)).cast("long")
        mean = F.round(
            F.sum(vu).over(w).cast("double")
            / F.lit(g)
            / F.count(value_col).over(w).cast("double"),
            scale,
        )
    else:
        mean = F.round(F.avg(value_col).over(w), scale)
    return (
        base.withColumn("roll_n", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("roll_mean", mean)
        .withColumn("roll_min", F.round(F.min(value_col).over(w), scale))
        .withColumn("roll_max", F.round(F.max(value_col).over(w), scale))
        .withColumn(
            "roll_std", F.round(F.stddev_samp(value_col).over(w), scale)
        )
        .drop("__s")
    )
