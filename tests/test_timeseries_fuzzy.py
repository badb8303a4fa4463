"""Unit tests for timeseries resampling, blocked fuzzy matching, and
int8 embedding quantization."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from jsonl_dataingestion_pipeline_spark.operators import fuzzy
from jsonl_dataingestion_pipeline_spark.operators import timeseries as tso
from jsonl_dataingestion_pipeline_spark.operators.similarity import (
    cosine,
    dequantize,
    quantize_int8,
    quantized_cosine,
)


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 1, 1, h, m, s)


def test_time_bucket_floor(spark):
    df = spark.createDataFrame([(_ts(10, 59, 59),), (_ts(11, 0, 0),)], "t timestamp")
    got = [r.b for r in df.select(tso.time_bucket("t", 3600).alias("b")).collect()]
    assert got == [_ts(10), _ts(11)]


def test_bucket_last_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [
            (1, _ts(10, 5), 1, 10.0),
            (1, _ts(10, 5), 2, 20.0),  # same ts — higher event_id wins
            (1, _ts(10, 30), 0, 30.0),  # later ts wins the bucket
        ],
        "k int, ts timestamp, eid int, v double",
    )
    out = tso.bucket_last(df, "k", "ts", "v", 3600, tiebreak_cols=("eid",))
    rows = out.collect()
    assert len(rows) == 1 and rows[0].v == 30.0


def test_resample_locf_fills_gaps(spark):
    df = spark.createDataFrame(
        [
            (1, _ts(10, 15), 1, 1.0),
            (1, _ts(13, 45), 2, 4.0),  # gap: 11:00 and 12:00 missing
        ],
        "k int, ts timestamp, eid int, v double",
    )
    out = tso.resample_locf(df, "k", "ts", "v", 3600, tiebreak_cols=("eid",))
    got = {r.bucket: (r.v, r.filled) for r in out.collect()}
    assert got[_ts(10)] == (1.0, False)
    assert got[_ts(11)] == (1.0, True)  # LOCF
    assert got[_ts(12)] == (1.0, True)
    assert got[_ts(13)] == (4.0, False)


def test_blocked_match_basic(spark):
    ref = spark.createDataFrame(
        [(1, "alpha-one"), (2, "alpha-two"), (3, "beta-one")], "id int, nm string"
    )
    probe = spark.createDataFrame(
        [(10, "alpha-onX"), (11, "beta-one"), (12, "gamma-xyz")],
        "id int, nm string",
    )
    rows = fuzzy.blocked_match(
        probe, ref, "id", "nm", "id", "nm", max_distance=2, key_length=4
    ).collect()
    assert len(rows) == 2  # gamma has no block partner
    assert {r.distance for r in rows} == {0, 1}


def test_blocked_match_best_and_tiebreak(spark):
    ref = spark.createDataFrame(
        [(5, "aaaa-x"), (7, "aaaa-y")], "rid int, rnm string"
    )
    probe = spark.createDataFrame([(1, "aaaa-z")], "pid int, pnm string")
    out = fuzzy.blocked_match(
        probe, ref, "pid", "pnm", "rid", "rnm", max_distance=2, key_length=4
    ).collect()
    assert len(out) == 1
    # both refs at distance 1 -> lowest rid wins
    assert out[0].rid == 5 and out[0].distance == 1


def test_quantize_int8_roundtrip_error(spark):
    df = spark.createDataFrame(
        [([0.5, -1.0, 0.25, 0.0],)], "v array<double>"
    )
    q = df.select(
        quantize_int8(F.col("v")).alias("q"),
        F.aggregate(
            F.transform(F.col("v"), lambda x: F.abs(x)),
            F.lit(0.0),
            lambda a, x: F.greatest(a, x),
        ).alias("mx"),
    )
    row = q.select("q", dequantize(F.col("q"), F.col("mx")).alias("d")).head()
    assert row.q == [64, -127, 32, 0]  # 0.5*127 = 63.5 -> floor(+0.5) = 64
    for orig, deq in zip([0.5, -1.0, 0.25, 0.0], row.d):
        assert abs(orig - deq) <= 1.0 / 127 + 1e-9


def test_quantized_cosine_close_to_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0, 4.0], [2.0, 1.0, 4.0, 3.0])],
        "a array<double>, b array<double>",
    )
    row = df.select(
        cosine(F.col("a"), F.col("b")).alias("e"),
        quantized_cosine(
            quantize_int8(F.col("a")), quantize_int8(F.col("b"))
        ).alias("q"),
    ).head()
    assert abs(row.e - row.q) < 0.01


def test_quantize_zero_vector_safe(spark):
    df = spark.createDataFrame([([0.0, 0.0],)], "v array<double>")
    assert df.select(quantize_int8(F.col("v")).alias("q")).head().q == [0, 0]


def test_resample_locf_timestamp_ntz(spark):
    """Regression: parquet timestamps with isAdjustedToUTC=false load as
    TIMESTAMP_NTZ, which ``unix_micros`` rejects — the NTZ path must
    produce the same naive buckets, type-preserved."""
    df = spark.createDataFrame(
        [(1, _ts(10, 59, 59), 1, 1.0), (1, _ts(13, 0, 1), 2, 2.0)],
        "k int, ts timestamp, eid int, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    out = tso.resample_locf(df, "k", "ts", "v", 3600, tiebreak_cols=("eid",))
    assert dict(out.dtypes)["bucket"] == "timestamp_ntz"
    rows = sorted(out.collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == [_ts(10), _ts(11), _ts(12), _ts(13)]
    assert [r.v for r in rows] == [1.0, 1.0, 1.0, 2.0]
    assert [r.filled for r in rows] == [False, True, True, False]


def test_time_bucket_ntz_ltz_equivalence(spark):
    """Property: in a UTC session, the NTZ path and the LTZ path floor
    every timestamp to the same wall-clock bucket (300 fuzzed cases)."""
    import random

    rng = random.Random(99)
    rows = [
        (
            dt.datetime(2024, 1, 1)
            + dt.timedelta(seconds=rng.randrange(0, 365 * 86400), microseconds=rng.randrange(0, 1000000)),
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "t timestamp")
    both = df.select(
        tso.time_bucket("t", 900).alias("ltz"),
        tso.time_bucket(
            F.col("t").cast("timestamp_ntz"), 900, ntz=True
        ).cast("timestamp").alias("ntz"),
    )
    assert both.filter(F.col("ltz") != F.col("ntz")).count() == 0


def test_detect_gaps_and_rolling_stats(spark):
    import datetime as dt

    from jsonl_dataingestion_pipeline_spark.operators.timeseries import (
        detect_gaps,
        rolling_stats,
    )

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (1, "k", T(0), 1.0),
        (2, "k", T(1), 3.0),
        (3, "k", T(30), 5.0),   # 29-minute gap
        (4, "k", T(31), 7.0),
        (5, "j", T(0), 9.0),    # other key: no gaps
    ]
    df = spark.createDataFrame(rows, "id long, k string, ts timestamp, v double")

    gaps = detect_gaps(df, "ts", "k", min_gap_seconds=600).collect()
    assert len(gaps) == 1
    g = gaps[0]
    assert g.k == "k" and g.gap_seconds == 29 * 60
    assert g.gap_start == T(1) and g.gap_end == T(30)

    # 10-minute trailing range frame: row 2 sees rows 1-2; row 3 sees
    # only itself (outside range); row 4 sees rows 3-4
    out = {
        r.id: (r.roll_n, r.roll_mean)
        for r in rolling_stats(
            df, "ts", "k", "v", window_seconds=600
        ).collect()
    }
    assert out[1] == (1, 1.0)
    assert out[2] == (2, 2.0)
    assert out[3] == (1, 5.0)
    assert out[4] == (2, 6.0)
    assert out[5] == (1, 9.0)


def test_rolling_std_matches_statistics(spark):
    import datetime as dt
    import statistics

    from jsonl_dataingestion_pipeline_spark.operators.timeseries import (
        rolling_stats,
    )

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [(i, "k", T(i), float(v)) for i, v in enumerate([2, 4, 4, 4, 5])]
    df = spark.createDataFrame(rows, "id long, k string, ts timestamp, v double")
    out = {
        r.id: r.roll_std
        for r in rolling_stats(df, "ts", "k", "v", window_seconds=600).collect()
    }
    assert out[0] is None  # single-row frame
    assert out[4] == round(statistics.stdev([2, 4, 4, 4, 5]), 6)


def test_rolling_grid_mean_skips_null_values(spark):
    """A NULL value is left out of the value_grid mean's divisor, as
    F.avg leaves it out; roll_n still counts every event in the frame."""
    import datetime as dt

    from jsonl_dataingestion_pipeline_spark.operators.timeseries import (
        rolling_stats,
    )

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (1, "k", T(0), 1.25),
        (2, "k", T(1), None),
        (3, "k", T(2), 3.5),
        (4, "j", T(0), None),
    ]
    df = spark.createDataFrame(rows, "id long, k string, ts timestamp, v double")

    def stats(**kw):
        return {
            r.id: (r.roll_n, r.roll_mean)
            for r in rolling_stats(df, "ts", "k", "v", window_seconds=600, **kw).collect()
        }

    grid = stats(value_grid=2)
    assert grid == stats()
    assert grid[2] == (2, 1.25)
    assert grid[3] == (3, 2.375)
    assert grid[4] == (1, None)
