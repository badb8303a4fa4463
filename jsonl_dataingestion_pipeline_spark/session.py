"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for a large multi-executor cluster but work unchanged
on ``local[*]``:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- Broadcast threshold raised to 64 MB: every dimension table of the star
  schema (region/nation/customer/supplier/part at any sane SF) should
  broadcast rather than shuffle.
- Arrow enabled for the few pandas_udf paths (simhash, multimodal stubs).
- UTC session timezone so date semantics are reproducible and match the
  DuckDB correctness oracle.
- Generated-class cache sized to the engine's measured working set, so a
  warm run reuses its whole-stage-codegen classes instead of compiling
  them again.
- A JIT policy for the driver JVM: HotSpot's C2 (tier 4) thresholds
  raised by one common factor, so C2 stops compiling the planner code
  that a short batch process runs only lukewarm. The flags are JVM
  options, so they apply only when ``get_spark`` launches the JVM; a
  session whose JVM is already running (or that a cluster manager
  launched with its own driver options) keeps the JIT policy it started
  with, and an ``extra_conf`` entry for
  ``spark.driver.defaultJavaOptions`` replaces the policy.
- PySpark DataFrame-debugging origin capture DISABLED
  (``spark.python.sql.dataFrameDebugging.enabled=false``): it costs 3
  py4j round trips + a Python stack walk per DataFrame API call, pure
  driver overhead at any scale. The trade-off is that PySpark error
  messages lose the enriched "origin" call-site context — for ALL
  DataFrame code sharing the session, including the consumer's own.
  Re-enable while debugging via
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "256m",
    "spark.sql.session.timeZone": "UTC",
    # PySpark's DataFrame-debugging origin capture costs 3 py4j round
    # trips (conf.get + origin set/clear) plus a Python stack walk per
    # DataFrame API call; across this engine's large Column trees that
    # is pure driver-side overhead at ANY scale (measured: ~26s of a
    # ~90s plan-construction pass over the full headline set,
    # OPTIMIZATION_r10.md). Costs only error-message enrichment.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated-class cache, shared by every query of the JVM (a static
    # conf, read when the context starts). Spark's default of 100 is
    # smaller than one run of the curation funnels, so a run evicted and
    # recompiled (and HotSpot re-JITted) its own classes: a warm
    # perfbench curation_funnels iteration compiled 329 classes (2.1 s
    # of Janino) where a cache that holds them compiles 4. Distinct
    # classes per session, measured with a cap that never evicts (4
    # cores): curation_funnels 300 + ~4 per iteration,
    # shipment_increments 38 + ~2, one bench.py session ~1,810 (1,704 in
    # the sf0.001 warm-up, 106 more at sf0.1), one tier-1 test session
    # 5,316. The cap holds the largest with ~1.5x headroom. Cached
    # classes stay loaded: over the tier-1 session metaspace grew 213 ->
    # 249 MB and peak JVM RSS 2.10 -> 2.19 GB.
    "spark.sql.codegen.cache.maxEntries": "8192",
    # Driver JIT policy: HotSpot's tier-4 (C2) thresholds x3 (defaults
    # Invocation 5000, MinInvocation 600, Compile 15000, BackEdge 40000).
    # The driver plans a few large Catalyst trees a bounded number of
    # times per process; at the default thresholds C2 compiles that
    # lukewarm planner code and took ~60% of a warm perfbench iteration's
    # CPU. Sweep (4 cores, median of two `--trace 0` runs, factor: cpu_s
    # curation_funnels / shipment_increments): x1 23.8 / 19.6, x2 19.2 /
    # 17.2, x3 16.0 / 15.4, x5 17.4 / 14.3, x10 16.3 / 14.6 s. setup_s
    # stayed within the runs' spread; an earlier x10 sweep raised
    # curation_funnels' by 14-32%. x3 is the smallest factor that takes
    # the curation gain, and a larger one delays C2 further for long
    # sessions too (SCALING.md "Driver JIT policy"). Spark prepends
    # defaultJavaOptions to extraJavaOptions, so a caller that sets the
    # latter keeps these flags. Executor JVMs are left alone: they run
    # hot generated loops.
    "spark.driver.defaultJavaOptions": (
        "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
        "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
    ),
}


def get_spark(
    app_name: str = "jsonl-ingestion-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[Mapping[str, str]] = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` should be sized to the cluster: ~2-3x total
    cores, or left to AQE coalescing at scale.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
