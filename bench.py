#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

The FINAL stdout line is a COMPACT JSON object (< 200 chars — the
driver captures only the last 2,000 chars of stdout, and round 5's
34-query single-line headline outgrew that window, recording nothing):
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...}, "runs_per_query": 2, "sf": <sf>}
where "queries" on the final line is kept compact; the FULL per-query
and first_run dicts are printed on their own earlier stdout lines
(prefixed ``#detail``) and written to ``bench_detail.json`` next to
this script.

Timing excludes SparkSession/JVM startup (one warmup action runs first)
and measures full query execution to a driver-side materialization.

The run is SELF-DESCRIBING (round 9, after the round-8 core-set numbers
proved unattributable): ``bench_detail.json`` records the runtime
(pyspark / java / python versions, local dir, cpu/mem), a contention
sentinel (one fixed spark.range sum re-timed at start / middle / end of
the timed loop), per-query JVM GC-time deltas, and the 1-minute loadavg
sampled before each query. CONTAMINATION ATTRIBUTION (round 10): the
PRIMARY cleanliness flag is ``core_steal_clean`` — every frozen-core
query's selected attempt measured < 1s of /proc/stat hypervisor steal.
``sentinel_spread`` > ~1.3x remains recorded but is corroborating, not
primary: idle-box runs showed spreads of 2.4-3.8 with near-zero steal
(the canary also measures the harness's own JVM heap aging); under the
r8/r9 REAL contention the spread and the steal counters moved together.
Both land on the final stdout line.

STEAL-AWARE RETRY (round 10, VERDICT r9 #2): every attempt records its
own /proc/stat steal delta; attempts measured with > ``steal_retry_s``
seconds of hypervisor steal (default 1.0, env
``SPARK_GRAFT_STEAL_RETRY``, <= 0 disables) are treated as
contaminated and the query re-runs — up to
``SPARK_GRAFT_STEAL_EXTRA_ATTEMPTS`` (default 3) extra attempts — so
the reported wall is the min over CLEAN attempts whenever the
hypervisor allows one. If no clean attempt lands within the budget the
least-stolen attempt is reported (and its steal recorded, so the
artifact still self-flags). ``steal_s``/``gc_ms`` are the SELECTED
attempt's deltas; per-attempt (wall, steal, gc) triples land in
``bench_detail.json`` under ``attempt_detail``, which is now COMMITTED
(was gitignored — the round-9 attribution evidence lived only in
prose).

Each query runs ``runs_per_query`` times and reports the per-query MIN
(steady-state wall clock); ``first_run`` is also reported per query. The
first execution of a heavy query at the bench SF carries a one-time
constant (q25 at sf0.1, 4 cores: 5.7-6.5s first run, 3.4-3.8s after).
The constant does not grow with the data, so steady state is the number
that predicts throughput at scale. It is NOT fresh plan shapes compiling
on first touch: the sf0.001 warmup compiles ~1,700 whole-stage-codegen
classes, and with a generated-class cache that holds them
(``spark.sql.codegen.cache.maxEntries``, set in ``session._DEFAULTS``)
the timed loop compiles only 106-120 more over all 117 queries and 234
attempts: 98 queries compile none, q25 two. Spark's default cache of 100
entries evicted the warmup's classes before the timed loop reached them,
so every attempt compiled again (2,721-2,762 classes, 18.7-20.2s of
Janino time; two runs each). The rest of the constant is not codegen and
is not attributed yet. Per query, ``bench_detail.json`` records
``codegen_compiles``, ``codegen_ms`` (Janino) and ``jit_ms`` (HotSpot),
each summed over the attempts, and ``runtime`` records the effective
cache size.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: one per operator family, weighted toward the heavy ones.
#
# CORE is the FROZEN round-over-round comparison set — the 34 queries
# benched identically since round 5. Its sum is emitted as
# ``core_value`` so consecutive rounds diff one number instead of
# reconstructing a common subset; new operators join HEADLINE (and the
# per-query dict) but never CORE.
CORE = [
    "q01_pricing_summary",
    "q03_region_revenue",
    "q05_latest_order_per_customer",
    "q08_windowed_event_agg",
    "q10_sessionize",
    "q12_delay_classify",
    "q17_text_summaries",
    "q20_quality_score",
    "q22_fingerprint",
    "q24_minhash_signature",
    "q25_ngram_jaccard_pairs",
    "q26_minhash_lsh_pairs",
    "q28_cosine_topk",
    "q30_doc_pipeline",
    "q40_shipment_pipeline_full",
    "q68_decontamination",
    "q74_resample_locf",
    "q84_line_dedup",
    "q85_hll_rollup",
    "q86_zorder_cells",
    "q88_profile_columns",
    "q106_gopher_rules",
    "q109_html_extract",
    "q111_lm_perplexity",
    "q113_cms_heavy_hitters",
    "q116_pagerank",
    "q118_web_pipeline",
    "q133_kmeans",
    "q134_quality_classifier",
    "q135_link_graph",
    "q137_fuzzy_decontamination",
    "q140_image_neardup_pairs",
    "q142_bloom_membership",
    "q143_sequence_packing",
]

HEADLINE = [
    "q01_pricing_summary",
    "q03_region_revenue",
    "q05_latest_order_per_customer",
    "q08_windowed_event_agg",
    "q10_sessionize",
    "q12_delay_classify",
    "q17_text_summaries",
    "q20_quality_score",
    "q22_fingerprint",
    "q24_minhash_signature",
    "q25_ngram_jaccard_pairs",
    "q26_minhash_lsh_pairs",
    "q28_cosine_topk",
    "q30_doc_pipeline",
    "q40_shipment_pipeline_full",
    "q68_decontamination",
    "q74_resample_locf",
    "q84_line_dedup",
    "q85_hll_rollup",
    "q86_zorder_cells",
    "q88_profile_columns",
    "q106_gopher_rules",
    "q109_html_extract",
    "q111_lm_perplexity",
    "q113_cms_heavy_hitters",
    "q116_pagerank",
    "q118_web_pipeline",
    "q133_kmeans",
    "q134_quality_classifier",
    "q135_link_graph",
    "q137_fuzzy_decontamination",
    "q140_image_neardup_pairs",
    "q141_audio_neardup_pairs",
    "q142_bloom_membership",
    "q143_sequence_packing",
    "q144_triangle_count",
    "q145_k_core",
    "q146_dsir_select",
    "q147_hard_negatives",
    "q148_mmr_select",
    "q149_novelty_scores",
    "q150_shuffle_shards",
    "q151_pca_covariance",
    "q152_pq_codes",
    "q153_pq_adc",
    "q154_label_propagation",
    "q156_ivfpq_adc",
    "q157_bfs_distances",
    "q158_rrf_fusion",
    "q159_corpus_divergence",
    "q160_incremental_cc",
    "q161_personalized_pagerank",
    "q162_pmi_collocations",
    "q163_containment_pairs",
    "q164_site_boilerplate",
    "q165_kmv_distinct",
    "q166_interval_overlap",
    "q167_traindata_export",
    "q168_entity_resolution",
    "q169_negative_samples",
    "q170_lsh_recall_audit",
    "q171_ann_recall_audit",
    "q172_constraint_audit",
    "q173_mixture_plan",
    "q174_leakage_safe_split",
    "q175_hashed_cosine",
    "q176_score_calibration",
    "q177_classifier_training",
    "q178_warc_census",
    "q179_unigram_segment",
    "q180_bt_preferences",
    "q181_annotator_agreement",
    "q182_mojibake_repair",
    "q183_group_reward_normalize",
    "q184_chat_sft_census",
    "q185_curriculum_schedule",
    "q186_vocab_coverage",
    "q187_rank_metrics",
    "q188_psi_drift",
    "q189_loss_mask_spans",
    "q190_kmv_set_algebra",
    "q191_compression_filter",
    "q192_substring_dedup",
    "q193_substring_removal",
    "q194_script_profile",
    "q195_robots_rep",
    "q196_incremental_substring",
    "q197_incremental_removal",
    "q198_bitext_mining",
    "q199_meta_robots",
    "q200_span_corruption",
    "q201_semantic_packing",
    "q202_crawl_frontier",
    "q203_tokenizer_fertility",
    "q204_url_bitext",
    "q205_paragraph_dup",
    "q206_code_fences",
    "q207_code_quality",
    "q208_fim_transform",
    "q209_repo_context",
    "q210_sft_quality",
    "q211_dpo_pairs",
    "q212_rouge_dedup",
    "q213_length_bias",
    "q214_attr_materialize",
    "q215_needle_grid",
    "q216_provenance",
    "q217_scaling_ladder",
    "q218_domain_quality",
    "q219_bucket_batches",
    "q220_budget_select",
    "q221_deletion_fuzzy_join",
    "q222_cdx_captures",
    "q223_packed_masks",
    "q224_mime_sniff",
    "q225_readability",
    "q226_prototype_prune",
]


def _runtime_info(spark) -> dict:
    """Self-describing runtime snapshot (VERDICT r8: a 2x core-set swing
    could not be attributed because no run recorded its environment)."""
    import platform

    import pyspark

    jvm = spark.sparkContext._jvm
    info = {
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "os": platform.platform(),
        "cpus": os.cpu_count(),
        "spark_local_dir": spark.conf.get(
            "spark.local.dir", jvm.System.getProperty("java.io.tmpdir")
        ),
        "spark.sql.codegen.cache.maxEntries": spark.conf.get(
            "spark.sql.codegen.cache.maxEntries"
        ),
    }
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal"):
                    info["mem_total_kb"] = int(line.split()[1])
                    break
    except OSError:
        pass
    return info


def _gc_millis(spark) -> float:
    """Cumulative JVM GC wall time, summed over all collectors."""
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return float(
        sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    )


def _jit_millis(spark) -> float:
    """Cumulative HotSpot JIT compilation time (the JVM's
    ``CompilationMXBean``), milliseconds."""
    return float(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getCompilationMXBean().getTotalCompilationTime()
    )


def _loadavg() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def _steal_ticks() -> int:
    """Cumulative hypervisor steal time (clock ticks) across all CPUs.

    The round-9 attribution of the round-8 'regression': this host is a
    VM showing nonzero %st under load, so wall clocks include time the
    hypervisor gave our vCPUs to OTHER tenants. A per-query steal delta
    turns 'the number looks slow' into 'the number was measured while
    N seconds of CPU were stolen' — attributable from the artifact.
    """
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])  # cpu: user nice sys idle iowait irq sirq steal
    except (OSError, IndexError, ValueError):
        return -1


def _sentinel(spark) -> float:
    """Fixed calibration query: a contention canary. The same
    spark.range sum is re-timed at start / middle / end of the timed
    loop; a spread > ~1.3x flags the whole run as measured under load
    (VERDICT r8: driver numbers were up to 5x their clean-session
    walls with nothing in the artifact to show it).

    Round-10 refinement: the first clean-box artifact showed spread
    2.42 with near-zero recorded steal — the fresh-JVM start sample
    (0.16s) vs aged-heap later samples (0.39s) measured the harness's
    OWN heap aging, not external load. Each checkpoint now (a) asks
    the JVM for a GC first, so heap-pressure differences between
    checkpoints shrink, and (b) takes the MIN of two runs — sustained
    external load inflates both repetitions (min stays high, the flag
    still fires) while one-off GC pauses inflate only one. Steal and
    loadavg remain the per-query contamination evidence."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass

    def one() -> float:
        t0 = time.time()
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(id * 3 % 7)"
        ).collect()
        return time.time() - t0

    return round(min(one(), one()), 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    import __spark_entry__ as entrymod
    from jsonl_dataingestion_pipeline_spark import get_spark
    from perfbench.trace import codegen_counters

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: JVM, codegen, and the parquet readers — touch every table's
    # footer + first row so q01/q03 don't absorb ~4s of first-read cost
    # (the numbers then measure query execution, not reader initialization)
    spark.range(1000).count()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).limit(1).collect()
    entrymod._events(spark, sf_dir).limit(1).collect()  # nanos-ts handling

    qs = entrymod.queries_full()
    # Codegen/JIT warmup: run each headline query once at the smallest SF
    # so timings below measure data-proportional execution, not one-time
    # whole-stage-codegen compilation (irrelevant at cluster scale, but
    # 1-2s of noise per query at bench scale).
    warm_sf = "/root/testdata/sf0.001"
    warm_cg0 = codegen_counters(spark)[0]
    if os.path.isdir(warm_sf) and os.path.abspath(warm_sf) != os.path.abspath(sf_dir):
        for name in HEADLINE:
            try:
                qs[name](spark, warm_sf).count()
            except Exception as e:  # a query broken at sf0.001 loses its
                # warmup and would look slower below — say so (VERDICT r3)
                print(
                    f"# warmup FAILED for {name}: {type(e).__name__}: {e}",
                    file=sys.stderr,
                )
    warmup_compiles = codegen_counters(spark)[0] - warm_cg0
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # Steal-aware retry (VERDICT r9 #2): a run whose per-attempt steal
    # delta exceeds this many seconds was measured while the hypervisor
    # gave our vCPUs away — its wall is contaminated. Retry (bounded)
    # and select among CLEAN attempts; <= 0 disables.
    steal_retry_s = float(
        os.environ.get("SPARK_GRAFT_STEAL_RETRY", "1.0")
    )
    extra_attempts = int(
        os.environ.get("SPARK_GRAFT_STEAL_EXTRA_ATTEMPTS", "3")
    )
    # start the timed loop from a clean heap: the warmup pass built and
    # dropped 80+ plans; reaping their blocks/broadcasts NOW keeps GC
    # from landing inside a timed query
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    _sentinel(spark)  # compile the sentinel's own codegen off the clock
    sentinels: list[float] = [_sentinel(spark)]
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    gc_ms: dict[str, float] = {}
    load1: dict[str, float] = {}
    steal_s: dict[str, float] = {}
    attempts_n: dict[str, int] = {}
    attempt_detail: dict[str, list] = {}
    # whole-stage-codegen classes compiled (Janino count and ms) and
    # HotSpot JIT ms, summed over a query's attempts
    codegen_compiles: dict[str, int] = {}
    codegen_ms: dict[str, float] = {}
    jit_ms: dict[str, float] = {}
    tick_hz = float(os.sysconf("SC_CLK_TCK")) if hasattr(os, "sysconf") \
        else 100.0
    total = 0.0
    mid = len(HEADLINE) // 2
    for qi, name in enumerate(HEADLINE):
        if qi == mid:
            sentinels.append(_sentinel(spark))
        fn = qs[name]
        n = 0
        load1[name] = round(_loadavg(), 2)
        # each attempt is one timed execution with its OWN steal/gc
        # delta; retry past runs_per_query (bounded) until we hold
        # runs_per_query attempts measured without hypervisor steal
        attempts: list[tuple[float, float, float]] = []  # (wall, steal, gc)
        max_attempts = runs_per_query + max(extra_attempts, 0)
        q_compiles, q_compile_ms, q_jit_ms = 0, 0.0, 0.0
        while len(attempts) < max_attempts:
            gc0 = _gc_millis(spark)
            cg0, jit0 = codegen_counters(spark), _jit_millis(spark)
            st0 = _steal_ticks()
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = round(time.time() - t0, 3)
            st1 = _steal_ticks()
            stl = (
                round((st1 - st0) / tick_hz, 2)
                if st0 >= 0 and st1 >= 0 else -1.0
            )
            attempts.append((dt, stl, round(_gc_millis(spark) - gc0, 1)))
            cg1 = codegen_counters(spark)
            q_compiles += cg1[0] - cg0[0]
            q_compile_ms += cg1[1] - cg0[1]
            q_jit_ms += _jit_millis(spark) - jit0
            if len(attempts) == 1:
                first_run[name] = dt

            # an attempt is CLEAN when its steal is within budget — or
            # unmeasurable (stl < 0, no /proc/stat): with no signal to
            # retry on, retrying is pure waste
            def _clean(a):
                return a[1] < 0 or a[1] <= steal_retry_s

            if steal_retry_s <= 0 and len(attempts) >= runs_per_query:
                break
            if len([a for a in attempts if _clean(a)]) >= runs_per_query:
                break
        attempts_n[name] = len(attempts)
        codegen_compiles[name] = q_compiles
        codegen_ms[name] = round(q_compile_ms, 1)
        jit_ms[name] = round(q_jit_ms, 1)
        clean = [a for a in attempts if a[1] < 0 or a[1] <= steal_retry_s]
        if steal_retry_s <= 0:
            sel = min(attempts, key=lambda a: a[0])  # retry disabled
        elif clean:
            sel = min(clean, key=lambda a: a[0])
        else:
            # no clean attempt within budget: report the one measured
            # under the LEAST steal (its wall is the least contaminated)
            sel = min(attempts, key=lambda a: (a[1], a[0]))
        best, steal_s[name], gc_ms[name] = sel
        attempt_detail[name] = [list(a) for a in attempts]
        timings[name] = best
        total += best
        retried = (
            f", {len(attempts)} attempts" if len(attempts) > runs_per_query
            else ""
        )
        print(
            f"# {name}: {n} rows in {best}s"
            f" (first run {first_run[name]}s, gc {gc_ms[name]}ms,"
            f" load1 {load1[name]}, steal {steal_s[name]}s{retried},"
            f" {codegen_compiles[name]} classes compiled)",
            file=sys.stderr,
        )
    sentinels.append(_sentinel(spark))
    sentinel_spread = (
        round(max(sentinels) / max(min(sentinels), 1e-9), 3)
        if sentinels else -1.0
    )

    # Full-precision detail goes to a sidecar file + stderr — NOT the
    # final stdout line (driver tail capture is 2,000 chars; VERDICT r5
    # item #1: the 34-query single-line JSON outgrew it and BENCH_r05
    # parsed null).
    core_total = round(sum(timings[q] for q in CORE if q in timings), 3)
    # PRIMARY cleanliness flag (round 10): every CORE query's SELECTED
    # attempt measured < 1s of hypervisor steal. Steal counters measure
    # external CPU theft directly; the sentinel spread ALSO saturates on
    # the harness's own JVM aging (measured on an idle box: spread 2.4
    # and 3.8 with 12-17s total steal over ~250 query executions and
    # every core query < 1s — the three r9/r10 artifacts together show
    # spread tracks steal under real contention but false-positives on
    # heap aging). Attribute a high spread with steal_s + load1.
    core_clean = all(
        steal_s.get(q, 0) < 1.0 for q in CORE if q in timings
    )
    detail = {
        "metric": "headline_query_wall_clock",
        "value": round(total, 3),
        "core_value": core_total,
        "core_queries": len(CORE),
        "unit": "sec",
        "queries": timings,
        "runs_per_query": runs_per_query,
        "first_run": first_run,
        "sf": sf,
        "runtime": _runtime_info(spark),
        "sentinel_secs": sentinels,
        "sentinel_spread": sentinel_spread,
        "gc_ms": gc_ms,
        "load1": load1,
        "steal_s": steal_s,
        "steal_total_s": round(
            sum(v for v in steal_s.values() if v > 0), 2
        ),
        "steal_retry_s": steal_retry_s,
        "core_steal_clean": core_clean,
        "attempts": attempts_n,
        "attempt_detail": attempt_detail,
        "codegen_compiles": codegen_compiles,
        "codegen_ms": codegen_ms,
        "jit_ms": jit_ms,
        "warmup_codegen_compiles": warmup_compiles,
    }
    with open(os.path.join(REPO, "bench_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print("#detail " + json.dumps(detail), file=sys.stderr)

    # FINAL stdout line: compact. queries rounded to centiseconds, no
    # first_run. The per-query dict is part of the driver contract and
    # is NEVER dropped (r10 post-mortem: a 1900-char budget silently
    # dropped it at 117 queries, emptying the driver's whole per-query
    # round-over-round table). At 117 entries the line is ~3.4 KB —
    # the driver parses the full stdout line (its 2000-char "tail"
    # field is a separate log excerpt, not the parse source). Guard:
    # at absurd sizes reduce value precision before ever giving up.
    out = {
        "metric": "headline_query_wall_clock",
        "value": round(total, 3),
        "core_value": core_total,
        "core_queries": len(CORE),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "runs_per_query": runs_per_query,
        "sf": sf,
        "sentinel_spread": sentinel_spread,
        "core_steal_clean": core_clean,
        "steal_total_s": round(
            sum(v for v in steal_s.values() if v > 0), 2
        ),
        "retries": sum(
            max(v - runs_per_query, 0) for v in attempts_n.values()
        ),
    }
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 100_000:  # ~3000 queries; precision before loss
        out["queries"] = {k: round(v, 1) for k, v in timings.items()}
        line = json.dumps(out, separators=(",", ":"))
    print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
