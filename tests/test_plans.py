"""Physical-plan regression tests: the scale properties we rely on.

These assert the *shape* of the plan, not timings — pushdown reaching the
parquet scan, dimensions broadcasting instead of shuffling, and window
top-k applying the group-limit optimization before the exchange.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _formatted(spark, df) -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(jmode)


def _tree(plan: str) -> str:
    """The operator-tree block only (details section repeats node names)."""
    return plan.split("\n\n")[0]


def test_q01_pushdown_and_partial_agg(spark):
    plan = _formatted(spark, em.q01_pricing_summary(spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    # partial agg before the single exchange
    tree = _tree(plan)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1


def test_q03_dimensions_broadcast(spark):
    plan = _formatted(spark, em.q03_region_revenue(spark, SF))
    assert _tree(plan).count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_q05_window_group_limit(spark):
    plan = _formatted(spark, em.q05_latest_order_per_customer(spark, SF))
    assert "WindowGroupLimit" in plan  # top-1 applied before the shuffle


def test_make_centroids_no_global_window(spark):
    """Centroid seeding must be a partial top-n (TakeOrderedAndProject),
    never a row_number window over a single-partition exchange of the
    whole corpus — that shape OOMs one executor at 100 TB."""
    from jsonl_dataingestion_pipeline_spark.operators.similarity import make_centroids

    corpus = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _formatted(spark, make_centroids(corpus, 16))
    assert "TakeOrderedAndProject" in plan
    # the only window runs on the already-limited n rows, after the take
    tree = _tree(plan)
    assert tree.index("TakeOrderedAndProject") > tree.index("Window")


def test_one_barrier_policy():
    """Only ``operators/common.py`` calls ``.localCheckpoint(`` or
    ``.checkpoint(``, and no function takes a ``reliable`` parameter:
    every barrier goes through ``pipeline_break``, whose one switch is
    the session's checkpoint directory. An AST scan; no JVM."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "jsonl_dataingestion_pipeline_spark"
    allowed = pkg / "operators" / "common.py"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        where = path.relative_to(pkg)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                path != allowed
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                found.append(f"{where}:{node.lineno} calls .{node.func.attr}(")
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                if "reliable" in [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]:
                    found.append(f"{where}:{node.lineno} takes reliable")
    assert found == []


def test_api_md_is_fresh():
    """API.md is exactly what ``tools/gen_api.py`` renders from the
    package source, so a change to the public surface that skips the
    regeneration fails here. An AST walk; no JVM."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "gen_api", repo / "tools" / "gen_api.py"
    )
    gen_api = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_api)
    assert gen_api.render() == (repo / "API.md").read_text(), (
        "API.md is stale: run python tools/gen_api.py"
    )


def test_shipment_transform_is_shuffle_free(spark, shipment_df_factory):
    from jsonl_dataingestion_pipeline_spark.plans.shipment import transform_shipments

    df = transform_shipments(shipment_df_factory([{}]), as_of="2024-06-01")
    plan = _formatted(spark, df)
    assert "Exchange" not in plan  # clean -> derive -> narrative: one stage


def test_run_batch_scans_csv_once(spark, tmp_path):
    """``run_batch`` runs the transform in ONE execution: the document
    frame is stored once, and the sink's size sample and the write read
    the stored rows. A second execution scanning the CSV means the
    transform ran again."""
    import csv

    from jsonl_dataingestion_pipeline_spark.plans.shipment import run_batch
    from jsonl_dataingestion_pipeline_spark.schema import SOURCE_HEADERS

    src = tmp_path / "in.csv"
    with open(src, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=list(SOURCE_HEADERS), restval="")
        w.writeheader()
        for i in range(3):
            w.writerow({"Job No.": f"J{i}", "ETD LP": f"0{i + 1}/01/2024"})

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
        while it.hasNext():
            yield it.next()

    seen = {e.executionId() for e in executions()}
    run_batch(spark, str(src), str(tmp_path / "out"), as_of="2024-06-01")
    scans = [
        e.description()
        for e in executions()
        if e.executionId() not in seen and "Scan csv" in e.physicalPlanDescription()
    ]
    assert len(scans) == 1, scans


def test_deterministic_sample_is_narrow(spark):
    """Hash-keyed sampling must stay a pure filter: no shuffle, fused into
    the scan stage."""
    from jsonl_dataingestion_pipeline_spark.functions.sampling import (
        deterministic_sample,
    )

    df = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _formatted(spark, deterministic_sample(df, "o_orderkey", 0.1))
    assert "Exchange" not in plan


def test_dynamic_partition_pruning_on_partitioned_scan(spark, tmp_path):
    """At 100 TB the fact table is date-partitioned; a join against a
    filtered dim must prune fact partitions at RUNTIME (DPP), not scan
    everything. Assert the partitioned scan carries a dynamic-pruning
    partition filter when joined through a selective dim."""
    import os

    from pyspark.sql import functions as F

    fact_path = os.path.join(str(tmp_path), "fact")
    (
        spark.range(10000)
        .select(
            F.col("id"),
            (F.col("id") % 50).alias("day"),
            (F.col("id") % 7).alias("v"),
        )
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.range(50).select(
        F.col("id").alias("day"), (F.col("id") % 5).alias("grp")
    )
    q = fact.join(dim.filter(F.col("grp") == 0), "day").groupBy("day").count()
    plan = _formatted(spark, q)
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_prunes_fact_side(spark, tmp_path):
    """When neither side broadcasts, Spark should inject a runtime Bloom
    filter built from the selective (filtered) side and apply it as
    might_contain() on the fact scan BEFORE the shuffle join — the
    row-level analogue of dynamic partition pruning. Assert the injected
    filter is present under the configuration a cluster would run."""
    import os

    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        d = str(tmp_path)
        spark.range(200000).select(
            F.col("id"), (F.col("id") % 1000).alias("k")
        ).write.mode("overwrite").parquet(os.path.join(d, "fact"))
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ).write.mode("overwrite").parquet(os.path.join(d, "dim"))
        fact = spark.read.parquet(os.path.join(d, "fact"))
        dim = spark.read.parquet(os.path.join(d, "dim")).filter(
            F.col("grp") == 0
        )
        q = fact.join(dim, "k").groupBy("grp").count()
        plan = _formatted(spark, q)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_duplicated_spans_hot_grams_semijoin_on_long_keys(spark):
    """q102: gram frequency aggregates partially map-side, the hot-gram
    filter applies as a LeftSemi join, and no embedding of the gram
    STRING survives past the projection (the join key is the md5 long)."""
    plan = _formatted(spark, em.q102_duplicated_spans(spark, SF))
    tree = _tree(plan)
    assert "LeftSemi" in tree
    # partial + final HashAggregate for the gram-frequency count
    assert tree.count("HashAggregate") >= 2


def test_unigram_logprob_stats_broadcast(spark):
    """q101: the 1-row (total, vocab) corpus aggregate enters as a
    broadcast nested-loop join, never a shuffle."""
    plan = _formatted(spark, em.q101_unigram_logprob(spark, SF))
    assert "BroadcastNestedLoopJoin" in _tree(plan)


def test_quality_filters_are_shuffle_free(spark):
    """q106 (Gopher rules) and q107 (C4 cleaning) are narrow projections:
    at 100 TB they run at scan speed with zero Exchange."""
    for q in (em.q106_gopher_rules, em.q107_c4_filter):
        tree = _tree(_formatted(spark, q(spark, SF)))
        assert "Exchange" not in tree, tree


def test_html_extract_is_shuffle_free(spark):
    """q109: the whole strip_html chain is a narrow projection — at
    100 TB HTML->text extraction runs at scan speed, zero Exchange."""
    tree = _tree(_formatted(spark, em.q109_html_extract(spark, SF)))
    assert "Exchange" not in tree, tree


def test_domain_curation_single_domain_shuffle(spark):
    """q110: census + quota share the domain-keyed exchange family; the
    quota window compiles to a partial top-k (WindowGroupLimit) so an
    over-quota domain never materializes past the cap."""
    tree = _tree(_formatted(spark, em.q110_domain_curation(spark, SF)))
    assert "WindowGroupLimit" in tree, tree


def test_bigram_lm_stats_broadcast(spark):
    """q111: the 1-row (N, V) aggregate joins broadcast, and the bucket
    thresholds join broadcast — no corpus-wide sort anywhere (the
    CCNet split must not cost a global ntile)."""
    import re

    plan = _formatted(spark, em.q111_lm_perplexity(spark, SF))
    tree = _tree(plan)
    assert "BroadcastNestedLoopJoin" in tree
    # no ntile window function (percentile contains the substring)
    assert not re.search(r"\bntile\(", plan.lower())


def test_ohlc_single_exchange_partial_agg(spark):
    """q126: one aggregate family — partial map-side combine, ONE
    Exchange on (bar, event_type). min_by/max_by over a struct compiles
    to SortAggregate; the partial/final split still happens."""
    tree = _tree(_formatted(spark, em.q126_ohlc_bars(spark, SF)))
    assert tree.count("Exchange") == 1, tree
    assert tree.count("SortAggregate") + tree.count("HashAggregate") >= 2


def test_prefix_jaccard_no_cartesian(spark):
    """q117: candidate generation is an equi-join on prefix tokens —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    tree = _tree(_formatted(spark, em.q117_prefix_jaccard_pairs(spark, SF)))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_pagerank_loop_broadcasts_rank_vector(spark):
    """q116: with broadcast_ranks (default) the edge relation is never
    shuffled inside the loop — every rank/degree join is broadcast."""
    df = em.q116_pagerank(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "BroadcastHashJoin" in tree
    # the only Exchanges are the contribution partial-sum aggregations
    # and the |V|-sized stitches — never a sort-merge of the edges
    assert "SortMergeJoin" not in tree, tree


def test_pagerank_only_shuffles_are_partial_aggregates(spark):
    """q116 (PLANS.md): every shuffle Exchange in the loop body sits
    directly above a HashAggregate — the map-side partial contribution
    sums. An Exchange over anything else would mean the edge relation
    (or an un-aggregated contribution stream) is being shuffled."""
    df = em.q116_pagerank(spark, SF)
    lines = _tree(_formatted(spark, df)).splitlines()
    for i, line in enumerate(lines):
        node = line.split("- ")[-1]
        if node.startswith("Exchange "):
            child = lines[i + 1].split("- ")[-1]
            assert child.startswith("HashAggregate"), (line, child)


def test_q40_single_scan_single_exchange(spark):
    """q40 (PLANS.md): the whole shipment document pipeline — cleaning,
    derivations, T6 narrative, T7 content — is one Project pipeline over
    ONE parquet scan. The only exchanges are the r10 adaptive
    parallelism floor (RoundRobinPartitioning directly above the scan —
    a no-op on a many-split 100 TB scan, OPTIMIZATION_r10.md §3) and
    the final document-numbering window. A second scan, a keyed shuffle
    beyond the window, or a join would mean the transform stopped being
    a single codegen pass."""
    df = em.q40_shipment_pipeline_full(spark, SF)
    plan = _formatted(spark, df)
    tree = _tree(plan)
    assert tree.count("Scan parquet") == 1, tree
    exchanges = [
        l for l in tree.splitlines()
        if l.split("- ")[-1].startswith("Exchange ")
    ]
    assert len(exchanges) <= 2, tree
    assert plan.count("RoundRobinPartitioning") <= 1, plan
    assert plan.count("hashpartitioning") <= 1, plan
    assert "Join" not in tree and "SortMergeJoin" not in tree, tree


def test_q118_stage_checkpoints_prevent_recompute(spark):
    """q118 (PLANS.md): the funnel's per-stage counts read the stage
    CHECKPOINTS (Scan ExistingRDD), so the raw parquet input is scanned
    at most once (the stage-0 raw count). Without the checkpoints every
    union branch would re-run the whole upstream funnel from parquet."""
    df = em.q118_web_pipeline(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert tree.count("Scan parquet") <= 1, tree
    assert "Scan ExistingRDD" in tree, tree
    assert "WindowGroupLimit" in tree, tree


def test_warm_funnels_reuse_generated_classes(spark):
    """A second run of the web and corpus funnels compiles (almost) no
    whole-stage-codegen classes. One run compiles ~300; Spark's default
    generated-class cache of 100 entries evicted them within the run, so
    every run compiled them all again. ``session._DEFAULTS`` sizes the
    cache (``spark.sql.codegen.cache.maxEntries``) to hold them."""
    from perfbench.gen import gen_documents
    from perfbench.trace import codegen_counters
    from perfbench.workloads import CORPUS_PARAMS, WEB_PARAMS

    from jsonl_dataingestion_pipeline_spark.plans.corpus import curate_corpus
    from jsonl_dataingestion_pipeline_spark.plans.webcorpus import (
        extract_web_corpus,
    )

    docs = spark.createDataFrame(
        gen_documents(5, 120),
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    def run():
        web, web_stats = extract_web_corpus(em._web_pages(docs), **WEB_PARAMS)
        cur, cur_stats = curate_corpus(docs, **CORPUS_PARAMS)
        return [sorted(map(repr, f.collect())) for f in (web, web_stats, cur, cur_stats)]

    first = run()
    compiled = codegen_counters(spark)[0]
    assert run() == first
    recompiled = codegen_counters(spark)[0] - compiled
    assert recompiled <= 20, f"the second run compiled {recompiled} classes"


def test_q133_kmeans_assignment_is_scan_plus_project(spark):
    """q133 (PLANS.md): the final assignment is ONE scan of the
    materialized quantized points (r10: pipeline_break'd once instead
    of re-deriving from parquet every Lloyd round) glued to a ONE-ROW
    broadcast centroid frame (r10: the iterating path now always uses
    the join shape so the generated code is centroid-independent and
    compiles once, not once per iteration) — zero Exchange, and the
    only join is the broadcast nested-loop glue against the 1-row
    centroid array. A shuffle (or a keyed shuffle join) here would
    mean the per-iteration assignment stopped being scan-speed."""
    df = em.q133_kmeans(spark, SF)
    tree = _tree(_formatted(spark, df))
    # two ExistingRDD scans: the materialized points + the 1-row
    # centroid frame under its BroadcastExchange
    assert tree.count("Scan ExistingRDD") == 2, tree
    assert "Exchange" not in tree.replace("BroadcastExchange", ""), tree
    assert "SortMergeJoin" not in tree, tree
    assert "ShuffledHashJoin" not in tree, tree
    assert "BroadcastNestedLoopJoin" in tree, tree


def test_q137_fuzzy_decontamination_benchmark_broadcast_only(spark):
    """q137 (PLANS.md): every join against the benchmark side is a
    BroadcastHashJoin (shingle candidates, set sizes); the hot-shingle
    cap is a collected-literal filter, NOT a join or a separate eager
    job (round 6 — VERDICT r5 item #2 removed the per-call hot.count()
    action and the LeftAnti); the single SortMergeJoin is the per-doc
    LeftOuter join-back of scores onto corpus ids. The corpus must
    never self-join or sort-merge against the benchmark."""
    df = em.q137_fuzzy_decontamination(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "BroadcastHashJoin Inner BuildRight" in tree, tree
    assert "LeftAnti" not in tree, tree  # cap is an in-plan filter now
    assert "CartesianProduct" not in tree, tree
    # the per-doc score join-back is the ONLY outer join; round 6's
    # (shingle -> [bids]) candidate shape turned it into a broadcast
    # LeftOuter, leaving no SortMergeJoin at all — allow at most the
    # one LeftOuter SMJ in case stats push it back over the threshold
    assert "LeftOuter" in tree, tree
    smj = [
        l for l in tree.splitlines()
        if "SortMergeJoin" in l.split("- ")[-1]
    ]
    assert len(smj) == 0 or (
        len(smj) == 1 and "LeftOuter" in smj[0]
    ), tree


def test_q140_q141_banded_join_no_cartesian(spark):
    """q140/q141: the shared hash64 banded-Hamming join must generate
    candidates via the (band, key) equi-join — never a CartesianProduct
    or nested-loop over the hashed relation."""
    for q in (em.q140_image_neardup_pairs, em.q141_audio_neardup_pairs):
        tree = _tree(_formatted(spark, q(spark, SF)))
        assert "CartesianProduct" not in tree, tree
        assert "BroadcastNestedLoopJoin" not in tree, tree
        assert "Join" in tree  # the band equi-join exists


def test_q147_hard_negatives_broadcast_anchor_cross(spark):
    """q147: exact hard-negative mining broadcasts the anchor batch
    against the streaming corpus (BroadcastNestedLoopJoin, the
    broadcast cross of a deliberately small anchor side) — never an
    unbroadcast CartesianProduct, which would shuffle the corpus."""
    tree = _tree(_formatted(spark, em.q147_hard_negatives(spark, SF)))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" in tree, tree


def test_q149_novelty_single_explode_no_shingle_join(spark):
    """q149: novelty is agg-over-agg (min-doc per shingle key, then
    count per winning doc) plus a doc-keyed join of two doc-sized
    frames. The shingle explode must appear exactly ONCE: the first cut
    joined the exploded pair frame back onto the min-agg on the shingle
    key, which recomputed the explode on both sides and re-shuffled
    every pair row — 5.5x slower at sf0.1 (19.0s -> 3.4s cold)."""
    tree = _tree(_formatted(spark, em.q149_novelty_scores(spark, SF)))
    assert tree.count("Generate") == 1, tree


def test_q150_shuffle_shards_no_global_sort(spark):
    """q150: the dataloader global shuffle is ONE hash exchange on the
    shard column plus a per-shard local sort — never a
    rangepartitioning exchange (the global-ORDER-BY anti-pattern this
    operator exists to avoid)."""
    tree = _tree(_formatted(spark, em.q150_shuffle_shards(spark, SF)))
    assert "rangepartitioning" not in tree, tree
    assert tree.count("Exchange") == 1, tree


def test_q151_covariance_single_scan_no_join(spark):
    """q151: the covariance pass (explode method) is one parquet scan
    -> cell explode -> partial agg -> ONE exchange on (i, j) -> final
    agg. No join and no second scan of the embeddings."""
    tree = _tree(_formatted(spark, em.q151_pca_covariance(spark, SF)))
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree
    assert tree.count("Exchange") == 1, tree


def test_q152_pq_encode_zero_shuffle(spark):
    """q152: PQ encoding is a pure projection against codebook
    literals (the codebooks are driver-held after training, k is data
    not plan) — one scan, zero Exchange, zero Join."""
    tree = _tree(_formatted(spark, em.q152_pq_codes(spark, SF)))
    assert tree.count("Scan parquet") == 1, tree
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree


def test_q153_adc_topk_is_take_ordered(spark):
    """q153: ADC top-k ends in TakeOrderedAndProject (sort+limit fused,
    never a global sort) with the per-query lookup table folded into
    literals — no join anywhere."""
    tree = _tree(_formatted(spark, em.q153_pq_adc(spark, SF)))
    assert "TakeOrderedAndProject" in tree, tree
    assert "Join" not in tree, tree


def test_q155_ivfpq_encode_zero_shuffle(spark):
    """q155: IVF-PQ encoding (cell assignment + residual + codes) is a
    pure projection against the driver-held coarse + residual codebook
    literals — one scan, zero Exchange, zero Join. At 100 TB this is
    the property that lets the encoded table be written straight out
    bucketed by cell."""
    tree = _tree(_formatted(spark, em.q155_ivfpq_codes(spark, SF)))
    assert tree.count("Scan parquet") == 1, tree
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree


def test_q156_ivfpq_adc_prunes_and_take_ordered(spark):
    """q156: IVFADC search is a cell-filtered scan (the nprobe cell
    predicate is an in-plan filter on the encode projection — no join)
    ending in TakeOrderedAndProject; the per-cell lookup tables ride as
    literals."""
    tree = _tree(_formatted(spark, em.q156_ivfpq_adc(spark, SF)))
    assert "TakeOrderedAndProject" in tree, tree
    assert "Join" not in tree, tree
    assert "Exchange" not in tree.replace(
        "TakeOrderedAndProject", ""
    ), tree


def test_q158_rrf_fusion_take_ordered_no_presort(spark):
    """q158: the fused list is cut by TakeOrderedAndProject over the
    groupBy-sum of contributions; the only windows in the plan run
    AFTER a limit (ranks over already-cut rows) or compile to
    WindowGroupLimit (the dense ranker's per-query top-k). No global
    Sort of an uncut relation anywhere."""
    tree = _tree(_formatted(spark, em.q158_rrf_fusion(spark, SF)))
    assert "TakeOrderedAndProject" in tree, tree
    assert "WindowGroupLimit" in tree, tree


def test_q159_divergence_broadcast_stats_single_rank_cut(spark):
    """q159: the scalar stats (N_a, N_b, V) join back as a one-row
    BroadcastNestedLoopJoin; the report cut is TakeOrderedAndProject
    over the vocab-sized merged frame — never a global window."""
    tree = _tree(_formatted(spark, em.q159_corpus_divergence(spark, SF)))
    assert "BroadcastNestedLoopJoin" in tree, tree
    assert "TakeOrderedAndProject" in tree, tree
    assert "Window" not in tree, tree


def test_q165_kmv_cut_is_window_group_limit(spark):
    """q165: the per-group k-cut after the (group, hash) dedup compiles
    to WindowGroupLimit — partial top-k per partition, so a billion-
    member group never materializes in one task."""
    tree = _tree(_formatted(spark, em.q165_kmv_distinct(spark, SF)))
    assert "WindowGroupLimit" in tree, tree


def test_q166_interval_overlap_is_equi_join_on_bins(spark):
    """q166: the interval-overlap join must be a hash equi-join on the
    bin id (SortMergeJoin/ShuffledHashJoin with the overlap predicate
    as a post-join filter) — never a CartesianProduct or
    BroadcastNestedLoopJoin over the interval sets."""
    tree = _tree(_formatted(spark, em.q166_interval_overlap(spark, SF)))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "Join" in tree, tree


def test_q167_export_single_partition_only_for_bucket_totals(spark):
    """q167: the packing stage inside the export plan keeps the q143
    property — the only SinglePartition exchange carries per-bucket
    totals; document rows flow through hash-partitioned windows. The
    stats frame reads checkpointed stages (Scan ExistingRDD), so no
    stage recomputes upstream work."""
    df = em.q167_traindata_export(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "Scan ExistingRDD" in tree, tree


def test_q154_lpa_adjacency_never_reshuffled(spark):
    """q154 (PLANS.md): the LPA loop reads the adjacency from its
    checkpoint (Scan ExistingRDD) and joins the label frame to it via
    broadcast — the edge relation is never sort-merge shuffled, and
    every shuffle Exchange sits above a HashAggregate (the per-round
    (v, label) count partials / argmax)."""
    df = em.q154_label_propagation(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "Scan ExistingRDD" in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    lines = tree.splitlines()
    for i, line in enumerate(lines):
        node = line.split("- ")[-1]
        if node.startswith("Exchange hashpartitioning"):
            child = lines[i + 1].split("- ")[-1]
            assert child.startswith("HashAggregate"), (line, child)


def test_q157_bfs_result_is_checkpointed_union(spark):
    """q157 (PLANS.md): every BFS round is materialized (frontier joins
    run against the checkpointed adjacency and are cut from lineage),
    so the returned distance frame is a union of checkpoint scans —
    re-collecting it must not rescan parquet or replay any join."""
    df = em.q157_bfs_distances(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "Scan ExistingRDD" in tree, tree
    assert "Scan parquet" not in tree, tree
    assert "Join" not in tree, tree


def test_q160_incremental_cc_base_never_shuffles(spark):
    """q160 (PLANS.md): folding a batch into the base labeling applies
    a broadcast (old comp -> new comp) mapping over the base — the base
    side streams map-side from its checkpoint; no shuffle Exchange and
    no SortMergeJoin may appear in the fold plan."""
    df = em.q160_incremental_cc(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "Exchange hashpartitioning" not in tree, tree


def test_q161_ppr_edges_never_shuffled(spark):
    """q161 (PLANS.md): personalized PageRank keeps the q116 iteration
    contract — the rank vector broadcasts to the edge relation, so no
    SortMergeJoin exists and every shuffle Exchange sits directly above
    a HashAggregate (the contribution partial sums)."""
    df = em.q161_personalized_pagerank(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    lines = tree.splitlines()
    for i, line in enumerate(lines):
        node = line.split("- ")[-1]
        if node.startswith("Exchange hashpartitioning"):
            child = lines[i + 1].split("- ")[-1]
            assert child.startswith("HashAggregate"), (line, child)


def test_q168_entity_match_is_blocked_equi_join(spark):
    """q168 (PLANS.md): candidate generation for entity matching is an
    EQUI self-join on the block key with Levenshtein as a post-join
    filter (plans/entity.py::match_pairs) — never a CartesianProduct /
    BroadcastNestedLoopJoin over the mention table."""
    from jsonl_dataingestion_pipeline_spark.operators.fuzzy import block_key
    from jsonl_dataingestion_pipeline_spark.plans.entity import match_pairs
    from pyspark.sql import functions as F

    c = spark.read.parquet(f"{SF}/customer.parquet").limit(200)
    m = c.select(
        F.col("c_custkey").alias("__mid"),
        F.col("c_name").alias("__mname"),
        block_key("c_name", 1, 7).alias("__bk"),
    )
    tree = _tree(_formatted(spark, match_pairs(m, 2)))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "Join" in tree, tree


def test_q173_mixture_plan_single_scan_no_join(spark):
    """q173: the corpus is touched ONCE (the per-source token
    aggregate); all remaining planning math runs on the #sources-row
    frame (window sums), never a join or a second scan."""
    tree = _tree(_formatted(spark, em.q173_mixture_plan(spark, SF)))
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree


def test_q174_split_reads_checkpointed_clusters(spark):
    """q174: the split plan consumes the checkpointed component
    labeling (Scan ExistingRDD) — no parquet rescan and no sort-merge
    join replay of the near-dup machinery at collect time."""
    tree = _tree(_formatted(spark, em.q174_leakage_safe_split(spark, SF)))
    assert "Scan ExistingRDD" in tree, tree
    assert "Scan parquet" not in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_q175_hashed_cosine_broadcast_query_take_ordered(spark):
    """q175: the dot product joins the corpus entries against the
    BROADCAST query entries (never a shuffle of the corpus onto a
    <= dim-row side), and the top-k cut is TakeOrderedAndProject."""
    tree = _tree(_formatted(spark, em.q175_hashed_cosine(spark, SF)))
    assert "BroadcastHashJoin" in tree, tree
    assert "TakeOrderedAndProject" in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_q177_training_score_is_broadcast_weight_lookup(spark):
    """q177 (PLANS.md): scoring with the trained weights joins the
    k-feature weight table by BROADCAST — the one permitted
    SortMergeJoin is the final doc-universe LEFT join (two doc-sized
    sides: the label frame vs the scored frame; broadcast would ship
    the corpus), never the weight lookup."""
    df = em.q177_classifier_training(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "BroadcastHashJoin" in tree, tree
    assert tree.count("SortMergeJoin") <= 1, tree
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree


def test_q178_warc_walk_is_arrow_batched_no_sort_join(spark):
    """q178 (PLANS.md): the WARC record walk is ONE Arrow-batched
    MapInPandas over the assembled blobs — no SortMergeJoin anywhere,
    and the only exchanges feed the two aggregates (blob assembly,
    census)."""
    df = em.q178_warc_census(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "MapInPandas" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_q179_unigram_census_is_single_pass_no_shuffle(spark):
    """q179 (PLANS.md): the fixed-model Viterbi census is scan ->
    filter -> ONE MapInPandas — no Exchange, no join, nothing but the
    Arrow pass."""
    df = em.q179_unigram_segment(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "MapInPandas" in tree, tree
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree


def test_q180_bt_result_reads_from_checkpoint(spark):
    """q180 (PLANS.md): the strength frame is the loop's checkpoint
    (Scan ExistingRDD) — re-collecting never replays the GD joins; the
    only shuffle is the bounded rank projection."""
    df = em.q180_bt_preferences(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "Scan ExistingRDD" in tree, tree
    assert "Join" not in tree, tree
    assert "Scan parquet" not in tree, tree


def test_q182_mojibake_repair_is_pure_projection(spark):
    """q182 (PLANS.md): the whole corrupt->repair->census chain is a
    narrow projection over one scan — zero Exchange, zero join; at
    100 TB mojibake repair runs at scan speed."""
    df = em.q182_mojibake_repair(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree


def test_q183_group_zscore_has_no_window_or_sort(spark):
    """q183 (PLANS.md): group normalization is aggregate + join-back +
    projection — no Window/Sort funneling a group through one task
    (the q176 contrast)."""
    df = em.q183_group_reward_normalize(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "Window" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_q184_chat_census_is_pure_projection(spark):
    """q184 (PLANS.md): conversation assembly + all HOF validation
    rules + render fold into one Project over the scan — zero
    Exchange, zero join; SFT curation runs at scan speed."""
    df = em.q184_chat_sft_census(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree


def test_q186_vocab_membership_join_is_broadcast(spark):
    """q186 (PLANS.md): the 64-row vocabulary joins back onto the
    exploded corpus as a BroadcastHashJoin — the corpus-sized side is
    never re-shuffled; no sort-merge join, no cartesian."""
    df = em.q186_vocab_coverage(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_q189_loss_mask_is_pure_projection(spark):
    """q189 (PLANS.md): span fold + masked-byte fold + render share one
    zero-shuffle projection over the scan."""
    df = em.q189_loss_mask_spans(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree


def test_q192_substring_spans_no_cartesian_streamed_generate(spark):
    """q192 (PLANS.md): the per-position fingerprint pass streams
    through the Arrow rolling-hash kernel (a MapInPandas node, the
    substring family's only fingerprint) — no CartesianProduct
    anywhere, and the duplicate-census join back onto the selected
    positions is a real join on the fingerprint key (hash exchange),
    never a nested loop."""
    df = em.q192_substring_dedup(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    # the rolling fingerprint kernel
    assert "MapInPandas" in tree, tree


def test_q192_census_and_probe_share_one_fp_exchange(spark):
    """Round-10 optimization: the duplicate-fp census branch and the
    probe branch must emit CANONICALLY IDENTICAL fp exchanges — same
    (__id, __p, __fp) column set under hashpartitioning(__fp) — so
    AQE stage reuse executes the per-position fingerprint pass once.
    Column pruning narrowing the census copy to (__id, __fp) silently
    doubles the fingerprint pass (dedup.py keeps __p alive with the
    always-true __pmax >= 1 conjunct precisely to prevent that)."""
    import re

    df = em.q192_substring_dedup(spark, SF)
    plan = _formatted(spark, df)
    fp_exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[(\d+)\][^\n]*\n"
        r"Arguments: hashpartitioning\(__fp",
        plan,
    )
    assert len(fp_exchanges) >= 2, plan
    assert all(n == "3" for n in fp_exchanges), (
        "fp exchange branches diverged (column pruning broke "
        f"exchange reuse): widths={fp_exchanges}"
    )


def test_q193_removal_no_cartesian(spark):
    """q193 (PLANS.md): fingerprint stage + three bounded-key windows +
    one id-keyed join back; never a nested loop or cartesian."""
    df = em.q193_substring_removal(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree


def test_q197_incremental_removal_no_cartesian(spark):
    """q197 (PLANS.md): the q193 cut/rebuild shape fed by the batch-only
    fingerprint pass + one fp-keyed index join; never a nested loop or
    cartesian, and the base corpus side is census-sized."""
    df = em.q197_incremental_removal(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree


def test_q198_bitext_exact_broadcasts_target_side(spark):
    """q198 (PLANS.md): the exact mining baseline is an all-pairs scan
    with the TARGET language broadcast — the plan must show a broadcast
    nested-loop (the deliberate documented shape), never an unbroadcast
    CartesianProduct, and the two k-NN windows are the only exchanges
    of the pair relation."""
    df = em.q198_bitext_mining(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" in tree, tree


def test_q200_span_corruption_no_exchange_before_agg(spark):
    """q200 (PLANS.md): the span list is a pipelined Generate over a
    codegen projection; the only exchanges are the checksum aggregate
    and the stats join — never a cartesian or per-row Python."""
    df = em.q200_span_corruption(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "Generate" in tree, tree
    assert "Python" not in tree, tree


def test_q201_semantic_packing_broadcasts_small_frames(spark):
    """q201 (PLANS.md): centroids, cell bases, and the bucket prefix
    are all broadcast; the corpus side never enters a nested loop
    except the documented n_cells-row centroid broadcast. The static
    plan repeats the assignment lineage under each consumer, but AQE
    exchange reuse collapses it — the post-execution plan must show
    ReusedExchange (the corpus argmax runs ONCE)."""
    df = em.q201_semantic_packing(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    # the centroid argmax is the one deliberate broadcast nested loop
    # (8 rows against the corpus); bases and prefix join as broadcast
    # hash joins
    assert "BroadcastNestedLoopJoin" in tree, tree
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_q202_crawl_frontier_no_cartesian(spark):
    """q202 (PLANS.md): rules and delays join host-keyed; the schedule
    is one per-host window — never a nested loop or cartesian."""
    df = em.q202_crawl_frontier(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree


def test_q203_tokenizer_fertility_is_scan_plus_one_agg(spark):
    """q203 (PLANS.md): one codegen projection + a script-count-sized
    aggregate; no joins, no Python, no Generate."""
    df = em.q203_tokenizer_fertility(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    assert "Join" not in tree, tree
    assert "Python" not in tree, tree


def test_q204_url_bitext_joins_on_skeleton_only(spark):
    """q204 (PLANS.md): one codegen marker projection, one skeleton
    equi-join — never a nested loop or cartesian, no Python."""
    df = em.q204_url_bitext(spark, SF)
    tree = _tree(_formatted(spark, df))
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "Python" not in tree, tree
