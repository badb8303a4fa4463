"""End-to-end training-corpus curation pipeline (the LLM-data analogue
of ``plans/shipment.py``).

Chains the engine's curation operators into the canonical pretraining
data flow:

    input
      -> exact dedup            (normalized-content hash, keep min id)
      -> quality filter         (C4/Gopher-style composite score)
      -> cross-corpus line dedup (boilerplate removal, order-preserving)
      -> near-dup dedup          (shingle Jaccard pairs -> connected
                                  components -> keep representative)
      -> temperature resampling  (alpha-balanced language mix)

Every stage is deterministic (md5 hashing, explicit tiebreaks, rounded
rates), so the WHOLE pipeline is replayable by the DuckDB oracle —
including the recursive connected-components labeling (q90).

Scale shape: stages 1-3 are one narrow pass + one key-shuffle each;
stage 4 is the banded/sampled near-dup machinery from
``operators/dedup.py`` (candidates only, never all-pairs); stage 5 is a
broadcast of per-language rates. Stage boundaries are pipeline-broken
(``operators.common.pipeline_break``) so the final frame's lineage
stays shallow and stage stats don't recompute upstream work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jsonl_dataingestion_pipeline_spark.functions.sampling import (
    temperature_sample,
)
from jsonl_dataingestion_pipeline_spark.functions.textstats import (
    quality_score,
)
# the funnel's barriers go through this module-level name:
# perfbench/workloads.py wraps it to time each stage in call order
from jsonl_dataingestion_pipeline_spark.operators.common import (
    pipeline_break as _pipeline_break,
    stage_stats,
)
from jsonl_dataingestion_pipeline_spark.operators.curation import dedup_lines
from jsonl_dataingestion_pipeline_spark.operators.dedup import (
    content_key,
    dedup_near_duplicates,
    ngram_jaccard_pairs,
    shingle_base,
)


def curate_corpus(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    quality_min: float = 0.5,
    line_tokens: int = 8,
    line_min_docs: int = 2,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    sample_hex_prefix: str = "0",
    alpha: float = 0.5,
    target_n: int = 300,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame]:
    """Run the five-stage curation pipeline.

    Returns ``(survivors, stats)``: the curated (id, group, text) frame
    and a 6-row long-form per-stage summary (stage, stage_name, n_docs,
    sum_ids) whose counts force exactly one evaluation per stage.
    """
    s0 = df.select(F.col(id_col), F.col(group_col), F.col(text_col))

    # -- 1: exact dedup on normalized content, deterministic keep-min-id
    ck = content_key(F.col(text_col))
    w = Window.partitionBy("__ck").orderBy(F.col(id_col).asc())
    s1 = _pipeline_break(
        s0.withColumn("__ck", ck)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__ck", "__rn")
    )

    # -- 2: composite quality filter (length / stopword / repetition).
    # Deliberately the PLAIN composed form: materializing the token
    # split in a preceding select does NOT survive a filter —
    # PushDownPredicates substitutes aliases unconditionally when
    # pushing a Filter through a Project (no cheapness check, unlike
    # CollapseProject), so the "shared" split re-duplicates into the
    # pushed predicate anyway (round-9 review, verified in the
    # optimized plan). The *_from_tokens fast path is for PROJECTIONS;
    # filters pay the duplicated-split codegen either way.
    s2 = s1.filter(quality_score(F.col(text_col)) >= quality_min)

    # -- 3: cross-corpus line dedup over derived fixed-token lines.
    # documents.text is single-line; segment it into ``line_tokens``-token
    # lines first (the same lining q84 uses), then remove boilerplate
    # lines appearing in >= line_min_docs distinct docs.
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_lines = F.ceil(F.size(toks) / F.lit(float(line_tokens))).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(toks, i * line_tokens + 1, line_tokens), " "
        ),
    )
    lined = s2.withColumn(text_col, F.array_join(lines_arr, "\n"))
    deduped = dedup_lines(
        lined.select(id_col, text_col),
        id_col,
        text_col,
        sep="\n",
        min_docs=line_min_docs,
    )
    s3 = _pipeline_break(
        deduped.filter(F.col("n_kept") >= 1)
        .join(s2.select(id_col, group_col), id_col)
        .select(id_col, group_col, text_col)
    )

    # -- 4: near-dup dedup (sampled-shingle Jaccard -> components ->
    # keep each cluster's min-id representative)
    base = shingle_base(s3, text_col, id_col, shingle_k=shingle_k)
    pairs = ngram_jaccard_pairs(
        s3,
        text_col,
        id_col,
        shingle_k=shingle_k,
        sample_hex_prefix=sample_hex_prefix,
        threshold=jaccard_threshold,
        base=base,
    )
    s4 = _pipeline_break(dedup_near_duplicates(s3, pairs, id_col))

    # -- 5: temperature-balanced language mix
    s5 = temperature_sample(
        s4, group_col, id_col, alpha=alpha, target_n=target_n, seed=seed
    ).drop("keep_rate")

    stats = stage_stats(
        [
            ("input", s0),
            ("exact_dedup", s1),
            ("quality_filter", s2),
            ("line_dedup", s3),
            ("neardup_dedup", s4),
            ("temperature_sample", s5),
        ],
        id_col,
    )
    return s5, stats
