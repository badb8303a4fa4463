"""End-to-end WEB-corpus extraction pipeline: raw HTML pages -> curated
text corpus (the FineWeb/C4 front half; ``plans/corpus.py`` is the back
half that runs once text exists).

    pages (id, url, html)
      -> HTML -> text        (strip_html, block tags preserved as lines)
      -> C4 page cleaning    (terminal-punctuation line rule, lorem/brace)
      -> Gopher quality      (word/symbol/bullet/stopword/dup-line rules)
      -> fuzzy line dedup    (normalized-key boilerplate removal,
                              originals preserved, order kept)
      -> exact dedup         (normalized-content hash, keep min id)
      -> per-domain quota    (registered_domain cap)

Every stage is deterministic (regex chains that are Java/RE2-identical,
md5 keys, hash-coin quotas), so the WHOLE funnel replays in the DuckDB
oracle (q118).

Scale shape: stages 1-3 are narrow codegen projections (zero shuffle);
line dedup is the q84/q112 anti-join plan; exact dedup one key-shuffled
window; the quota one domain-keyed WindowGroupLimit. Stage boundaries
are pipeline-broken (``operators.common.pipeline_break``) so per-stage
stats never recompute upstream work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jsonl_dataingestion_pipeline_spark.functions.sampling import quota_sample
from jsonl_dataingestion_pipeline_spark.functions.web import (
    registered_domain,
    strip_html,
    url_host,
)
# the funnel's barriers go through this module-level name:
# perfbench/workloads.py wraps it to time each stage in call order
from jsonl_dataingestion_pipeline_spark.operators.common import (
    pipeline_break as _pipeline_break,
    stage_stats,
)
from jsonl_dataingestion_pipeline_spark.operators.curation import (
    c4_quality_filter,
    dedup_lines,
    gopher_quality_flags,
    normalized_line_key,
)


def extract_web_corpus(
    pages: DataFrame,
    *,
    id_col: str = "page_id",
    url_col: str = "url",
    html_col: str = "html",
    c4_min_words_per_line: int = 5,
    c4_min_sentences: int = 3,
    gopher_params: dict | None = None,
    line_min_docs: int = 5,
    line_key=normalized_line_key,
    max_per_domain: int = 50,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Run the six-stage web-extraction funnel.

    Returns ``(survivors, stats)``: the curated (id, domain, text) frame
    and a 7-row long-form per-stage summary (stage, stage_name, n_docs,
    sum_ids).
    """
    dom = registered_domain(url_host(F.col(url_col))).alias("domain")
    s0 = pages.select(F.col(id_col), dom, F.col(html_col))

    # -- 1: HTML -> text, line structure preserved; drop empty pages
    s1 = _pipeline_break(
        s0.withColumn(
            "text", strip_html(F.col(html_col), keep_line_breaks=True)
        )
        .filter(F.length("text") > 0)
        .select(id_col, "domain", "text")
    )

    # -- 2: C4 page cleaning; survivors carry the cleaned text
    c4 = c4_quality_filter(
        s1,
        "text",
        id_col,
        min_words_per_line=c4_min_words_per_line,
        min_sentences=c4_min_sentences,
    )
    s2 = _pipeline_break(
        s1.join(
            c4.filter(F.col("c4_keep")).select(id_col, "c4_text"), id_col
        )
        .select(id_col, "domain", F.col("c4_text").alias("text"))
    )

    # -- 3: Gopher quality rules on the cleaned text
    gp = gopher_quality_flags(s2, "text", id_col, **(gopher_params or {}))
    s3 = _pipeline_break(
        s2.join(gp.filter(F.col("keep")).select(id_col), id_col)
    )

    # -- 4: fuzzy boilerplate line removal (normalized keys), originals
    # rebuilt in order; drop pages that were pure boilerplate
    ld = dedup_lines(
        s3.select(id_col, "text"),
        id_col,
        "text",
        min_docs=line_min_docs,
        key=line_key,
    )
    s4 = _pipeline_break(
        ld.filter(F.col("n_kept") >= 1)
        .join(s3.select(id_col, "domain"), id_col)
        .select(id_col, "domain", "text")
    )

    # -- 5: exact dedup on normalized content, keep min id
    ck = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    w = Window.partitionBy("__ck").orderBy(F.col(id_col).asc())
    s5 = _pipeline_break(
        s4.withColumn("__ck", ck)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__ck", "__rn")
    )

    # -- 6: per-domain quota
    s6 = quota_sample(
        s5, "domain", id_col, max_per_group=max_per_domain, seed=seed
    )

    stats = stage_stats(
        [
            ("input", s0),
            ("html_extract", s1),
            ("c4_clean", s2),
            ("gopher_quality", s3),
            ("fuzzy_line_dedup", s4),
            ("exact_dedup", s5),
            ("domain_quota", s6),
        ],
        id_col,
    )
    return s6, stats
