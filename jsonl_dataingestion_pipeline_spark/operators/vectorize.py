"""Feature hashing (the "hashing trick", Weinberger et al. 2009) —
vocabulary-free text vectorization.

TF-IDF (q60) and BM25 (q61) need a vocabulary/DF table — a shuffle
over the token space and a model artifact to ship. The hashing trick
needs neither: token -> ``md5(token) mod dim`` buckets a fixed-width
vector directly, with a second hash bit supplying a ±1 sign so bucket
collisions cancel in expectation instead of biasing inner products
upward (the signed variant from the paper). That statelessness is the
100 TB property: vectorization is a narrow per-row expression chain
with no vocabulary broadcast, no fit step, and identical output no
matter how the corpus is partitioned or which shard of it you process
first — the exact property a multi-datacenter ingest needs.

Representation is SPARSE (id, bucket, weight) rows, not dense arrays:
at dim 2^18+ a dense array per doc would octuple the shuffle bytes of
short documents for no benefit; sparse rows partial-aggregate
map-side and join on the bucket key.

Everything is integer arithmetic until the final cosine (signed
counts are exact int64 sums — order-independent, the q151 determinism
contract), so a DuckDB replay matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: tokens: lowercase, whitespace-split, empties dropped — the corpus
#: tokenizer contract shared with textstats/dedup.
def _tokens(text_col: str):
    return F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )


def hashed_tf_entries(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 1024,
    signed: bool = True,
) -> DataFrame:
    """Sparse signed-hashed term-frequency entries: one (``id``,
    ``bucket`` INT, ``w`` BIGINT) row per non-zero vector coordinate.

    ``bucket`` = first-8-hex of md5(token) mod ``dim``; the sign bit is
    hex digit 9 (parity) when ``signed``. ``w`` is the exact integer
    sum of ±1 per token occurrence — map-side partial aggregation
    collapses each task to <= dim rows per document before the
    shuffle."""
    tok = F.explode(_tokens(text_col)).alias("__tok")
    base = df.select(F.col(id_col).alias("id"), tok)
    h8 = F.conv(F.substring(F.md5(F.col("__tok")), 1, 8), 16, 10).cast(
        "long"
    )
    bucket = (h8 % F.lit(int(dim))).cast("int")
    if signed:
        sbit = F.conv(
            F.substring(F.md5(F.col("__tok")), 9, 1), 16, 10
        ).cast("long")
        sign = F.when(sbit % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    else:
        sign = F.lit(1)
    entries = base.select(
        "id", bucket.alias("bucket"), sign.cast("long").alias("__s")
    )
    return (
        entries.groupBy("id", "bucket")
        .agg(F.sum("__s").alias("w"))
        .filter(F.col("w") != 0)
    )


def hashed_cosine_topk(
    df: DataFrame,
    query: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 1024,
    k: int = 5,
    scale: int = 6,
) -> DataFrame:
    """Top-``k`` documents by cosine over signed-hashed TF vectors.

    ``query`` is a 1-row frame carrying the query document (same
    ``text_col``/``id_col``). Plan: both sides vectorize with
    :func:`hashed_tf_entries`; the dot product is ONE equi-join of the
    corpus entries against the <= dim broadcast query entries followed
    by a per-id sum (exact int64); norms come from the same corpus
    aggregate. Cosine divides the exact integers in float and rounds —
    deterministic — and the cut is sort+limit (TakeOrderedAndProject).

    Returns (ht_id, ht_sim_u BIGINT micro-units, ht_rank INT); the
    query id is excluded. Docs sharing no bucket with the query are
    absent (cosine 0 — a top-k over a corpus would never return them).
    """
    from pyspark.sql.window import Window

    from jsonl_dataingestion_pipeline_spark.operators.common import (
        pipeline_break,
    )

    # validate the (tiny, <= dim rows) query side eagerly — an empty
    # frame or a query whose text tokenizes to nothing would otherwise
    # surface as an opaque TypeError / all-NULL similarities (ADVICE r7)
    qrows = query.select(F.col(id_col)).limit(2).collect()
    if len(qrows) != 1:
        raise ValueError(
            "hashed_cosine_topk: query must be exactly one row, got "
            + ("an empty frame" if not qrows else "more than one row")
        )
    qid = qrows[0][0]

    # materialize the sparse entries ONCE: both the norm aggregate and
    # the dot-product join consume them, and a lazy plan re-runs the
    # tokenize/explode/aggregate subtree twice (measured ~2x wall at
    # the x100 tier)
    corpus = pipeline_break(hashed_tf_entries(df, text_col, id_col, dim=dim))
    qent = hashed_tf_entries(query, text_col, id_col, dim=dim).select(
        "bucket", F.col("w").alias("__qw")
    )
    if not qent.head(1):
        raise ValueError(
            "hashed_cosine_topk: the query text tokenizes to no "
            "non-zero hashed entries (empty/whitespace text, or every "
            "bucket cancelled); cosine against it is undefined"
        )
    qnorm2 = qent.select(
        F.sum(F.col("__qw") * F.col("__qw")).alias("__qn2")
    )
    norms = corpus.groupBy("id").agg(
        F.sum(F.col("w") * F.col("w")).alias("__n2")
    )
    dots = (
        corpus.join(F.broadcast(qent), on="bucket")
        .groupBy("id")
        .agg(F.sum(F.col("w") * F.col("__qw")).alias("__dot"))
    )
    sim = F.round(
        F.col("__dot").cast("double")
        / (
            F.sqrt(F.col("__n2").cast("double"))
            * F.sqrt(F.col("__qn2").cast("double"))
        ),
        scale,
    )
    scored = (
        dots.join(norms, on="id")
        .crossJoin(F.broadcast(qnorm2))
        .filter(F.col("id") != F.lit(qid))
        .select(
            F.col("id").alias("ht_id"),
            F.round(sim * 1e6).cast("long").alias("ht_sim_u"),
        )
    )
    top = scored.orderBy(
        F.col("ht_sim_u").desc(), F.col("ht_id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("ht_sim_u").desc(), F.col("ht_id").asc())
    return top.withColumn(
        "ht_rank", F.row_number().over(w).cast("int")
    )
