"""Distributed BPE tokenizer training (Sennrich et al. 2016) and the
matching segmenter — the learn-the-vocabulary half of the pipeline's
token accounting (``functions.textstats.bpe_token_count`` is the
tokenizer-free approximation; this learns real merges from the corpus).

Scale shape — the classic trick is that BPE training never iterates
over the corpus, only over the DISTINCT-WORD frame (vocabulary-scale,
millions of rows at web scale, not trillions):

- one corpus pass builds (word, count) — the only corpus-sized job;
- ONE full pair count seeds a running distributed pair-count frame;
  each merge then collects the argmax row from that frame (ties broken
  (count DESC, a ASC, b ASC) for determinism) and merges in a signed
  DELTA computed from only the words CONTAINING the merged pair — the
  incremental pair maintenance that makes realistic 30k-merge vocabs
  feasible (30k affected-slice deltas, not 30k full recounts);
- the merge itself is a narrow codegen array fold (greedy left-to-right
  non-overlapping, the BPE contract) — no shuffle;
- lineage is cut with ``operators.common.pipeline_break`` every
  ``checkpoint_every`` merges so n_merges chained folds never blow up
  the analyzer.

Driver traffic is one (a, b, count) row per merge — the same
driver-scalar class as k-means centroids and PageRank's |V|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import tokens
from .common import pipeline_break

END = "</w>"  # word-end marker (lets word-final merges stay distinct)


def _merge_expr(sym_col, a: str, b: str):
    """Greedy left-to-right non-overlapping replacement of the adjacent
    symbol pair (a, b) by their concatenation, as a pure array fold."""
    merged = a + b
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == a)
            & (x == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _word_frame(df: DataFrame, text_col: str, lowercase: bool) -> DataFrame:
    from ..functions.textstats import word_counts

    words = word_counts(df, text_col, lowercase=lowercase)
    chars = F.filter(F.split(F.col("__w"), ""), lambda x: x != "")
    return words.select(
        F.concat(chars, F.array(F.lit(END))).alias("__s"),
        F.col("__cnt"),
    )


def _pairs_of(sym_col):
    """array<struct<a,b>> of ADJACENT symbol pairs of a symbol array."""
    return F.zip_with(
        F.slice(sym_col, 1, F.size(sym_col) - 1),
        F.slice(sym_col, 2, F.size(sym_col) - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )


def _argmax_pair(counts: DataFrame, min_count: int) -> list:
    """ONE (pair, count) row: the deterministic argmax — ties broken
    (count DESC, a ASC, b ASC), the Sennrich contract."""
    return (
        counts.filter(F.col("__n") >= min_count)
        .orderBy(
            F.col("__n").desc(),
            F.col("__p.a").asc(),
            F.col("__p.b").asc(),
        )
        .limit(1)
        .collect()
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 50,
    min_count: int = 2,
    lowercase: bool = True,
    checkpoint_every: int = 8,
    incremental: bool = True,
) -> list:
    """Learn up to ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge list ``[(a, b, pair_count), ...]`` (stops early when
    no pair reaches ``min_count``). See module note for the plan shape
    and determinism contract.

    ``incremental=True`` (default — the scale path, VERDICT r5 item #5)
    maintains a running distributed pair-count frame and, per merge,
    recounts pairs only for the WORDS CONTAINING the merged pair: the
    signed delta (new pairs minus old pairs of just those words) merges
    into the running counts. A realistic 30k-merge vocab then costs one
    full pair count ONCE plus 30k deltas each proportional to the
    affected-word slice, instead of 30k full vocab-frame recounts.
    Bit-equal to ``incremental=False`` by construction (the delta is
    computed from the same arrays the full recount would scan) and
    differential-tested in ``tests/test_bpe.py``.
    """
    frame = pipeline_break(_word_frame(df, text_col, lowercase))
    if not incremental:
        return _train_recount(
            frame, n_merges, min_count, checkpoint_every
        )
    # the ONLY full pair count of the whole run
    counts = pipeline_break(
        frame.filter(F.size(F.col("__s")) >= 2)
        .select("__cnt", F.explode(_pairs_of(F.col("__s"))).alias("__p"))
        .groupBy("__p")
        .agg(F.sum("__cnt").alias("__n"))
    )
    merges: list = []
    for i in range(n_merges):
        top = _argmax_pair(counts, min_count)
        if not top:
            break
        a, b, n = top[0]["__p"]["a"], top[0]["__p"]["b"], top[0]["__n"]
        merges.append((a, b, int(n)))
        # affected = words where (a, b) occurs ADJACENT — only their
        # pair multisets change under this merge
        has = F.exists(
            _pairs_of(F.col("__s")),
            lambda p: (p["a"] == F.lit(a)) & (p["b"] == F.lit(b)),
        )
        merged_syms = _merge_expr(F.col("__s"), a, b)
        affected = frame.filter(has)
        signed = affected.select(
            F.lit(-1).alias("__sign"), F.col("__cnt"), F.col("__s")
        ).unionAll(
            affected.select(
                F.lit(1).alias("__sign"),
                F.col("__cnt"),
                merged_syms.alias("__s"),
            )
        )
        delta = (
            signed.filter(F.size(F.col("__s")) >= 2)
            .select(
                (F.col("__sign") * F.col("__cnt")).alias("__d"),
                F.explode(_pairs_of(F.col("__s"))).alias("__p"),
            )
            .groupBy("__p")
            .agg(F.sum("__d").alias("__n"))
        )
        # checkpoint counts EVERY merge: the next argmax then reads a
        # materialized pair-vocab-sized frame instead of re-running all
        # deltas since the last cut (pair vocab is bounded; the frame
        # checkpoint below stays amortized)
        counts = pipeline_break(
            counts.unionAll(delta)
            .groupBy("__p")
            .agg(F.sum("__n").alias("__n"))
            .filter(F.col("__n") > 0)
        )
        # unaffected words keep their array untouched (no fold cost).
        # Lineage is cut EVERY merge here: the guarded merge references
        # __s ~9x per layer (exists + fold + otherwise), and project
        # collapse inlines those references — nesting even a handful of
        # layers blows the expression tree up exponentially (observed:
        # JVM heap OOM at depth 8). The eager cut is one in-memory
        # vocab-sized pass with NO shuffle — the delta above stays the
        # only shuffled work per merge.
        frame = pipeline_break(
            frame.withColumn(
                "__s", F.when(has, merged_syms).otherwise(F.col("__s"))
            )
        )
    return merges


def _train_recount(
    frame: DataFrame, n_merges: int, min_count: int, checkpoint_every: int
) -> list:
    """Reference full-recount loop (one vocab-frame pair count per
    merge) — kept as the differential baseline for the incremental
    path; correct at any n_merges, quadratic-ish in practice."""
    merges: list = []
    for i in range(n_merges):
        counts = (
            frame.filter(F.size(F.col("__s")) >= 2)
            .select(
                "__cnt", F.explode(_pairs_of(F.col("__s"))).alias("__p")
            )
            .groupBy("__p")
            .agg(F.sum("__cnt").alias("__n"))
        )
        top = _argmax_pair(counts, min_count)
        if not top:
            break
        a, b, n = top[0]["__p"]["a"], top[0]["__p"]["b"], top[0]["__n"]
        merges.append((a, b, int(n)))
        frame = frame.withColumn("__s", _merge_expr(F.col("__s"), a, b))
        if (i + 1) % checkpoint_every == 0:
            frame = pipeline_break(frame)
    return merges


def bpe_segment(
    df: DataFrame,
    text_col: str,
    merges: list,
    *,
    out_col: str = "bpe_tokens",
    lowercase: bool = True,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Apply a learned merge list to every document: appends ``out_col``
    (array<string> of word-piece symbols, ``</w>``-terminated words,
    document order preserved). Standard BPE encode: each merge is
    replayed in learned order as the same greedy fold used in training
    — narrow codegen, no UDF, no shuffle."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    word_syms = F.transform(
        F.filter(tokens(t), lambda w: w != ""),
        lambda w: F.concat(
            F.filter(F.split(w, ""), lambda x: x != ""),
            F.array(F.lit(END)),
        ),
    )
    def _apply(a: str, b: str):
        # bind via factory: extra defaulted lambda params would change
        # the arity PySpark infers for the higher-order function
        return lambda s: _merge_expr(s, a, b)

    out = df.withColumn("__ws", word_syms)
    for i, (a, b, _n) in enumerate(merges):
        out = out.withColumn(
            "__ws", F.transform(F.col("__ws"), _apply(a, b))
        )
        if (i + 1) % checkpoint_every == 0:
            out = pipeline_break(out)
    return out.withColumn(out_col, F.flatten(F.col("__ws"))).drop("__ws")
