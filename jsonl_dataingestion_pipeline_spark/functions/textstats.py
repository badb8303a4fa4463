"""Text-analysis kernels for large-scale training-data pipelines.

Language-ID (stopword voting), quality scoring, token counting, and
document fingerprinting — all native Column expressions so they run
JVM-side over arbitrarily large corpora, and all arithmetic is
deterministic/cross-engine (md5-based hashing, explicit rounding) so the
same computation can be replayed by an ANSI-SQL oracle.
"""

from __future__ import annotations

from typing import Mapping, Sequence, Union

import pandas as pd  # module-level: pandas_udf resolves string type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .expr import let

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def trunc_round(c: Column, scale: int) -> Column:
    """Deterministic cross-engine rounding: floor(x·10^s)/10^s.

    ``round()`` half-up disagrees between engines when a value sits on a
    decimal boundary after FP noise; floor of the identical IEEE product
    is bit-stable everywhere.
    """
    f = float(10**scale)
    return F.floor(c * F.lit(f)) / F.lit(f)


def tokens(c: ColumnOrName) -> Column:
    """Whitespace tokenization of trimmed text -> array<string>."""
    return F.split(F.trim(_col(c).cast("string")), r"\s+")


def word_counts(df, text_col: str, *, lowercase: bool = True):
    """Distinct-word frame ``(__w, __cnt)`` — the corpus-to-vocabulary
    reduction both trained tokenizers (BPE, unigram-LM) iterate over.
    One corpus pass; shared so word normalization can never silently
    diverge between the two vocabularies."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    return (
        df.select(F.explode(tokens(t)).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


def token_count(c: ColumnOrName) -> Column:
    t = _col(c)
    return F.when(
        F.length(F.trim(t.cast("string"))) == 0, F.lit(0)
    ).otherwise(F.size(tokens(t))).cast("int")


def token_count_from_tokens(
    toks: ColumnOrName, text: ColumnOrName
) -> Column:
    """:func:`token_count` over a materialized ``tokens(text)`` column —
    bit-identical values, one regex split per row shared with every
    other ``*_from_tokens`` consumer in the same projection."""
    empty = F.length(F.trim(_col(text).cast("string"))) == 0
    return F.when(empty, F.lit(0)).otherwise(
        F.size(_col(toks))
    ).cast("int")


def stopword_ratio_from_tokens(
    toks: ColumnOrName,
    text: ColumnOrName,
    stopwords: Sequence[str],
    scale: int = 4,
) -> Column:
    """:func:`stopword_ratio` over a materialized token column."""
    stops = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(
        F.filter(_col(toks), lambda t: F.array_contains(stops, F.lower(t)))
    ).cast("int")
    return F.round(
        hits
        / F.greatest(
            token_count_from_tokens(toks, text), F.lit(1)
        ).cast("double"),
        scale,
    )


def char_count(c: ColumnOrName) -> Column:
    return F.length(_col(c).cast("string")).cast("int")


def avg_token_length(c: ColumnOrName, scale: int = 4) -> Column:
    """Mean token length, rounded (deterministic across engines)."""
    toks = tokens(c)
    total = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), scale)


def stopword_hits(c: ColumnOrName, stopwords: Sequence[str]) -> Column:
    """Number of tokens (with repetition) that are stopwords."""
    stops = F.array(*[F.lit(s) for s in stopwords])
    return F.size(
        F.filter(tokens(c), lambda t: F.array_contains(stops, F.lower(t)))
    ).cast("int")


def stopword_ratio(
    c: ColumnOrName, stopwords: Sequence[str], scale: int = 4
) -> Column:
    return F.round(
        stopword_hits(c, stopwords)
        / F.greatest(token_count(c), F.lit(1)).cast("double"),
        scale,
    )


# A small, fixed English stopword list used by the default quality score.
DEFAULT_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from",
)


def _quality_body(
    t: Column, empty: Column, stopwords: Sequence[str], scale: int
) -> Column:
    """Shared composite-score expression over a token-array reference
    ``t`` (referenced several times — the CALLER decides how ``t`` is
    shared: a materialized column, or a let-bound value)."""
    stops = F.array(*[F.lit(s) for s in stopwords])
    ncount = F.when(empty, F.lit(0)).otherwise(F.size(t)).cast("int")
    n = ncount.cast("double")
    length_component = F.least(n / F.lit(64.0), F.lit(1.0))
    stop_hits = F.size(
        F.filter(t, lambda x: F.array_contains(stops, F.lower(x)))
    ).cast("int")
    stop_ratio = F.round(
        stop_hits / F.greatest(ncount, F.lit(1)).cast("double"), 8
    )
    stop_component = F.least(stop_ratio * 4.0, F.lit(1.0))
    distinct_component = F.size(F.array_distinct(t)) / F.greatest(
        n, F.lit(1.0)
    )
    return trunc_round(
        0.4 * length_component
        + 0.3 * stop_component
        + 0.3 * distinct_component,
        scale,
    )


def quality_score_from_tokens(
    toks: ColumnOrName,
    text: ColumnOrName,
    stopwords: Sequence[str] = DEFAULT_STOPWORDS,
    scale: int = 4,
) -> Column:
    """:func:`quality_score` over an already-materialized token array.

    ``toks`` must be a COLUMN REFERENCE to ``tokens(text)`` produced by
    a preceding ``select``/``withColumn`` — the fast path for plain
    projections: CollapseProject keeps a multi-referenced non-cheap
    alias as its own Project, so the regex split runs once per row
    inside whole-stage codegen (see ``expr.let``'s docstring — codegen
    beats the interpreted let wrapper; measured round 9: q20
    0.31s -> 0.22s at sf0.1). ``text`` is the raw text column (only the
    emptiness check needs it). Values are bit-identical to
    :func:`quality_score`.

    PROJECTIONS ONLY: in a ``filter``, PushDownPredicates substitutes
    aliases unconditionally when pushing the predicate through the
    Project, re-duplicating the split into the pushed condition — a
    filter gains nothing over plain :func:`quality_score` (round-9
    review, verified in the optimized plan).
    """
    empty = F.length(F.trim(_col(text).cast("string"))) == 0
    return _quality_body(_col(toks), empty, stopwords, scale)


def quality_score(
    c: ColumnOrName,
    stopwords: Sequence[str] = DEFAULT_STOPWORDS,
    scale: int = 4,
) -> Column:
    """Composite [0,1] quality heuristic (length / stopword / repetition).

    Mirrors the common C4/Gopher-style filters: reasonable length, some
    stopword mass (fluent prose), low single-token domination. Fully
    expression-based and oracle-replayable; weights are fixed.

    The token split appears several times in the tree and Catalyst's
    subexpression elimination does hoist SOME of it within one codegen
    stage, but the shared-evaluation guarantee belongs to the caller:
    in a hot plain projection, materialize ``tokens(c)`` in a preceding
    ``select`` and use :func:`quality_score_from_tokens` — that stays
    in whole-stage codegen with one split per row. (A round-8 revision
    let-bound the split here; the interpreted ``transform`` wrapper
    measured SLOWER than duplicated codegen on short rows — q20
    0.23s -> 0.31s, q176 ~2x — so the let is reserved for genuine HOF
    lambdas per ``expr.let``'s own guidance.)
    """
    t0 = _col(c).cast("string")
    empty = F.length(F.trim(t0)) == 0
    return _quality_body(tokens(t0), empty, stopwords, scale)


# Stopword votes per language for the n-gram/stopword language heuristic.
LANG_STOPWORDS: Mapping[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"),
    "es": ("el", "la", "los", "las", "y", "es", "en", "que", "de", "por"),
    "fr": ("le", "la", "les", "et", "est", "en", "que", "des", "une", "pour"),
}


def lang_id(c: ColumnOrName, default: str = "und") -> Column:
    """Stopword-voting language ID: argmax of per-language hit counts.

    Deterministic tie-break: higher count wins, then lexicographically
    smaller language code. Zero hits -> ``default``.
    """
    scored = sorted(LANG_STOPWORDS.items())  # lexicographic = tiebreak order
    hit_cols = [(lang, stopword_hits(c, words)) for lang, words in scored]
    best = None
    best_lang = F.lit(default)
    for lang, hits in hit_cols:
        if best is None:
            best = hits
            best_lang = F.when(hits > 0, F.lit(lang)).otherwise(F.lit(default))
        else:
            cond = hits > best
            best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
            best = F.when(cond, hits).otherwise(best)
    return best_lang


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles of a pre-computed token array.

    Uses 1-based positions with ``try_element_at`` padding so short
    documents still produce one shingle. ``toks`` must be a cheap
    reference (a column, or a lambda variable) — it is accessed ``k``
    times per position inside the transform lambda, where Catalyst does
    not eliminate common subexpressions (functions/expr.py). Operators
    that control their own projection chain should materialize the
    token array in a preceding ``select`` and call this directly: the
    split then runs once per row in whole-stage codegen (measured ~1.7x
    faster at sf0.1 than even the let-bound :func:`shingles` wrapper,
    whose binding runs interpreted).
    """
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[F.coalesce(F.try_element_at(toks, i + j), F.lit("")) for j in range(k)],
        ),
    )


def shingles(c: ColumnOrName, k: int = 3) -> Column:
    """Word k-gram shingles of the token stream -> array<string>.

    The token split is let-bound so it evaluates once per row, not once
    per (position, offset) lambda access — the naive form re-ran the
    regex split ~3n times per document and was 4.3x slower at sf0.1
    (functions/expr.py has the measurement).
    """
    return let(tokens(c), lambda t: shingles_from_tokens(t, k))


def fingerprint(c: ColumnOrName, k: int = 3) -> Column:
    """Document fingerprint: lexicographic min of md5(shingle).

    A winnowing-style content signature — stable under reordering of
    documents, cheap (no shuffle), and identical in any engine with md5.
    """
    return F.array_min(F.transform(shingles(c, k), lambda s: F.md5(s)))


def tfidf_terms(df, text_col: str, id_col: str, *, lowercase: bool = True):
    """Per-(doc, term) TF-IDF over a corpus — the classic relevance /
    keyword-extraction weighting, fully relational:

    1. explode whitespace tokens (optionally lowercased) -> (doc, term)
    2. term frequency: groupBy(doc, term) count       [1 shuffle]
    3. document frequency: groupBy(term) distinct-doc [1 shuffle, reuses
       the (term)-keyed layout downstream for the idf join]
    4. corpus size N via a broadcast 1-row aggregate (no driver action)
    5. smooth idf = ln((N+1)/(df+1)) + 1, tfidf = tf·idf (rounded 6 so
       the DuckDB oracle replays bit-for-bit past libm ulp noise).

    Returns (id_col, term, tf, tfidf). Every step is a plain aggregation
    with map-side partial combine — linear at corpus scale.
    """
    from pyspark.sql import functions as F

    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = (
        df.select(F.col(id_col), F.explode(tokens(t)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    idf = F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf").cast("long").alias("tf"),
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


def bm25_scores(
    df,
    text_col: str,
    id_col: str,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
):
    """Per-(doc, term) Okapi BM25 weights — the standard retrieval scorer.

    Same relational skeleton as :func:`tfidf_terms` plus per-doc length
    normalization: doc length and corpus-average length enter as one extra
    aggregation each (avgdl is exact — integer sum / integer count — so
    the DuckDB oracle replays it bit-for-bit). Scores rounded to 6.

    Returns (id_col, term, score).
    """
    from pyspark.sql import functions as F

    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = (
        df.select(F.col(id_col), F.explode(tokens(t)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = df.agg(F.count(F.lit(1)).alias("__n")).crossJoin(
        dl.agg((F.sum("dl") / F.count(F.lit(1))).alias("__avgdl"))
    )
    idf = F.log(
        1.0 + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
    )
    return (
        tf.join(dl, on=id_col)
        .join(dfreq, on="term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(idf * norm, 6).alias("score"),
        )
    )


def unigram_logprob(
    df,
    text_col: str,
    id_col: str,
    *,
    alpha: float = 1.0,
    lowercase: bool = True,
    scale: int = 4,
):
    """Per-document mean negative log2 probability under the corpus's
    own add-``alpha``-smoothed unigram LM — the CCNet-style perplexity
    proxy (Wenzek et al. 2020): fluent/common text scores low,
    gibberish and rare-token soup scores high. A cheap, fully
    relational stand-in for an external LM quality filter.

    Plan: one exploded-token pass -> per-(doc, term) counts [1 shuffle
    on (doc, term), partial map-side] -> corpus term counts derived
    from those by re-aggregating on term [1 shuffle] -> (total, vocab)
    as a broadcast 1-row aggregate -> score join on term. The corpus is
    linear-scanned once; nothing is collected driver-side, so the same
    plan runs at 100 TB (the term dictionary shuffle is Zipf-bounded).

    Returns (id_col, n_tokens, mean_nll) with
    ``mean_nll = -mean(log2((cnt(term)+alpha) / (N + alpha*V)))``.
    Documents with zero tokens (empty/whitespace/NULL text) have no
    defined mean and are absent from the output — left-join against the
    corpus if every id must appear.
    """
    from pyspark.sql import functions as F

    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = (
        df.select(F.col(id_col), F.explode(tokens(t)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    corpus_counts = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    stats = corpus_counts.agg(
        F.sum("cnt").alias("__total"),
        F.count(F.lit(1)).cast("double").alias("__vocab"),
    )
    nll = -F.log2(
        (F.col("cnt") + F.lit(alpha))
        / (F.col("__total") + F.lit(alpha) * F.col("__vocab"))
    )
    return (
        tf.join(corpus_counts, on="term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * nll) / F.sum("tf"), scale).alias(
                "mean_nll"
            ),
        )
    )


# GPT-2-style pre-tokenizer classes, simplified to what Java regex and
# RE2 (the DuckDB oracle) match identically: letter runs, digit runs,
# single non-alphanumeric marks. Whitespace separates and is free.
_BPE_PIECE_RE = r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r\f])"


def bpe_token_count(
    c: ColumnOrName,
    *,
    chars_per_word_piece: int = 8,
    digits_per_piece: int = 3,
) -> Column:
    """Tokenizer-free BPE-ish token count (vs whitespace ``token_count``).

    Approximates a trained BPE vocabulary's behavior with deterministic
    arithmetic the oracle replays exactly: a letter run contributes
    ``ceil(len / chars_per_word_piece)`` tokens (long words split into
    subword pieces), a digit run ``ceil(len / digits_per_piece)``
    (cl100k-style digit grouping), every other mark one token, and
    whitespace none. Pure codegen — one ``regexp_extract_all`` plus an
    array fold, no UDF, no vocabulary broadcast — so it runs at scan
    speed over 100 TB. For budget planning / chunk packing, not for
    exact accounting against a specific tokenizer.
    """
    t = _col(c).cast("string")
    pieces = F.regexp_extract_all(t, F.lit(_BPE_PIECE_RE), 1)
    per_piece = lambda p: (
        F.when(
            p.rlike("^[a-zA-Z]"),
            F.ceil(F.length(p) / F.lit(float(chars_per_word_piece))),
        )
        .when(
            p.rlike("^[0-9]"),
            F.ceil(F.length(p) / F.lit(float(digits_per_piece))),
        )
        .otherwise(F.lit(1))
        .cast("long")
    )
    return F.aggregate(
        F.transform(pieces, per_piece),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def bigram_logprob(
    df,
    text_col: str,
    id_col: str,
    *,
    alpha: float = 1.0,
    lam: float = 0.8,
    lowercase: bool = True,
    scale: int = 4,
):
    """Per-document mean negative log2 probability under the corpus's
    own interpolated bigram LM — one rung up from
    :func:`unigram_logprob` on the CCNet ladder (Wenzek et al. 2020
    score text with a KenLM 5-gram; a self-trained smoothed bigram is
    the strongest LM that stays fully relational and oracle-replayable).

    Model, defined exactly as computed (both engines replay this):

    - unigram counts ``c(w)`` over ALL token positions, ``N`` total
      tokens, ``V`` distinct tokens;
    - bigram counts ``c(w1 w2)`` over all adjacent pairs WITHIN a
      document (no cross-document pairs);
    - ``p_bi(w2|w1) = (c(w1 w2) + alpha) / (c(w1) + alpha * V)``;
    - ``p_uni(w2)  = (c(w2) + alpha) / (N + alpha * V)``;
    - ``p = lam * p_bi + (1 - lam) * p_uni`` (simple interpolation —
      unseen-context backoff without Katz bookkeeping);
    - score = mean over the document's bigram positions of ``-log2 p``.

    Plan (all shuffles key-partitioned, nothing driver-side):
    one tokenized scan -> per-(doc, w1, w2) bigram counts [shuffle 1]
    -> corpus bigram counts by re-aggregation [shuffle 2, Zipf-bounded]
    -> unigram counts from a token re-scan [shuffle 3] -> (N, V) as a
    broadcast 1-row aggregate -> two broadcast-able dimension joins on
    w1/w2 -> per-doc mean [shuffle 4, doc-keyed]. At 100 TB the
    dictionary tables are the small sides (vocabulary ≪ corpus), so AQE
    broadcasts them; the corpus is scanned twice, linearly.

    Returns (id_col, n_bigrams, mean_nll); documents with < 2 tokens
    have no bigram positions and are absent (left-join to keep them).
    """
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    arr = F.filter(tokens(t), lambda x: x != "")
    # adjacent pairs: slice off the last token, pair item i with i+1
    pairs = F.transform(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda x, i: F.struct(
            x.alias("w1"), F.element_at(arr, i + 2).alias("w2")
        ),
    )
    doc_bi = (
        df.select(F.col(id_col), F.explode(pairs).alias("bg"))
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("bf"))
    )
    corpus_bi = doc_bi.groupBy("w1", "w2").agg(F.sum("bf").alias("c12"))
    uni = (
        df.select(F.explode(arr).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("c1"))
    )
    stats = uni.agg(
        F.sum("c1").alias("__total"),
        F.count(F.lit(1)).cast("double").alias("__vocab"),
    )
    a = F.lit(float(alpha))
    p_bi = (F.col("c12") + a) / (F.col("c1") + a * F.col("__vocab"))
    p_uni = (F.col("c2") + a) / (F.col("__total") + a * F.col("__vocab"))
    p = F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni
    return (
        doc_bi.join(corpus_bi, on=["w1", "w2"])
        .join(uni, on=F.col("w1") == F.col("term"))
        .drop("term")
        .join(
            uni.select(
                F.col("term").alias("__t2"), F.col("c1").alias("c2")
            ),
            on=F.col("w2") == F.col("__t2"),
        )
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.sum("bf").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("bf") * (-F.log2(p))) / F.sum("bf"), scale
            ).alias("mean_nll"),
        )
    )


def perplexity_buckets(
    scores,
    score_col: str = "mean_nll",
    *,
    bucket_col: str = "bucket",
):
    """CCNet-style head/middle/tail split on an LM score column: the
    lowest-scoring third of documents (most fluent under the LM) is
    ``head``, then ``middle``, then ``tail``.

    Deliberately NOT a global ``ntile`` — that would be one
    single-partition sort over the whole corpus.  Instead the two
    tercile thresholds come from one exact ``percentile`` aggregate
    (partial map-side, one 2-value row) broadcast back over the corpus;
    classification is then a shuffle-free comparison.  Boundary ties
    all land in the lower bucket (``<= t`` inclusive), so the split is
    deterministic under any row order — which also makes it exactly
    replayable by the oracle's ``quantile_cont``.
    """
    t = scores.agg(
        F.percentile(F.col(score_col), F.lit(1.0 / 3)).alias("__t1"),
        F.percentile(F.col(score_col), F.lit(2.0 / 3)).alias("__t2"),
    )
    s = F.col(score_col)
    return (
        scores.crossJoin(F.broadcast(t))
        .withColumn(
            bucket_col,
            F.when(s <= F.col("__t1"), "head")
            .when(s <= F.col("__t2"), "middle")
            .otherwise("tail"),
        )
        .drop("__t1", "__t2")
    )


def inverted_index(
    df,
    text_col: str,
    id_col: str,
    *,
    min_df: int = 1,
    max_df: int | None = None,
    lowercase: bool = True,
):
    """Distributed inverted-index construction: per term, its document
    frequency and the sorted postings list of document ids.

    The 100 TB hazard is the postings array for ultra-common terms
    (a stopword's postings = every document). The plan therefore goes
    df-FIRST: (1) explode distinct (term, doc) pairs, (2) one count
    aggregate for df per term, (3) keep only terms within
    [``min_df``, ``max_df``] via a semi-join (standard IR vocabulary
    pruning), (4) collect+sort postings ONLY for surviving terms — so
    no aggregation buffer ever holds an unbounded postings list when a
    ``max_df`` bound is set. Both aggregations partial-combine
    map-side; everything shuffles on the term key.

    Returns (term, df, postings: array<id>).
    """
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    pairs = (
        df.select(F.col(id_col), F.explode(tokens(t)).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    freq = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    cond = F.col("df") >= min_df
    if max_df is not None:
        cond = cond & (F.col("df") <= max_df)
    keep = freq.filter(cond)
    postings = (
        pairs.join(keep.select("term"), on="term", how="leftsemi")
        .groupBy("term")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("postings"))
    )
    return keep.join(postings, on="term")


def compression_ratio(c: ColumnOrName, *, level: int = 6, scale: int = 4):
    """zlib compressed-size / raw-size per document — the classic
    machine-generated-text signal (highly repetitive pages compress far
    below ~0.4; random/encrypted junk sits near 1.0). Used as a cheap
    quality gate alongside the Gopher rules.

    This is the one text-quality kernel Spark cannot express natively,
    so it is an Arrow-batched ``pandas_udf`` (vectorized transfer, zlib
    in C — NOT a row-at-a-time Python UDF): the sanctioned slow path,
    kept off the oracle parity path (DuckDB has no zlib; covered by
    pytest instead of a driver oracle). Empty/NULL text -> NULL.
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return round(len(zlib.compress(b, level)) / len(b), scale)

        return s.map(one)

    return _ratio(_col(c))


def normalize_unicode(c: ColumnOrName, form: str = "NFC"):
    """Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonicalization
    step multilingual dedup needs BEFORE hashing (decomposed ``e`` +
    U+0301 and precomposed ``é`` must collide). Spark has no built-in
    normalizer, so this is an Arrow-batched ``pandas_udf`` over
    ``unicodedata`` (the sanctioned vectorized slow path); DuckDB's
    ``nfc_normalize`` is the oracle twin for the NFC form. NULL
    propagates.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    return _norm(_col(c))


def corpus_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str,
    *,
    smoothing: float = 1.0,
    topk: int = 20,
    scale: int = 9,
) -> DataFrame:
    """Distribution-drift report between two corpus slices: the tokens
    driving the symmetric KL divergence of their (add-``smoothing``
    smoothed) unigram distributions — the "what changed between these
    two snapshots / sources / crawls" monitor a training-data pipeline
    runs before mixing or refreshing corpora.

    Both unigram distributions are smoothed over the UNION vocabulary
    (size V): ``p(t) = (count(t) + s) / (N + s*V)``, so tokens absent
    from one side still get finite probability and every per-token
    contribution ``p_a*ln(p_a/p_b) + p_b*ln(p_b/p_a)`` is well-defined
    and >= 0. Returns the ``topk`` tokens by contribution
    (token, p_a, p_b, sym_kl), ties broken on token.

    100 TB shape: two token-count aggregates (map-side partials, one
    narrow shuffle each) full-outer-merged on token; the three scalar
    stats (N_a, N_b, V) ride a one-row broadcast crossJoin; ranking is
    sort+limit over the merged vocab (vocab-sized, not corpus-sized).
    Determinism: counts are exact, the probability divisions and ln
    products are IEEE-identical across engines at the 1e-9 round —
    no multi-term float summation appears anywhere (the scalar total
    would be association-sensitive; rank per-token contributions
    instead, which is also the more actionable output).
    """
    s = float(smoothing)

    def counts(df: DataFrame, out: str) -> DataFrame:
        # lowercase BEFORE splitting — the exact q61/BM25 tokenization,
        # so the oracle replays token-for-token
        t = tokens(F.lower(F.col(text_col)))
        return (
            df.select(F.explode(t).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("double").alias(out))
        )

    ca = counts(a, "__ca")
    cb = counts(b, "__cb")
    merged = ca.join(cb, on="token", how="full").select(
        "token",
        F.coalesce(F.col("__ca"), F.lit(0.0)).alias("__ca"),
        F.coalesce(F.col("__cb"), F.lit(0.0)).alias("__cb"),
    )
    stats = merged.agg(
        F.sum("__ca").alias("__na"),
        F.sum("__cb").alias("__nb"),
        F.count(F.lit(1)).cast("double").alias("__v"),
    )
    pa = (F.col("__ca") + F.lit(s)) / (F.col("__na") + F.lit(s) * F.col("__v"))
    pb = (F.col("__cb") + F.lit(s)) / (F.col("__nb") + F.lit(s) * F.col("__v"))
    sym = pa * F.log(pa / pb) + pb * F.log(pb / pa)
    scored = merged.crossJoin(F.broadcast(stats)).select(
        "token",
        F.round(pa, scale).alias("p_a"),
        F.round(pb, scale).alias("p_b"),
        F.round(sym, scale).alias("sym_kl"),
    )
    return scored.orderBy(
        F.col("sym_kl").desc(), F.col("token").asc()
    ).limit(topk)


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 5,
    topk: int = 20,
    scale: int = 6,
) -> DataFrame:
    """Collocation mining by pointwise mutual information — the
    word2phrase-style pass that finds multiword units ("new york",
    "machine learning") worth fusing before tokenizer training or
    vocabulary construction. ``PMI(a,b) = ln(p(ab) / (p(a)p(b)))``
    over adjacent-token bigrams, keeping bigrams seen at least
    ``min_count`` times (rare pairs produce unreliable, inflated PMI).

    Probabilities use the corpus token count N: p(w) = c(w)/N,
    p(ab) = c(ab)/N_bigrams. Returns the ``topk`` bigrams by PMI
    (ties: bigram text asc): (bigram, n_pair, n_left, n_right, pmi).

    100 TB shape: one token-count aggregate + one bigram-count
    aggregate (both map-side partialed), two broadcast-sized joins of
    the min_count-surviving bigrams back to unigram counts, scalar Ns
    on a one-row broadcast, and a sort+limit cut. Per-bigram values
    only — no association-sensitive float summation anywhere.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.filter(toks, lambda t: t != "").alias("__toks")
    )
    uni = (
        base.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("__cw"))
    )
    bi = (
        base.select(
            F.explode(
                F.zip_with(
                    F.slice(
                        F.col("__toks"), 1,
                        F.greatest(F.size("__toks") - 1, F.lit(0)),
                    ),
                    F.slice(
                        F.col("__toks"), 2,
                        F.greatest(F.size("__toks") - 1, F.lit(0)),
                    ),
                    lambda a, b: F.struct(
                        a.alias("wl"), b.alias("wr")
                    ),
                )
            ).alias("__p")
        )
        .select(F.col("__p.wl").alias("wl"), F.col("__p.wr").alias("wr"))
        .groupBy("wl", "wr")
        .agg(F.count(F.lit(1)).cast("double").alias("__cp"))
        .filter(F.col("__cp") >= float(min_count))
    )
    stats = F.broadcast(
        uni.agg(F.sum("__cw").alias("__n")).crossJoin(
            base.select(
                F.greatest(F.size("__toks") - 1, F.lit(0)).alias("__nb")
            ).agg(F.sum("__nb").cast("double").alias("__nbi"))
        )
    )
    ul = uni.withColumnsRenamed({"w": "wl", "__cw": "__cl"})
    ur = uni.withColumnsRenamed({"w": "wr", "__cw": "__cr"})
    pmi = (
        F.log(
            (F.col("__cp") / F.col("__nbi"))
            / ((F.col("__cl") / F.col("__n")) * (F.col("__cr") / F.col("__n")))
        )
    )
    scored = (
        bi.join(ul, on="wl")
        .join(ur, on="wr")
        .crossJoin(stats)
        .select(
            F.concat_ws(" ", "wl", "wr").alias("bigram"),
            F.col("__cp").cast("long").alias("n_pair"),
            F.col("__cl").cast("long").alias("n_left"),
            F.col("__cr").cast("long").alias("n_right"),
            F.round(pmi, scale).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("bigram").asc()
    ).limit(topk)


def vocab_coverage(
    df: DataFrame, text_col: str, group_col: str, *, k: int = 64
) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: fix the corpus top-``k``
    words as the vocabulary, then measure per-group OOV mass.

    The question a tokenizer/mixture owner actually asks before
    training: "if the vocabulary is fit on this corpus, which slices
    (languages, sources) does it serve worst?" Returned per group:
    ``total_words``, ``oov_words``, ``oov_rate_u`` (exact integer
    floor(oov/total * 1e6)) and ``known_bytes`` (byte mass the
    vocabulary covers — the numerator of bytes-per-known-token).

    Vocabulary selection is deterministic: (count DESC, word ASC) —
    ties never depend on layout. Case-sensitive by design (the audit
    measures the tokenizer's actual key space).

    Scale: one word census (hash aggregate with map-side combine — the
    shuffle is #distinct-words sized, not corpus sized), a top-k
    TakeOrdered over that census (never a global sort of the corpus),
    the k-row vocabulary broadcast back onto the exploded words, and
    one aggregate on the group key. Nothing corpus-sized is ever
    sorted or re-shuffled beyond the census.
    """
    # shares word_counts' tokenizer (tokens()) so normalization cannot
    # diverge from the trained vocabularies, but keeps its own census:
    # the vocabulary must be counted from the SAME exploded
    # (group, word) frame it then audits, reusing one explode.
    w = df.select(
        F.col(group_col).alias("__g"),
        F.explode(tokens(F.col(text_col))).alias("__w"),
    ).filter(F.col("__w") != "")
    vocab = (
        w.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("__w").asc())
        .limit(int(k))
        .select("__w", F.lit(True).alias("__known"))
    )
    agg = (
        w.join(F.broadcast(vocab), on="__w", how="left")
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_words"),
            F.sum(
                F.when(F.col("__known").isNull(), 1).otherwise(0)
            ).cast("long").alias("oov_words"),
            F.sum(
                F.when(
                    F.col("__known").isNotNull(), F.octet_length("__w")
                ).otherwise(0)
            ).cast("long").alias("known_bytes"),
        )
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "total_words",
        "oov_words",
        # decimal widen (round-9 accumulator sweep): oov_words is
        # corpus-word-sized, and a raw int64 x1e6 product would RAISE
        # under ANSI past ~9.2e12 words per group
        F.expr(
            "(CAST(oov_words AS DECIMAL(38,0)) * 1000000)"
            " div total_words"
        )
        .cast("long")
        .alias("oov_rate_u"),
        "known_bytes",
    )


#: Unicode script character classes, written with LITERAL range
#: endpoints (not engine escapes) so the identical class string works
#: in Java regex (Spark) and RE2 (DuckDB oracle). BMP ranges only —
#: both engines count BMP chars identically (Spark's length is UTF-16
#: code units, DuckDB's is codepoints; they agree below U+10000, and
#: the corpus contract keeps text in the BMP).
SCRIPT_CLASSES: Mapping[str, str] = {
    "arabic": "؀-ۿ",
    "cjk": "一-鿿぀-ヿ가-힯",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "latin": "A-Za-zÀ-ÖØ-öø-ɏ",  # U+00D7/U+00F7 (x, division sign) are NOT letters (ADVICE r9)
}


def script_char_count(c: ColumnOrName, script: str) -> Column:
    """Number of characters of ``c`` in the given writing system
    (:data:`SCRIPT_CLASSES`) — the char-census primitive pretraining
    curation uses to route documents to per-script pipelines and to
    catch mislabeled / mixed-script text. Counted as
    ``length(t) - length(regexp_replace(t, '[class]', ''))`` — one
    codegen regex pass, no explode."""
    cls = SCRIPT_CLASSES[script]
    t = _col(c).cast("string")
    return (
        F.length(t) - F.length(F.regexp_replace(t, f"[{cls}]", ""))
    ).cast("int")


def main_script_from_counts(
    counts: "Mapping[str, Column]", default: str = "und"
) -> Column:
    """Argmax writing system from ALREADY-COMPUTED per-script count
    columns — the fast path when the counts are materialized in a
    preceding select (each count is then referenced twice as a cheap
    column: once in the GREATEST, once in its CASE arm). Ties break to
    the lexicographically smaller script name; all-zero -> ``default``.

    The greatest+CASE shape is deliberate: a running
    (best, best_name) fold nests the accumulator twice per step, so
    early counts' sub-expressions duplicate ~2^(n-1) times in the final
    tree and Catalyst's CSE does not hoist across CASE branches
    (round-9 review; the same reason quality_score dropped its fold).
    """
    names = sorted(counts)
    cols = [counts[n] for n in names]
    best = F.greatest(*cols) if len(cols) > 1 else cols[0]
    expr = F.lit(default)
    # outermost WHEN wins: iterate reversed so the FIRST sorted name
    # with count == best takes the tie (same winner as the old fold,
    # where later names replaced only on strictly-greater)
    for n in reversed(names):
        expr = F.when(
            (counts[n] == best) & (best > 0), F.lit(n)
        ).otherwise(expr)
    return expr


def main_script(c: ColumnOrName, default: str = "und") -> Column:
    """Argmax writing system by character count over
    :data:`SCRIPT_CLASSES`; ties break to the lexicographically smaller
    script name; zero chars in every class -> ``default``. Each class's
    regex count appears twice in the tree (greatest + its CASE arm) —
    in a hot projection, materialize the counts in a preceding select
    and use :func:`main_script_from_counts` for one pass per class."""
    return main_script_from_counts(
        {n: script_char_count(c, n) for n in SCRIPT_CLASSES}, default
    )


def tokenizer_fertility(
    df,
    text_col: str,
    *,
    scale: int = 6,
):
    """Per-writing-system tokenizer fertility census — the table a
    multilingual tokenizer evaluation reads to see which scripts a
    vocabulary serves poorly (high fertility = more tokens per word =
    shorter effective context and higher training cost for that
    language; cf. the fertility analyses in the XLM-R and NLLB
    reports).

    Groups the corpus by :func:`main_script` and returns per script:
    ``(script, n_docs, n_chars, n_bytes, n_words, n_tokens,
    chars_per_token_u, bytes_per_token_u, tokens_per_word_u)`` where
    ``n_words`` is the whitespace count, ``n_tokens`` the BPE-ish
    :func:`bpe_token_count`, and the ``*_u`` ratios are integer
    micro-units (scale ``10^scale``) computed with one cross-multiplied
    integer division over decimal(38,0) sums — order-independent,
    wrap-proof at 100 TB corpus sizes, and bit-replayable by the
    DuckDB oracle (``div`` ≡ ``//`` on exact integers). Groups whose
    denominator is zero (e.g. all-empty docs) emit NULL ratios.

    One codegen projection (each text scanned once per statistic — the
    same regex-class passes q194 verifies) and one 6-ish-row groupBy:
    scan-bound at any corpus size.
    """
    u = 10 ** scale
    t = _col(text_col).cast("string")
    per = df.select(
        main_script(t).alias("script"),
        char_count(t).cast("decimal(18,0)").alias("__chars"),
        F.octet_length(t).cast("decimal(18,0)").alias("__bytes"),
        token_count(t).cast("decimal(18,0)").alias("__words"),
        bpe_token_count(t).cast("decimal(18,0)").alias("__bpe"),
    )
    agg = per.groupBy("script").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__chars").alias("__sc"),
        F.sum("__bytes").alias("__sb"),
        F.sum("__words").alias("__sw"),
        F.sum("__bpe").alias("__st"),
    )

    def ratio(num: str, den: str):
        return F.when(
            F.col(den) > 0,
            F.expr(f"CAST((`{num}` * {u}) div `{den}` AS BIGINT)"),
        )

    return agg.select(
        "script",
        "n_docs",
        F.col("__sc").cast("long").alias("n_chars"),
        F.col("__sb").cast("long").alias("n_bytes"),
        F.col("__sw").cast("long").alias("n_words"),
        F.col("__st").cast("long").alias("n_tokens"),
        ratio("__sc", "__st").alias("chars_per_token_u"),
        ratio("__sb", "__st").alias("bytes_per_token_u"),
        ratio("__st", "__sw").alias("tokens_per_word_u"),
    )


def readability_stats(
    c: ColumnOrName,
    *,
    scale: int = 6,
) -> Column:
    """Flesch reading-ease statistics (Flesch 1948; the readability
    prior under FineWeb-Edu-style educational-value filtering, and the
    classic document-difficulty feature for curriculum ordering):
    struct ``(n_words, n_sentences, n_syllables, flesch_u)``.

    - sentences: maximal non-blank runs between ``[.!?]+``
      terminators (a trailing fragment without terminal punctuation
      counts as one sentence; empty text = 0);
    - syllables: the standard vowel-GROUP heuristic per word — count
      of maximal ``[aeiouy]+`` runs (lowercased), min 1 for any word
      containing a letter; counting runs, not vowels, is the
      published approximation every Flesch implementation uses;
    - ``flesch_u`` = ``(206.835 - 1.015*(words/sentences)
      - 84.6*(syllables/words)) * 10^scale`` as ONE exact integer
      expression over the common denominator ``1000 * S * W``
      (decimal(38,0) cross-multiplied numerator, single floor
      division — the two ratios never materialize as floats); NULL
      when words or sentences are 0. Unbounded both directions, as
      published.

    Zero-shuffle projection; every intermediate is an integer, so the
    oracle replays it bit-for-bit.
    """
    u = 10 ** scale
    t = _col(c)
    words = F.filter(F.split(F.lower(t), r"\s+"), lambda w: w != "")
    n_words = F.size(words).cast("long")
    n_sent = F.size(
        F.filter(F.split(t, r"[.!?]+"), lambda s: F.trim(s) != "")
    ).cast("long")
    syl = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.size(
                F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))
            ).cast("long"),
            F.when(w.rlike("[a-z]"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        ),
    )
    # f*u = (206835*S*W - 1015*W^2 - 84600*S*Y) * u / (1000*S*W)
    num = (
        F.lit(206835).cast("decimal(38,0)") * n_sent * n_words * F.lit(u)
        - F.lit(1015).cast("decimal(38,0)") * n_words * n_words * F.lit(u)
        - F.lit(84600).cast("decimal(38,0)") * n_sent * syl * F.lit(u)
    )
    den = F.lit(1000).cast("decimal(38,0)") * n_sent * n_words
    flesch = F.when(
        (n_words > 0) & (n_sent > 0), F.floor(num / den).cast("long")
    )
    return F.struct(
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        syl.alias("n_syllables"),
        flesch.alias("flesch_u"),
    )
