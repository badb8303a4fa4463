"""Distributed unigram-LM tokenizer training (the SentencePiece
unigram model, Kudo 2018) — the second trained tokenizer next to BPE
(`operators/bpe.py`), with the same scale discipline: **iterate over
the DISTINCT-WORD frame, never the corpus.**

Algorithm (hard-EM / Viterbi variant — deterministic, so two runs or
two cluster layouts produce byte-identical vocabularies):

1. **Seed vocabulary**: every substring of length 1..``max_piece_len``
   of every distinct word, weighted by word count x occurrences; ALL
   single characters are kept unconditionally (coverage guarantee) and
   the top ``seed_size`` multi-char substrings join them. One explode +
   one aggregate + one TakeOrdered — never a driver-side string loop.
2. **E-step** (per iteration): each distinct word takes its single
   best segmentation under the current piece log-probs via Viterbi DP,
   ties broken toward FEWER pieces then the lexicographically smaller
   piece sequence; every used piece collects the word's corpus count.
   Runs as ``mapInPandas`` over the distinct-word frame with the
   (driver-small) model in the closure — Arrow-batched, one pass,
   partials aggregated map-side by piece.
3. **M-step**: new log-prob = log(count / total) over the driver-side
   vocab-size count vector (the k-means-centroid class of driver
   state).
4. **Prune**: after the final iteration, drop zero/low-count
   multi-char pieces, keep chars, cut to ``vocab_size`` by
   (count DESC, piece ASC).

Differential-tested against a pure-Python reference implementation
(tests/test_unigram.py) exactly like BPE; not SQL-replayable (the
Viterbi DP has no reasonable relational unrolling), so it is
pytest-gated, not oracle-gated — the same contract as trained BPE.
"""

from __future__ import annotations

import math
from typing import Dict, Iterator, List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import word_counts
from .common import pipeline_break

#: Java-regex ``\s`` equivalent for the Python segmenter path, so the
#: two halves of the operator tokenize identically (Java \s does NOT
#: match unicode whitespace like U+00A0; Python's does — a silent
#: train/segment divergence otherwise).
_JAVA_WS = "[ \t\n\x0b\f\r]+"


def _py_words(text: str) -> List[str]:
    import re

    return [w for w in re.split(_JAVA_WS, text) if w]


def _reconstruct(best, i) -> List[str]:
    out: List[str] = []
    while i > 0:
        _s, _np, j, piece = best[i]
        out.append(piece)
        i = j
    out.reverse()
    return out


def viterbi_segment(
    word: str, logp: Dict[str, float], max_piece_len: int
) -> List[str]:
    """Best segmentation of ``word`` under piece log-probs: maximize
    total log-prob; ties -> fewer pieces -> lexicographically smaller
    piece sequence. Pure Python so the Spark E-step and the test
    reference share ONE implementation. Characters absent from the
    model segment as themselves with a large penalty (coverage
    fallback, the SentencePiece unk contract).

    The DP carries backpointers, not piece lists — a single unbroken
    100k-char token (minified JS, base64 blobs) would otherwise cost
    O(n² · L) list copies inside the executor hot path; sequences are
    materialized only to settle EXACT score+length ties (rare) and
    once at the end."""
    n = len(word)
    UNK = -1e9
    # best[i] = (score, n_pieces, backpointer_j, piece) for word[:i]
    best: list = [None] * (n + 1)
    best[0] = (0.0, 0, 0, "")
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            if best[j] is None:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if len(piece) > 1:
                    continue
                lp = UNK
            s = best[j][0] + lp
            np_ = best[j][1] + 1
            cur = best[i]
            if cur is None or s > cur[0] + 1e-12:
                best[i] = (s, np_, j, piece)
            elif abs(s - cur[0]) <= 1e-12:
                if np_ < cur[1]:
                    best[i] = (s, np_, j, piece)
                elif np_ == cur[1]:
                    # exact tie: settle lexicographically (rare path —
                    # reconstruction cost paid only here)
                    cand = _reconstruct(best, j) + [piece]
                    if cand < _reconstruct(best, i):
                        best[i] = (s, np_, j, piece)
    assert best[n] is not None, word
    return _reconstruct(best, n)


def unigram_train(
    df: DataFrame,
    text_col: str,
    *,
    vocab_size: int = 2000,
    seed_size: int = 8000,
    max_piece_len: int = 8,
    iterations: int = 3,
    lowercase: bool = True,
) -> List[Tuple[str, float]]:
    """Train a unigram-LM vocabulary; returns ``[(piece, logprob)]``
    sorted by (count DESC, piece ASC). All single characters are kept
    unconditionally (coverage), so the result has
    ``max(n_chars, vocab_size)`` entries — a corpus whose alphabet
    exceeds ``vocab_size`` keeps its alphabet."""
    words = pipeline_break(word_counts(df, text_col, lowercase=lowercase))

    # ---- seed: one explode + one weighted count + one TakeOrdered
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(int(max_piece_len))),
            lambda ln: F.filter(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length("__w"), F.lit(1))
                    ),
                    lambda i: F.col("__w").substr(i, ln),
                ),
                lambda p: F.length(p) == ln,
            ),
        )
    )
    seeded = (
        words.select(F.explode(subs).alias("__p"), "__cnt")
        .groupBy("__p")
        .agg(F.sum("__cnt").alias("__n"))
    )
    chars = {
        r["__p"]: int(r["__n"])
        for r in seeded.filter(F.length("__p") == 1).collect()
    }
    multi = (
        seeded.filter(F.length("__p") > 1)
        .orderBy(F.col("__n").desc(), F.col("__p").asc())
        .limit(max(seed_size - len(chars), 0))
        .collect()
    )
    counts: Dict[str, int] = dict(chars)
    counts.update({r["__p"]: int(r["__n"]) for r in multi})

    def to_logp(cnts: Dict[str, int]) -> Dict[str, float]:
        total = float(sum(cnts.values())) or 1.0
        return {p: math.log(c / total) for p, c in cnts.items() if c > 0}

    logp = to_logp(counts)

    # ---- hard-EM iterations: Viterbi counts over the word frame
    mpl = int(max_piece_len)
    for _ in range(int(iterations)):
        model = dict(logp)  # closure snapshot

        def estep(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
            import collections

            import pandas as pd

            for pdf in batches:
                acc: collections.Counter = collections.Counter()
                for w, c in zip(pdf["__w"], pdf["__cnt"]):
                    for piece in viterbi_segment(w, model, mpl):
                        acc[piece] += int(c)
                if acc:
                    yield pd.DataFrame(
                        {"__p": list(acc), "__n": list(acc.values())}
                    )

        agg = (
            words.mapInPandas(estep, schema="__p string, __n long")
            .groupBy("__p")
            .agg(F.sum("__n").alias("__n"))
            .collect()
        )
        used = {r["__p"]: int(r["__n"]) for r in agg}
        # chars always survive (coverage); unused multi-char pieces drop
        counts = {
            p: used.get(p, 0) for p in counts if len(p) == 1 or p in used
        }
        logp = to_logp(counts)
        # chars with zero count still need a prob floor for coverage
        floor = min(logp.values(), default=0.0) - 10.0
        for ch in chars:
            logp.setdefault(ch, floor)

    # ---- prune to vocab_size: ALL chars survive (coverage,
    # deterministically ordered), then the best multi-char pieces fill
    # the remaining budget
    chars_sorted = sorted(chars, key=lambda p: (-chars[p], p))
    multi_sorted = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1 and c > 0),
        key=lambda t: (-t[1], t[0]),
    )
    budget = max(int(vocab_size) - len(chars_sorted), 0)
    keep = chars_sorted + [p for p, _ in multi_sorted[:budget]]
    keep_set = set(keep)
    final_counts = {
        p: max(counts.get(p, 0), 1 if len(p) == 1 else 0)
        for p in keep_set
    }
    lp = to_logp(final_counts)
    out = sorted(
        ((p, lp[p]) for p in keep_set if p in lp),
        key=lambda t: (-final_counts[t[0]], t[0]),
    )
    return out


def unigram_segment_counts(
    df: DataFrame,
    text_col: str,
    model: List[Tuple[str, float]],
    *,
    max_piece_len: int | None = None,
    lowercase: bool = True,
    out_col: str = "unigram_tokens",
) -> DataFrame:
    """Per-row trained-tokenizer token counts: Viterbi-segment every
    word under ``model`` and sum piece counts. Arrow-batched
    ``mapInPandas`` with the vocab in the closure — the corpus is
    scanned once, nothing shuffles. ``max_piece_len`` defaults to the
    longest piece IN the model, so segmentation can never silently
    diverge from training by using a smaller DP window than the vocab
    was trained with."""
    logp = dict(model)
    if max_piece_len is None:
        max_piece_len = max((len(p) for p, _ in model), default=1)
    mpl = int(max_piece_len)
    cols = df.columns

    def seg(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            texts = pdf[text_col].fillna("")
            if lowercase:
                texts = texts.str.lower()
            out = []
            for t in texts:
                n = 0
                for w in _py_words(t):  # Java-\s-equivalent split
                    n += len(viterbi_segment(w, logp, mpl))
                out.append(n)
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    schema = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in cols
    ) + f", {out_col} int"
    return df.mapInPandas(seg, schema=schema)


def unigram_census(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model: Dict[str, int],
    *,
    max_word_len: int = 12,
    unk_cost: int = -(10**9),
    out_prefix: str = "ug_",
) -> DataFrame:
    """Oracle-gateable census of Viterbi segmentation under a FIXED
    integer-cost model (q179): per document, over words of length <=
    ``max_word_len`` —

    - ``{p}n_words``: words segmented,
    - ``{p}n_long``: words excluded by the length cap (logged, never
      silently dropped),
    - ``{p}n_pieces``: total pieces across best segmentations,
    - ``{p}score_sum``: exact integer sum of best-segmentation scores.

    Training emits float log-probs (not SQL-replayable — hard-EM, the
    BPE contract); SEGMENTATION under a fixed model is a deterministic
    DP, and with integer costs every score comparison is exact on any
    engine, so a DuckDB oracle can unroll the DP per position
    (q179's 12-stage CTE chain) and match bit-for-bit. The Spark side
    runs the PRODUCTION kernel (:func:`viterbi_segment` — the same
    function the trained tokenizer's E-step and
    :func:`unigram_segment_counts` use); only the cost table differs,
    so the oracle gates the kernel's argmax/tie-break semantics, the
    piece of the operator the pure-Python differential cannot
    independently certify. Costs must be integers (asserted); chars
    absent from the model segment as themselves at ``unk_cost``
    (the SentencePiece unk contract, same as training).

    One Arrow-batched pass, zero shuffle before the per-doc aggregate.
    """
    if any(int(c) != c for c in model.values()):
        raise ValueError("unigram_census: model costs must be integers")
    if unk_cost != -(10**9):
        # viterbi_segment's internal coverage penalty is the fixed
        # -1e9; a different census-side unk_cost would misprice the
        # UNK pieces the DP actually chose
        raise ValueError("unigram_census: unk_cost must be -10**9")
    logp = {p: float(int(c)) for p, c in model.items()}
    mpl = max((len(p) for p in model), default=1)
    cap = int(max_word_len)
    p = out_prefix

    def seg(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = []
            for rid, t in zip(pdf[id_col], pdf[text_col].fillna("")):
                nw = nl = npc = 0
                sc = 0
                for w in _py_words(t):
                    if len(w) > cap:
                        nl += 1
                        continue
                    nw += 1
                    pieces = viterbi_segment(w, logp, mpl)
                    npc += len(pieces)
                    sc += sum(
                        int(logp.get(q, float(unk_cost))) for q in pieces
                    )
                rows.append((rid, nw, nl, npc, sc))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, f"{p}n_words", f"{p}n_long",
                    f"{p}n_pieces", f"{p}score_sum",
                ],
            )

    schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        f"{p}n_words long, {p}n_long long, {p}n_pieces long, "
        f"{p}score_sum long"
    )
    return df.select(id_col, text_col).mapInPandas(seg, schema=schema)
