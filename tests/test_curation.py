"""Unit tests for corpus-curation operators (operators/curation.py) and
PII redaction kernels (functions/redaction.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from jsonl_dataingestion_pipeline_spark.functions import redaction as rd
from jsonl_dataingestion_pipeline_spark.operators import curation as cu


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id int, text string")


# ---------------------------------------------------------------------------
# Redaction
# ---------------------------------------------------------------------------
def test_redact_all_kinds(spark):
    df = _docs(
        spark,
        [
            (
                1,
                "mail a.b+c@x-y.co phone (555) 123-4567 ssn 987-65-4321 "
                "ip 192.168.1.255 card 4111 1111 1111 1111 done",
            )
        ],
    )
    out = df.select(rd.redact_pii("text").alias("r")).head().r
    for tag in ("<EMAIL>", "<PHONE>", "<SSN>", "<IPV4>", "<CREDIT_CARD>"):
        assert tag in out, out
    assert "@" not in out and "4321" not in out and "4111" not in out


def test_pii_count_multiple_and_none(spark):
    df = _docs(spark, [(1, "a@b.com then c@d.org"), (2, "no pii here"), (3, None)])
    got = {
        r.id: r.n
        for r in df.select("id", rd.pii_count("text", "email").alias("n")).collect()
    }
    assert got == {1: 2, 2: 0, 3: 0}


def test_redact_preserves_surrounding_text(spark):
    df = _docs(spark, [(1, "start user@example.com end")])
    assert (
        df.select(rd.redact_pii("text").alias("r")).head().r
        == "start <EMAIL> end"
    )


# ---------------------------------------------------------------------------
# Repetition / entropy
# ---------------------------------------------------------------------------
def test_dup_line_fraction(spark):
    df = _docs(
        spark,
        [
            (1, "a b\nc d\na b\n\n  "),  # 3 non-blank lines, 2 distinct
            (2, "x\ny\nz"),
            (3, ""),
        ],
    )
    got = {
        r.id: r.f
        for r in df.select("id", cu.dup_line_fraction("text").alias("f")).collect()
    }
    assert abs(got[1] - (1 - 2 / 3)) < 1e-6
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_word_ngrams_short_doc_empty(spark):
    df = _docs(spark, [(1, "one two"), (2, "a b c d")])
    got = {
        r.id: r.g
        for r in df.select("id", cu.word_ngrams("text", 3).alias("g")).collect()
    }
    assert got[1] == []
    assert got[2] == ["a b c", "b c d"]


def test_top_ngram_mass(spark):
    # "x y" appears 3 times out of 5 bigrams
    df = _docs(spark, [(1, "x y x y x y")])
    row = cu.top_ngram_mass(df, "text", "id", n=2).head()
    assert row.top_gram == "x y" and row.n_grams == 5
    assert abs(row.top_mass - 3 / 5) < 1e-6


def test_token_entropy_uniform_vs_constant(spark):
    df = _docs(spark, [(1, "a a a a"), (2, "a b c d")])
    got = {r.id: r for r in cu.token_entropy(df, "text", "id").collect()}
    assert got[1].entropy_bits == 0.0  # all same token
    assert abs(got[2].entropy_bits - 2.0) < 1e-6  # 4 uniform tokens
    assert got[1].n_tokens == 4


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------
def test_contamination_flags(spark):
    corpus = _docs(
        spark,
        [
            (1, "w1 w2 w3 w4 w5"),  # contains the benchmark 4-gram twice? once
            (2, "w2 w3 w4 w5 w6"),
            (3, "clean doc with other words entirely"),
        ],
    )
    bench = _docs(spark, [(100, "w1 w2 w3 w4 w5")])
    got = {
        r.id: (r.n_hits, r.contaminated)
        for r in cu.contamination_flags(corpus, bench, "text", "id", n=4).collect()
    }
    assert got[1] == (2, True)  # both 4-grams of doc 1 are in the benchmark
    assert got[2] == (1, True)  # shares "w2 w3 w4 w5"
    assert got[3] == (0, False)


def test_contamination_plan_broadcasts_benchmark(spark):
    corpus = _docs(spark, [(1, "a b c d e")])
    bench = _docs(spark, [(2, "a b c d")])
    plan = cu.contamination_flags(
        corpus, bench, "text", "id", n=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Chunk packing
# ---------------------------------------------------------------------------
def test_pack_chunks_boundaries(spark):
    df = spark.createDataFrame(
        [("g", 1, 300), ("g", 2, 300), ("g", 3, 300), ("h", 1, 700)],
        "grp string, ord int, wt int",
    )
    packed = cu.pack_chunks(df, "grp", "ord", "wt", budget=512)
    got = {(r.grp, r.ord): r.chunk_id for r in packed.collect()}
    # g: before = 0, 300, 600 -> chunks 0, 0, 1 ; h: before = 0 -> chunk 0
    assert got == {("g", 1): 0, ("g", 2): 0, ("g", 3): 1, ("h", 1): 0}
    stats = {
        (r.grp, r.chunk_id): (r.n_docs, r.chunk_tokens)
        for r in cu.chunk_stats(packed, "grp", "wt").collect()
    }
    assert stats[("g", 0)] == (2, 600) and stats[("g", 1)] == (1, 300)


# ---------------------------------------------------------------------------
# Snapshot diff / merge
# ---------------------------------------------------------------------------
def test_snapshot_diff_classes(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "k int, v string")
    new = spark.createDataFrame([(2, "B"), (3, None), (4, "d")], "k int, v string")
    got = {
        r.k: r.change
        for r in cu.snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    assert got == {1: "removed", 2: "changed", 3: "unchanged", 4: "added"}


def test_merge_upsert_new_wins(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    new = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    got = {r.k: r.v for r in cu.merge_upsert(old, new, ["k"]).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_dedup_lines_literal_regex_separator(spark):
    """sep is literal on both split and join sides ('.', '|', ...)."""
    df = spark.createDataFrame(
        [(1, "keep me.shared line.unique one"),
         (2, "shared line.other text")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.text
        for r in cu.dedup_lines(df, "doc_id", "text", sep=".").collect()
    }
    assert got[1] == "keep me.unique one"
    assert got[2] == "other text"


# ---------------------------------------------------------------------------
# Substring-level duplicated spans (Lee et al. 2022 ExactSubstr, word-gram)
# ---------------------------------------------------------------------------
def test_duplicated_spans_basic(spark):
    # doc 1 and 2 share a 6-word run; doc 3 is clean.
    shared = "alpha beta gamma delta epsilon zeta"
    df = _docs(
        spark,
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared} completely different ending text"),
            (3, "nothing repeated in this document at all"),
        ],
    )
    out = {
        r.id: r
        for r in cu.duplicated_spans(df, "text", "id", n=6).collect()
    }
    assert out[3].n_spans == 0 and out[3].dup_tokens == 0
    assert out[1].n_spans == 1 and out[1].dup_tokens == 6
    assert out[2].n_spans == 1 and out[2].dup_tokens == 6
    assert abs(out[2].dup_fraction - 6 / 10) < 1e-6


def test_duplicated_spans_merges_overlaps(spark):
    # one 8-word duplicated run detected via n=6 grams: 3 overlapping
    # hits (pos 0,1,2) must merge into ONE span covering all 8 tokens.
    run = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = _docs(
        spark,
        [(1, f"{run} suffix a"), (2, f"prefix b {run}")],
    )
    out = {r.id: r for r in cu.duplicated_spans(df, "text", "id", n=6).collect()}
    assert out[1].n_spans == 1 and out[1].dup_tokens == 8
    assert out[2].n_spans == 1 and out[2].dup_tokens == 8


def test_duplicated_spans_intra_doc_and_separate_spans(spark):
    # the same 6-gram twice INSIDE one doc, far apart -> 2 spans.
    g = "p q r s t u"
    df = _docs(spark, [(1, f"{g} x1 x2 x3 x4 x5 x6 x7 {g}")])
    row = cu.duplicated_spans(df, "text", "id", n=6).head()
    assert row.n_spans == 2 and row.dup_tokens == 12


# ---------------------------------------------------------------------------
# Unigram log-prob quality proxy
# ---------------------------------------------------------------------------
def test_unigram_logprob_orders_common_vs_rare(spark):
    from jsonl_dataingestion_pipeline_spark.functions.textstats import (
        unigram_logprob,
    )

    df = _docs(
        spark,
        [
            (1, "the the the the the"),      # all high-frequency tokens
            (2, "qzx wvk jjm plo rrn"),      # all singletons
            (3, "the qzx the wvk the"),      # mixed
        ],
    )
    out = {r.id: r for r in unigram_logprob(df, "text", "id").collect()}
    assert out[1].n_tokens == 5 and out[2].n_tokens == 5
    # common-token doc must score strictly lower (more probable)
    assert out[1].mean_nll < out[3].mean_nll < out[2].mean_nll


def test_unigram_logprob_matches_hand_computation(spark):
    import math

    from jsonl_dataingestion_pipeline_spark.functions.textstats import (
        unigram_logprob,
    )

    df = _docs(spark, [(1, "a a b")])
    # N=3, V=2, alpha=1: p(a)=(2+1)/(3+2)=0.6, p(b)=(1+1)/5=0.4
    expect = -(2 * math.log2(0.6) + 1 * math.log2(0.4)) / 3
    row = unigram_logprob(df, "text", "id").head()
    assert row.n_tokens == 3
    assert abs(row.mean_nll - round(expect, 4)) < 1e-9


def test_bpe_token_count_arithmetic(spark):
    from jsonl_dataingestion_pipeline_spark.functions.textstats import (
        bpe_token_count,
    )

    df = _docs(
        spark,
        [
            (1, "hello world"),            # 1 + 1
            (2, "internationalization"),   # 20 letters -> ceil(20/8) = 3
            (3, "a 1234567 x!"),           # 1 + ceil(7/3)=3 + 1 + 1 = 6
            (4, ""),                       # 0
            (5, None),                     # null text -> null count
        ],
    )
    got = {
        r.id: r.n
        for r in df.select("id", bpe_token_count("text").alias("n")).collect()
    }
    assert got[1] == 2
    assert got[2] == 3
    assert got[3] == 6
    assert got[4] == 0


def test_duplicated_spans_property_vs_bruteforce(spark):
    """Randomized cross-check against an independent reference: covered
    token positions computed as an explicit set union of [pos, pos+n-1]
    intervals; spans = maximal contiguous runs of covered positions."""
    import random

    rng = random.Random(77)
    n = 3
    for trial in range(8):
        docs = []
        for i in range(rng.randint(1, 5)):
            toks = [
                rng.choice("abcd") for _ in range(rng.randint(0, 12))
            ]
            docs.append((i, " ".join(toks)))

        # reference
        from collections import Counter
        gram_count = Counter()
        doc_grams = {}
        for i, text in docs:
            toks = text.split()
            grams = [
                tuple(toks[p:p + n]) for p in range(len(toks) - n + 1)
            ]
            doc_grams[i] = grams
            gram_count.update(grams)
        expect = {}
        for i, text in docs:
            covered = set()
            for p, g in enumerate(doc_grams[i]):
                if gram_count[g] >= 2:
                    covered.update(range(p, p + n))
            runs = 0
            prev = None
            for p in sorted(covered):
                if prev is None or p != prev + 1:
                    runs += 1
                prev = p
            expect[i] = (runs, len(covered))

        df = spark.createDataFrame(docs, "id int, text string")
        got = {
            r.id: (r.n_spans, r.dup_tokens)
            for r in cu.duplicated_spans(df, "text", "id", n=n).collect()
        }
        assert got == expect, (trial, docs, got, expect)


def test_remove_duplicated_spans(spark):
    shared = "alpha beta gamma delta epsilon zeta"
    df = _docs(
        spark,
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared}"),                       # only the shared run
            (3, "nothing repeated in this document at all"),
        ],
    )
    got = {
        r.id: r
        for r in cu.remove_duplicated_spans(df, "text", "id", n=6).collect()
    }
    assert got[1].text == "intro words here tail one"
    assert got[1].n_tokens == 11 and got[1].n_kept == 5
    assert got[2].text == "" and got[2].n_kept == 0
    assert got[3].text == "nothing repeated in this document at all"
    assert got[3].n_kept == 7


def test_remove_duplicated_spans_consistent_with_detection(spark):
    """n_tokens - n_kept must equal the detector's dup_tokens."""
    import random

    rng = random.Random(9)
    docs = [
        (i, " ".join(rng.choice("abcd") for _ in range(rng.randint(0, 15))))
        for i in range(6)
    ]
    df = spark.createDataFrame(docs, "id int, text string")
    det = {r.id: r.dup_tokens for r in cu.duplicated_spans(df, "text", "id", n=3).collect()}
    rem = {r.id: (r.n_tokens, r.n_kept) for r in cu.remove_duplicated_spans(df, "text", "id", n=3).collect()}
    for i, (nt, nk) in rem.items():
        assert nt - nk == det[i], (i, docs)


def test_dedup_lines_n_lines_literal_separator(spark):
    """n_lines must count literal-sep splits, not regex splits
    (regression: '.' as sep previously made n_lines = len(text)+1)."""
    df = spark.createDataFrame(
        [(1, "keep me.shared line.unique one"), (2, "shared line.other text")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_lines, r.n_kept)
        for r in cu.dedup_lines(df, "doc_id", "text", sep=".").collect()
    }
    assert got[1] == (3, 2) and got[2] == (2, 1)


def test_gopher_quality_flags(spark):
    long_good = " ".join(
        ["the quick brown fox jumps with energy and vigor that we have"] * 6
    )
    df = _docs(
        spark,
        [
            (1, long_good),                       # passes everything
            (2, "too short to keep"),             # < 50 words
            (3, " ".join(["####"] * 60)),         # no alpha, no stopwords
        ],
    )
    got = {
        r.id: r for r in cu.gopher_quality_flags(df, "text", "id").collect()
    }
    assert got[1].keep and got[1].n_words == 72 and got[1].stopword_hits >= 4
    assert not got[2].keep and got[2].n_words == 4
    assert not got[3].keep
    assert got[3].alpha_word_frac == 0.0 and got[3].symbol_word_ratio > 0.1


def test_gopher_flags_line_rules(spark):
    bullets = "\n".join(["- item one here"] * 9 + ["a normal line"])
    dots = "\n".join(["trailing thing..."] * 4 + ["clean line here"] * 6)
    df = _docs(spark, [(1, bullets), (2, dots)])
    got = {
        r.id: r for r in cu.gopher_quality_flags(df, "text", "id").collect()
    }
    assert abs(got[1].bullet_line_frac - 0.9) < 1e-9
    assert abs(got[2].ellipsis_line_frac - 0.4) < 1e-9


def test_c4_quality_filter(spark):
    page = "\n".join(
        [
            "This is a proper sentence with enough words.",   # kept
            "Too short.",                                     # <5 words
            "no terminal punctuation here at all",            # no punct
            'A quoted ending counts as terminal here."',      # kept
        ]
    )
    df = _docs(
        spark,
        [
            (1, page),
            (2, "Lorem Ipsum dolor sit amet. More words here. And more."),
            (3, "function() { return 1; } This has braces. Yes it does. Ok."),
            (4, "One sentence only here."),
        ],
    )
    got = {r.id: r for r in cu.c4_quality_filter(df, "text", "id").collect()}
    assert got[1].c4_n_lines == 4 and got[1].c4_n_kept_lines == 2
    assert got[1].c4_text.splitlines()[0].startswith("This is a proper")
    assert got[2].c4_has_lorem and not got[2].c4_keep
    assert got[3].c4_has_brace and not got[3].c4_keep
    assert got[4].c4_n_sentences == 1 and not got[4].c4_keep


def test_gopher_dup_line_rule_in_keep(spark):
    base = "the quick brown fox jumps with energy that we have today"
    repetitive = "\n".join([base] * 10)       # 10 identical lines -> dlf 0.9
    varied = "\n".join(f"{base} v{i}" for i in range(10))
    df = _docs(spark, [(1, repetitive), (2, varied)])
    got = {r.id: r for r in cu.gopher_quality_flags(df, "text", "id").collect()}
    assert got[1].dup_line_frac == 0.9 and not got[1].keep
    assert got[2].dup_line_frac == 0.0 and got[2].keep


def test_line_rules_crlf_equals_lf(spark):
    """CRLF corpora must behave exactly like LF ones (the oracle's RE2
    '$' does not match before '\\r'; the split consumes it)."""
    lf = "One proper sentence right here now.\n- bullet item\nending dots..."
    crlf = lf.replace("\n", "\r\n")
    df = _docs(spark, [(1, lf), (2, crlf)])
    g = {r.id: r for r in cu.gopher_quality_flags(df, "text", "id").collect()}
    assert g[1].bullet_line_frac == g[2].bullet_line_frac
    assert g[1].ellipsis_line_frac == g[2].ellipsis_line_frac > 0
    c = {r.id: r for r in cu.c4_quality_filter(df, "text", "id").collect()}
    assert c[1].c4_n_kept_lines == c[2].c4_n_kept_lines == 1
    assert "\r" not in c[2].c4_text


def test_c4_and_gopher_null_text(spark):
    df = _docs(spark, [(1, None)])
    c = cu.c4_quality_filter(df, "text", "id").head()
    assert (c.c4_text, c.c4_n_lines, c.c4_n_kept_lines) == ("", 0, 0)
    assert not c.c4_keep and not c.c4_has_lorem


def test_bigram_logprob_matches_hand_computation(spark):
    import math

    from jsonl_dataingestion_pipeline_spark.functions.textstats import (
        bigram_logprob,
    )

    df = _docs(spark, [(1, "a a b")])
    # uni: c(a)=2 c(b)=1, N=3, V=2; bigrams (a,a),(a,b); alpha=1, lam=.8
    p_aa = 0.8 * ((1 + 1) / (2 + 2)) + 0.2 * ((2 + 1) / (3 + 2))
    p_ab = 0.8 * ((1 + 1) / (2 + 2)) + 0.2 * ((1 + 1) / (3 + 2))
    expect = -(math.log2(p_aa) + math.log2(p_ab)) / 2
    row = bigram_logprob(df, "text", "id").head()
    assert row.n_bigrams == 2
    assert abs(row.mean_nll - round(expect, 4)) < 1e-9


def test_bigram_logprob_orders_fluent_vs_shuffled(spark):
    from jsonl_dataingestion_pipeline_spark.functions.textstats import (
        bigram_logprob,
    )

    # same unigram distribution, different bigram structure: the
    # repeated-phrase docs share bigrams, the scrambled doc has
    # singleton bigrams -> higher NLL under the corpus bigram LM
    df = _docs(
        spark,
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),
            (3, "mat the on sat cat the"),
        ],
    )
    out = {r.id: r for r in bigram_logprob(df, "text", "id").collect()}
    assert out[1].mean_nll == out[2].mean_nll
    assert out[1].mean_nll < out[3].mean_nll


def test_bigram_logprob_short_docs_absent(spark):
    from jsonl_dataingestion_pipeline_spark.functions.textstats import (
        bigram_logprob,
    )

    df = _docs(spark, [(1, "solo"), (2, ""), (3, None), (4, "a b")])
    got = {r.id for r in bigram_logprob(df, "text", "id").collect()}
    assert got == {4}


def test_perplexity_buckets_terciles(spark):
    from jsonl_dataingestion_pipeline_spark.functions.textstats import (
        perplexity_buckets,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 7)], "id long, mean_nll double"
    )
    out = {r.id: r.bucket for r in perplexity_buckets(df).collect()}
    # thresholds: quantile_cont(1/3)=2.667, (2/3)=4.333
    assert out == {1: "head", 2: "head", 3: "middle", 4: "middle",
                   5: "tail", 6: "tail"}


def test_dedup_lines_normalized_key(spark):
    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        dedup_lines,
        normalized_line_key,
    )

    df = _docs(
        spark,
        [
            (1, "Updated: 2024-01-07\nunique alpha"),
            (2, "updated  2019/12/31!\nunique beta"),
            (3, "plain text only"),
        ],
    )
    out = {
        r.id: r
        for r in dedup_lines(
            df, "id", "text", key=normalized_line_key
        ).collect()
    }
    # the two date-stamped banners normalize to the same key -> removed
    # from BOTH docs, originals preserved for the survivors
    assert out[1].text == "unique alpha" and out[1].n_kept == 1
    assert out[2].text == "unique beta" and out[2].n_kept == 1
    assert out[3].text == "plain text only" and out[3].n_kept == 1


def test_dedup_lines_exact_default_unchanged(spark):
    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        dedup_lines,
    )

    df = _docs(
        spark,
        [(1, "Updated: 2024-01-07\na"), (2, "updated  2019/12/31!\nb")],
    )
    out = {r.id: r for r in dedup_lines(df, "id", "text").collect()}
    # exact matching: the banners differ, nothing removed
    assert out[1].n_kept == 2 and out[2].n_kept == 2


def test_prefix_jaccard_matches_brute_force(spark):
    """Prefix filtering is EXACT: against a random corpus, the result
    must equal the brute-force all-pairs Jaccard at the threshold."""
    import itertools
    import random

    from jsonl_dataingestion_pipeline_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        base = rng.sample(vocab, rng.randint(5, 12))
        docs.append((i, " ".join(base)))
        if rng.random() < 0.5:  # plant a near-dup: drop one token
            docs.append((100 + i, " ".join(base[:-1])))
    df = spark.createDataFrame(docs, "id long, text string")

    got = {
        (r.id_l, r.id_r): r.jaccard
        for r in prefix_jaccard_pairs(df, "text", "id", threshold=0.6).collect()
    }

    sets = {i: set(t.split()) for i, t in docs}
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            j = round(inter / len(sets[a] | sets[b]), 6)
            if j >= 0.6:
                expect[(a, b)] = j
    assert got == expect and len(expect) > 5


def test_compression_ratio_separates_repetitive_from_varied(spark):
    import zlib

    from jsonl_dataingestion_pipeline_spark.functions.textstats import (
        compression_ratio,
    )

    rep = "buy now click here " * 200
    varied = " ".join(f"w{i * 7919 % 104729}" for i in range(600))
    df = _docs(spark, [(1, rep), (2, varied), (3, ""), (4, None)])
    out = {
        r.id: r.r
        for r in df.select(
            "id", compression_ratio("text").alias("r")
        ).collect()
    }
    assert out[1] < 0.1 < out[2]          # repetition compresses away
    assert out[3] is None and out[4] is None
    # exact agreement with direct zlib (same level, same rounding)
    expect = round(
        len(zlib.compress(rep.encode(), 6)) / len(rep.encode()), 4
    )
    assert out[1] == expect


def test_scd2_from_changes_collapses_runs(spark):
    import datetime as dt

    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        scd2_from_changes,
    )

    T = lambda s: dt.datetime(2024, 1, s)
    rows = [
        (1, T(1), "bronze"),
        (1, T(2), "bronze"),     # duplicate run -> collapsed
        (1, T(5), "silver"),
        (1, T(9), "gold"),
        (2, T(3), "bronze"),
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, tier string")
    out = sorted(
        scd2_from_changes(df, "uid", "ts", "tier").collect(),
        key=lambda r: (r.uid, r.version),
    )
    u1 = [r for r in out if r.uid == 1]
    assert [(r.tier, r.version, r.is_current) for r in u1] == [
        ("bronze", 1, False), ("silver", 2, False), ("gold", 3, True)
    ]
    assert u1[0].valid_from == T(1) and u1[0].valid_to == T(5)
    assert u1[1].valid_to == T(9) and u1[2].valid_to is None
    u2 = [r for r in out if r.uid == 2]
    assert len(u2) == 1 and u2[0].is_current


def test_chunk_text_overlap_and_coverage(spark):
    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        chunk_text,
    )

    text = " ".join(f"t{i}" for i in range(10))
    df = _docs(spark, [(1, text), (2, "a b"), (3, "")])
    out = sorted(
        chunk_text(df, "id", "text", chunk_tokens=4, stride=3).collect(),
        key=lambda r: (r.id, r.chunk_index),
    )
    d1 = [r for r in out if r.id == 1]
    # windows at 0,3,6 cover t0..t9 (last window t6..t9); window 9 not
    # emitted because ceil((10-4)/3)=2 -> 3 windows
    assert [r.chunk for r in d1] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"
    ]
    assert [r.rag_chunk_id for r in d1] == ["1#0", "1#1", "1#2"]
    d2 = [r for r in out if r.id == 2]
    assert len(d2) == 1 and d2[0].chunk == "a b" and d2[0].n_chunk_tokens == 2
    d3 = [r for r in out if r.id == 3]
    assert d3 == []  # empty doc -> NO chunks (ADVICE r3)


def test_chunk_text_skips_empty_and_whitespace_docs(spark):
    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        chunk_text,
    )

    df = _docs(spark, [(1, ""), (2, "   \t  "), (3, " one  two ")])
    out = chunk_text(df, "id", "text", chunk_tokens=4, stride=3).collect()
    assert {r.id for r in out} == {3}
    assert out[0].chunk == "one two" and out[0].n_chunk_tokens == 2


def test_chunk_text_property_full_coverage_random(spark):
    """Invariants over 60 random (n_tokens, chunk, stride) cases, one
    Spark job: chunk ids unique, every token index covered by >= 1
    window, windows ordered, last window never empty."""
    import random

    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        chunk_text,
    )

    rng = random.Random(29)
    cases = []
    for cid in range(60):
        n = rng.randint(0, 40)
        chunk = rng.randint(1, 12)
        stride = rng.randint(1, chunk)  # stride <= chunk: gap-free
        text = " ".join(f"w{cid}_{i}" for i in range(n))
        cases.append((cid, chunk, stride, n, text))

    by_params = {}
    for cid, chunk, stride, n, text in cases:
        by_params.setdefault((chunk, stride), []).append((cid, n, text))

    for (chunk, stride), rows in by_params.items():
        df = spark.createDataFrame(
            [(c, t) for c, _n, t in rows], "id long, text string"
        )
        out = chunk_text(
            df, "id", "text", chunk_tokens=chunk, stride=stride
        ).collect()
        per_doc = {}
        for r in out:
            per_doc.setdefault(r.id, []).append(r)
        for cid, n, _text in rows:
            if n == 0:
                assert cid not in per_doc  # zero-token doc -> no chunks
                continue
            chunks = sorted(per_doc[cid], key=lambda r: r.chunk_index)
            ids = [r.rag_chunk_id for r in chunks]
            assert len(ids) == len(set(ids))
            covered = set()
            for r in chunks:
                toks = r.chunk.split()
                for t in toks:
                    covered.add(int(t.split("_")[1]))
                assert r.n_chunk_tokens == len(toks)
            assert covered == set(range(n)), (cid, chunk, stride)
            assert chunks[-1].n_chunk_tokens >= 1


def test_scd2_null_state_is_a_real_version(spark):
    import datetime as dt

    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        scd2_from_changes,
    )

    T = lambda d: dt.datetime(2024, 1, d)
    df = spark.createDataFrame(
        [(1, T(1), "a"), (1, T(2), None), (1, T(3), None), (1, T(4), "b")],
        "uid long, ts timestamp, v string",
    )
    out = sorted(
        scd2_from_changes(df, "uid", "ts", "v").collect(),
        key=lambda r: r.version,
    )
    # a -> NULL (one collapsed version) -> b
    assert [(r.v, r.is_current) for r in out] == [
        ("a", False), (None, False), ("b", True)
    ]


def test_fuzzy_decontaminate_flags_paraphrased_leak(spark):
    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        fuzzy_decontaminate,
    )

    bench = _docs(spark, [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten"),
    ])
    corpus = _docs(spark, [
        # near-copy of bench 1 (last word changed) -> high Jaccard
        (10, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        # unrelated
        (11, "completely different text with no overlap whatsoever here"),
        # shares a couple of shingles with bench 2 but far below 0.5
        (12, "one two three totally unrelated tail of words goes here"),
    ])
    out = {
        r.id: r
        for r in fuzzy_decontaminate(
            corpus, bench, "text", "id", shingle_k=3, threshold=0.5
        ).collect()
    }
    assert out[10].contaminated and out[10].matched_bench == 1
    assert out[10].max_jaccard > 0.5
    assert not out[11].contaminated and out[11].matched_bench is None
    assert out[11].max_jaccard == 0.0
    assert not out[12].contaminated and 0.0 < out[12].max_jaccard < 0.5


def test_table_fingerprint_order_and_partition_invariant(spark):
    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        table_fingerprint,
    )

    rows = [(i, f"v{i % 7}") for i in range(100)]
    a = spark.createDataFrame(rows, "k long, v string")
    b = spark.createDataFrame(list(reversed(rows)), "k long, v string") \
        .repartition(13)
    fa = table_fingerprint(a).head()
    fb = table_fingerprint(b).head()
    assert (fa.n_rows, fa.xor_fp, fa.sum_fp) == (fb.n_rows, fb.xor_fp, fb.sum_fp)
    # any single-row change must flip the fingerprint
    c = spark.createDataFrame(rows[:-1] + [(99, "CHANGED")], "k long, v string")
    fc = table_fingerprint(c).head()
    assert (fc.xor_fp, fc.sum_fp) != (fa.xor_fp, fa.sum_fp)
    # duplicate-row multiplicity: XOR alone cancels, SUM catches it
    d = spark.createDataFrame(rows + rows, "k long, v string")
    fd = table_fingerprint(d).head()
    assert fd.xor_fp == 0 or fd.xor_fp != fa.xor_fp  # xor blind spot is real
    assert fd.sum_fp == 2 * fa.sum_fp and fd.n_rows == 200


def test_q139_merge_equals_full_recompute(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_fp", "/root/repo/__spark_entry__.py"
    )
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)
    out = {
        r.side: r
        for r in em.q139_table_fingerprint(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    m, f = out["merged"], out["full"]
    assert (m.n_rows, m.xor_fp, m.sum_fp) == (f.n_rows, f.xor_fp, f.sum_fp)


def test_fuzzy_decontaminate_hot_shingle_cap_bounds_candidates(spark, caplog):
    """Adversarial stop-word corpus: every corpus doc shares the same
    8 stop-word prefix trigrams with EVERY benchmark doc, so uncapped
    candidate pairs are |corpus| x |bench|. With max_bench_df the hot
    shingles are dropped from candidate generation: non-leak docs
    produce ZERO candidate rows (max_jaccard collapses to 0.0 — the
    observable proof the pair set is bounded by true distinctive
    overlaps, not the stop-word cross product), while a genuinely
    leaked doc still exceeds the threshold through its distinctive
    (low-DF) shingles, with the same argmax benchmark."""
    import logging

    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        fuzzy_decontaminate,
    )

    stop = "the of and is to in it for on as"  # 8 internal trigrams
    bench_rows = [
        (b, stop + " " + " ".join(f"b{b}w{j}" for j in range(20)))
        for b in range(1, 31)
    ]
    corpus_rows = [
        (100 + c, stop + " " + " ".join(f"c{c}w{j}" for j in range(20)))
        for c in range(50)
    ]
    # leak: bench doc 1 with the final word changed
    leak_text = bench_rows[0][1].rsplit(" ", 1)[0] + " changed"
    corpus_rows.append((999, leak_text))
    bench = _docs(spark, bench_rows)
    corpus = _docs(spark, corpus_rows)

    uncapped = {
        r.id: r
        for r in fuzzy_decontaminate(
            corpus, bench, "text", "id",
            shingle_k=3, threshold=0.5, max_bench_df=None,
        ).collect()
    }
    # every doc shares the hot prefix with every benchmark doc
    assert all(r.max_jaccard > 0.0 for r in uncapped.values())

    with caplog.at_level(
        logging.WARNING,
        logger="jsonl_dataingestion_pipeline_spark.operators.curation",
    ):
        capped = {
            r.id: r
            for r in fuzzy_decontaminate(
                corpus, bench, "text", "id",
                shingle_k=3, threshold=0.5, max_bench_df=5,
            ).collect()
        }
    assert any("hot shingle" in m for m in caplog.messages)
    # stop-word-only docs: zero surviving candidates -> exact zeros
    for c in range(50):
        r = capped[100 + c]
        assert r.max_jaccard == 0.0 and not r.contaminated
        assert r.matched_bench is None
    # the true leak still caught, same argmax, via distinctive shingles
    assert capped[999].contaminated and capped[999].matched_bench == 1
    assert capped[999].max_jaccard > 0.5
    # cap only shrinks intersections: scores never increase
    assert capped[999].max_jaccard <= uncapped[999].max_jaccard


def test_dedup_lines_group_scoped_census(spark):
    """group_col: a line repeated within ONE site is boilerplate there;
    the same line appearing once per site across different sites
    survives everywhere."""
    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        dedup_lines,
    )

    rows = [
        (1, "siteA", "nav bar\nreal content one"),
        (2, "siteA", "nav bar\nreal content two"),
        (3, "siteB", "nav bar\nother text"),
        (4, "siteB", "unique line\nmore text"),
    ]
    df = spark.createDataFrame(rows, "id long, site string, text string")
    out = {
        r.id: (r.text, r.n_kept)
        for r in dedup_lines(
            df, "id", "text", min_docs=2, group_col="site"
        ).collect()
    }
    # siteA: 'nav bar' repeats in 2 siteA docs -> stripped there
    assert out[1] == ("real content one", 1)
    assert out[2] == ("real content two", 1)
    # siteB: 'nav bar' appears only once within siteB -> survives
    assert out[3][0] == "nav bar\nother text"
    assert out[4][0] == "unique line\nmore text"


def test_fuzzy_decontaminate_memo_evicts_lru_not_all(spark):
    """ADVICE r7: the drop-census memo evicts ONE least-recently-used
    entry past capacity instead of clearing every memoized census."""
    from jsonl_dataingestion_pipeline_spark.operators import curation as cu

    saved = dict(cu._CAP_MEMO._entries)
    cu._CAP_MEMO._entries.clear()
    try:
        # fill to capacity with synthetic entries
        for i in range(257):
            cu._CAP_MEMO.get(spark, ("k", i), lambda i=i: (i, None))
        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "id long, text string",
        )
        cand = spark.createDataFrame(
            [(2, "alpha beta gamma delta epsilon zeta")],
            "id long, text string",
        )
        cu.fuzzy_decontaminate(
            cand, bench, "text", "id", shingle_k=3, max_bench_df=1
        ).collect()
        # one real entry appended; only the OLDEST synthetic entries
        # were evicted to make room (cap is exactly 256) — the memo
        # never collapsed to 1
        keys = {key for _, key in cu._CAP_MEMO._entries}
        assert len(cu._CAP_MEMO._entries) == 256
        assert ("k", 0) not in keys
        assert ("k", 1) not in keys
        assert ("k", 256) in keys
    finally:
        cu._CAP_MEMO._entries.clear()
        cu._CAP_MEMO._entries.update(saved)


class TestDuplicateSubstringSpans:
    def _spans(self, spark, rows, **kw):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            duplicate_substring_spans,
        )

        df = spark.createDataFrame(rows, "id long, text string")
        out = duplicate_substring_spans(df, "id", "text", **kw)
        texts = dict(rows)
        spans = {}
        for r in out.collect():
            spans.setdefault(r.id, []).append((r.s, r.e))
        return {i: sorted(v) for i, v in spans.items()}, texts

    def test_planted_shared_region_found_and_slices_identically(
        self, spark
    ):
        shared = (
            "Permission is hereby granted, free of charge, to any "
            "person obtaining a copy of this software and associated "
            "documentation files."
        )
        rows = [
            (1, "Alpha doc leading text here. " + shared + " tail one."),
            (2, "Completely different opening paragraph! " + shared),
            (3, "No boilerplate in this document at all, just prose "
                "that keeps going for a while without repeating."),
        ]
        spans, texts = self._spans(spark, rows, k=24, sample=4)
        # doc 3 has nothing duplicated
        assert 3 not in spans
        # docs 1 and 2 each carry exactly one merged span, and the
        # sliced regions are IDENTICAL text (the planted boilerplate,
        # possibly trimmed by sampling at the edges)
        assert len(spans[1]) == 1 and len(spans[2]) == 1
        (s1, e1), (s2, e2) = spans[1][0], spans[2][0]
        cut1 = texts[1][s1 - 1: e1 - 1]
        cut2 = texts[2][s2 - 1: e2 - 1]
        assert cut1 == cut2
        assert cut1 in shared or shared in cut1
        assert len(cut1) >= 24  # at least one window's worth

    def test_content_keyed_selection_is_alignment_robust(self, spark):
        # the same substring at DIFFERENT offsets still matches: doc 2
        # shifts the shared region by an odd number of chars (fixed-
        # stride sampling would miss this; content sampling cannot)
        shared = "x" * 0 + (
            "The quick brown fox jumps over the lazy dog repeatedly "
            "and then does it again for good measure, twice."
        )
        rows = [
            (1, shared + " trailing."),
            (2, "Seven!! " + shared),
        ]
        spans, _ = self._spans(spark, rows, k=24, sample=4)
        assert 1 in spans and 2 in spans

    def test_within_doc_repetition_alone_does_not_match(self, spark):
        # min_docs=2 counts DISTINCT docs: a doc repeating its own
        # paragraph twice must not self-match
        para = (
            "This exact paragraph appears twice inside one document "
            "but in no other document anywhere."
        )
        rows = [
            (1, para + " --- " + para),
            (2, "Unrelated content that shares nothing with doc one, "
                "written to be long enough for windows."),
        ]
        spans, _ = self._spans(spark, rows, k=24, sample=1)
        assert spans == {}

    def test_adjacent_windows_merge_into_one_span(self, spark):
        # sample=1 selects every window; all overlapping windows of the
        # shared region must merge into ONE maximal island per doc
        shared = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH"
        # boundary chars DIFFER between docs (an earlier fixture used
        # " " on both sides of both docs, and the operator correctly
        # found the 1-char-wider true common substring)
        rows = [(1, "L1:" + shared + "#R1"), (2, "L2+" + shared + "!R2")]
        spans, texts = self._spans(spark, rows, k=24, sample=1)
        assert len(spans[1]) == 1 and len(spans[2]) == 1
        (s, e) = spans[1][0]
        assert texts[1][s - 1: e - 1] == shared
        (s, e) = spans[2][0]
        assert texts[2][s - 1: e - 1] == shared

    def test_short_docs_skipped(self, spark):
        rows = [(1, "tiny"), (2, "tiny")]
        spans, _ = self._spans(spark, rows, k=24, sample=1)
        assert spans == {}


class TestRemoveDuplicateSpans:
    def _run(self, spark, rows, **kw):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            remove_duplicate_substrings,
        )

        df = spark.createDataFrame(rows, "id long, text string")
        out = remove_duplicate_substrings(df, "id", "text", **kw)
        return {r.id: r for r in out.collect()}

    def test_keeps_one_occurrence_cuts_the_rest(self, spark):
        shared = (
            "This boilerplate license paragraph is repeated verbatim "
            "across several documents in the corpus."
        )
        # boundary chars are DISTINCT per doc — shared boundary chars
        # (a ". " on both sides) correctly widen the true common
        # substring, which an earlier fixture tripped over twice
        rows = [
            (1, "Doc one intro:" + shared + "@doc one outro."),
            (2, "Doc two says something else, then;" + shared),
            (3, "Third doc!" + shared + "#done here"),
            (4, "No duplicates in this document whatsoever, it is "
                "entirely original prose from start to finish."),
        ]
        out = self._run(spark, rows, k=24, sample=1)
        # doc 1 is the keeper (min id, min s): untouched
        assert out[1].text == rows[0][1]
        assert out[1].n_cut == 0
        # docs 2 and 3 lose the shared region (their local prose stays)
        assert shared not in out[2].text and shared not in out[3].text
        assert "Doc two says something else" in out[2].text
        assert "Third doc!" in out[3].text and "#done here" in out[3].text
        assert out[2].n_cut == 1 and out[3].n_cut == 1
        assert out[2].cut_chars == len(shared) == out[3].cut_chars
        # doc 4 passes through untouched
        assert out[4].text == rows[3][1] and out[4].n_cut == 0

    def test_multiple_regions_cut_in_one_doc(self, spark):
        a = "First shared chunk AAAA BBBB CCCC DDDD EEEE FFFF GG."
        b = "Second shared chunk 1111 2222 3333 4444 5555 6666 77."
        rows = [
            (1, a + " and " + b),
            (2, "x: " + a + " y! " + b + " z."),
        ]
        out = self._run(spark, rows, k=24, sample=1)
        # doc 1 keeps both (keeper for both groups); doc 2 loses both
        assert out[1].n_cut == 0
        assert out[2].n_cut == 2
        assert a not in out[2].text and b not in out[2].text
        assert out[2].text.startswith("x:") and out[2].text.endswith("z.")

    def test_cut_chars_matches_span_mass(self, spark):
        # non-self-repeating body: an earlier fixture repeated a 26-char
        # block INSIDE the shared text, and the operator correctly cut
        # the second copy out of the keeper doc as a within-corpus dup
        shared = (
            "shared-body-0123456789abcdefghijklmnopqrstuvwxyz-ABCDEF"
        )
        rows = [(1, "A*" + shared + "*A"), (2, "B~" + shared + "~B")]
        out = self._run(spark, rows, k=24, sample=1)
        kept, cut = (1, 2)
        assert out[kept].n_cut == 0
        assert out[kept].text == rows[0][1]
        # the cut mass equals the span length, and the rebuilt text is
        # exactly the doc minus that span
        assert out[cut].cut_chars == len(shared)
        assert len(out[cut].text) == len(rows[1][1]) - out[cut].cut_chars

    def test_within_doc_repeat_cut_even_in_keeper(self, spark):
        # remove-all-but-one applies at the WINDOW level: a document
        # repeating a block internally keeps only the first copy, even
        # when no other document is involved (min_docs counts docs, so
        # plant the block in a second doc to make it a duplicate)
        block = "qwertyuiopasdfghjklzxcvbnm123456"
        rows = [
            (1, "L<" + block + ">M<" + block + ">R"),
            (2, "other doc carrying " + block + " once, that is all."),
        ]
        out = self._run(spark, rows, k=24, sample=1)
        # doc 1 keeps its FIRST copy, loses the second
        assert out[1].text.count(block) == 1
        assert out[1].n_cut == 1

    def test_overlapping_groups_keep_every_window_somewhere(self, spark):
        """Round-9 review finding: when duplicate groups OVERLAP inside
        a keeper's document (doc2 contains L and R overlapping; doc2 is
        R's keeper but not L's), the naive unprotected-island cut
        destroyed R's keeper windows corpus-wide. The protected-interval
        subtraction must keep EVERY duplicated window's text alive in
        at least one cleaned document."""
        M = "abcdefghijklmnopqrstuvwxyz0123456789ABCD"
        L, R = M[:32], M[8:]
        rows = [
            (1, "xx#" + L + "@yy"),
            (2, "qq%" + M + "&rr"),
            (3, "zz=" + R + "+ww"),
        ]
        out = self._run(spark, rows, k=24, sample=1)
        cleaned = [out[i].text for i in (1, 2, 3)]
        # enumerate every 24-gram duplicated across the ORIGINAL docs
        docs_per: dict = {}
        for i, (_id, t) in enumerate(rows):
            for j in range(len(t) - 23):
                docs_per.setdefault(t[j: j + 24], set()).add(i)
        dup_grams = [g for g, d in docs_per.items() if len(d) >= 2]
        assert dup_grams, "fixture must contain duplicated windows"
        for g in dup_grams:
            assert any(g in t for t in cleaned), (
                f"duplicated window destroyed corpus-wide: {g!r}"
            )
        # and the transform still CUT something (not a no-op)
        assert any(out[i].n_cut > 0 for i in (1, 2, 3))


class TestIncrementalSubstringSpans:
    def test_batch_vs_index_equals_full_run_on_batch_side(self, spark):
        """The incremental contract: spans flagged for the batch against
        a stored index must equal the batch-side spans of a FULL
        duplicate_substring_spans over base + batch."""
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            duplicate_substring_spans,
            incremental_substring_spans,
            substring_fp_index,
        )

        boiler = (
            "This licensing boilerplate paragraph is shared between "
            "the old crawl and the new crawl verbatim."
        )
        base_rows = [
            (1, "Base doc one says things. " + boiler),
            (2, "Base doc two is entirely original text with no "
                "duplicated regions whatsoever in it."),
        ]
        batch_rows = [
            (10, "New doc ten leads in, then: " + boiler),  # vs base
            (11, "batch-internal duplicate XYZABCDEFGHIJKLMNOPQRSTUV!"),
            (12, "also the batch-internal duplicate "
                 "XYZABCDEFGHIJKLMNOPQRSTUV?"),
            (13, "completely fresh content in the new crawl, nothing "
                 "repeated anywhere at all."),
        ]
        base = spark.createDataFrame(base_rows, "id long, text string")
        batch = spark.createDataFrame(batch_rows, "id long, text string")
        idx = substring_fp_index(base, "id", "text", k=24, sample=1)
        inc = {
            (r.id, r.s, r.e)
            for r in incremental_substring_spans(
                batch, idx, "id", "text", k=24, sample=1
            ).collect()
        }
        full = {
            (r.id, r.s, r.e)
            for r in duplicate_substring_spans(
                base.unionByName(batch), "id", "text", k=24, sample=1
            ).collect()
            if r.id >= 10
        }
        assert inc == full
        # and it actually flagged both kinds of duplication
        ids = {i for i, _s, _e in inc}
        assert 10 in ids            # batch-vs-base
        assert 11 in ids and 12 in ids  # batch-internal
        assert 13 not in ids

    def test_empty_index_reduces_to_batch_only_dedup(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            duplicate_substring_spans,
            incremental_substring_spans,
            substring_fp_index,
        )

        rows = [
            (1, "twin text AAAABBBBCCCCDDDDEEEEFFFF here"),
            (2, "twin text AAAABBBBCCCCDDDDEEEEFFFF there"),
        ]
        batch = spark.createDataFrame(rows, "id long, text string")
        empty_idx = substring_fp_index(
            batch.limit(0), "id", "text", k=24, sample=1
        )
        inc = {
            (r.id, r.s, r.e)
            for r in incremental_substring_spans(
                batch, empty_idx, "id", "text", k=24, sample=1
            ).collect()
        }
        full = {
            (r.id, r.s, r.e)
            for r in duplicate_substring_spans(
                batch, "id", "text", k=24, sample=1
            ).collect()
        }
        assert inc == full and inc


class TestIncrementalSubstringRemoval:
    BOILER = (
        "This licensing boilerplate paragraph is shared between "
        "the old crawl and the new crawl verbatim."
    )

    def _frames(self, spark):
        base_rows = [
            (1, "Base doc one says things. " + self.BOILER),
            (2, "Base doc two is entirely original text with no "
                "duplicated regions whatsoever in it."),
        ]
        batch_rows = [
            (10, "New doc ten leads in, then: " + self.BOILER),
            (11, "batch-internal duplicate XYZABCDEFGHIJKLMNOPQRSTUV!"),
            (12, "also the batch-internal duplicate "
                 "XYZABCDEFGHIJKLMNOPQRSTUV?"),
            (13, "completely fresh content in the new crawl, nothing "
                 "repeated anywhere at all."),
        ]
        base = spark.createDataFrame(base_rows, "id long, text string")
        batch = spark.createDataFrame(batch_rows, "id long, text string")
        return base, batch

    def test_equals_full_run_projected_to_batch(self, spark):
        """The incremental contract: cleaned batch text must equal
        remove_duplicate_substrings over base+batch projected to batch
        docs (base ids precede batch ids here, so the full run elects
        base occurrences as keepers for base-known fingerprints —
        exactly the incremental policy)."""
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            incremental_substring_removal,
            remove_duplicate_substrings,
            substring_fp_index,
        )

        base, batch = self._frames(spark)
        idx = substring_fp_index(base, "id", "text", k=24, sample=1)
        inc = {
            r.id: (r.text, r.n_cut, r.cut_chars)
            for r in incremental_substring_removal(
                batch, idx, "id", "text", k=24, sample=1
            ).collect()
        }
        full = {
            r.id: (r.text, r.n_cut, r.cut_chars)
            for r in remove_duplicate_substrings(
                base.unionByName(batch), "id", "text", k=24, sample=1
            ).collect()
            if r.id >= 10
        }
        assert inc == full
        # base-known boilerplate cut from the batch copy...
        assert self.BOILER not in inc[10][0]
        assert inc[10][0].startswith("New doc ten leads in")
        # ...batch-internal duplicates keep exactly one copy...
        assert inc[11][1] == 0 and inc[12][1] == 1
        # ...and untouched docs pass through
        assert inc[13][1] == 0

    def test_survive_somewhere_across_base_and_batch(self, spark):
        """Every 24-gram duplicated across base+batch must survive in
        (uncut base text) ∪ (cleaned batch text)."""
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            incremental_substring_removal,
            substring_fp_index,
        )

        base, batch = self._frames(spark)
        idx = substring_fp_index(base, "id", "text", k=24, sample=1)
        cleaned = [
            r.text
            for r in incremental_substring_removal(
                batch, idx, "id", "text", k=24, sample=1
            ).collect()
        ]
        survivors = [r.text for r in base.collect()] + cleaned
        docs_per: dict = {}
        for _id, t in [tuple(r) for r in base.collect()] + [
            tuple(r) for r in batch.collect()
        ]:
            for j in range(len(t) - 23):
                docs_per.setdefault(t[j: j + 24], set()).add(_id)
        dup_grams = [g for g, d in docs_per.items() if len(d) >= 2]
        assert dup_grams, "fixture must contain duplicated windows"
        for g in dup_grams:
            assert any(g in t for t in survivors), (
                f"duplicated window destroyed corpus-wide: {g!r}"
            )

    def test_base_known_single_batch_occurrence_is_cut(self, spark):
        """A fingerprint occurring ONCE in the batch but present in the
        base is still cut (total distinct docs >= 2; the base copy is
        the keeper) — the case plain batch-only removal would miss."""
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            incremental_substring_removal,
            remove_duplicate_substrings,
            substring_fp_index,
        )

        shared = "0123456789abcdefghijklmnopqrstuvwxyz"
        base = spark.createDataFrame(
            [(1, "base doc holds <" + shared + "> safely.")],
            "id long, text string",
        )
        batch = spark.createDataFrame(
            [(10, "new doc repeats {" + shared + "} once.")],
            "id long, text string",
        )
        idx = substring_fp_index(base, "id", "text", k=24, sample=1)
        out = {
            r.id: r
            for r in incremental_substring_removal(
                batch, idx, "id", "text", k=24, sample=1
            ).collect()
        }
        assert shared not in out[10].text and out[10].n_cut == 1
        # batch-only removal would NOT have cut it
        solo = remove_duplicate_substrings(
            batch, "id", "text", k=24, sample=1
        ).collect()[0]
        assert shared in solo.text and solo.n_cut == 0

    def test_empty_index_reduces_to_batch_only_removal(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            incremental_substring_removal,
            remove_duplicate_substrings,
            substring_fp_index,
        )

        _base, batch = self._frames(spark)
        empty_idx = substring_fp_index(
            batch.limit(0), "id", "text", k=24, sample=1
        )
        inc = {
            r.id: (r.text, r.n_cut, r.cut_chars)
            for r in incremental_substring_removal(
                batch, empty_idx, "id", "text", k=24, sample=1
            ).collect()
        }
        solo = {
            r.id: (r.text, r.n_cut, r.cut_chars)
            for r in remove_duplicate_substrings(
                batch, "id", "text", k=24, sample=1
            ).collect()
        }
        assert inc == solo


class TestRollingFingerprintPath:
    """The Arrow polynomial rolling-hash kernel is the substring
    family's only fingerprint: O(1) multiply-adds per char instead of
    hashing k chars at every position, with content-keyed selection
    (a window's fingerprint depends only on its k chars)."""

    @staticmethod
    def _brute_force_spans(rows, k, min_docs):
        """Pure-Python reference for ``sample=1``: every k-char window
        found in >= ``min_docs`` distinct docs, merged per doc into
        ``[p, p+k)`` islands (1-based, touching windows merge)."""
        docs_per: dict = {}
        for i, t in rows:
            for j in range(len(t) - k + 1):
                docs_per.setdefault(t[j: j + k], set()).add(i)
        spans = set()
        for i, t in rows:
            cur = None
            for j in range(len(t) - k + 1):
                if len(docs_per[t[j: j + k]]) < min_docs:
                    continue
                p = j + 1
                if cur is not None and p <= cur[1]:
                    cur[1] = max(cur[1], p + k)
                    continue
                if cur is not None:
                    spans.add((i, cur[0], cur[1]))
                cur = [p, p + k]
            if cur is not None:
                spans.add((i, cur[0], cur[1]))
        return spans

    def test_sample1_spans_match_brute_force_reference(self, spark):
        # sample=1 selects every window, so the operator must equal the
        # exhaustive reference: planted shared regions (two of them
        # overlapping in one doc), a within-doc repeat that is not
        # shared, a within-doc repeat that is, and short docs
        import random

        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            duplicate_substring_spans,
        )

        rng = random.Random(20240601)

        def noise(n):
            return "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz ,.") for _ in range(n)
            )

        shared_a = noise(60)
        shared_b = noise(45)
        self_rep = noise(30)
        rows = [
            (1, noise(20) + shared_a + noise(15)),
            (2, shared_a + noise(33) + shared_b),
            (3, noise(7) + shared_b + noise(40) + shared_a[10:50]),
            (4, noise(12) + self_rep + noise(9) + self_rep + noise(5)),
            (5, noise(25) + shared_b[:30] + noise(25) + shared_b[:30]),
            (6, noise(80)),
            (7, noise(10)),
            (8, shared_a[:20]),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        for min_docs in (2, 3):
            got = {
                (r.id, r.s, r.e)
                for r in duplicate_substring_spans(
                    df, "id", "text", k=24, sample=1, min_docs=min_docs
                ).collect()
            }
            want = self._brute_force_spans(rows, 24, min_docs)
            assert got == want and want, (min_docs, got ^ want)

    def test_sampled_rolling_detects_planted_duplicates(self, spark):
        # the probabilistic detection contract: a planted region of
        # length L >> k survives 1/sample selection
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            duplicate_substring_spans,
        )

        plant = (
            "shared region long enough that one-in-four content "
            "sampling is effectively certain to select a window "
            "inside it, 0123456789 abcdefghijklmnopqrstuvwxyz."
        )
        rows = [
            (1, "alpha lead-in text: " + plant),
            (2, plant + " :omega tail text"),
            (3, "unrelated filler document with no duplication at "
                "all, purely original content through and through."),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {
            r.id
            for r in duplicate_substring_spans(
                df, "id", "text", k=24, sample=4
            ).collect()
        }
        assert got == {1, 2}, got

    def test_rolling_removal_and_index_roundtrip(self, spark):
        # an index built by substring_fp_index feeds the incremental
        # removal consistently with the full run over base + batch
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            incremental_substring_removal,
            remove_duplicate_substrings,
            substring_fp_index,
        )

        boiler = (
            "This licensing boilerplate paragraph is shared between "
            "the old crawl and the new crawl verbatim."
        )
        base = spark.createDataFrame(
            [(1, "Base doc one says things. " + boiler)],
            "id long, text string",
        )
        batch = spark.createDataFrame(
            [(10, "New doc ten leads in, then: " + boiler)],
            "id long, text string",
        )
        idx = substring_fp_index(base, "id", "text", k=24, sample=1)
        out = incremental_substring_removal(
            batch, idx, "id", "text", k=24, sample=1
        ).collect()[0]
        assert boiler not in out.text and out.n_cut == 1
        # equals the full run projected to the batch doc
        full = {
            r.id: r.text
            for r in remove_duplicate_substrings(
                base.unionByName(batch), "id", "text", k=24, sample=1
            ).collect()
        }
        assert full[10] == out.text


class TestMergeSubstringFpIndex:
    def test_merge_equals_rebuild_over_union(self, spark):
        """Index-maintenance algebra: merging the batch census into a
        stored index must equal rebuilding the index over base+batch
        (same k/sample => same selected windows, distinct-doc counts
        sum because the id sets are disjoint)."""
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            merge_substring_fp_index,
            substring_fp_index,
        )

        boiler = (
            "This licensing boilerplate paragraph is shared between "
            "the old crawl and the new crawl verbatim."
        )
        base = spark.createDataFrame(
            [
                (1, "Base doc one says things. " + boiler),
                (2, "Base doc two is entirely original text with no "
                    "duplicated regions whatsoever in it."),
            ],
            "id long, text string",
        )
        batch = spark.createDataFrame(
            [
                (10, "New doc ten leads in, then: " + boiler),
                (11, "completely fresh content in the new crawl, "
                     "nothing repeated anywhere at all."),
            ],
            "id long, text string",
        )
        idx = substring_fp_index(base, "id", "text", k=24, sample=2)
        merged = {
            (r.fp, r.n_docs)
            for r in merge_substring_fp_index(
                idx, batch, "id", "text", k=24, sample=2
            ).collect()
        }
        rebuilt = {
            (r.fp, r.n_docs)
            for r in substring_fp_index(
                base.unionByName(batch), "id", "text", k=24, sample=2
            ).collect()
        }
        assert merged == rebuilt and merged
        # the shared boilerplate's fingerprints count BOTH sides
        assert any(n >= 2 for _fp, n in merged)


class TestFpIndexSpec:
    """A stored substring index carries its fingerprint spec; the merge
    and both probes refuse an index from another fingerprint space."""

    BOILER = (
        "This licensing boilerplate paragraph is shared between "
        "the old crawl and the new crawl verbatim."
    )

    def _frames(self, spark):
        base = spark.createDataFrame(
            [(1, "Base doc one says things. " + self.BOILER)],
            "id long, text string",
        )
        batch = spark.createDataFrame(
            [(10, "New doc ten leads in, then: " + self.BOILER)],
            "id long, text string",
        )
        return base, batch

    @staticmethod
    def _consumers(batch, idx):
        """The merge and both probes, called with k=24, sample=1."""
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            incremental_substring_removal,
            incremental_substring_spans,
            merge_substring_fp_index,
        )

        kw = {"k": 24, "sample": 1}
        return {
            "merge": lambda: merge_substring_fp_index(
                idx, batch, "id", "text", **kw
            ),
            "spans": lambda: incremental_substring_spans(
                batch, idx, "id", "text", **kw
            ),
            "removal": lambda: incremental_substring_removal(
                batch, idx, "id", "text", **kw
            ),
        }

    def test_index_and_merge_carry_the_tag(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            merge_substring_fp_index,
            substring_fp_index,
        )

        base, batch = self._frames(spark)
        idx = substring_fp_index(base, "id", "text", k=24, sample=1)
        merged = merge_substring_fp_index(
            idx, batch, "id", "text", k=24, sample=1
        )
        for frame in (idx, merged):
            specs = {r.fp_spec for r in frame.select("fp_spec").collect()}
            assert specs == {"roll63:k=24:sample=1"}

    def test_untagged_index_refused_at_call_time(self, spark):
        import pytest as _pytest

        _base, batch = self._frames(spark)
        # the pre-tag (fp, n_docs) schema, which may hold md5 fps
        untagged = spark.createDataFrame([(4, 1)], "fp long, n_docs long")
        for name, call in self._consumers(batch, untagged).items():
            with _pytest.raises(ValueError, match="fp_spec"):
                call()

    def test_mismatched_index_refused_by_the_action(self, spark):
        import pytest as _pytest

        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            substring_fp_index,
        )

        base, batch = self._frames(spark)
        sc = spark.sparkContext
        for k, sample in ((16, 1), (24, 2)):
            idx = substring_fp_index(base, "id", "text", k=k, sample=sample)
            # building the probe frames starts no Spark job: the check
            # rides in the index projection the action runs anyway
            group = f"fp-spec-check-{k}-{sample}"
            sc.setJobGroup(group, "build only")
            try:
                frames = {
                    name: call()
                    for name, call in self._consumers(batch, idx).items()
                }
                assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
            finally:
                sc._jsc.clearJobGroup()
            for name, frame in frames.items():
                with _pytest.raises(Exception, match="fp_spec"):
                    frame.collect()


class TestParagraphDupStats:
    def _stats(self, spark, rows, **kw):
        from jsonl_dataingestion_pipeline_spark.operators.curation import (
            paragraph_dup_stats,
        )

        df = spark.createDataFrame(rows, "id long, text string")
        return {
            r.id: r
            for r in paragraph_dup_stats(df, "id", "text", **kw).collect()
        }

    def test_counts_fractions_and_keep_decision(self, spark):
        rows = [
            (1, "shared banner\nunique one"),
            (2, "shared banner\nunique two\nunique three"),
            (3, "all original\nnothing shared"),
        ]
        got = self._stats(spark, rows, max_dup_fraction=0.5)
        assert (got[1].n_paras, got[1].n_dup_paras) == (2, 1)
        assert got[1].n_dup_chars == len("shared banner")
        assert got[1].dup_para_frac_u == 500000
        # doc 1: 13 dup chars of 23 -> 56.5% > 50% -> drop
        assert got[1].keep is False
        assert got[2].keep is True and got[2].n_dup_paras == 1
        assert got[3].n_dup_paras == 0 and got[3].keep is True
        assert got[3].dup_char_frac_u == 0

    def test_exact_threshold_keeps(self, spark):
        # dup chars exactly 50% of total must KEEP (<=, cross-multiplied)
        rows = [(1, "abcd\nwxyz"), (2, "abcd\nqqqq")]
        got = self._stats(spark, rows, max_dup_fraction=0.5)
        assert got[1].dup_char_frac_u == 500000
        assert got[1].keep is True

    def test_empty_doc_keeps_with_zero_fractions(self, spark):
        rows = [(1, ""), (2, "x\ny"), (3, "x\nz")]
        got = self._stats(spark, rows)
        assert got[1].n_chars == 0
        assert got[1].dup_char_frac_u == 0 and got[1].keep is True

    def test_grouped_census_scopes_duplicates(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.curation import (
            paragraph_dup_stats,
        )

        rows = [
            (1, "s1", "nav bar\nbody a"),
            (2, "s1", "nav bar\nbody b"),
            (3, "s2", "nav bar\nbody c"),
        ]
        df = spark.createDataFrame(rows, "id long, site string, text string")
        got = {
            r.id: r
            for r in paragraph_dup_stats(
                df, "id", "text", group_col="site"
            ).collect()
        }
        # 'nav bar' is duplicate within s1 only; the s2 copy is unique
        assert got[1].n_dup_paras == 1 and got[2].n_dup_paras == 1
        assert got[3].n_dup_paras == 0


class TestMaterializeWithAttributes:
    def _run(self, spark, rule):
        from jsonl_dataingestion_pipeline_spark.operators.curation import (
            materialize_with_attributes,
        )
        from pyspark.sql import functions as F

        docs = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, text string"
        )
        qual = spark.createDataFrame(
            [(1, 10), (2, 3), (3, 99)], "id long, score long"
        )
        # partial-coverage tagger: no row for id 3
        tox = spark.createDataFrame(
            [(1, False), (2, True)], "id long, bad boolean"
        )
        out = materialize_with_attributes(
            docs, "id", {"qual": qual, "tox": tox}, rule
        )
        return {r.id: r for r in out.collect()}

    def test_rule_over_prefixed_attrs(self, spark):
        from pyspark.sql import functions as F

        out = self._run(
            spark,
            lambda a: (a["qual__score"] >= 5)
            & ~F.coalesce(a["tox__bad"], F.lit(False)),
        )
        assert out[1].keep is True
        assert out[2].keep is False      # toxic
        assert out[3].keep is True       # missing tagger coalesced
        assert out[3].tox__bad is None   # NULL surfaced, not dropped

    def test_uncoalesced_null_propagates(self, spark):
        # the documented contract: an un-coalesced NULL attribute makes
        # keep NULL — the gap is surfaced, never silently decided
        out = self._run(spark, lambda a: ~a["tox__bad"])
        assert out[3].keep is None

    def test_attribute_columns_carried(self, spark):
        from pyspark.sql import functions as F

        out = self._run(spark, lambda a: F.lit(True))
        assert out[2].qual__score == 3 and out[2].tox__bad is True
