"""End-to-end test of the corpus curation pipeline (plans/corpus.py)."""

from __future__ import annotations

from jsonl_dataingestion_pipeline_spark.plans.corpus import curate_corpus

GOOD = (
    "the quick brown fox jumps over a lazy dog and then it runs far away "
    "to find some food for the long cold winter that is coming soon now "
    "with many different interesting words appearing in this document body "
    "so that the quality filter is satisfied by length and by variety"
)


def _corpus(spark):
    rows = [
        (1, "en", GOOD + " alpha"),
        (2, "en", GOOD + " alpha"),          # exact dup of 1 -> dropped at s1
        (3, "en", "spam spam spam spam"),     # low quality -> dropped at s2
        (4, "en", GOOD + " beta gamma"),      # near-dup of 1 -> dropped at s4
        (5, "fr", "un deux trois quatre cinq six sept huit neuf dix onze "
                  "douze treize quatorze quinze seize dix-sept dix-huit vingt "
                  "trente quarante cinquante soixante cent mille million des "
                  "mots varies pour que le filtre de qualite soit satisfait"),
        (6, "fr", "le chat est sur le tapis et il dort tres bien ce soir "
                  "avec une grande couverture rouge que sa maitresse a faite "
                  "pour les nuits froides de ce long hiver qui arrive bientot "
                  "et encore plus de mots differents pour la variete du texte"),
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_curate_corpus_stage_funnel(spark):
    final, stats = curate_corpus(
        _corpus(spark),
        quality_min=0.5,
        line_tokens=8,
        line_min_docs=10,      # passthrough here; removal tested separately
        jaccard_threshold=0.5,
        sample_hex_prefix="",  # all shingles -> exact candidate recall
        alpha=0.5,
        target_n=100,          # rates cap at 1 -> stage 5 keeps all
        seed=7,
    )
    st = {r.stage_name: r for r in stats.collect()}
    assert st["input"].n_docs == 6
    assert st["exact_dedup"].n_docs == 5          # doc 2 gone
    assert st["quality_filter"].n_docs == 4       # doc 3 gone
    assert st["line_dedup"].n_docs == 4           # passthrough (threshold 10)
    assert st["neardup_dedup"].n_docs == 3        # doc 4 folded into 1
    assert st["temperature_sample"].n_docs == 3   # rates capped at 1
    ids = sorted(r.doc_id for r in final.collect())
    assert ids == [1, 5, 6]
    # stage stats carry id checksums for the oracle hash
    assert st["neardup_dedup"].sum_ids == 1 + 5 + 6


def test_curate_corpus_reliable_mode_identical(spark, request):
    """With a checkpoint directory set, the funnel's barriers are
    reliable checkpoints under it, and the survivors and stage stats
    equal the run with local barriers."""

    def run():
        final, stats = curate_corpus(
            _corpus(spark), line_min_docs=10, sample_hex_prefix="", target_n=100
        )
        return sorted(r.doc_id for r in final.collect()), stats.collect()

    local = run()
    ckpt = request.getfixturevalue("checkpoint_dir")
    assert run() == local
    assert list(ckpt.rglob("rdd-*"))


def test_curate_corpus_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, lang string, text string")
    final, stats = curate_corpus(df, target_n=10)
    assert final.count() == 0
    st = {r.stage_name: r.n_docs for r in stats.collect()}
    assert st == {
        "input": 0,
        "exact_dedup": 0,
        "quality_filter": 0,
        "line_dedup": 0,
        "neardup_dedup": 0,
        "temperature_sample": 0,
    }
