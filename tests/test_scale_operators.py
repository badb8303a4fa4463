"""Tests for dedup / similarity / text-analysis operators on the driver's
sf0.001 testdata plus small synthetic frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonl_dataingestion_pipeline_spark.functions import textstats as ts
from jsonl_dataingestion_pipeline_spark.operators import similarity
from jsonl_dataingestion_pipeline_spark.operators.dedup import (
    content_key,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    with_simhash,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# --- text stats ------------------------------------------------------------
def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [("the quick brown fox",), ("",), (None,), ("  a  b  ",)], "text string"
    )
    rows = df.select(
        ts.token_count("text").alias("n"),
        ts.quality_score("text").alias("q"),
    ).collect()
    assert [r["n"] for r in rows] == [4, 0, None, 2]
    q = rows[0]["q"]
    assert q is not None and 0.0 <= q <= 1.0


def test_lang_id_votes(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is here",),   # en
            ("der hund und die katze ist da",), # de
            ("el perro y la casa es aqui",),    # es
            ("xyzzy qwerty",),                  # no votes
        ],
        "text string",
    )
    got = [r[0] for r in df.select(ts.lang_id("text")).collect()]
    assert got == ["en", "de", "es", "und"]


def test_fingerprint_stability(spark, docs):
    fp1 = docs.select("doc_id", ts.fingerprint("text").alias("fp"))
    fp2 = docs.orderBy(F.rand(7)).select("doc_id", ts.fingerprint("text").alias("fp"))
    assert {
        (r["doc_id"], r["fp"]) for r in fp1.collect()
    } == {(r["doc_id"], r["fp"]) for r in fp2.collect()}


# --- exact dedup -----------------------------------------------------------
def test_exact_dedup_whitespace_case_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "id long, text string",
    )
    kept = exact_dedup(df, "text", "id")
    assert sorted(r["id"] for r in kept.collect()) == [1, 3]


# --- minhash / lsh ---------------------------------------------------------
def test_minhash_similar_docs_share_signature_entries(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p"),
            (2, "a b c d e f g h i j k l m n o p q"),  # near dup
            (3, "z y x w v u t s r q p o n m l k"),
        ],
        "id long, text string",
    )
    sigs = df.select(
        "id", minhash_signature(F.col("text"), num_perm=16).alias("sig")
    ).collect()
    by_id = {r["id"]: r["sig"] for r in sigs}
    shared_12 = sum(a == b for a, b in zip(by_id[1], by_id[2]))
    shared_13 = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert shared_12 > shared_13

    pairs = minhash_lsh_pairs(
        df, "text", "id", num_perm=16, bands=8, threshold=0.5
    ).collect()
    assert {(p["id_l"], p["id_r"]) for p in pairs} == {(1, 2)}


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "q r s t u v w x")],
        "id long, text string",
    )
    pairs = ngram_jaccard_pairs(
        df, "text", "id", sample_hex_prefix="", threshold=0.99
    ).collect()
    assert {(p["id_l"], p["id_r"], p["jaccard"]) for p in pairs} == {(1, 2, 1.0)}


# --- simhash ---------------------------------------------------------------
def test_simhash_deterministic_and_near(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and once"),
            (3, "completely unrelated content about spark query engines here"),
        ],
        "id long, text string",
    )
    h = {r["id"]: r["simhash"] for r in with_simhash(df, "text").collect()}
    assert h == {r["id"]: r["simhash"] for r in with_simhash(df, "text").collect()}
    ham12 = bin(h[1] ^ h[2]).count("1")
    ham13 = bin(h[1] ^ h[3]).count("1")
    assert ham12 < ham13
    pairs = simhash_near_pairs(df, "text", "id", max_hamming=ham12, band_bits=16)
    assert (1, 2) in {(p["id_l"], p["id_r"]) for p in pairs.collect()}


# --- similarity search -----------------------------------------------------
def test_cosine_topk_self_similarity_excluded(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 2)
    top = similarity.cosine_topk(embeddings, q, k=3).collect()
    assert len(top) == 6
    for r in top:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0 <= r["sim"] <= 1.0
    # rank 1 has max sim per query
    by_q = {}
    for r in top:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_exact(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(embeddings, q, k=3).collect()
    approx = similarity.ivf_topk(
        embeddings, q, n_cells=8, nprobe=4, k=3
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # approximate search with half the cells probed should recover >= 1/3
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.33, f"recall too low: {recall}"


def test_embedding_neardup_recall(spark, embeddings):
    exact = similarity.cosine_pairs_exact(embeddings, threshold=0.3).collect()
    approx = similarity.embedding_neardup_pairs(
        embeddings, threshold=0.3, n_planes=16, bands=4
    ).collect()
    exact_set = {(r["id_l"], r["id_r"]) for r in exact}
    approx_set = {(r["id_l"], r["id_r"]) for r in approx}
    assert approx_set <= exact_set  # verified pairs are never false positives
    if exact_set:
        recall = len(approx_set) / len(exact_set)
        assert recall >= 0.3, f"LSH recall too low: {recall}"


# --- multimodal plumbing ---------------------------------------------------
def test_multimodal_feature_stub(spark):
    from jsonl_dataingestion_pipeline_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        media_stats,
    )

    df = spark.createDataFrame(
        [(1, (b"payload-one", "image/png", 4, 4, None)),
         (2, (b"payload-two", "audio/wav", None, None, 1200))],
        "id long, media struct<data:binary,mime:string,width:int,height:int,duration_ms:int>",
    )
    feats = extract_features(df).collect()
    assert all(len(r["features"]) == FEATURE_DIM for r in feats)
    # deterministic across runs
    feats2 = extract_features(df).collect()
    assert [r["features"] for r in feats] == [r["features"] for r in feats2]
    stats = {r["id"]: r["media_bytes"] for r in media_stats(df).collect()}
    assert stats == {1: 11, 2: 11}


def test_multimodal_resize_and_frames(spark):
    from jsonl_dataingestion_pipeline_spark.operators.multimodal import (
        resize_images,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, (b"img-bytes", "image/png", 640, 480, None)),
         (2, (b"vid-bytes", "video/mp4", None, None, 3500)),
         (3, None)],
        "id long, media struct<data:binary,mime:string,width:int,height:int,duration_ms:int>",
    )
    resized = {r["id"]: r["media"] for r in resize_images(df, width=64, height=64).collect()}
    assert resized[1]["width"] == 64 and resized[1]["height"] == 64
    assert resized[3] is None
    frames = {r["id"]: r["frames"] for r in sample_frames(df, every_ms=1000).collect()}
    assert len(frames[2]) == 3       # 3500ms at 1 fps -> 3 frames
    assert frames[1] == []           # no duration -> no frames
    assert len(set(frames[2])) == 3  # deterministic but distinct frames


def test_legacy_clean_string(spark):
    from jsonl_dataingestion_pipeline_spark.functions.cleaning import clean_string
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("None",), ("null",), ("",), ("keep",), ("nan",)], "v string"
    )
    strict = [r[0] for r in df.select(clean_string(F.col("v"))).collect()]
    legacy = [r[0] for r in df.select(clean_string(F.col("v"), legacy=True)).collect()]
    assert strict == ["None", "null", "", "keep", None]
    assert legacy == [None, None, None, "keep", None]


def test_dedup_reliable_checkpoint_mode(spark, request):
    """A checkpoint directory routes the pipeline breaks through
    fault-tolerant checkpoints written under it; the pairs must be
    identical to the run with local barriers."""
    df = spark.createDataFrame(
        [(i, f"common base text plus token{i} here for doc") for i in range(40)]
        + [(100 + i, f"common base text plus token{i} here for doc extra") for i in range(10)],
        "id long, text string",
    )

    def pairs():
        got = minhash_lsh_pairs(df, "text", "id", threshold=0.3).collect()
        return sorted(map(tuple, got))

    local = pairs()
    ckpt = request.getfixturevalue("checkpoint_dir")
    assert pairs() == local and len(local) > 0
    assert list(ckpt.rglob("rdd-*"))


def test_connected_components_and_neardup_dedup(spark):
    from jsonl_dataingestion_pipeline_spark.operators.dedup import (
        connected_components,
        dedup_near_duplicates,
        neardup_clusters,
    )

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # components: {0,1,2,3} (chain), {5,6}, singletons 4 and 7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_l long, id_r long"
    )
    comp = {r["id"]: r["comp"] for r in connected_components(nodes, pairs).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}

    clusters = {
        r["component"]: r["n_members"]
        for r in neardup_clusters(nodes, pairs).collect()
    }
    assert clusters == {0: 4, 5: 2}

    kept = sorted(
        r["id"] for r in dedup_near_duplicates(nodes, pairs, "id").collect()
    )
    assert kept == [0, 4, 5, 7]  # one representative per cluster + singletons


def test_dedup_keep_best_picks_highest_score(spark):
    from jsonl_dataingestion_pipeline_spark.operators.dedup import (
        dedup_keep_best,
    )

    # components: {0,1,2,3}, {5,6}, singletons 4 and 7
    nodes = spark.createDataFrame(
        [(0, 10.0), (1, 30.0), (2, 30.0), (3, 5.0),
         (4, 1.0), (5, 2.0), (6, 9.0), (7, 0.0)],
        "id long, score double",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_l long, id_r long"
    )
    kept = sorted(
        r["id"] for r in dedup_keep_best(nodes, pairs, "id", "score").collect()
    )
    # cluster {0..3}: max score 30 tied between 1 and 2 -> smaller id 1;
    # cluster {5,6}: 6 wins on score; singletons survive regardless
    assert kept == [1, 4, 6, 7]


def test_deterministic_sample_properties(spark):
    from jsonl_dataingestion_pipeline_spark.functions.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    df = spark.range(0, 4000).withColumn(
        "stratum", (F.col("id") % 2 == 0).cast("string")
    )
    small = set(r["id"] for r in deterministic_sample(df, "id", 0.05, seed=3).collect())
    big = set(r["id"] for r in deterministic_sample(df, "id", 0.25, seed=3).collect())
    assert small and small < big                    # nested samples
    assert 0.15 < len(big) / 4000 < 0.35            # roughly the asked fraction
    # repartitioning must not change membership (unlike DataFrame.sample)
    again = set(
        r["id"]
        for r in deterministic_sample(df.repartition(13), "id", 0.25, seed=3).collect()
    )
    assert again == big

    strat = stratified_sample(
        df, "stratum", {"true": 0.5, "false": 0.0}, "id", seed=3
    ).collect()
    assert strat and all(r["stratum"] == "true" for r in strat)


def test_refine_centroids_improves_or_holds_recall(spark, embeddings):
    from jsonl_dataingestion_pipeline_spark.operators import similarity

    q = embeddings.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(embeddings, q, k=5).collect()
    }
    seeds = similarity.make_centroids(embeddings, 8)
    refined = similarity.refine_centroids(embeddings, seeds, iterations=2)
    assert refined.count() <= 8  # empty cells may drop
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            embeddings, q, n_cells=8, nprobe=4, k=5, centroids=refined
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # refined cells must stay a usable index


def test_incremental_dedup_exact_near_and_novel(spark):
    from jsonl_dataingestion_pipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    base = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"), (2, "m n o p q r s t u v w x")],
        "id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, "a b c d e f g h i j k l"),        # exact dup of base 1
            (11, "a b c d e f g h i j k l extra"),  # near-dup of base 1
            (12, "completely novel words only here never seen before now"),
        ],
        "id long, text string",
    )
    kept = incremental_dedup(
        incoming, base, "text", "id",
        sample_hex_prefix="", threshold=0.5,
    )
    assert sorted(r.id for r in kept.collect()) == [12]
    # base is untouched: survivors keep the incoming schema
    assert kept.columns == ["id", "text"]


def test_incremental_dedup_empty_base_keeps_all(spark):
    from jsonl_dataingestion_pipeline_spark.operators.dedup import (
        incremental_dedup,
    )

    base = spark.createDataFrame([], "id long, text string")
    incoming = spark.createDataFrame(
        [(1, "x y z"), (2, "p q r")], "id long, text string"
    )
    kept = incremental_dedup(incoming, base, "text", "id", sample_hex_prefix="")
    assert sorted(r.id for r in kept.collect()) == [1, 2]


def test_hot_bucket_cap_bounds_degenerate_bucket(spark):
    """A planted degenerate bucket (many near-identical docs sharing
    every shingle) is dropped by the default-on max_bucket cap; a cap
    above the bucket size leaves the result byte-identical to the
    uncapped run."""
    from jsonl_dataingestion_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base_text + f" tail{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.3, max_bucket=10
    ).count()
    uncapped = ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.3, max_bucket=None
    ).count()
    high_cap = ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.3, max_bucket=1000
    ).count()
    assert uncapped > 0
    assert high_cap == uncapped  # cap above bucket size: identical output
    assert capped == 0  # 40-doc hot buckets dropped -> bounded candidates

    lsh_capped = minhash_lsh_pairs(
        df, "text", "doc_id", threshold=0.3, max_bucket=10
    ).count()
    lsh_uncapped = minhash_lsh_pairs(
        df, "text", "doc_id", threshold=0.3, max_bucket=None
    ).count()
    lsh_high = minhash_lsh_pairs(
        df, "text", "doc_id", threshold=0.3, max_bucket=1000
    ).count()
    assert lsh_uncapped > 0
    assert lsh_high == lsh_uncapped
    assert lsh_capped == 0


def test_semantic_dedup_keeps_one_per_cluster(spark):
    """Planted twin vectors collapse to the min-id representative;
    isolated vectors survive untouched."""
    import random

    from jsonl_dataingestion_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = random.Random(5)
    rows = []
    dim = 16
    for i in range(30):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in v]))
        if i % 3 == 0:  # plant a near-identical twin at id i+1000
            rows.append((i + 1000, [float(x * 1.0001) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semantic_dedup(
        df, threshold=0.99, n_planes=8, bands=2
    )
    ids = {r.vec_id for r in kept.select("vec_id").collect()}
    # every planted twin (id >= 1000) has a lower-id original -> dropped
    assert all(i < 1000 for i in ids)
    # all 10 twin-originals plus the 20 singletons possible survivors;
    # sign-LSH with 8 planes on near-identical vectors has recall ~1
    assert 25 <= len(ids) <= 30


def test_hard_negative_mining_exact_and_band(spark, embeddings):
    """Exact path: every returned sim is inside [lo, hi); per-anchor at
    most k rows, rank contiguous from 1; excluded near-dup band
    verified against a brute-force replay."""
    from jsonl_dataingestion_pipeline_spark.operators.similarity import (
        cosine,
        hard_negative_mining,
    )

    anch = embeddings.filter(F.col("vec_id") % 7 == 0)
    corp = embeddings.filter(F.col("vec_id") % 7 != 0)
    out = hard_negative_mining(
        corp, anch, k=3, lo=0.1, hi=0.5, exact=True
    ).collect()
    per = {}
    for r in out:
        assert 0.1 <= r.neg_sim < 0.5, r
        per.setdefault(r.anchor_id, []).append(r.neg_rank)
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
    # brute replay of one anchor's candidate list
    a0 = min(per)
    av = {r.vec_id: r.embedding for r in anch.collect()}[a0]
    brute = []
    for r in corp.collect():
        import math

        dotv = sum(x * y for x, y in zip(av, r.embedding))
        na = math.sqrt(sum(x * x for x in av))
        nb = math.sqrt(sum(x * x for x in r.embedding))
        s = round(dotv / (na * nb), 6) if na and nb else 0.0
        if 0.1 <= s < 0.5:
            brute.append((-s, r.vec_id))
    brute.sort()
    exp = [v for _s, v in brute[:3]]
    got = [
        r.negative_id
        for r in sorted(out, key=lambda r: r.neg_rank)
        if r.anchor_id == a0
    ]
    assert got == exp


def test_hard_negative_mining_ivf_recall(spark, embeddings):
    """IVF path: nprobe = n_cells degenerates to exact (recall 1);
    nprobe=8 of 16 keeps a usable share of the exact set (the mid-band
    spreads candidates across cells, so recall is inherently lower
    than top-k IVF — the documented tradeoff)."""
    from jsonl_dataingestion_pipeline_spark.operators.similarity import (
        hard_negative_mining,
    )

    anch = embeddings.filter(F.col("vec_id") % 7 == 0)
    corp = embeddings.filter(F.col("vec_id") % 7 != 0)
    ex = {
        (r.anchor_id, r.negative_id)
        for r in hard_negative_mining(
            corp, anch, k=3, lo=0.1, hi=0.5, exact=True
        ).collect()
    }
    full = {
        (r.anchor_id, r.negative_id)
        for r in hard_negative_mining(
            corp, anch, k=3, lo=0.1, hi=0.5,
            exact=False, n_cells=8, nprobe=8,
        ).collect()
    }
    assert full == ex  # probing every cell == exact
    part = {
        (r.anchor_id, r.negative_id)
        for r in hard_negative_mining(
            corp, anch, k=3, lo=0.1, hi=0.5,
            exact=False, n_cells=8, nprobe=4,
        ).collect()
    }
    assert len(part & ex) / max(len(ex), 1) >= 0.4


class TestIncrementalCC:
    def _full(self, spark, edges):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            connected_components,
        )

        e = spark.createDataFrame(edges, "id_l long, id_r long")
        nodes = (
            e.select(F.col("id_l").alias("id"))
            .unionAll(e.select(F.col("id_r").alias("id")))
            .distinct()
        )
        return {
            r.id: r.comp
            for r in connected_components(nodes, e).collect()
        }

    def _incremental(self, spark, base_edges, batch_edges):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            connected_components,
            incremental_connected_components,
        )

        be = spark.createDataFrame(base_edges, "id_l long, id_r long")
        nodes = (
            be.select(F.col("id_l").alias("id"))
            .unionAll(be.select(F.col("id_r").alias("id")))
            .distinct()
        )
        base = connected_components(nodes, be)
        nb = spark.createDataFrame(batch_edges, "id_l long, id_r long")
        out = incremental_connected_components(base, nb)
        rows = out.collect()
        got = {r.id: r.comp for r in rows}
        assert len(rows) == len(got), "duplicate ids in labeling"
        return got

    def test_matches_full_recompute_random(self, spark):
        import random

        rng = random.Random(23)
        edges = sorted(
            {
                (a, b)
                for a in range(40)
                for b in range(a + 1, 40)
                if rng.random() < 0.05
            }
        )
        base = [e for e in edges if (e[0] + e[1]) % 3 != 0]
        batch = [e for e in edges if (e[0] + e[1]) % 3 == 0]
        assert batch and base
        assert self._incremental(spark, base, batch) == self._full(
            spark, edges
        )

    def test_batch_introduces_new_nodes(self, spark):
        base = [(1, 2), (3, 4)]
        # 100/101 are brand new; 100 bridges into component {1,2}
        batch = [(2, 100), (100, 101), (200, 201)]
        got = self._incremental(spark, base, batch)
        assert got == {
            1: 1, 2: 1, 100: 1, 101: 1,
            3: 3, 4: 3,
            200: 200, 201: 200,
        }

    def test_batch_merges_two_base_components(self, spark):
        base = [(1, 2), (10, 11)]
        got = self._incremental(spark, base, [(2, 10)])
        assert got == {1: 1, 2: 1, 10: 1, 11: 1}

    def test_redundant_batch_changes_nothing(self, spark):
        base = [(1, 2), (2, 3)]
        got = self._incremental(spark, base, [(1, 3)])
        assert got == {1: 1, 2: 1, 3: 1}


class TestContainmentPairs:
    def test_excerpt_has_full_containment_low_jaccard(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            containment_pairs,
            ngram_jaccard_pairs,
        )

        long_doc = " ".join(f"w{i}" for i in range(60))
        excerpt = " ".join(f"w{i}" for i in range(10, 22))
        df = spark.createDataFrame(
            [(1, long_doc), (2, excerpt), (3, "completely different words here")],
            "id long, text string",
        )
        got = {
            (r.id_l, r.id_r): (r.cont_l_in_r, r.cont_r_in_l)
            for r in containment_pairs(
                df, "text", "id",
                sample_hex_prefix="", threshold=0.9,
            ).collect()
        }
        # excerpt (id 2) fully contained in the long doc (id 1)
        assert (1, 2) in got
        assert got[(1, 2)][1] == 1.0  # cont(R=2 in L=1) per r-side size
        assert got[(1, 2)][0] < 0.5  # long doc NOT contained in excerpt
        # Jaccard at the same threshold misses the pair entirely
        jac = {
            (r.id_l, r.id_r)
            for r in ngram_jaccard_pairs(
                df, "text", "id",
                sample_hex_prefix="", threshold=0.9,
            ).collect()
        }
        assert (1, 2) not in jac

    def test_matches_python_replay(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            containment_pairs,
        )

        texts = {
            1: "a b c d e f g h",
            2: "c d e f g h i j",
            3: "a b c d e f g h i j k l",
        }
        df = spark.createDataFrame(
            list(texts.items()), "id long, text string"
        )
        def sh(t, k=3):
            ws = t.split()
            n = max(len(ws) - k + 1, 1)
            return {
                " ".join((ws + ["", ""])[i:i + k]) for i in range(n)
            }

        got = {
            (r.id_l, r.id_r): (r.cont_l_in_r, r.cont_r_in_l)
            for r in containment_pairs(
                df, "text", "id", sample_hex_prefix="", threshold=0.0,
            ).collect()
        }
        for a in texts:
            for b in texts:
                if a >= b:
                    continue
                inter = len(sh(texts[a]) & sh(texts[b]))
                if inter == 0:
                    assert (a, b) not in got
                    continue
                cl = round(inter / len(sh(texts[a])), 6)
                cr = round(inter / len(sh(texts[b])), 6)
                assert got[(a, b)] == (cl, cr), (a, b)


def test_simhash_no_id_path_matches_reference_kernel(spark):
    """with_simhash without an id now synthesizes one and delegates to
    simhash_agg (VERDICT r7 item #8) — differential vs the retained
    numpy reference kernel, including NULL text and zero-token docs."""
    import pandas as pd

    from jsonl_dataingestion_pipeline_spark.operators.dedup import (
        _simhash_batch,
    )

    texts = [
        "the quick brown fox",
        "lorem ipsum dolor sit amet",
        None,
        "",
        "   ",
        "one-token",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["simhash"] for r in with_simhash(df, "text").collect()]
    exp = list(_simhash_batch(pd.Series(texts)))
    # no-id path returns rows in input order only per-partition; compare
    # as multisets keyed by text via a second keyed run
    assert sorted(x for x in got if x is not None) == sorted(
        x for x in exp if x is not None
    )
    assert got.count(None) == exp.count(None) == 1


class TestBitextMining:
    """bitext_margin_pairs (Artetxe & Schwenk 2019 ratio margin): the
    round-10 parallel-corpus mining operator."""

    def _planted(self, spark, n_pairs=6, n_noise=8, dim=8):
        # translation pairs = identical unit vectors on distinct axes
        # plus mild off-axis noise docs; src ids 0.., tgt ids 1000..
        import hashlib

        def vec(seed, axis):
            v = [0.0] * dim
            v[axis % dim] = 1.0
            h = hashlib.md5(f"{seed}".encode()).digest()
            v[(axis + 3) % dim] = (h[0] % 10) / 100.0
            return v

        src = [(i, vec(f"p{i}", i)) for i in range(n_pairs)]
        tgt = [(1000 + i, vec(f"p{i}", i)) for i in range(n_pairs)]
        # noise on the tgt side only: far from every src axis bundle
        tgt += [
            (2000 + j, [0.3 + 0.01 * j] * dim) for j in range(n_noise)
        ]
        sdf = spark.createDataFrame(
            src, "vec_id long, embedding array<double>"
        )
        tdf = spark.createDataFrame(
            tgt, "vec_id long, embedding array<double>"
        )
        return sdf, tdf

    def test_exact_mines_planted_pairs_with_top_margin(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.similarity import (
            bitext_margin_pairs,
        )

        sdf, tdf = self._planted(spark)
        out = bitext_margin_pairs(
            sdf, tdf, k=3, margin_threshold=1.0, method="exact"
        ).collect()
        # per src, the best-margin tgt must be the planted translation
        best = {}
        for r in out:
            cur = best.get(r.src_id)
            if cur is None or (r.margin_u, -r.tgt_id) > (
                cur.margin_u, -cur.tgt_id
            ):
                best[r.src_id] = r
        assert set(best) == {0, 1, 2, 3, 4, 5}
        for i, r in best.items():
            assert r.tgt_id == 1000 + i, (i, r)
            # identical vectors: cosine 1.0 in micro-units
            assert r.sim_u == 1_000_000
            # margin strictly above 1.0: neighbors are farther
            assert r.margin_u > 1_000_000

    def test_lsh_recall_floor_on_planted_pairs(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.similarity import (
            bitext_margin_pairs,
        )

        sdf, tdf = self._planted(spark)
        out = bitext_margin_pairs(
            sdf, tdf, k=3, margin_threshold=1.0, method="lsh",
            n_planes=16, bands=8,
        ).collect()
        mined = {(r.src_id, r.tgt_id) for r in out}
        planted = {(i, 1000 + i) for i in range(6)}
        recall = len(mined & planted) / len(planted)
        # identical vectors share EVERY band key, so sign-LSH recall on
        # exact translations is 1.0 by construction; floor at 0.8 to
        # keep the test robust to fixture edits
        assert recall >= 0.8, (recall, sorted(mined))

    def test_margin_reverses_cosine_ranking_for_hub_targets(self, spark):
        # the point of the margin (Artetxe & Schwenk §3): a 'hub'
        # target sitting in a dense region scores HIGHER raw cosine
        # than an imperfect true translation, but its own k-NN mean is
        # high too, so the RATIO demotes it below the true pair —
        # margin must reverse the cosine ranking here
        from jsonl_dataingestion_pipeline_spark.operators.similarity import (
            bitext_margin_pairs,
        )

        src = spark.createDataFrame(
            [
                (0, [1.0, 0.0, 0.0, 0.0]),     # isolated source
                (1, [0.0, 1.0, 0.0, 0.0]),     # source in dense region
                (2, [0.05, 0.999, 0.0, 0.0]),  # companion (densifies)
            ],
            "vec_id long, embedding array<double>",
        )
        tgt = spark.createDataFrame(
            [
                # imperfect true translation of src 0 (cos ~0.94)
                (10, [0.94, 0.0, 0.34, 0.0]),
                # hub near BOTH dense sources (cos ~0.999 to each)
                (11, [0.0, 1.0, 0.05, 0.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        out = {
            (r.src_id, r.tgt_id): r
            for r in bitext_margin_pairs(
                src, tgt, k=2, margin_threshold=0.0, method="exact"
            ).collect()
        }
        true_pair, hub_pair = out[(0, 10)], out[(1, 11)]
        # raw cosine ranks the hub pair ABOVE the true pair...
        assert hub_pair.sim_u > true_pair.sim_u
        # ...the margin reverses it (the hub's dense neighborhood
        # inflates both k-NN means in its denominator)
        assert true_pair.margin_u > hub_pair.margin_u

    def test_unknown_method_raises(self, spark):
        from jsonl_dataingestion_pipeline_spark.operators.similarity import (
            bitext_margin_pairs,
        )

        df = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="method"):
            bitext_margin_pairs(df, df, method="ivf").collect()


def test_shared_candidates_param_matches_default_path(spark):
    """r11 §2.4 sharing hook: passing a pre-built
    sampled_shingle_candidates relation must reproduce each operator's
    default-path output exactly (q25/q163 build the relation once)."""
    from jsonl_dataingestion_pipeline_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        sampled_shingle_candidates,
        shingle_base,
    )

    docs = [
        (i, " ".join(f"w{(i * 5 + j) % 23}" for j in range(14)))
        for i in range(40)
    ] + [(100 + i, " ".join(f"w{(i * 5 + j) % 23}" for j in range(12)))
         for i in range(40)]
    df = spark.createDataFrame(docs, "id long, text string")
    base = shingle_base(df, "text", "id", shingle_k=3)
    cand = sampled_shingle_candidates(base, sample_hex_prefix="0")

    for fn, kw in (
        (ngram_jaccard_pairs, {"threshold": 0.3}),
        (containment_pairs, {"threshold": 0.5}),
    ):
        default = sorted(
            tuple(r) for r in fn(
                df, "text", "id", shingle_k=3, sample_hex_prefix="0",
                base=base, **kw,
            ).collect()
        )
        shared = sorted(
            tuple(r) for r in fn(
                df, "text", "id", shingle_k=3, sample_hex_prefix="0",
                base=base, candidates=cand, **kw,
            ).collect()
        )
        assert default == shared and len(default) > 0
