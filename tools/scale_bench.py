#!/usr/bin/env python
"""Near-linearity harness for the shuffle-heavy dedup/similarity family.

    python tools/scale_bench.py [--scales 1,2,5,10] [--base /root/testdata/sf0.1]

Builds k-times-scaled copies of the sf0.1 ``documents``/``embeddings``
tables under ``/tmp/jdip_scale/x{k}/`` with STRUCTURE-PRESERVING
perturbations, then runs the heavy queries (q25 ngram-Jaccard, q26
MinHash-LSH, q39 embedding LSH, q84 line dedup, q90 corpus pipeline) at
each scale and prints one JSON line of wall seconds + output rows per
scale. The point is to catch quadratic drift that per-SF oracles can't
see: with the constructions below the TRUE result size is linear in k by
construction, so superlinear wall/rows growth is an implementation bug.

Scaling constructions (why the truth is linear):

- documents, replica r of k: every word gets a replica-specific suffix
  (``w -> w~r``) and doc_id is offset by r * 10**7.  Word-suffixing is a
  BIJECTION on shingles and on 8-token lines within a replica, so every
  intra-replica Jaccard similarity, shingle-bucket size, and duplicate-
  line count is EXACTLY the original corpus's; across replicas every
  token differs, so replicas share zero shingles/lines and produce zero
  cross-replica candidates.  Bucket sizes therefore do not grow with k —
  only the number of distinct buckets does — and the true pair/survivor
  count at scale k is k * (x1 count), modulo only the md5-sampled
  candidate-generation noise (the 1/16 shingle sample and the minhash
  permutations re-randomize per replica, so marginal pairs can flip;
  expect linearity within a couple of percent, not bit-exactness).
  Replica 0 is perturbed too (suffix ``~0``) so all replicas are
  symmetric.  (An earlier interleave-a-token-between-words construction
  was abandoned: the injected token became a degenerate hot shingle —
  ``tok w tok`` appears in every doc — exploding candidates, which the
  default max_bucket cap duly logged and dropped.)

- embeddings, replica r of k: the 2000 base vectors are first paired
  with planted near-dup twins (v' = v + 0.15*|v|*u, u random unit; cos
  ~0.989), then a fixed seeded orthogonal rotation Q_r (QR of a
  Gaussian) is applied to the whole replica.  Rotations preserve every
  intra-replica cosine exactly, so each replica contains exactly 2000
  pairs above the 0.9 verify threshold (the table's natural max cosine
  is 0.60 — far below); cross-replica cosines collapse to
  ~N(0, 1/sqrt(64)), putting 0.9 at 7.2 sigma — stray cross-replica
  accepts are impossible in practice.  True pairs are therefore
  k * 2000 exactly; observed rows differ only by sign-LSH recall
  (~0.95 at 8-bit bands for cos 0.989).  Band bits follow log2(k)
  (bits = 4 + ceil(log2 k), n_planes = 4*bits) — the SCALING.md rule
  that keeps random band collisions, and hence the candidate set,
  linear as the corpus grows.

Run time is dominated by q90 at x10 (five-stage pipeline over 50k docs).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALE_ROOT = "/tmp/jdip_scale"
ID_OFFSET = 10**7


def _perturb_texts(texts, tag: str):
    return [
        (" ".join(w + tag for w in t.split()) if t else t)
        for t in texts
    ]


def build_scaled(base_dir: str, k: int) -> str:
    """Materialize the x{k} documents/embeddings tables; idempotent."""
    import duckdb

    out_dir = os.path.join(SCALE_ROOT, f"x{k}")
    marker = os.path.join(out_dir, ".complete")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)

    docs = duckdb.sql(
        f"SELECT * FROM '{base_dir}/documents.parquet' ORDER BY doc_id"
    ).arrow().to_pandas()
    embs = duckdb.sql(
        f"SELECT * FROM '{base_dir}/embeddings.parquet' ORDER BY vec_id"
    ).arrow().to_pandas()
    dim = len(embs["embedding"].iloc[0])

    doc_parts = []
    for r in range(k):
        rep = docs.copy()
        rep["doc_id"] = rep["doc_id"] + r * ID_OFFSET
        rep["text"] = _perturb_texts(rep["text"].tolist(), f"~{r}")
        rep["n_chars"] = rep["text"].str.len()
        doc_parts.append(rep)
    import pandas as pd

    doc_table = pa.Table.from_pandas(
        pd.concat(doc_parts, ignore_index=True), preserve_index=False
    )
    # parquet splits no finer than a row group: a single big group read
    # as 1-2 input partitions starved 30 of 32 cores on every per-row-
    # expression-heavy scaled query (q185 measured 6x slower than the
    # same plan properly split). 64 groups ~ one per local core.
    pq.write_table(
        doc_table,
        os.path.join(out_dir, "documents.parquet"),
        row_group_size=max(doc_table.num_rows // 64, 2048),
    )

    # plant near-dup twins once (same geometry in every replica), then
    # rotate per replica
    mat = np.stack(embs["embedding"].to_numpy()).astype(np.float64)
    rng_j = np.random.RandomState(500)
    noise = rng_j.standard_normal(mat.shape)
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    twins = mat + 0.15 * np.linalg.norm(mat, axis=1, keepdims=True) * noise
    base_ids = embs["vec_id"].to_numpy()
    paired = np.concatenate([mat, twins])
    paired_ids = np.concatenate([base_ids * 2, base_ids * 2 + 1])
    paired_labels = np.concatenate([embs["label"].to_numpy()] * 2)

    emb_parts = []
    for r in range(k):
        rng = np.random.RandomState(1000 + r)
        q, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
        rot = (paired @ q.T).astype(np.float32)
        emb_parts.append(
            pd.DataFrame(
                {
                    "vec_id": paired_ids + r * ID_OFFSET,
                    "embedding": list(rot),
                    "label": paired_labels,
                }
            )
        )
    emb_table = pa.Table.from_pandas(
        pd.concat(emb_parts, ignore_index=True), preserve_index=False
    )
    pq.write_table(
        emb_table,
        os.path.join(out_dir, "embeddings.parquet"),
        row_group_size=max(emb_table.num_rows // 64, 2048),
    )

    # the heavy queries only touch documents/embeddings; link the rest so
    # the sf_dir contract (all ten tables present) still holds
    for t in (
        "region nation customer supplier part orders lineitem events".split()
    ):
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(base_dir, f"{t}.parquet"), dst)
    open(marker, "w").write("ok")
    return out_dir


def run_queries(spark, sf_dir: str, k: int, only: list[str] | None = None) -> dict:
    """Run the heavy family once at sf_dir; return {query: {sec, rows}}."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from jsonl_dataingestion_pipeline_spark.operators.curation import (
        duplicated_spans,
    )
    from jsonl_dataingestion_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
        semantic_dedup,
    )

    bits = 4 + max(0, math.ceil(math.log2(k)))

    def q39_scaled(spark, sf_dir):
        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return embedding_neardup_pairs(
            e, threshold=0.9, n_planes=4 * bits, bands=4
        )

    def semdedup_scaled(spark, sf_dir):
        # planted twins collapse pairwise -> true survivor count is
        # exactly (n_vectors - n_twin_pairs) * k; band bits follow log2(k)
        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return semantic_dedup(
            e, threshold=0.9, n_planes=4 * bits, bands=4
        )

    def q102_scaled(spark, sf_dir):
        # word-suffix bijection preserves every intra-replica 6-gram and
        # shares none across replicas -> docs-with-spans scale exactly *k
        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return duplicated_spans(d, "text", "doc_id", n=6).filter(
            F.col("n_spans") > 0
        )

    def q111_scaled(spark, sf_dir):
        from jsonl_dataingestion_pipeline_spark.functions.textstats import (
            bigram_logprob,
        )

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return bigram_logprob(d, "text", "doc_id")

    def q116_scaled(spark, sf_dir):
        # PageRank on k disjoint suffix-tagged copies of the q116 graph:
        # components are independent, so true rows = k * (x1 rows) and
        # each replica's ranks are the x1 ranks / k (teleport scales
        # with |V|). Catches anything superlinear in the per-iteration
        # join/agg loop.
        from jsonl_dataingestion_pipeline_spark.operators.graph import (
            pagerank,
        )

        li = spark.read.parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        ).select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("p"),
        )
        edges = (
            li.select(F.col("s").alias("src"), F.col("p").alias("dst"))
            .union(li.select(F.col("p").alias("src"), F.col("s").alias("dst")))
            .distinct()
        )
        rep = edges.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        ).select(
            F.concat("src", F.lit("~"), F.col("__r").cast("string")).alias(
                "src"
            ),
            F.concat("dst", F.lit("~"), F.col("__r").cast("string")).alias(
                "dst"
            ),
        )
        return pagerank(rep, iterations=6)

    def _copurchase_replicas(spark, sf_dir):
        # k disjoint suffix-tagged copies of the q144/q145 co-purchase
        # graph: components are independent, so true triangle counts
        # and k-core edge sets are exactly k * (x1 values).
        li = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .filter(F.col("l_orderkey") % 7 == 0)
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        other = li.select(
            F.col("l_orderkey"), F.col("l_partkey").alias("p2")
        )
        edges = (
            li.join(other, on="l_orderkey")
            .filter(F.col("l_partkey") < F.col("p2"))
            .select(
                F.col("l_partkey").cast("string").alias("src"),
                F.col("p2").cast("string").alias("dst"),
            )
        )
        return edges.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        ).select(
            F.concat("src", F.lit("~"), F.col("__r").cast("string")).alias(
                "src"
            ),
            F.concat("dst", F.lit("~"), F.col("__r").cast("string")).alias(
                "dst"
            ),
        )

    def q144_scaled(spark, sf_dir):
        from jsonl_dataingestion_pipeline_spark.operators.graph import (
            triangle_count,
        )

        # 1-row result; the run loop records n_triangles as rows (for
        # the k-linearity check) AND n_wedges — the degree-orientation
        # candidate count, the one quantity with a plausible
        # superlinear failure mode (VERDICT r5 item #8)
        return triangle_count(
            _copurchase_replicas(spark, sf_dir), with_wedges=True
        )

    def q145_scaled(spark, sf_dir):
        from jsonl_dataingestion_pipeline_spark.operators.graph import (
            k_core,
        )

        return k_core(_copurchase_replicas(spark, sf_dir), 6)

    def q133_scaled(spark, sf_dir):
        # Lloyd's k-means over the full scaled embedding table: output
        # rows = points = k-linear by construction; the check is that
        # WALL stays linear (assignment is one scan per iteration, the
        # update shuffle is n*d narrow rows into k*d groups).
        from jsonl_dataingestion_pipeline_spark.operators.clustering import (
            kmeans,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return kmeans(e, "embedding", "vec_id", k=8, iterations=3)

    def q133_largek_scaled(spark, sf_dir):
        # the round-5 large-k path: k=128 at d=64 puts k*d=8192 over
        # AUTO_JOIN_KD, so assignment runs through the one-row
        # broadcast centroid array (BroadcastNestedLoopJoin) instead
        # of codegen literals. rows = points (k-linear); wall linear
        # iff the broadcast assignment stays a single scan.
        from jsonl_dataingestion_pipeline_spark.operators.clustering import (
            kmeans,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return kmeans(e, "embedding", "vec_id", k=128, iterations=2)

    def q134_scaled(spark, sf_dir):
        # classifier inference over the FULL scaled corpus (the
        # registered q134 caps doc_id for the oracle gate): the weight
        # table is a constant broadcast, every doc gets exactly one
        # row -> rows = k * docs, wall must stay linear.
        from jsonl_dataingestion_pipeline_spark.functions.classifier import (
            classify,
            default_weight_table,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        w = default_weight_table(spark, n_features=1024)
        return classify(
            d, "text", "doc_id", w,
            n_features=1024, bias=-0.05, threshold=0.0,
        )

    def q135_scaled(spark, sf_dir):
        # link-graph census over the FULL scaled corpus (same link
        # construction as the registered q135, uncapped): link targets
        # derive from doc_id mod 997 over 60 synthetic domains, so the
        # (src, dst) key space — and hence ROWS — is k-invariant while
        # total link volume scales *k; the harness records sum(n_links)
        # so the k-linearity check runs on volume.
        from jsonl_dataingestion_pipeline_spark.functions.web import (
            canonicalize_url,
            extract_links,
            registered_domain,
            url_host,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "source", "text")

        def tgt(j):
            return (F.col("doc_id") * 7 + F.lit(j * 13 + 1)) % 997

        def dom(t):
            return F.concat(
                F.lit("site"), (t % 60).cast("string"),
                F.element_at(
                    F.array(F.lit(".com"), F.lit(".co.uk"), F.lit(".org")),
                    (t % 3 + 1).cast("int"),
                ),
            )

        t0, t1, t2 = tgt(0), tgt(1), tgt(2)
        html = F.concat(
            F.lit('<html><body><p>'), F.col("text"), F.lit('</p>'),
            F.lit('<a href="HTTPS://WWW.'), dom(t0), F.lit(':443/p/'),
            t0.cast("string"), F.lit('#top">one</a>'),
            F.lit("<a href='https://"), dom(t1), F.lit('/p/'),
            t1.cast("string"), F.lit("?utm_source=feed&b=2&a=1'>two</a>"),
            F.lit('<a href="https://crawler:pw@'), dom(t2), F.lit('/p/'),
            t2.cast("string"), F.lit('?ref=x">three</a>'),
            F.lit('<link href="/styles.css"></body></html>'),
        )
        own_url = F.concat(
            F.lit("https://www."), F.col("source"), F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
        )
        links = d.select(
            registered_domain(url_host(own_url)).alias("src_domain"),
            F.explode(extract_links(html)).alias("href"),
        )
        canon = links.select(
            "src_domain", canonicalize_url(F.col("href")).alias("cu")
        ).filter(F.col("cu").isNotNull())
        return (
            canon.select(
                "src_domain",
                registered_domain(url_host(F.col("cu"))).alias(
                    "dst_domain"
                ),
                "cu",
            )
            .groupBy("src_domain", "dst_domain")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_links"),
                F.countDistinct("cu").cast("long").alias("n_urls"),
            )
        )

    def q136_scaled(spark, sf_dir):
        # quality-aware survivors over the planted twin corpus built
        # from the scaled documents: each replica mirrors the x1
        # cluster structure (word-suffix bijection), so survivor rows
        # are k-linear modulo the per-replica md5 shingle-sample noise.
        from jsonl_dataingestion_pipeline_spark.functions.textstats import (
            tokens as _tokens,
        )
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            dedup_keep_best,
            ngram_jaccard_pairs,
        )

        corpus = entry._planted_neardup_corpus(spark, sf_dir).withColumn(
            "ntok",
            F.size(F.filter(_tokens(F.col("text")), lambda x: x != "")),
        )
        pairs = ngram_jaccard_pairs(
            corpus, "text", "id", shingle_k=3, sample_hex_prefix="0",
            threshold=0.5,
            base=entry._planted_shingle_base(spark, sf_dir),
        ).localCheckpoint(eager=True)
        return dedup_keep_best(corpus, pairs, "id", "ntok")

    def qkmeansll_scaled(spark, sf_dir):
        # kmeans|| seeding + Lloyd's: per seeding round = one scan +
        # a 1-row sum + a ~l-row collect; rows = points (k-linear).
        from jsonl_dataingestion_pipeline_spark.operators.clustering import (
            kmeans,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return kmeans(
            e, "embedding", "vec_id", k=8, iterations=2, init="kmeans||"
        )

    def qunigram_scaled(spark, sf_dir):
        # unigram-LM training (2 hard-EM iterations, vocab 500): every
        # job runs over the DISTINCT-WORD frame, which the suffix
        # construction multiplies by k — wall must grow at most ~k;
        # output rows = vocab size (const cut).
        from jsonl_dataingestion_pipeline_spark.operators.unigram import (
            unigram_train,
        )

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        model = unigram_train(
            d, "text", vocab_size=500, seed_size=2000,
            max_piece_len=6, iterations=2,
        )
        return spark.createDataFrame(model, "piece string, logp double")

    def qbpe_scaled(spark, sf_dir):
        # BPE training: 10 merges over the distinct-word frame. The
        # suffix construction multiplies the vocabulary by k (every
        # word gains a replica tag), so the per-merge pair-count
        # shuffle sees k x the words; output rows = n_merges (const) —
        # the check is that WALL grows at most ~k. (Merge CHOICES
        # diverge across scales because replica tags fragment pair
        # counts; that is expected and does not affect the cost shape.)
        from jsonl_dataingestion_pipeline_spark.operators.bpe import (
            bpe_train,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("text")
        merges = bpe_train(d, "text", n_merges=10, min_count=2)
        return spark.createDataFrame(
            [(a, b, n) for a, b, n in merges],
            "a string, b string, n long",
        )

    def qbpe_deep_scaled(spark, sf_dir):
        # the incremental pair-maintenance path at REALISTIC merge
        # depth (n_merges=200): per merge = one argmax on the running
        # pair-count frame + one affected-slice delta, never a full
        # vocab recount (VERDICT r5 item #5). rows = n_merges (const);
        # the check is that WALL grows ~k with the vocab.
        from jsonl_dataingestion_pipeline_spark.operators.bpe import (
            bpe_train,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("text")
        merges = bpe_train(
            d, "text", n_merges=200, min_count=2, incremental=True
        )
        return spark.createDataFrame(
            [(a, b, n) for a, b, n in merges],
            "a string, b string, n long",
        )

    def q143_scaled(spark, sf_dir):
        # sequence packing over the FULL scaled corpus: one row per
        # doc (k-linear); the two-phase prefix sum must stay scan-
        # speed — a hidden global-sort window would show up as
        # superlinear wall immediately.
        from jsonl_dataingestion_pipeline_spark.functions.textstats import (
            token_count,
        )
        from jsonl_dataingestion_pipeline_spark.operators.packing import (
            pack_sequences,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", token_count(F.col("text")).alias("__nt"))
        return pack_sequences(
            d, "__nt", "doc_id", seq_len=2048, bucket_size=100_000
        )

    def q137_scaled(spark, sf_dir):
        # fuzzy decontamination: benchmark = replica-0 docs (every
        # other replica's word-suffixed text shares ZERO shingles with
        # it), so contaminated hits stay constant while corpus rows and
        # wall must scale linearly with k.
        from jsonl_dataingestion_pipeline_spark.operators.curation import (
            fuzzy_decontaminate,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        bench = d.filter(
            (F.col("doc_id") < ID_OFFSET) & (F.col("doc_id") % 50 == 0)
        )
        return fuzzy_decontaminate(
            d, bench, "text", "doc_id", shingle_k=3, threshold=0.5
        )

    def q118_scaled(spark, sf_dir):
        from jsonl_dataingestion_pipeline_spark.plans.webcorpus import (
            extract_web_corpus,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "lang", "source", "text")
        _, stats = extract_web_corpus(
            entry._web_pages(d),
            id_col="page_id",
            c4_min_sentences=4,
            gopher_params={"min_words": 40, "min_stopword_hits": 0},
            line_min_docs=5,
            # EXACT line matching here: the word-suffix replica tokens
            # (w~r) collapse under the digit-folding fuzzy key, which
            # would turn every body line into >=k-doc boilerplate at
            # k >= min_docs — a construction artifact, not a property
            # of the operator (exact lines stay replica-disjoint)
            line_key=None,
            max_per_domain=10**9,  # quota would hide k-scaling: disable
            seed=0,
        )
        return stats

    def q146_scaled(spark, sf_dir):
        # DSIR against a replica-0 target slice: the log-ratio table is
        # bounded (2 * n_features rows) and the corpus side is one
        # weight scan -> rows = n selected (const), wall must track k.
        from jsonl_dataingestion_pipeline_spark.operators.dsir import (
            dsir_select,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        target = d.filter(
            (F.col("doc_id") < ID_OFFSET) & (F.col("doc_id") % 20 == 0)
        )
        return dsir_select(d, target, "text", "doc_id", n=500)

    def q147_scaled(spark, sf_dir):
        # hard-negative mining, 16 replica-0 anchors broadcast against
        # the full scaled corpus: per-anchor top-k rows are ~const, the
        # corpus scan is the k-linear part.
        from jsonl_dataingestion_pipeline_spark.operators.similarity import (
            hard_negative_mining,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        anchors = e.filter(
            (F.col("vec_id") < 32) & (F.col("vec_id") % 2 == 0)
        )
        return hard_negative_mining(
            e, anchors, k=5, lo=0.2, hi=0.4, exact=True
        )

    def q148_scaled(spark, sf_dir):
        # MMR: 8 greedy rounds, each one scan of the k-linear pool with
        # driver-literal selection state -> rows = 8 const, wall ~ 8
        # scans. Superlinear wall would mean selection state leaked
        # into a shuffle.
        from jsonl_dataingestion_pipeline_spark.operators.similarity import (
            mmr_select,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        qvec = [
            float(x)
            for x in e.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        return mmr_select(
            e.filter(F.col("vec_id") > 0), qvec, k=8, lam=0.7
        )

    def q149_scaled(spark, sf_dir):
        # word-suffixing is a bijection on shingles within a replica
        # and disjoint across replicas -> every replica reproduces the
        # x1 novelty profile exactly; rows = k * docs.
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            novelty_scores,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id", "text")
        return novelty_scores(d, "text", "doc_id")

    def q150_scaled(spark, sf_dir):
        # global-shuffle coordinates: rows = k * docs exactly; the
        # wall check is that the per-shard window (n_shards=64) stays
        # shuffle-bound — a hidden global sort would blow up here.
        from jsonl_dataingestion_pipeline_spark.operators.partitioning import (
            shuffle_shards,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id")
        return shuffle_shards(d, "doc_id", n_shards=64, seed=1)

    def q151_scaled(spark, sf_dir):
        # PCA covariance over the scaled corpus: rows = d(d+1)/2 const
        # (the POINT of the operator — output never grows with data);
        # wall is one aggregate pass and must track k.
        from jsonl_dataingestion_pipeline_spark.operators.pca import (
            covariance_matrix,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        return covariance_matrix(e, "embedding", dim=64, method="explode")

    def q152_scaled(spark, sf_dir):
        # PQ: train on the replica-0 slice (driver-held codebooks,
        # const cost), encode the FULL corpus -> rows = k * vectors
        # exactly, encode is a zero-shuffle projection.
        from jsonl_dataingestion_pipeline_spark.operators.pq import (
            pq_encode,
            pq_train,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        base = e.filter(F.col("vec_id") < ID_OFFSET)
        cbs = pq_train(
            base, "embedding", "vec_id",
            dim=64, m=4, n_codes=16, iterations=2,
        )
        return pq_encode(e, "embedding", cbs, dim=64)

    def q153_scaled(spark, sf_dir):
        # ADC top-k over the full scaled corpus: rows = 10 const, the
        # scan of m-term LUT sums is the k-linear part.
        from jsonl_dataingestion_pipeline_spark.operators.pq import (
            adc_topk,
            pq_train,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        base = e.filter(F.col("vec_id") < ID_OFFSET)
        cbs = pq_train(
            base, "embedding", "vec_id",
            dim=64, m=4, n_codes=16, iterations=2,
        )
        qvec = [
            float(x)
            for x in e.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        return adc_topk(e, qvec, cbs, k=10)

    def q154_scaled(spark, sf_dir):
        # LPA over k disjoint graph replicas: communities are replica-
        # local, so labeled-vertex rows = k * (x1 rows) exactly; wall
        # linear iff the per-round label join never re-shuffles the
        # checkpointed adjacency.
        from jsonl_dataingestion_pipeline_spark.operators.graph import (
            label_propagation,
        )

        return label_propagation(
            _copurchase_replicas(spark, sf_dir), rounds=4
        )

    def q155_scaled(spark, sf_dir):
        # IVF-PQ: train BOTH levels on the replica-0 slice (driver-held
        # coarse codebook + residual codebooks, const cost), encode the
        # FULL corpus -> rows = k * vectors exactly; cell + residual +
        # codes are one zero-shuffle projection.
        from jsonl_dataingestion_pipeline_spark.operators.pq import (
            ivfpq_encode,
            ivfpq_train,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        base = e.filter(F.col("vec_id") < ID_OFFSET)
        coarse, cbs = ivfpq_train(
            base, "embedding", "vec_id",
            dim=64, n_cells=4, m=4, n_codes=16,
            coarse_iterations=1, pq_iterations=2,
        )
        return ivfpq_encode(e, "embedding", coarse, cbs, dim=64)

    def q156_scaled(spark, sf_dir):
        # IVFADC search over the full scaled corpus: rows = 10 const;
        # the k-linear part is the probed-cell scan of m-term LUT sums
        # (nprobe/n_cells of the corpus, never all of it).
        from jsonl_dataingestion_pipeline_spark.operators.pq import (
            ivfpq_topk,
            ivfpq_train,
        )

        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        base = e.filter(F.col("vec_id") < ID_OFFSET)
        coarse, cbs = ivfpq_train(
            base, "embedding", "vec_id",
            dim=64, n_cells=4, m=4, n_codes=16,
            coarse_iterations=1, pq_iterations=2,
        )
        qvec = [
            float(x)
            for x in e.filter(F.col("vec_id") == 0).head()["embedding"]
        ]
        return ivfpq_topk(e, qvec, coarse, cbs, nprobe=2, k=10)

    def q157_scaled(spark, sf_dir):
        # BFS over k disjoint graph replicas, seeded at each replica's
        # copy of the x1 seed vertex: reached sets are replica-local,
        # so result rows = k * (x1 rows) exactly; wall linear iff each
        # round's frontier join re-uses the checkpointed adjacency.
        from jsonl_dataingestion_pipeline_spark.operators.graph import (
            bfs_distances,
        )

        edges = _copurchase_replicas(spark, sf_dir)
        base_seed = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .filter(F.col("l_orderkey") % 7 == 0)
            .agg(F.min("l_partkey"))
            .head()[0]
        )
        seeds = [f"{base_seed}~{r}" for r in range(k)]
        return bfs_distances(edges, seeds, max_depth=3)

    def q158_scaled(spark, sf_dir):
        # RRF fusion over the scaled corpus: rows = 10 const; the
        # k-linear parts are the BM25 token aggregates and the dense
        # scan — both single-pass with map-side partials.
        from jsonl_dataingestion_pipeline_spark.functions.textstats import (
            bm25_scores,
        )
        from jsonl_dataingestion_pipeline_spark.operators.retrieval import (
            rrf_fuse,
        )
        from jsonl_dataingestion_pipeline_spark.operators.similarity import (
            cosine_topk,
        )
        from pyspark.sql import Window as W

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        hits = bm25_scores(d, "text", "doc_id")
        # word-suffixed replicas change every token, so match the x1
        # query terms by their replica-0 forms plus suffix wildcard:
        # use startswith on the three common stems
        hits = hits.filter(
            F.col("term").rlike("^(the|data|of)~")
            | F.col("term").isin("the", "data", "of")
        )
        lex_top = (
            hits.groupBy("doc_id")
            .agg(F.round(F.sum("score"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20)
        )
        lex = lex_top.withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            ),
        ).select("doc_id", "rank")
        e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        dense = cosine_topk(
            e, e.filter(F.col("vec_id") == 0), k=20
        ).select(F.col("neighbor_id").alias("doc_id"), "rank")
        return rrf_fuse([lex, dense], id_col="doc_id", topk=10)

    def q159_scaled(spark, sf_dir):
        # divergence report between the en and fr slices of the scaled
        # corpus: rows = 20 const; the k-linear part is the two token
        # aggregates over a vocab that itself grows ~k (word suffixing).
        from jsonl_dataingestion_pipeline_spark.functions.textstats import (
            corpus_divergence,
        )

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return corpus_divergence(
            d.filter(F.col("lang") == "en"),
            d.filter(F.col("lang") == "fr"),
            "text",
            topk=20,
        )

    def q160_scaled(spark, sf_dir):
        # incremental CC over k disjoint graph replicas with a per-
        # replica 20% batch: labelings are replica-local, so rows =
        # k * (x1 rows) exactly; the incremental path's base-side work
        # must stay one broadcast-mapped pass.
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            connected_components,
            incremental_connected_components,
        )

        edges = _copurchase_replicas(spark, sf_dir).select(
            F.col("src").alias("id_l"), F.col("dst").alias("id_r")
        )
        key = F.xxhash64(F.col("id_l"), F.col("id_r"))
        base_edges = edges.filter(key % 5 != 0)
        batch_edges = edges.filter(key % 5 == 0)
        base_nodes = (
            base_edges.select(F.col("id_l").alias("id"))
            .unionAll(base_edges.select(F.col("id_r").alias("id")))
            .distinct()
        )
        base = connected_components(base_nodes, base_edges)
        return incremental_connected_components(base, batch_edges)

    def q161_scaled(spark, sf_dir):
        # personalized PageRank over k disjoint replicas, seeded at
        # each replica's copy of the x1 seed: rank mass is replica-
        # local, rows = k * (x1 rows) exactly.
        from jsonl_dataingestion_pipeline_spark.operators.graph import (
            pagerank,
        )

        edges = _copurchase_replicas(spark, sf_dir)
        base_seed = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .filter(F.col("l_orderkey") % 7 == 0)
            .agg(F.min("l_partkey"))
            .head()[0]
        )
        seeds = [f"{base_seed}~{r}" for r in range(k)]
        return pagerank(edges, iterations=4, personalization=seeds)

    def q162_scaled(spark, sf_dir):
        # PMI over the suffixed replicas: every x1 bigram exists in k
        # suffix variants with IDENTICAL counts, so PMI shifts by a
        # uniform ln(k) and the cut stays topk const; wall rides the
        # two count aggregates.
        from jsonl_dataingestion_pipeline_spark.functions.textstats import (
            pmi_collocations,
        )

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return pmi_collocations(d, "text", min_count=5, topk=20)

    def q163_scaled(spark, sf_dir):
        # containment pairs: word-suffixing is a bijection on shingles,
        # so per-replica containment profiles equal the x1 profile and
        # true pairs are k-linear (modulo the 1/16 shingle-sample noise
        # — same contract as q25).
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            containment_pairs,
        )

        corpus = entry._planted_neardup_corpus(spark, sf_dir)
        return containment_pairs(
            corpus, "text", "id",
            shingle_k=3, sample_hex_prefix="0", threshold=0.9,
        )

    def q164_scaled(spark, sf_dir):
        # per-site boilerplate: rows = k * docs exactly; the grouped
        # census shuffles (site, line) keys with map-side partials.
        from jsonl_dataingestion_pipeline_spark.operators.curation import (
            dedup_lines,
        )

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        toks = F.split(F.trim(F.col("text")), r"\s+")
        n_lines = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
        lines_arr = F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
        )
        lined = d.select(
            "doc_id", "source", F.array_join(lines_arr, "\n").alias("text")
        )
        return dedup_lines(
            lined, "doc_id", "text", sep="\n", min_docs=2,
            group_col="source",
        )

    def q166_scaled(spark, sf_dir):
        # interval-overlap join over k disjoint replicas: replica r's
        # intervals shift by r * 10^5 days, so no cross-replica overlap
        # exists and true pairs are exactly k * (x1 pairs).
        from jsonl_dataingestion_pipeline_spark.operators.joins import (
            interval_overlap_join,
        )

        epoch = F.lit("1970-01-01").cast("date")
        rep = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__r")
        off = F.col("__r").cast("long") * 100000
        li = (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .filter(F.col("l_orderkey") % 97 == 0)
            .select(
                F.col("l_orderkey").alias("iv_lkey"),
                F.col("l_linenumber").cast("int").alias("iv_lline"),
                F.datediff(F.col("l_shipdate"), epoch).alias("__s"),
                F.col("l_linenumber").cast("int").alias("__ln"),
                rep,
            )
            .select(
                F.col("iv_lkey"), F.col("iv_lline"), F.col("__r"),
                (F.col("__s") + off).alias("iv_ls"),
                (F.col("__s") + off + F.col("__ln") * 7).alias("iv_le"),
            )
        )
        o = (
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .filter(F.col("o_orderkey") % 89 == 1)
            .select(
                F.col("o_orderkey").alias("iv_okey"),
                F.datediff(F.col("o_orderdate"), epoch).alias("__s"),
                rep,
            )
            .select(
                F.col("iv_okey"), F.col("__r").alias("__r2"),
                (F.col("__s") + off).alias("iv_rs"),
                (F.col("__s") + off + 14).alias("iv_re"),
            )
        )
        return interval_overlap_join(
            li, o,
            l_start="iv_ls", l_end="iv_le",
            r_start="iv_rs", r_end="iv_re",
            bin_width=30,
        )

    def q167_scaled(spark, sf_dir):
        # export plan over the scaled corpus: the stats frame is 4
        # const rows; record the SHARDED row count instead (stage 4
        # checksum row carries it) -> use the export frame directly,
        # rows = k * (x1 sequence-bearing docs).
        from jsonl_dataingestion_pipeline_spark.plans.traindata import (
            export_training_data,
        )

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        export, _ = export_training_data(
            d.filter(F.col("doc_id") % 3 != 0),
            seq_len=512, n_shards=16, seed=7,
        )
        return export

    def q169_scaled(spark, sf_dir):
        # negative sampling over the scaled corpus: anchors scale with
        # the corpus, k draws each -> rows ~ k_replicas * (x1 rows)
        # modulo self-collision drops (corpus-size-dependent).
        from jsonl_dataingestion_pipeline_spark.operators.retrieval import (
            negative_samples,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id")
        anchors = d.filter(F.col("doc_id") % 17 == 0)
        return negative_samples(d, anchors, "doc_id", k=4, seed=11)

    def _er_mentions(spark, sf_dir, hot_fraction=0.0):
        # entity-resolution mention frame over the scaled corpus: each
        # doc contributes a planted mention pair (md5 phone + its
        # last-char bump). The replica id (doc_id // 10**7) is embedded
        # as a fixed-width prefix INSIDE the 7-char block key, so
        # blocks never span replicas -> entities and output rows are
        # exactly replica-linear (rows = 2 * docs). hot_fraction > 0
        # overrides that fraction of mentions' block prefix with one
        # constant key — the adversarial hot block whose within-block
        # self-join goes quadratic (the documented skew knee).
        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select("doc_id")
        rep = F.lpad((F.col("doc_id") / F.lit(10**7))
                     .cast("long").cast("string"), 2, "0")
        h = F.substring(
            F.md5((F.col("doc_id") % F.lit(10**7)).cast("string")), 1, 9
        )
        phone = F.concat(rep, h)
        if hot_fraction:
            mod = int(round(1.0 / hot_fraction))
            phone = F.when(
                F.col("doc_id") % mod == 0,
                F.concat(F.lit("ZZHOTKEY"), h),
            ).otherwise(phone)
        bumped = F.concat(F.substring(phone, 1, 10), F.lit("z"))
        return (
            d.select((F.col("doc_id") * 2).alias("mid"),
                     phone.alias("phone"))
            .unionAll(
                d.select((F.col("doc_id") * 2 + 1).alias("mid"),
                         bumped.alias("phone"))
            )
        )

    def q168_scaled(spark, sf_dir):
        # rows = assignments (= 2 * docs, exactly replica-linear);
        # block keys are replica-prefixed so no cross-replica blocks.
        from jsonl_dataingestion_pipeline_spark.plans.entity import (
            resolve_entities,
        )

        assignments, _golden = resolve_entities(
            _er_mentions(spark, sf_dir),
            id_col="mid", name_col="phone",
            max_distance=2, key_start=1, key_length=7,
        )
        return assignments

    def q168_hotblock_scaled(spark, sf_dir):
        # adversarial skew: ~10% of mentions share ONE block key ->
        # the within-block self-join alone is (0.1 * 2 * docs)^2
        # candidate pairs. Run at x1 only; the wall vs q168_entity's
        # x1 documents the quadratic knee and the block-key guidance.
        from jsonl_dataingestion_pipeline_spark.plans.entity import (
            resolve_entities,
        )

        assignments, _golden = resolve_entities(
            _er_mentions(spark, sf_dir, hot_fraction=0.10),
            id_col="mid", name_col="phone",
            max_distance=2, key_start=1, key_length=7,
        )
        return assignments

    def q165_scaled(spark, sf_dir):
        # KMV over the scaled corpus: sketch doc_id per lang + a merge
        # of per-source sub-sketches, exact countDistinct alongside.
        # Rows = #langs (const); the sketch is a mergeable bounded-k
        # aggregate, so wall must track the scan, never the group size.
        from jsonl_dataingestion_pipeline_spark.functions.sketches import (
            kmv_estimate,
            kmv_merge,
            kmv_sketch,
        )

        k = 256
        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        direct = kmv_sketch(d, "doc_id", ["lang"], k=k)
        per_src = kmv_sketch(d, "doc_id", ["lang", "source"], k=k)
        merged = per_src.groupBy("lang").agg(
            F.aggregate(
                F.collect_list("kmv"),
                F.array().cast("array<long>"),
                lambda acc, x: kmv_merge(acc, x, k=k),
            ).alias("kmv_m")
        )
        exact = d.groupBy("lang").agg(
            F.countDistinct("doc_id").cast("long").alias("n_exact")
        )
        return (
            direct.join(merged, on="lang").join(exact, on="lang")
            .select(
                "lang",
                kmv_estimate(F.col("kmv"), k=k).alias("est"),
                kmv_estimate(F.col("kmv_m"), k=k).alias("est_merged"),
                "n_exact",
            )
        )

    def q171_scaled(spark, sf_dir):
        # ANN recall audit over the scaled embeddings: training is
        # constant-cost (4 cells / 8 codes over driver-held rounds),
        # the exact and ADC sides are single scans -> const 1-row
        # output, wall must track the scan. Clears the trained-
        # quantizer memo so each scale trains on ITS corpus.
        entry._TRAINED.clear()
        return entry.q171_ann_recall_audit(spark, sf_dir)

    def q172_scaled(spark, sf_dir):
        # declarative rule audit over the scaled corpus: the row-local
        # rules fuse into ONE conditional-sum scan, unique is one
        # keys-only groupBy, FK probes the embeddings ids — rows =
        # #rules (const), wall tracks the widest single scan.
        from jsonl_dataingestion_pipeline_spark.operators.quality import (
            check_constraints,
            foreign_key,
            in_range,
            in_set,
            matches,
            not_null,
            unique,
        )

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        e = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        return check_constraints(
            d,
            [
                not_null("text"),
                in_range("n_chars", 0, 10**9),
                matches("lang", r"^[a-z]{2}$"),
                in_set("source", ["web", "books", "code", "wiki", "news"]),
                unique(["doc_id"]),
                foreign_key(
                    ["doc_id"],
                    e.select(F.col("vec_id").alias("doc_id")),
                    ["doc_id"],
                ),
            ],
        )

    def q173_scaled(spark, sf_dir):
        # source columns replicate unchanged, so each source's token
        # pool is k * (x1 pool); budget = 3x the 5-source total scales
        # with the data -> rows = 5 const, the same capping/
        # redistribution shape at every k, wall tracks the one scan.
        return entry.q173_mixture_plan(spark, sf_dir)

    def q174_scaled(spark, sf_dir):
        # leakage-safe split over the FULL scaled corpus (the gate
        # fixture caps id < 300 for the recursive oracle; the scaled
        # variant drops the cap): clusters are replica-local (word
        # suffixes), rows = 3 splits const, docs covered = k * 2 * (x1
        # docs); leak invariant must hold at every scale.
        from jsonl_dataingestion_pipeline_spark.functions.sampling import (
            split_corpus,
        )
        from jsonl_dataingestion_pipeline_spark.operators.dedup import (
            connected_components,
            ngram_jaccard_pairs,
        )

        corpus = entry._planted_neardup_corpus(spark, sf_dir)
        pairs = ngram_jaccard_pairs(
            corpus, "text", "id",
            shingle_k=3, sample_hex_prefix="0", threshold=0.5,
            base=entry._planted_shingle_base(spark, sf_dir),
        ).select("id_l", "id_r").localCheckpoint(eager=True)
        comp = connected_components(corpus.select("id"), pairs)
        labeled = split_corpus(
            comp, "comp", {"train": 0.8, "val": 0.1, "test": 0.1},
            seed=17,
        )
        sl = labeled.select(
            F.col("id").alias("id_l"), F.col("split").alias("__sl")
        )
        sr = labeled.select(
            F.col("id").alias("id_r"), F.col("split").alias("__sr")
        )
        n_leak = (
            pairs.join(sl, on="id_l").join(sr, on="id_r")
            .filter(F.col("__sl") != F.col("__sr")).count()
        )
        assert n_leak == 0, f"leakage-safe split leaked {n_leak} pairs"
        return labeled.groupBy("split").agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    def q175_scaled(spark, sf_dir):
        # hashed cosine vs doc 0 over the scaled corpus: rows = 5
        # const; the scan + sparse aggregate are the k-linear parts.
        return entry.q175_hashed_cosine(spark, sf_dir)

    def q177_scaled(spark, sf_dir):
        # classifier TRAINING over the FULL scaled corpus (the gate
        # fixture caps doc_id < 200 for the unrolled oracle): 3 GD
        # iterations, each = one broadcast-weight pass + two integer
        # aggregates; output rows = docs (every doc scored) -> k-linear.
        from jsonl_dataingestion_pipeline_spark.functions.classifier import (
            classify,
            train_classifier,
        )

        d = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).filter(F.col("text").isNotNull())
        toks = F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda x: x != "",
        )
        lab = d.select(
            "doc_id",
            "text",
            F.when(F.size(toks) >= 56, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("y"),
        )
        w = train_classifier(
            lab, "text", "doc_id", "y",
            n_features=256, iterations=3, lr=2.0,
            include_bigrams=False,
        )
        return classify(
            lab, "text", "doc_id", w,
            n_features=256, include_bigrams=False,
        )

    def q178_scaled(spark, sf_dir):
        # WARC serialize->walk->census over the FULL scaled corpus
        # (gate caps doc_id < 200): rows = 7 groups const; wall =
        # Column serializer + Arrow record walker, linear in bytes.
        return entry._warc_census(spark, sf_dir, cap=None)

    def q180_scaled(spark, sf_dir):
        # Bradley-Terry over the FULL scaled corpus: comparisons pair
        # doc b with doc (b*7+13 mod n_base) WITHIN its replica (doc_id
        # = r*ID_OFFSET + b, b contiguous per replica), winner = longer
        # text. State is per-item and distributed; rows = items =
        # k-linear exactly.
        from jsonl_dataingestion_pipeline_spark.operators.preference import (
            bt_strengths,
        )

        d = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .filter(F.col("text").isNotNull())
            .select(
                "doc_id",
                F.octet_length("text").cast("long").alias("__ln"),
            )
        )
        nb = d.filter(F.col("doc_id") < ID_OFFSET).count()
        right = d.select(
            F.col("doc_id").alias("__j"), F.col("__ln").alias("__lj")
        )
        base = F.col("doc_id") % ID_OFFSET
        pairs = d.withColumn(
            "__jk",
            (F.col("doc_id") - base) + (base * 7 + 13) % nb,
        ).join(right, on=F.col("__jk") == F.col("__j"))
        w_wins = (F.col("__ln") > F.col("__lj")) | (
            (F.col("__ln") == F.col("__lj"))
            & (F.col("doc_id") < F.col("__j"))
        )
        comp = pairs.filter(F.col("doc_id") != F.col("__j")).select(
            F.when(w_wins, F.col("doc_id"))
            .otherwise(F.col("__j"))
            .alias("w"),
            F.when(w_wins, F.col("__j"))
            .otherwise(F.col("doc_id"))
            .alias("l"),
        )
        return bt_strengths(comp, "w", "l", iterations=3, lr=2.0)

    runs = {
        # round-8 cont.: q184 is a zero-shuffle projection (rows =
        # docs with >= 8 words -> k-linear); q185 emits 4 stage rows
        # const (k-linear term = the one corpus aggregate); q186 emits
        # #langs rows const (k-linear term = the word-census shuffle —
        # distinct words grow ~k under the ~r suffixing).
        "q184_chat": entry.q184_chat_sft_census,
        "q185_curriculum": entry.q185_curriculum_schedule,
        "q186_vocab": entry.q186_vocab_coverage,
        # q187: 20 query rows const; candidates/query grow ~k, so this
        # exercises WindowGroupLimit's partial top-k under growth.
        # q188: <=10 bucket rows const; two bucket aggregates.
        "q189_loss_mask": entry.q189_loss_mask_spans,
        # q190: rows = #event_types const; k-linear term = the two
        # (group, hash) dedups + WindowGroupLimit k-cuts (events table
        # is not scaled by the harness, but the query exercises the
        # sketch-build path end to end)
        "q190_kmv_set": entry.q190_kmv_set_algebra,
        "q187_rank": entry.q187_rank_metrics,
        "q188_psi": entry.q188_psi_drift,
        # stride-1 fingerprint pass over k*corpus chars; replicas share
        # no natural substrings (word-suffix bijection) but the PLANTED
        # boilerplate is global — its census group grows with k while
        # emitted spans stay exactly one per planted doc, so true rows
        # are k-linear and the hot-fp census is the measured skew case
        "q192_substr_spans": entry.q192_substring_dedup,
        # five codegen regex passes + argmax per row — pure scan-bound
        # projection; rows = k * docs exactly
        "q194_script_profile": entry.q194_script_profile,
        # the removal transform: q192's match stage + keeper aggregate
        # + interval subtraction + fold rebuild; rows = k * docs exactly
        # (one output row per input doc)
        "q193_substr_removal": entry.q193_substring_removal,
        # incremental removal: the q193 shape with the base replaced by
        # its census — batch-side rows = k * batch docs exactly
        "q197_incr_removal": entry.q197_incremental_removal,
        # blocked span corruption: Generate + codegen projection, rows
        # scale with corpus tokens / block size — scan-bound
        "q200_span_corruption": entry.q200_span_corruption,
        # politeness schedule: host-keyed join + per-host window; rows
        # = allowed URLs exactly
        "q202_crawl_frontier": entry.q202_crawl_frontier,
        # per-script census: codegen regex passes + 6-row groupBy —
        # pure scan-bound projection
        "q203_tokenizer_fertility": entry.q203_tokenizer_fertility,
        # fence extraction: posexplode + two per-doc windows + one keyed
        # aggregate; rows = fenced blocks, k-linear (every doc plants
        # the same fence pattern under the word bijection)
        "q206_code_fences": entry.q206_code_fences,
        # FIM rewrite: zero-shuffle codegen projection; rows = k * docs
        "q208_fim_transform": entry.q208_fim_transform,
        # repo packing: ONE per-repo collect_list aggregate + HOF fold;
        # repos = k * docs / 7, contexts k-linear; hot key bounded by
        # the 7-file repo construction
        "q209_repo_context": entry.q209_repo_context,
        # ROUGE-L dedup: inverted-index join + Arrow LCS kernel; the
        # doc-unique token prefixes keep pairs = candidates exactly
        # (k-linear), so kernel work scales with candidates, never
        # candidates x pool
        "q212_rouge_dedup": entry.q212_rouge_dedup,
        # domain rollup: codegen quality pass + domain-keyed aggregate
        # + broadcast join back; rows = k * docs exactly
        "q218_domain_quality": entry.q218_domain_quality,
        # CDX selection: codegen SURT projection + one keyed max_by
        # aggregate; pages (and rows) = k * docs exactly
        "q222_cdx_captures": entry.q222_cdx_captures,
        "q173_mixture": q173_scaled,
        "q177_clf_train": q177_scaled,
        "q178_warc": q178_scaled,
        "q180_bt": q180_scaled,
        "q174_split": q174_scaled,
        "q175_hashed_cos": q175_scaled,
        "q25_ngram_jaccard_pairs": entry.q25_ngram_jaccard_pairs,
        "q26_minhash_lsh_pairs": entry.q26_minhash_lsh_pairs,
        "q39_embedding_neardup_planted": q39_scaled,
        "q84_line_dedup": entry.q84_line_dedup,
        "q90_corpus_pipeline": entry.q90_corpus_pipeline,
        "q100_semantic_dedup_planted": semdedup_scaled,
        "q102_duplicated_spans": q102_scaled,
        # round-3 heavies, UNFILTERED so they see the whole scaled corpus
        # (the registered q111/q118 cap doc_id for the oracle gate): the
        # bigram LM scores every doc -> rows = k*docs exactly; the web
        # funnel emits 7 rows but its stage doc-counts must scale *k.
        "q111_bigram_lm": q111_scaled,
        "q116_pagerank_replicas": q116_scaled,
        "q118_web_pipeline": q118_scaled,
        "q133_kmeans": q133_scaled,
        "q133_largek": q133_largek_scaled,
        "q134_classifier": q134_scaled,
        "q135_link_graph": q135_scaled,
        "q136_keep_best": q136_scaled,
        "q137_fuzzy_decontam": q137_scaled,
        "q143_packing": q143_scaled,
        "qbpe_train": qbpe_scaled,
        "qunigram_train": qunigram_scaled,
        "qbpe_deep": qbpe_deep_scaled,
        "qkmeansll": qkmeansll_scaled,
        "q144_triangles": q144_scaled,
        "q145_kcore": q145_scaled,
        "q146_dsir": q146_scaled,
        "q147_hardneg": q147_scaled,
        "q148_mmr": q148_scaled,
        "q149_novelty": q149_scaled,
        "q150_shuffle": q150_scaled,
        "q151_pca_cov": q151_scaled,
        "q152_pq_encode": q152_scaled,
        "q153_pq_adc": q153_scaled,
        "q154_lpa": q154_scaled,
        "q155_ivfpq_encode": q155_scaled,
        "q156_ivfpq_adc": q156_scaled,
        "q157_bfs": q157_scaled,
        "q158_rrf": q158_scaled,
        "q159_divergence": q159_scaled,
        "q160_inc_cc": q160_scaled,
        "q161_ppr": q161_scaled,
        "q162_pmi": q162_scaled,
        "q163_containment": q163_scaled,
        "q164_boilerplate": q164_scaled,
        "q166_interval": q166_scaled,
        "q167_export": q167_scaled,
        "q169_negatives": q169_scaled,
        "q165_kmv": q165_scaled,
        "q168_entity": q168_scaled,
        "q168_hotblock": q168_hotblock_scaled,
        "q171_ann_audit": q171_scaled,
        "q172_rules": q172_scaled,
    }
    out = {}
    import logging as _logging

    class _DropCapture(_logging.Handler):
        """Collects the max_bucket cap's dropped bucket/pair counts so
        the linearity report can assert drops stay PROPORTIONAL to the
        data (superlinear drop growth = candidate blowup the cap is
        papering over)."""

        def __init__(self):
            super().__init__()
            self.buckets = 0
            self.pairs = 0

        def emit(self, record):
            a = record.args or ()
            if len(a) == 4 and "dropped" in str(record.msg):
                self.buckets += int(a[2])
                self.pairs += int(a[3])

    _dedup_log = _logging.getLogger(
        "jsonl_dataingestion_pipeline_spark.operators.dedup"
    )
    for name, fn in runs.items():
        if only and not any(name.startswith(p) for p in only):
            continue
        cap = _DropCapture()
        _dedup_log.addHandler(cap)
        t0 = time.time()
        df = fn(spark, sf_dir)
        if name in ("q90_corpus_pipeline", "q118_web_pipeline"):
            rows = {r["stage"]: r["n_docs"] for r in df.collect()}
            n = len(rows)
            out[name] = {"sec": round(time.time() - t0, 2), "rows": n, "stages": rows}
        elif name == "q144_triangles":
            row = df.collect()[0]
            n = int(row["n_triangles"])
            out[name] = {
                "sec": round(time.time() - t0, 2),
                "rows": n,
                "n_wedges": int(row["n_wedges"]),
            }
        elif name == "q135_link_graph":
            # census rows are k-invariant by construction; linearity
            # shows in the total link volume
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_links").alias("links"),
            ).collect()[0]
            n = agg["n"]
            out[name] = {
                "sec": round(time.time() - t0, 2),
                "rows": n,
                "sum_links": int(agg["links"]),
            }
        else:
            n = df.count()
            out[name] = {"sec": round(time.time() - t0, 2), "rows": n}
        _dedup_log.removeHandler(cap)
        if cap.buckets:
            out[name]["dropped_buckets"] = cap.buckets
            out[name]["dropped_pairs"] = cap.pairs
        print(f"#   x{k} {name}: rows={n} in {out[name]['sec']}s"
              + (f" (cap dropped {cap.buckets} buckets / ~{cap.pairs} pairs)"
                 if cap.buckets else ""), flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,5,10")
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--queries", default=None,
        help="comma-separated query-name prefixes to run (default: all)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    only = args.queries.split(",") if args.queries else None

    from jsonl_dataingestion_pipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()  # JVM warmup outside the timings

    results = {}
    for k in scales:
        sf_dir = build_scaled(args.base, k)
        print(f"# scale x{k}: {sf_dir}", flush=True)
        results[f"x{k}"] = run_queries(spark, sf_dir, k, only=only)

    # linearity report: rows and sec relative to x1
    report = {"scales": scales, "results": results, "linearity": {}}
    base = results.get("x1", {})
    for q in base:
        rows1 = base[q]["rows"]
        sec1 = base[q]["sec"]
        report["linearity"][q] = {}
        for k in scales:
            row = {
                "rows_ratio": round(results[f"x{k}"][q]["rows"] / max(rows1, 1), 3),
                "sec_ratio": round(results[f"x{k}"][q]["sec"] / max(sec1, 1e-9), 2),
            }
            dk = results[f"x{k}"][q].get("dropped_pairs")
            if dk is not None:
                row["dropped_pairs_ratio"] = round(
                    dk / max(base[q].get("dropped_pairs", 0), 1), 3
                )
            report["linearity"][q][f"x{k}"] = row
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
