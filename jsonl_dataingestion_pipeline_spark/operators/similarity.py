"""Similarity search over embedding columns (array<float>).

Two paths:
- ``cosine_topk`` — exact brute force: broadcast the (small) query set,
  one narrow pass over the corpus, per-query top-k via window. The
  baseline and the verifier for the approximate path.
- ``ivf_topk`` — IVF-style approximate search: partition the corpus into
  Voronoi cells around centroids, probe only ``nprobe`` cells per query.
  At 100 TB the corpus side stays fully distributed and is pruned by the
  cell assignment (a join key), turning a full scan into a partition-
  pruned lookup.

Dot products use ``zip_with`` + ``aggregate`` (JVM-side); similarity is
rounded so results replay identically in the DuckDB oracle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .common import pipeline_break


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column, scale: int = 6) -> Column:
    return F.round(dot(a, b) / (l2_norm(a) * l2_norm(b)), scale)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    ``queries`` is broadcast (it is small by construction); the corpus is
    scanned once with no shuffle except the final per-query top-k, whose
    input has already been cut to candidates. Self-matches are excluded.
    Returns (query_id, neighbor_id, sim), deterministic tiebreak on
    neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cell_id",
    keep: "tuple[str, ...]" = (),
    with_sim: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine).

    Centroids are broadcast; assignment is an argmax computed with one
    ``min_by``-style aggregation — no window, no extra shuffle beyond the
    groupBy on the (already distributed) vector id.

    ``keep`` names extra ``corpus`` columns to carry through the argmax
    (rides the payload struct — no join back onto the corpus);
    ``with_sim=True`` adds the winning cosine as ``cell_sim`` (scale-9,
    the same value the argmax decided on). Both default off and leave
    the original output untouched.
    """
    cts = centroids.select(
        F.col(centroid_id).alias("__cell"), F.col(vec_col).alias("__ctv")
    )
    scored = corpus.crossJoin(F.broadcast(cts)).select(
        F.col(id_col),
        F.col(vec_col),
        *[F.col(c) for c in keep],
        F.col("__cell"),
        cosine(F.col(vec_col), F.col("__ctv"), scale=9).alias("__sim"),
    )
    payload = F.struct(
        F.col("__cell"),
        F.col(vec_col).alias("v"),
        F.col("__sim").alias("s"),
        *[F.col(c).alias(f"k_{c}") for c in keep],
    )
    best = (
        scored.groupBy(id_col)
        .agg(
            F.max_by(
                payload,
                F.struct(F.col("__sim"), (-F.col("__cell")).alias("tb")),
            ).alias("best")
        )
        .select(
            F.col(id_col),
            F.col("best.__cell").alias(centroid_id),
            F.col("best.v").alias(vec_col),
            *[F.col(f"best.k_{c}").alias(c) for c in keep],
            *([F.col("best.s").alias("cell_sim")] if with_sim else []),
        )
    )
    return best


def make_centroids(
    corpus: DataFrame,
    n: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seed: the n corpus vectors with smallest ids.

    ``orderBy(id).limit(n)`` compiles to TakeOrderedAndProject — each
    partition keeps its local top-n, only n rows per partition reach the
    driver-side merge. (The naive ``row_number().over(Window.orderBy(id))``
    would move the ENTIRE corpus to one partition first — a single-executor
    OOM at 100 TB.) The row_number window below runs on just n rows.

    (A k-means refinement loop can replace this without changing the
    search path; seeding deterministically keeps the oracle replayable.)
    """
    top = corpus.select(F.col(id_col), F.col(vec_col)).orderBy(
        F.col(id_col).asc()
    ).limit(n)
    w = Window.orderBy(F.col(id_col).asc())
    return (
        top.withColumn("__rn", F.row_number().over(w))
        .select((F.col("__rn") - 1).alias("cell_id"), F.col(vec_col))
    )


def refine_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 1,
) -> DataFrame:
    """Lloyd's k-means refinement over the seeded centroids.

    Each round: assign every vector to its nearest centroid (broadcast
    argmax, no shuffle of the corpus beyond the per-id groupBy already in
    :func:`assign_cells`), then recompute each cell's mean vector with a
    posexplode + (cell, dim) aggregation — map-side partial averages, one
    row per (cell, dim) through the shuffle, fully distributed at any
    corpus size. Cells that lose all members drop out (fewer, denser
    cells — harmless for probing). FP summation order makes the last bits
    run-dependent, so refined centroids feed the *recall* path, not the
    oracle-checked deterministic seed (q29 keeps :func:`make_centroids`).
    """
    for _ in range(iterations):
        assigned = assign_cells(
            corpus, centroids, id_col=id_col, vec_col=vec_col
        )
        expl = assigned.select(
            "cell_id", F.posexplode(F.col(vec_col)).alias("pos", "v")
        )
        means = expl.groupBy("cell_id", "pos").agg(F.avg("v").alias("m"))
        centroids = (
            means.groupBy("cell_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("m")))
                ).alias("__pm")
            )
            .select(
                "cell_id",
                F.transform(F.col("__pm"), lambda x: x["m"].cast("float")).alias(
                    vec_col
                ),
            )
        )
    return centroids


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (md5-seeded) for sign-hash bucketing."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def embedding_neardup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-hash LSH.

    Each vector gets an ``n_planes``-bit signature (sign of dot with fixed
    ±1 hyperplanes); signatures are cut into ``bands`` band-keys; vectors
    sharing a band key become candidates and are verified with exact
    cosine >= threshold. Fully distributed: signature is a narrow
    projection, and — like ``minhash_lsh_pairs`` — the band self-join and
    candidate dedup carry only (band-key, id): the full embedding vectors
    re-enter the plan only in the final verify join over the (much
    smaller) deduplicated candidate set.
    Returns (id_l, id_r, sim) with id_l < id_r.
    """
    if dim is None:
        first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(first["d"])
    planes = random_hyperplanes(dim, n_planes)
    bits_per_band = n_planes // bands
    assert bits_per_band * bands == n_planes

    def bit(plane: list[float]) -> Column:
        d = dot(F.col("__v"), F.array(*[F.lit(x) for x in plane]))
        return F.when(d >= 0, F.lit("1")).otherwise(F.lit("0"))

    sig = F.concat(*[bit(p) for p in planes])
    base = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("__sig", sig)

    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.substring(F.col("__sig"), b * bits_per_band + 1, bits_per_band),
            )
            for b in range(bands)
        ]
    )
    # ids-only through the wide ops: band explode, self-join, and the
    # dropDuplicates shuffle never see an embedding vector
    banded = pipeline_break(
        base.select("__id", F.explode(band_keys).alias("key"))
    )

    left = banded.select(F.col("key"), F.col("__id").alias("id_l"))
    right = banded.select(F.col("key"), F.col("__id").alias("id_r"))
    cand = pipeline_break(
        left.join(right, on="key")
        .filter(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r")
        .dropDuplicates(["id_l", "id_r"])
    )

    from .dedup import _cpu_floor_repartition

    # CPU floor only when pairs outnumber docs (see dedup._maybe_floor_
    # candidates); n_docs recovered from the checkpointed band relation
    if cand.count() >= banded.count() // bands:
        cand = _cpu_floor_repartition(cand, "id_l")

    vecs = corpus.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__vv"))
    joined = (
        cand.join(vecs.withColumnsRenamed({"__vid": "id_l", "__vv": "v_l"}), on="id_l")
        .join(vecs.withColumnsRenamed({"__vid": "id_r", "__vv": "v_r"}), on="id_r")
    )
    sim = cosine(F.col("v_l"), F.col("v_r"))
    return joined.select("id_l", "id_r", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): rows whose embeddings are cosine-near-duplicates
    form one semantic cluster; keep a single representative (the cluster
    min id) and drop the rest.

    Composition of already-scale-reviewed parts, nothing new shuffles:
    sign-hash LSH candidate pairs (:func:`embedding_neardup_pairs` —
    ids-only through the band join, linear for log-scaled band bits),
    iterative min-id connected components, and a left-semi survivor
    join. No all-pairs stage anywhere, so the plan survives a 100x
    corpus scale-up; recall follows the LSH band parameters (raise
    ``n_planes``/``bands`` with log2(n) per SCALING.md).

    Returns the surviving subset of ``corpus`` with its original schema.
    """
    from .dedup import dedup_near_duplicates

    pairs = embedding_neardup_pairs(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_planes=n_planes,
        bands=bands,
    )
    return dedup_near_duplicates(corpus, pairs, id_col)


def cosine_pairs_exact(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (upper triangle).

    O(n²) — the verification baseline for :func:`embedding_neardup_pairs`;
    restrict the corpus before calling at scale.
    """
    a = corpus.select(F.col(id_col).alias("id_l"), F.col(vec_col).alias("v_l"))
    b = corpus.select(F.col(id_col).alias("id_r"), F.col(vec_col).alias("v_r"))
    pairs = a.crossJoin(b).filter(F.col("id_l") < F.col("id_r"))
    sim = cosine(F.col("v_l"), F.col("v_r"))
    return pairs.select("id_l", "id_r", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """Approximate top-k: search only the ``nprobe`` nearest cells.

    Returns the same shape as :func:`cosine_topk`. Recall < 1 by design;
    at scale the cell assignment is precomputed/bucketed once and reused
    across query batches.
    """
    if centroids is None:
        centroids = make_centroids(corpus, n_cells, id_col=id_col, vec_col=vec_col)
    assigned = assign_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)

    # nprobe nearest cells per query (tiny: queries × centroids, broadcast)
    cts = centroids.select(F.col("cell_id"), F.col(vec_col).alias("__ctv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    qcells = (
        q.crossJoin(F.broadcast(cts))
        .select(
            "query_id",
            "__qv",
            "cell_id",
            cosine(F.col("__qv"), F.col("__ctv"), scale=9).alias("__sim"),
        )
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("__sim").desc(), F.col("cell_id").asc()
                )
            ),
        )
        .filter(F.col("__rk") <= nprobe)
        .select("query_id", "__qv", "cell_id")
    )

    scored = (
        assigned.join(F.broadcast(qcells), on="cell_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("__qv"), F.col(vec_col)).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lo: float = 0.2,
    hi: float = 0.4,
    n_cells: int = 16,
    nprobe: int = 4,
    exact: bool = False,
    scale: int = 6,
) -> DataFrame:
    """Contrastive-training hard negatives: for each anchor, the top-k
    corpus vectors by cosine WITHIN ``[lo, hi)`` — similar enough to be
    informative negatives for embedding-model training, but excluding
    the near-dup band ``>= hi`` (those are unlabeled positives — using
    them as negatives poisons the contrastive loss). Returns
    (anchor_id, negative_id, neg_sim DOUBLE, neg_rank INT), ties broken
    by negative id.

    ``exact=True``: the anchor batch BROADCASTS against the streaming
    corpus — one corpus scan, per-anchor top-k via window. This is the
    right plan when anchors are a training batch (thousands) against a
    corpus shard, and it is the oracle-replayable path (q147).
    ``exact=False`` (default): candidates restricted to each anchor's
    ``nprobe`` nearest IVF cells — the sublinear scale path for mining
    against the full corpus; recall < 1 by design (same contract as
    :func:`ivf_topk`, pytest-compared against exact)."""
    a = anchors.select(
        F.col(id_col).alias("anchor_id"), F.col(vec_col).alias("__av")
    )
    if exact:
        cand = corpus.crossJoin(F.broadcast(a)).select(
            "anchor_id",
            F.col(id_col).alias("negative_id"),
            cosine(F.col("__av"), F.col(vec_col), scale=scale).alias(
                "neg_sim"
            ),
        )
    else:
        centroids = make_centroids(
            corpus, n_cells, id_col=id_col, vec_col=vec_col
        )
        assigned = assign_cells(
            corpus, centroids, id_col=id_col, vec_col=vec_col
        )
        cts = centroids.select(
            F.col("cell_id"), F.col(vec_col).alias("__ctv")
        )
        acells = (
            a.crossJoin(F.broadcast(cts))
            .select(
                "anchor_id",
                "__av",
                "cell_id",
                cosine(F.col("__av"), F.col("__ctv"), scale=9).alias(
                    "__sim"
                ),
            )
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy("anchor_id").orderBy(
                        F.col("__sim").desc(), F.col("cell_id").asc()
                    )
                ),
            )
            .filter(F.col("__rk") <= nprobe)
            .select("anchor_id", "__av", "cell_id")
        )
        cand = assigned.join(F.broadcast(acells), on="cell_id").select(
            "anchor_id",
            F.col(id_col).alias("negative_id"),
            cosine(F.col("__av"), F.col(vec_col), scale=scale).alias(
                "neg_sim"
            ),
        )
    banded = cand.filter(
        (F.col("neg_sim") >= lo) & (F.col("neg_sim") < hi)
        & (F.col("anchor_id") != F.col("negative_id"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("neg_sim").desc(), F.col("negative_id").asc()
    )
    return (
        banded.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select("anchor_id", "negative_id", "neg_sim", "neg_rank")
    )


def mmr_select(
    candidates: DataFrame,
    query_vec: list[float],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    lam: float = 0.7,
    scale: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance greedy selection (Carbonell &
    Goldstein 1998): pick ``k`` vectors one at a time, each round
    maximizing ``lam * rel - (1 - lam) * max_sim_to_already_selected``
    — relevance to ``query_vec`` traded against redundancy with what
    was already picked. The standard tool for building a DIVERSE
    exemplar set (few-shot prompts, eval suites, annotation batches)
    out of a large candidate pool, where plain top-k returns k copies
    of the same cluster.

    Returns k rows (sel_id, sel_rank INT, relevance DOUBLE, mmr_score
    DOUBLE) in selection order; ties broken by id. Deterministic:
    relevance and pairwise sims round to ``scale`` decimals before the
    argmax (the same contract that lets the DuckDB oracle replay the
    run bit-for-bit, q148).

    Scale shape: the candidate pool is scanned once per round with the
    selected set carried as ``<= k`` literal vectors inside the codegen
    projection (the k-means literal-centroid pattern — selection state
    is k*d driver floats, never a shuffle), and the per-round argmax is
    a TakeOrdered (limit 1), not a sort. Total cost = k scans; k is
    small by use-case (tens), the pool is the big side."""
    from jsonl_dataingestion_pipeline_spark.operators.common import (
        parallelism_floor,
    )

    spark = candidates.sparkSession
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    # parallelism floor BEFORE the cache (guide §2.5): a few-split scan
    # would otherwise cache the pool as one partition and run every
    # round's cosine scan + TakeOrdered single-threaded; no-op on
    # many-split scans
    base = parallelism_floor(
        candidates.select(
            F.col(id_col).alias("sel_id"),
            F.col(vec_col).alias("__v"),
            cosine(F.col(vec_col), qlit, scale=scale).alias("relevance"),
        )
    ).cache()
    lam_c, inv_c = F.lit(float(lam)), F.lit(1.0 - float(lam))
    selected: list[tuple] = []  # (id, vec, relevance, score)
    for rank in range(1, k + 1):
        if selected:
            # selection state rides as k*d LITERALS in the codegen
            # projection (the k-means literal-centroid pattern). A
            # broadcast-one-row-frame variant (stable codegen source,
            # compile-once) was measured in r10 and LOST: the
            # per-round createDataFrame + broadcast-build job costs
            # more than the per-round janino re-compile it saves
            # (4.7s vs 3.3s over k=8 rounds at sf0.1) — state stays
            # literal.
            sel_arr = F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in vec])
                    for _id, vec, _r, _s in selected
                ]
            )
            pen = F.array_max(
                F.transform(sel_arr, lambda s: cosine(F.col("__v"), s, scale=scale))
            )
            pool = base.filter(
                ~F.col("sel_id").isin([i for i, *_ in selected])
            )
        else:
            pen = F.lit(0.0)
            pool = base
        score = F.round(
            lam_c * F.col("relevance") - inv_c * pen, scale
        ).alias("mmr_score")
        top = (
            pool.select("sel_id", "__v", "relevance", score)
            .orderBy(F.col("mmr_score").desc(), F.col("sel_id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break  # pool exhausted before k
        r = top[0]
        selected.append(
            (r["sel_id"], list(r["__v"]), r["relevance"], r["mmr_score"])
        )
    base.unpersist()
    spark = candidates.sparkSession
    return spark.createDataFrame(
        [
            (int(i), int(rk + 1), float(rel), float(sc))
            for rk, (i, _v, rel, sc) in enumerate(selected)
        ],
        "sel_id bigint, sel_rank int, relevance double, mmr_score double",
    )


# ---------------------------------------------------------------------------
# Scalar quantization (int8) — 4x memory/IO reduction for the 100 TB path
# ---------------------------------------------------------------------------
def quantize_int8(a: Column) -> Column:
    """Symmetric per-vector int8 quantization: scale by 127/max|x| and
    round to integers.

    Rounding is ``floor(x + 0.5)`` explicitly — Java half-up vs C
    half-even never disagrees on the same arithmetic, so the DuckDB
    oracle replays quantization bit-for-bit.  The result is
    ``array<int>`` carrying values in [-127, 127]; at 100 TB this is
    what you persist (4x smaller scans than float32, 8x than float64),
    re-ranking survivors against full-precision vectors.
    """
    mx = F.aggregate(
        F.transform(a, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    safe = F.when(mx == 0.0, F.lit(1.0)).otherwise(mx)
    return F.transform(
        a,
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / safe + F.lit(0.5))
        .cast("int"),
    )


def dequantize(q: Column, scale: Column) -> Column:
    """Back to doubles: ``q * scale / 127`` (scale = original max|x|)."""
    return F.transform(
        q, lambda x: x.cast("double") * scale / F.lit(127.0)
    )


def quantized_cosine(qa: Column, qb: Column, scale: int = 6) -> Column:
    """Cosine over int8-quantized vectors. Norm factors cancel the
    per-vector scale, so this needs only the integer arrays."""
    return F.round(
        dot(qa, qb) / (l2_norm(qa) * l2_norm(qb)), scale
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    margin_threshold: float = 1.0,
    method: str = "exact",
    n_planes: int = 16,
    bands: int = 4,
    scale: int = 6,
) -> DataFrame:
    """Bitext / parallel-corpus mining by MARGIN-BASED scoring (Artetxe
    & Schwenk 2019, "Margin-based Parallel Corpus Mining with
    Multilingual Sentence Embeddings"): score a source–target pair by
    the RATIO of its cosine to the mean of each side's k-NN cosines —
    raw cosine is miscalibrated across languages (hubness, per-language
    density), the margin normalizes it by what "near" means locally.
    This is how multilingual training sets (CCMatrix, WikiMatrix) are
    built. Candidates follow the paper's "max" strategy: every pair
    where the target is in the source's k-NN OR vice versa.

        margin(x, y) = cos(x, y) / (avgNN(x)/2 + avgNN(y)/2)
                     = 2·cos(x, y) / (avgNN(x) + avgNN(y))

    Determinism contract (repo-wide): cosines quantize to INTEGER
    micro-units BEFORE any sum; k-NN sums are integer; the margin is
    one integer cross-multiplied division —
    ``margin_u = (2·sim_u·kx·ky·1e6) div (sx_u·ky + sy_u·kx)``
    (kx/ky = actual neighbor counts, <= k, so corpora smaller than k
    stay exact) — every stage replayable by the DuckDB oracle
    bit-for-bit. Pairs with a non-positive denominator (all-negative
    neighborhoods) are dropped: the ratio margin is undefined there.

    ``method="exact"``: all-pairs cosines with ``tgt`` broadcast (pass
    the smaller language as ``tgt``) — the oracle-replayable baseline,
    O(|src|·|tgt|) like every exact mining pass; the pair relation then
    shuffles twice (per-src and per-tgt k-NN windows). ``method="lsh"``:
    candidates restricted to sign-LSH band collisions (the same
    md5-seeded hyperplanes as :func:`embedding_neardup_pairs`, one
    signature pass per side, ids-only band join) — the sublinear scale
    path; k-NN means are computed WITHIN the candidate set (documented
    approximation — band recall follows n_planes/bands), planted-pair
    recall is pytest-floored.

    Returns ``(src_id, tgt_id, sim_u BIGINT, margin_u BIGINT)`` for
    pairs with ``margin_u >= round(margin_threshold * 1e6)``.
    """
    s = src.select(
        F.col(id_col).alias("src_id"), F.col(vec_col).alias("__sv")
    )
    t = tgt.select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("__tv")
    )
    sim_u = F.round(
        cosine(F.col("__sv"), F.col("__tv"), scale=scale) * 1e6
    ).cast("long")
    if method == "exact":
        pairs = s.crossJoin(F.broadcast(t)).select(
            "src_id", "tgt_id", sim_u.alias("sim_u")
        )
    elif method == "lsh":
        dim = int(s.select(F.size("__sv").alias("d")).first()["d"])
        planes = random_hyperplanes(dim, n_planes)
        bits_per_band = n_planes // bands
        assert bits_per_band * bands == n_planes

        def banded(df, vc):
            def bit(plane):
                d = dot(F.col(vc), F.array(*[F.lit(x) for x in plane]))
                return F.when(d >= 0, F.lit("1")).otherwise(F.lit("0"))

            sig = F.concat(*[bit(p) for p in planes])
            keys = F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.substring(
                            sig, b * bits_per_band + 1, bits_per_band
                        ),
                    )
                    for b in range(bands)
                ]
            )
            return df.withColumn("__key", F.explode(keys))

        cand = (
            banded(s, "__sv")
            .select("src_id", "__key")
            .join(banded(t, "__tv").select("tgt_id", "__key"), on="__key")
            .select("src_id", "tgt_id")
            .dropDuplicates(["src_id", "tgt_id"])
        )
        pairs = (
            cand.join(s, on="src_id")
            .join(t, on="tgt_id")
            .select("src_id", "tgt_id", sim_u.alias("sim_u"))
        )
    else:
        raise ValueError(f"bitext_margin_pairs: unknown method {method!r}")

    wx = Window.partitionBy("src_id").orderBy(
        F.col("sim_u").desc(), F.col("tgt_id").asc()
    )
    wy = Window.partitionBy("tgt_id").orderBy(
        F.col("sim_u").desc(), F.col("src_id").asc()
    )
    ranked = pairs.withColumn("__rx", F.row_number().over(wx)).withColumn(
        "__ry", F.row_number().over(wy)
    )
    sx = (
        ranked.filter(F.col("__rx") <= k)
        .groupBy("src_id")
        .agg(
            F.sum("sim_u").alias("__sx_u"),
            F.count(F.lit(1)).alias("__kx"),
        )
    )
    sy = (
        ranked.filter(F.col("__ry") <= k)
        .groupBy("tgt_id")
        .agg(
            F.sum("sim_u").alias("__sy_u"),
            F.count(F.lit(1)).alias("__ky"),
        )
    )
    thr_u = int(round(margin_threshold * 1e6))
    den = (
        F.col("__sx_u") * F.col("__ky") + F.col("__sy_u") * F.col("__kx")
    )
    return (
        ranked.filter((F.col("__rx") <= k) | (F.col("__ry") <= k))
        .join(sx, on="src_id")
        .join(sy, on="tgt_id")
        .filter(den > 0)
        .select(
            "src_id",
            "tgt_id",
            "sim_u",
            F.expr(
                f"(2 * sim_u * __kx * __ky * 1000000) div "
                f"(__sx_u * __ky + __sy_u * __kx)"
            ).alias("margin_u"),
        )
        .filter(F.col("margin_u") >= F.lit(thr_u))
    )
