"""Deduplication operators for 100 TB-scale corpora.

Four families, each with a different cost/recall point:

- exact_dedup      — hash-groupBy on canonicalized content (one shuffle).
- minhash_lsh_pairs— MinHash signatures computed *per row with zero
                     shuffle* (array expressions over shingles), then LSH
                     banding -> candidate pairs -> exact Jaccard verify.
- ngram_jaccard_pairs — similarity join on sampled shingles (exact
                     verification, deterministic md5-based sampling).
- simhash          — 64-bit SimHash fingerprint via an Arrow-vectorized
                     pandas_udf (bit-twiddling that Column exprs can't
                     express efficiently); near-dup = small Hamming
                     distance within LSH bit-band buckets.

Plus the substring family (Lee et al. 2021): a 63-bit polynomial
rolling-hash fingerprint of every k-char window, one census/probe
pipeline against a stored fingerprint index, the full operators being
that pipeline over an empty index.

Content keys and sampling use md5; the substring fingerprint is pure
integer arithmetic mod 2^63. Either way the DuckDB oracles replay every
step at test scale.
"""

from __future__ import annotations

import logging
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.expr import let as _let
from ..functions.textstats import shingles as _shingles
from ..functions.textstats import shingles_from_tokens as _shingles_from_tokens
from ..functions.textstats import tokens as _tokens
from .common import pipeline_break


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def content_key(c: Column) -> Column:
    """Canonical content hash: md5 of whitespace-collapsed lowercase text."""
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    keep: str = "min",
) -> DataFrame:
    """Keep one representative per identical (canonicalized) content.

    Representative = min/max id (deterministic). Implemented as an
    aggregation rather than a window: the partial (map-side) min shrinks
    data before the single shuffle, which matters at scale.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    reps = (
        df.select(content_key(F.col(text_col)).alias("__ck"), F.col(id_col))
        .groupBy("__ck")
        .agg(agg.alias(id_col))
    )
    return df.join(reps, on=id_col, how="leftsemi")


def _cpu_floor_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition with a parallelism floor for CPU-bound stages.

    AQE coalesces shuffle partitions by *bytes*; a verify join whose input
    is a few compressed MB of candidate ids but whose per-row cost is an
    array-set intersection gets coalesced onto 1-2 cores (measured 4.5x
    slowdown at sf0.1). Repartitioning to
    ``max(defaultParallelism, current partitions)`` pins full-cluster
    parallelism for the small case while never *reducing* the byte-driven
    partition count when the data really is big.

    ONLY call this on a checkpointed DataFrame: ``.rdd`` on a lazy AQE
    plan eagerly executes its query stages (double execution).
    """
    sc = df.sparkSession.sparkContext
    n = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    return df.repartition(n, *[F.col(c) for c in cols])


def _maybe_floor_candidates(cand: DataFrame, base: DataFrame) -> DataFrame:
    """Apply the CPU floor to a candidate-pair frame only when it pays.

    The floor's cost is re-shuffling the per-doc array relation
    (O(n_docs × array size)); its win is spreading the per-pair verify
    CPU (O(n_cand × array size)). So floor exactly when candidates
    outnumber docs — measured at sf0.1: 270k pairs / 10.5k docs -> 8.3s
    becomes 1.8s with the floor, while 5k pairs / 10.5k docs loses ~3s to
    it. Both frames are checkpointed, so the counts are metadata-cheap.
    """
    if cand.count() >= base.count():
        return _cpu_floor_repartition(cand, "id_l")
    return cand


# ---------------------------------------------------------------------------
# Shared shingle base
# ---------------------------------------------------------------------------
def shingle_base(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
) -> DataFrame:
    """Materialized ``(__id, __sh)`` distinct-shingle-set relation.

    Both near-dup sim-joins consume this relation from multiple stages of
    one job, so it is checkpointed eagerly (a lazy ``.cache()`` loses the
    race when 3+ concurrent stages all compute it before the cache fills).
    Callers running several dedup operators over the same corpus should
    build this once and pass it to each — shingling the text is the
    single most expensive narrow step.

    The shingles come from a posexplode of the tokens, a ``lead``
    window and a ``collect_set``, so every expression stays in
    whole-stage codegen. That costs one shuffle of the token stream:
    the window and the groupBy share the ``__id`` partitioning, so the
    exchange is reused.
    """
    from pyspark.sql import Window

    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    # short docs (< k tokens) produce exactly one padded shingle — same
    # semantics as functions.textstats.shingles; a fixed-k concat_ws is a
    # single codegen'd expression, no transform() needed
    short = df.filter(n < shingle_k).select(
        F.col(id_col).alias("__id"),
        F.array(
            F.concat_ws(
                " ",
                *[
                    F.coalesce(F.try_element_at(toks, F.lit(j + 1)), F.lit(""))
                    for j in range(shingle_k)
                ],
            )
        ).alias("__sh"),
    )
    w = Window.partitionBy("__id").orderBy("pos")
    expl = df.filter(n >= shingle_k).select(
        F.col(id_col).alias("__id"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    leads = [F.col("tok")] + [
        F.lead("tok", j).over(w).alias(f"__t{j}") for j in range(1, shingle_k)
    ]
    grams = (
        expl.select("__id", *leads)
        .filter(F.col(f"__t{shingle_k - 1}").isNotNull())
        .select(
            "__id",
            F.concat_ws(
                " ", "tok", *[f"__t{j}" for j in range(1, shingle_k)]
            ).alias("s"),
        )
    )
    long_docs = grams.groupBy("__id").agg(F.collect_set("s").alias("__sh"))
    return pipeline_break(long_docs.unionByName(short))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
# Mersenne prime 2^31-1: the classic universal-hash modulus (Broder-style
# MinHash, same scheme datasketch uses). h1/h2 are < 2^31 after the mod, so
# h1 + 31*h2 stays far below 2^63 — no bigint overflow on either engine.
MINHASH_PRIME = 2_147_483_647

_LOG = logging.getLogger(__name__)

# Default hot-bucket cap for candidate generation (ngram_jaccard_pairs,
# minhash_lsh_pairs). One degenerate bucket — a boilerplate shingle or an
# LSH band key shared by millions of near-identical docs — generates
# O(bucket²) candidate pairs; at 100 TB that single bucket is the whole
# job. Capping is the standard production trade (the dropped pairs are
# overwhelmingly within boilerplate clusters that exact-dedup already
# catches), but it must never be silent: every capped call logs the
# dropped bucket/pair counts. Pass ``max_bucket=None`` for the exact,
# uncapped semantics (what the DuckDB oracles replay — identical output
# whenever no bucket exceeds the cap, which holds at every test SF).
DEFAULT_MAX_BUCKET = 1000


def _bucket_pairs(
    exploded: DataFrame,
    keys: Sequence[str],
    id_col: str,
    max_bucket: int,
    op_name: str,
) -> DataFrame:
    """Candidate pairs from capped buckets, memory-bounded end to end.

    Two aggregations over the same bucket-keyed shuffle layout:
      1. histogram ``groupBy(keys).count()`` — fixed-size aggregation
         state, safe against the multi-million-member degenerate bucket
         the cap exists for; hot buckets (> ``max_bucket``) are dropped
         here (logged, never silent) along with useless singletons;
      2. semi-join the exploded relation against the surviving keys
         (tiny -> AQE broadcast, no shuffle), THEN collect each
         remaining bucket's sorted distinct ids — the collect buffer is
         now provably <= ``max_bucket`` entries — and expand C(n, 2)
         ordered pairs with array expressions.
    No self-join anywhere, and — unlike collecting before filtering —
    no aggregation buffer ever holds an uncapped bucket. Only used when
    a cap exists; the uncapped-exact path keeps the band self-join,
    which spills instead of buffering unbounded bucket arrays.
    """
    kcols = [F.col(k) for k in keys]
    # consumed by both the histogram and the post-filter collect
    exploded = pipeline_break(exploded)
    hist = pipeline_break(
        exploded.groupBy(*kcols).agg(F.count(F.lit(1)).alias("__n"))
    )
    stats = (
        hist.filter(F.col("__n") > max_bucket)
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.sum(F.col("__n").cast("double") * (F.col("__n") - 1) / 2).alias(
                "pairs"
            ),
        )
        .first()
    )
    if stats["buckets"]:
        _LOG.warning(
            "%s: max_bucket=%d dropped %d hot bucket(s) (~%d candidate "
            "pairs); pass max_bucket=None for exact uncapped semantics",
            op_name,
            max_bucket,
            stats["buckets"],
            int(stats["pairs"] or 0),
        )
    keep_keys = hist.filter(
        (F.col("__n") >= 2) & (F.col("__n") <= max_bucket)
    ).select(*keys)
    kept = (
        exploded.join(keep_keys, on=list(keys), how="leftsemi")
        .groupBy(*kcols)
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("__ids"))
    )
    ids = F.col("__ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_l"), y.alias("id_r")),
            ),
        )
    )
    return (
        kept.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_l").alias("id_l"), F.col("p.id_r").alias("id_r"))
        .dropDuplicates(["id_l", "id_r"])
    )


def _minhash_h1h2(s: Column) -> tuple[Column, Column]:
    """One md5 per shingle -> two independent 60-bit halves, reduced mod
    the Mersenne prime. DuckDB replays via CAST('0x'||substr(md5,..)...)."""
    hx = F.md5(s)
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long") % MINHASH_PRIME
    h2 = F.conv(F.substring(hx, 16, 15), 16, 10).cast("long") % MINHASH_PRIME
    return h1, h2


def minhash_signature(
    text: Column, *, num_perm: int = 32, shingle_k: int = 3
) -> Column:
    """MinHash signature as array<bigint> of length ``num_perm``.

    Broder-style universal hashing: each shingle is md5-hashed ONCE into
    two 60-bit halves (h1, h2); permutation *i* is min over
    ``(h1 + i*h2) mod (2^31-1)``. One hash per shingle instead of
    num_perm hashes — ~num_perm× less hashing and a fraction of the
    generated code vs the seeded-md5-per-permutation form. Computed
    entirely inside a row projection — no explode, no shuffle.
    """
    sh = F.array_distinct(_shingles(text, shingle_k))
    # Hash each shingle once up front, then derive every permutation by
    # affine arithmetic. transform() keeps codegen to a loop rather than
    # num_perm inlined md5-min copies (which overflow the 64KB codegen
    # method limit and fall back ~20x slower interpreted).
    def _pair(s: Column) -> Column:
        h1, h2 = _minhash_h1h2(s)
        return F.struct(h1.alias("h1"), h2.alias("h2"))

    seeds = F.sequence(F.lit(0), F.lit(num_perm - 1))
    # let-bind the hashed-pair array: referenced from inside the seeds
    # lambda, it would otherwise re-run the md5 pipeline over every
    # shingle once PER PERMUTATION (num_perm x) — Catalyst does not CSE
    # through higher-order-function lambdas (functions/expr.py).
    return _let(
        F.transform(sh, _pair),
        lambda pairs: F.transform(
            seeds,
            lambda seed: F.array_min(
                F.transform(
                    pairs,
                    lambda p: (p["h1"] + seed.cast("long") * p["h2"])
                    % MINHASH_PRIME,
                )
            ),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_perm: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
    base: Optional[DataFrame] = None,
    max_bucket: Optional[int] = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact Jaccard verification.

    Plan shape (scale-reviewed):
      1. one narrow projection: signature + distinct shingle set per doc
      2. explode ``bands`` band-keys per doc (md5 of the band's slice)
      3. self-join on (band, key)  -> candidate pairs (the only wide op;
         AQE handles skewed buckets)
      4. exact Jaccard on the pre-computed shingle arrays, filter, dedup.

    ``max_bucket`` caps the (band, key) bucket size before the self-join
    (default :data:`DEFAULT_MAX_BUCKET`): one band bucket holding a
    million boilerplate near-clones is O(bucket²) candidates — the
    degenerate case that goes quadratic at 100 TB. Dropped bucket/pair
    counts are logged, never silent; ``None`` restores exact uncapped
    semantics (identical output whenever no bucket exceeds the cap,
    which is what the DuckDB oracle replays).

    Returns (id_l, id_r, jaccard) with id_l < id_r, jaccard rounded to 6.
    """
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm, "bands must divide num_perm"

    if base is None:
        base = shingle_base(df, text_col, id_col, shingle_k=shingle_k)

    # Signatures via explode + num_perm codegen'd min-aggregates. The
    # obvious alternative — nested transform() lambdas per row — runs
    # interpreted (higher-order functions never enter whole-stage codegen)
    # and is ~100x slower; the explode/agg shape also gets map-side partial
    # aggregation, so the shuffle carries one row per doc. Each shingle is
    # md5-hashed ONCE (h1, h2) and the permutations are cheap affine
    # transforms (h1 + i*h2) mod p — see minhash_signature.
    s = F.col("s")
    h1, h2 = _minhash_h1h2(s)
    exploded = base.select("__id", F.explode("__sh").alias("s")).select(
        "__id", h1.alias("h1"), h2.alias("h2")
    )
    sig_cols = [
        F.min((F.col("h1") + F.lit(i) * F.col("h2")) % MINHASH_PRIME).alias(
            f"__m{i}"
        )
        for i in range(num_perm)
    ]
    sigs = exploded.groupBy("__id").agg(*sig_cols)

    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"__m{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        F.col("__id"), F.posexplode(band_keys).alias("band", "key")
    )
    # Pipeline-break before the verify join — same rationale as in
    # ngram_jaccard_pairs (a lazy candidate subplan degrades the combined
    # join order/strategy badly).
    if max_bucket is not None:
        # capped default: one groupBy-collect generates bucket pairs
        # directly (no histogram, no self-join), cap-bounded expansion
        cand = pipeline_break(
            _bucket_pairs(
                banded, ["band", "key"], "__id", max_bucket,
                "minhash_lsh_pairs",
            )
        )
    else:
        # uncapped-exact path: self-join spills where an unbounded
        # bucket array would not; materialize the band relation once
        # since both join sides consume it
        banded = pipeline_break(banded)
        left = banded.select(
            F.col("band"), F.col("key"), F.col("__id").alias("id_l")
        )
        right = banded.select(
            F.col("band"), F.col("key"), F.col("__id").alias("id_r")
        )
        cand = pipeline_break(
            left.join(right, on=["band", "key"])
            .filter(F.col("id_l") < F.col("id_r"))
            .select("id_l", "id_r")
            .dropDuplicates(["id_l", "id_r"])
        )

    sh = base.select(F.col("__id"), F.col("__sh"))
    joined = (
        _maybe_floor_candidates(cand, base)
        .join(sh.withColumnsRenamed({"__id": "id_l", "__sh": "sh_l"}), on="id_l")
        .join(sh.withColumnsRenamed({"__id": "id_r", "__sh": "sh_r"}), on="id_r")
    )
    inter = F.size(F.array_intersect(F.col("sh_l"), F.col("sh_r")))
    union = F.size(F.array_union(F.col("sh_l"), F.col("sh_r")))
    jac = F.round(inter / F.greatest(union, F.lit(1)).cast("double"), 6)
    return (
        joined.select("id_l", "id_r", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard similarity join (exact, sampled candidate generation)
# ---------------------------------------------------------------------------
def sampled_shingle_candidates(
    base: DataFrame,
    *,
    sample_hex_prefix: str = "0",
    max_bucket: Optional[int] = DEFAULT_MAX_BUCKET,
    op_name: str = "sampled_shingle_candidates",
) -> DataFrame:
    """Materialized candidate pairs (id_l < id_r) sharing a sampled
    shingle — the stage :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs` have in common. Exposed so pipelines
    that verify SEVERAL similarity measures over one corpus (Jaccard +
    containment is the classic pairing) build the candidate relation
    ONCE and pass it to each verifier via their ``candidates``
    parameter (guide §2.4 — share the exchange, don't re-run the
    explode+hash+group pass per measure). The caller must hold
    ``shingle_k``/``sample_hex_prefix``/``max_bucket`` fixed across
    consumers — candidates are a pure function of those plus the base.

    Candidate generation on EXPLODED rows: md5 + prefix filter run in
    whole-stage codegen there, vs interpreted lambda eval inside a
    higher-order transform(). __sh is already distinct per doc, so the
    (id, hash) relation needs no dedup shuffle. The result is
    materialized eagerly: leaving it lazy hands the optimizer one giant
    (self-join ⋈ sh ⋈ sh) plan whose join order/strategy degrades badly
    (measured 128s vs 12s at sf0.1 on local[32]); a pipeline break with
    known sizes keeps the verify join a plain broadcast/hash join over
    the real candidate count.
    """
    sampled = (
        base.select("__id", F.explode("__sh").alias("s"))
        .select("__id", F.md5("s").alias("shash"))
        .filter(F.col("shash").startswith(sample_hex_prefix))
    )
    if max_bucket is not None:
        # capped default: one groupBy-collect generates bucket pairs
        # directly (no histogram, no self-join), cap-bounded expansion
        return pipeline_break(
            _bucket_pairs(
                sampled, ["shash"], "__id", max_bucket, op_name
            )
        )
    return pipeline_break(
        sampled.alias("a")
        .join(sampled.alias("b"), on="shash")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_l"), F.col("b.__id").alias("id_r"))
        .dropDuplicates(["id_l", "id_r"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    sample_hex_prefix: str = "0",
    threshold: float = 0.5,
    base: Optional[DataFrame] = None,
    candidates: Optional[DataFrame] = None,
    max_bucket: Optional[int] = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing a *sampled* shingle.

    Deterministic sampling: a shingle is a candidate generator iff
    md5(shingle) starts with ``sample_hex_prefix`` (1/16 of shingles per
    hex char). Pairs sharing any sampled shingle get exact verification.
    Recall trades off with join fan-out via the prefix length — at 100 TB
    use 2-3 hex chars; candidate generation stays one equi-join on a
    pruned, deduplicated (shingle_hash, id) relation.

    ``max_bucket`` is the second scale knob: drop shingle buckets with more
    than this many documents before the self-join. Ultra-common shingles
    ("the of the") produce O(bucket²) candidates that almost never certify
    at meaningful thresholds — true near-dups share many rarer shingles.
    Defaults to :data:`DEFAULT_MAX_BUCKET` (capped-by-default; dropped
    bucket/pair counts are logged — never silent). Pass ``None`` for the
    exact uncapped semantics the DuckDB oracle replays; output is
    identical whenever no bucket exceeds the cap.

    ``candidates``: a pre-built :func:`sampled_shingle_candidates`
    relation over the SAME base/prefix/cap — pass it when several
    similarity measures verify the same corpus (e.g. together with
    :func:`containment_pairs`) so candidate generation runs once.
    """
    if base is None:
        base = shingle_base(df, text_col, id_col, shingle_k=shingle_k)
    cand = (
        candidates
        if candidates is not None
        else sampled_shingle_candidates(
            base,
            sample_hex_prefix=sample_hex_prefix,
            max_bucket=max_bucket,
            op_name="ngram_jaccard_pairs",
        )
    )
    sh = base.select(F.col("__id"), F.col("__sh"))
    joined = (
        _maybe_floor_candidates(cand, base)
        .join(sh.withColumnsRenamed({"__id": "id_l", "__sh": "sh_l"}), on="id_l")
        .join(sh.withColumnsRenamed({"__id": "id_r", "__sh": "sh_r"}), on="id_r")
    )
    inter = F.size(F.array_intersect(F.col("sh_l"), F.col("sh_r")))
    union = F.size(F.array_union(F.col("sh_l"), F.col("sh_r")))
    jac = F.round(inter / F.greatest(union, F.lit(1)).cast("double"), 6)
    return joined.select("id_l", "id_r", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    sample_hex_prefix: str = "0",
    threshold: float = 0.8,
    base: Optional[DataFrame] = None,
    candidates: Optional[DataFrame] = None,
    max_bucket: Optional[int] = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """ASYMMETRIC containment pairs: C(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|.

    Jaccard misses the quote/excerpt case — a short document fully
    copied into a much longer one has high containment but low Jaccard
    (the union is dominated by the long side). This is the signal for
    partial-copy dedup, quote detection, and benchmark-passage leakage
    where the passage rides inside a larger page.

    Same scale shape as :func:`ngram_jaccard_pairs` (shared sampled-
    shingle candidate generation, ``max_bucket`` cap, eager pipeline
    breaks, same ``candidates`` sharing hook); verification computes
    containment in BOTH directions on the pre-computed distinct-shingle
    arrays. A pair survives when either direction reaches
    ``threshold``.

    Returns (id_l, id_r, cont_l_in_r, cont_r_in_l) with id_l < id_r,
    values rounded to 6.
    """
    if base is None:
        base = shingle_base(df, text_col, id_col, shingle_k=shingle_k)
    cand = (
        candidates
        if candidates is not None
        else sampled_shingle_candidates(
            base,
            sample_hex_prefix=sample_hex_prefix,
            max_bucket=max_bucket,
            op_name="containment_pairs",
        )
    )
    sh = base.select(F.col("__id"), F.col("__sh"))
    joined = (
        _maybe_floor_candidates(cand, base)
        .join(sh.withColumnsRenamed({"__id": "id_l", "__sh": "sh_l"}), on="id_l")
        .join(sh.withColumnsRenamed({"__id": "id_r", "__sh": "sh_r"}), on="id_r")
    )
    inter = F.size(F.array_intersect(F.col("sh_l"), F.col("sh_r")))
    c_l = F.round(
        inter / F.greatest(F.size("sh_l"), F.lit(1)).cast("double"), 6
    )
    c_r = F.round(
        inter / F.greatest(F.size("sh_r"), F.lit(1)).cast("double"), 6
    )
    return (
        joined.select(
            "id_l", "id_r",
            c_l.alias("cont_l_in_r"), c_r.alias("cont_r_in_l"),
        )
        .filter(
            F.greatest(F.col("cont_l_in_r"), F.col("cont_r_in_l"))
            >= threshold
        )
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------
def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    src_col: str = "id_l",
    dst_col: str = "id_r",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node with the minimum id reachable through the edge set.

    This is what turns a near-duplicate *pair* list into an actual dedup:
    rows sharing a component are one duplicate cluster and the component
    label (the cluster's min id) is its canonical representative.

    Algorithm: min-label propagation with pointer-jumping. Each round
    (1) every node takes the min of its own label and its neighbors'
    labels, then (2) shortcuts through the label table itself
    (``comp := comp(comp)``, path compression) — so a chain of length L
    needs O(log L) rounds, not O(L). (Plain propagation is
    O(diameter): a 30-node path graph — which a chained near-dup
    corpus really produces at small scale — blows the round budget.)
    Converged when no label changes. Labels only ever decrease and
    every label is a node id, so the fixpoint is exactly the
    per-component min id. Each round is two joins + one aggregation on
    the (|V|-row) label frame, lineage-truncated per round;
    deterministic regardless of partitioning. Raises after
    ``max_iter`` rounds (diameter > 2^25) instead of looping forever.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionAll(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
    )
    sym = pipeline_break(sym.dropDuplicates(["a", "b"]))

    labels = pipeline_break(
        nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("comp"))
    )
    for _ in range(max_iter):
        # neighbor labels: edge (a,b) sends comp(a) to b
        msgs = (
            sym.join(labels.withColumnsRenamed({"id": "a", "comp": "c"}), on="a")
            .select(F.col("b").alias("id"), F.col("c").alias("comp"))
        )
        prop = labels.unionAll(msgs).groupBy("id").agg(
            F.min("comp").alias("comp")
        )
        # pointer-jump: comp := comp(comp). Every comp value is itself a
        # node id, so the lookup always hits; left+coalesce guards the
        # (impossible-by-invariant) miss rather than dropping the row.
        jump = prop.select(
            F.col("id").alias("__jid"), F.col("comp").alias("__jcomp")
        )
        new_labels = pipeline_break(
            prop.join(jump, on=prop["comp"] == jump["__jid"], how="left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("__jcomp", "comp")
                ).alias("comp"),
            )
        )
        changed = (
            new_labels.join(
                labels.withColumnsRenamed({"comp": "old"}), on="id"
            )
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def incremental_connected_components(
    base_labels: DataFrame,
    new_edges: DataFrame,
    *,
    id_col: str = "id",
    comp_col: str = "comp",
    src_col: str = "id_l",
    dst_col: str = "id_r",
    max_iter: int = 25,
) -> DataFrame:
    """Fold a batch of new near-dup edges into an existing component
    labeling WITHOUT recomputing components from scratch — the
    maintenance mode that keeps dedup clusters current as a crawl
    streams in. ``base_labels`` is a (id, comp) frame whose comp values
    are per-component min ids (the :func:`connected_components`
    fixpoint — canonical, so incremental and from-scratch labelings are
    IDENTICAL frames, which is exactly what the q160 oracle checks).

    Algorithm (contract-to-component-graph):

    1. label the batch's vertices: existing comp, or own id for ids the
       base has never seen;
    2. translate each new edge into label space — edges whose endpoints
       already share a component vanish here;
    3. run full CC on the surviving label graph (bounded by the BATCH
       size, never the base);
    4. apply the (old comp -> new comp) mapping — only strictly-changed
       entries — back over the base labeling.

    100 TB shape: the base frame is never shuffled — every join against
    it builds on the batch-sized side (vertex semi-join, anti-probe of
    known ids, final mapping), so AQE broadcasts them and the base
    streams map-side. Per-batch cost is O(batch) plus one broadcast-
    mapped pass over the base labels; the inner CC runs on a graph no
    larger than the batch's endpoint set.

    Returns the complete new labeling (``id_col``, ``comp_col``)
    covering every base id plus every id the batch introduced.
    """
    ids = F.col(id_col)
    base = base_labels.select(
        ids.alias("id"), F.col(comp_col).alias("comp")
    )
    batch_nodes = (
        new_edges.select(F.col(src_col).alias("id"))
        .unionAll(new_edges.select(F.col(dst_col).alias("id")))
        .distinct()
    )
    batch_nodes = pipeline_break(batch_nodes)
    # labels for batch vertices: base streams, batch broadcasts
    known = base.join(F.broadcast(batch_nodes), on="id", how="leftsemi")
    known = pipeline_break(known)
    fresh = batch_nodes.join(
        F.broadcast(known.select("id")), on="id", how="left_anti"
    ).select("id", F.col("id").alias("comp"))
    batch_labels = pipeline_break(known.unionAll(fresh))

    lab_l = batch_labels.withColumnsRenamed(
        {"id": "__sl", "comp": "__cl"}
    )
    lab_r = batch_labels.withColumnsRenamed(
        {"id": "__sr", "comp": "__cr"}
    )
    merge_edges = (
        new_edges.select(
            F.col(src_col).alias("__sl"), F.col(dst_col).alias("__sr")
        )
        .join(F.broadcast(lab_l), on="__sl")
        .join(F.broadcast(lab_r), on="__sr")
        .filter(F.col("__cl") != F.col("__cr"))
        .select(F.col("__cl").alias("id_l"), F.col("__cr").alias("id_r"))
        .distinct()
    )
    merge_nodes = batch_labels.select(F.col("comp").alias("id")).distinct()
    mapping = connected_components(
        merge_nodes, merge_edges, max_iter=max_iter
    ).withColumnsRenamed({"id": "__old", "comp": "__new"})
    changed = mapping.filter(F.col("__old") != F.col("__new"))
    changed = pipeline_break(changed)

    def apply_mapping(labels: DataFrame) -> DataFrame:
        return labels.join(
            F.broadcast(changed),
            on=labels["comp"] == changed["__old"],
            how="left",
        ).select(
            F.col("id").alias(id_col),
            F.coalesce("__new", "comp").alias(comp_col),
        )

    return apply_mapping(base).unionAll(apply_mapping(fresh))


def neardup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "id",
) -> DataFrame:
    """Duplicate clusters from a near-dup pair list:
    (component, n_members) for every component with >= 2 members. The
    component id doubles as the keep-representative (cluster min id)."""
    comp = connected_components(nodes, pairs, id_col=id_col)
    return (
        comp.groupBy("comp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .filter(F.col("n_members") >= 2)
        .select(F.col("comp").alias("component"), "n_members")
    )


def dedup_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Drop every near-duplicate except its cluster representative.

    Keeps exactly one row (the min id) per connected component of the
    pair graph; rows untouched by any pair survive unchanged.
    """
    comp = connected_components(df, pairs, id_col=id_col)
    keep = comp.filter(F.col("id") == F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="leftsemi")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Near-dup dedup that keeps the BEST row per cluster, not the
    min-id one: among each connected component of the pair graph the
    row with the highest ``score_col`` survives (ties -> smallest id).
    The curation semantics: near-duplicate web pages keep the longest /
    highest-quality variant, not an arbitrary representative.

    Plan: the component labeling (one iterative job, see
    :func:`connected_components`), one per-component argmax aggregate
    (max over (score, -id) structs — deterministic, partial-aggregated
    map-side), one semi-join back. ``score_col`` must be numeric and
    non-null."""
    comp = connected_components(df, pairs, id_col=id_col)
    scored = df.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("__s")
    ).join(comp, on="id")
    best = scored.groupBy("comp").agg(
        F.max(
            F.struct(F.col("__s").alias("s"), (-F.col("id")).alias("negid"))
        ).alias("__b")
    )
    keep = best.select((-F.col("__b.negid")).alias(id_col))
    return df.join(keep, on=id_col, how="leftsemi")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def _simhash_batch(texts: pd.Series) -> pd.Series:
    """numpy-vectorized SimHash REFERENCE kernel.

    No production path calls this anymore (with_simhash always routes
    through the Column-expression :func:`simhash_agg`); it stays as an
    independent implementation for differential tests of the agg path.

    Per text the 64-bit unpack + majority vote is a single numpy bit-matrix
    reduction; only the per-token md5 stays in Python (hashlib releases the
    GIL and dominates far less than the old per-bit loop did).
    """
    import hashlib

    import numpy as np

    powers = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    out = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        toks = str(t).split()
        if not toks:
            out.append(0)
            continue
        hs = np.frombuffer(
            b"".join(hashlib.md5(tok.encode("utf-8")).digest()[:8] for tok in toks),
            dtype=">u8",
        ).astype(np.uint64)
        # tokens×64 bit matrix -> per-bit set-count -> majority
        bits = (hs[:, None] & powers[None, :]) != 0
        flags = 2 * bits.sum(axis=0) > len(toks) * 1  # acc_b > 0
        v = int(powers[flags].sum(dtype=np.uint64))
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return pd.Series(out, dtype="object")


simhash_udf = F.pandas_udf(_simhash_batch, LongType())


def simhash_agg(
    df: DataFrame, text_col: str, id_col: str, *, out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash via explode + 64 codegen'd majority aggregates.

    Same fingerprint as :func:`_simhash_batch` (md5 token hashes,
    sign-majority bits, signed-64 result) but expressed entirely in
    Column expressions: tokens explode, each row derives the two 32-bit
    halves of its md5-prefix hash once, and 64 conditional sums (map-side
    partial agg) vote per bit. Zero Python in the hot path, and every
    step replays exactly in the DuckDB oracle.

    Docs with no tokens get simhash 0; NULL text stays NULL — identical
    to the kernel's semantics.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    expl = (
        df.select(F.col(id_col).alias("__sid"), F.explode(toks).alias("__tok"))
        .filter(F.col("__tok") != "")
    )
    hexh = F.md5(F.col("__tok"))
    hi = F.conv(F.substring(hexh, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hexh, 9, 8), 16, 10).cast("long")
    halved = expl.select("__sid", hi.alias("__hi"), lo.alias("__lo"))

    def bit(b: int) -> Column:
        src = F.col("__lo") if b < 32 else F.col("__hi")
        return F.shiftright(src, b % 32).bitwiseAND(F.lit(1))

    votes = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"__a{b}")
        for b in range(64)
    ]
    agg = halved.groupBy("__sid").agg(*votes)
    # assemble signed 64-bit: bit 63 contributes Long.MIN_VALUE (Java
    # shiftleft overflow semantics match the kernel's two's-complement fold)
    terms = [
        F.when(F.col(f"__a{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b))
        .otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    sigs = agg.select(F.col("__sid"), total.alias("__sim64"))

    keyed = df.join(
        sigs, on=F.col(id_col) == F.col("__sid"), how="left"
    ).drop("__sid")
    return keyed.withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("long")).otherwise(
            F.coalesce(F.col("__sim64"), F.lit(0).cast("long"))
        ),
    ).drop("__sim64")


def with_simhash(
    df: DataFrame,
    text_col: str,
    out_col: str = "simhash",
    *,
    id_col: Optional[str] = None,
) -> DataFrame:
    """64-bit SimHash per document (md5 token hashes, sign-majority bits).

    The signature is always computed by :func:`simhash_agg` — pure
    Column expressions, whole-stage codegen, oracle-replayable (VERDICT
    r7 item #8: the old no-id path ran a separate Arrow-UDF kernel).
    Without ``id_col`` a synthetic row id is stamped and dropped; the
    frame is materialized first (``monotonically_increasing_id`` is
    nondeterministic, and the agg's join-back would otherwise see
    different ids on each side of the self-join).
    """
    if id_col is not None:
        return simhash_agg(df, text_col, id_col, out_col=out_col)
    stamped = pipeline_break(
        df.withColumn("__wsid", F.monotonically_increasing_id())
    )
    return simhash_agg(
        stamped, text_col, "__wsid", out_col=out_col
    ).drop("__wsid")


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, bucketed by bit-bands.

    Pigeonhole: two hashes within ``max_hamming`` (< 64/band_bits) share at
    least one exact band of ``band_bits`` bits -> candidate join per band.
    """
    n_bands = 64 // band_bits
    h = with_simhash(
        df.select(F.col(id_col).alias("__id"), F.col(text_col)),
        text_col,
        id_col="__id",
    )
    mask = (1 << band_bits) - 1
    bands = h.select(
        "__id",
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "simhash", F.col("b.band").alias("band"), F.col("b.key").alias("key"))

    left = bands.select("band", "key", F.col("__id").alias("id_l"), F.col("simhash").alias("h_l"))
    right = bands.select("band", "key", F.col("__id").alias("id_r"), F.col("simhash").alias("h_r"))
    cand = (
        left.join(right, on=["band", "key"])
        .filter(F.col("id_l") < F.col("id_r"))
        .dropDuplicates(["id_l", "id_r"])
    )
    ham = F.bit_count(F.col("h_l").bitwiseXOR(F.col("h_r")))
    return cand.select("id_l", "id_r", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------
def incremental_dedup(
    incoming: DataFrame,
    base: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    sample_hex_prefix: str = "0",
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup an INCOMING batch against an already-curated BASE corpus —
    the production ingestion mode at scale: the base is never re-deduped,
    only the (much smaller) delta is checked against it.

    Two passes, both incoming-sized:
      1. exact: normalized-content md5 anti-join against the base's key
        set (a narrow projection of the base — at 100 TB this key set is
        a fraction of corpus bytes, and the anti-join shuffles keys, not
        documents);
      2. near-dup: sampled-shingle candidates BETWEEN incoming and base
        (equi-join on the shingle hash, never a self-join of the base),
        exact-Jaccard verification, then anti-join the certified
        near-dup incoming ids away.

    Returns the surviving incoming rows (schema preserved).
    """
    norm_key = F.md5(
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    )
    base_keys = base.select(norm_key.alias("__ck")).distinct()
    exact_kept = pipeline_break(
        incoming.withColumn("__ck", norm_key)
        .join(base_keys, "__ck", "left_anti")
        .drop("__ck")
    )

    bi = shingle_base(exact_kept, text_col, id_col, shingle_k=shingle_k)
    bb = shingle_base(base, text_col, id_col, shingle_k=shingle_k)

    def _sampled(b: DataFrame, out_id: str) -> DataFrame:
        s = b.select(
            F.col("__id").alias(out_id), F.explode("__sh").alias("s")
        ).select(out_id, F.md5("s").alias("shash"))
        if sample_hex_prefix:
            s = s.filter(F.col("shash").startswith(sample_hex_prefix))
        return s.dropDuplicates([out_id, "shash"])

    cand = pipeline_break(
        _sampled(bi, "id_i")
        .join(_sampled(bb, "id_b"), "shash")
        .select("id_i", "id_b")
        .dropDuplicates(["id_i", "id_b"])
    )
    joined = (
        cand.join(
            bi.withColumnsRenamed({"__id": "id_i", "__sh": "sh_i"}), "id_i"
        )
        .join(
            bb.withColumnsRenamed({"__id": "id_b", "__sh": "sh_b"}), "id_b"
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_i"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_i"), F.col("sh_b")))
    jac = inter / F.greatest(union, F.lit(1)).cast("double")
    dup_ids = (
        joined.filter(F.round(jac, 6) >= threshold)
        .select(F.col("id_i").alias(id_col))
        .distinct()
    )
    return exact_kept.join(dup_ids, id_col, "left_anti")


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.7,
    lowercase: bool = True,
    scale: int = 6,
) -> DataFrame:
    """EXACT token-set Jaccard self-join via prefix filtering (the
    PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008): unlike
    the sampled-shingle join (``ngram_jaccard_pairs``, probabilistic
    recall) and MinHash-LSH (tunable recall), this returns *every* pair
    with Jaccard >= ``threshold`` — no false negatives — while still
    never forming all pairs.

    The filter: order each document's DISTINCT tokens by ascending
    corpus document-frequency (rarest first; ties by token).  If
    J(x, y) >= t, the intersection has > |x| - p_x tokens where
    ``p_x = |x| - ceil(t*|x|) + 1`` — so some intersection token lies
    in x's first ``p_x`` tokens, and symmetrically for y: every
    qualifying pair shares a token in BOTH prefixes.  Join only the
    exploded prefixes (rarest tokens -> smallest buckets, the reason
    for the df ordering), add the length filter
    ``t*|x| <= |y| <= |x|/t``, then verify exact Jaccard on the full
    sets.

    Scale shape: one token-frequency aggregate (Zipf-bounded dictionary
    shuffle, AQE-broadcast back), one prefix-token equi-join whose
    buckets are small by construction, one exact verify on candidates.
    All deterministic — the DuckDB oracle checks it against an
    INDEPENDENT brute-force all-shared-token join, which also proves
    the no-false-negative claim on real data.

    Returns (id_l, id_r, jaccard) with id_l < id_r.
    """
    from pyspark.sql import Window

    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.split(F.trim(t.cast("string")), r"\s+")).alias(
                "tok"
            ),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    sizes = toks.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    # rank each doc's tokens rarest-first; keep the prefix
    ordered = (
        toks.join(dfreq, on="tok")
        .join(sizes, on="__id")
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(
                    F.col("__df").asc(), F.col("tok").asc()
                )
            ),
        )
    )
    thr = F.lit(float(threshold))
    prefix = ordered.filter(
        F.col("__rk") <= F.col("__n") - F.ceil(thr * F.col("__n")) + 1
    ).select("tok", "__id", "__n")
    cand = (
        prefix.alias("l")
        .join(prefix.alias("r"), on="tok")
        .filter(
            (F.col("l.__id") < F.col("r.__id"))
            & (F.col("r.__n") * thr <= F.col("l.__n"))
            & (F.col("l.__n") * thr <= F.col("r.__n"))
        )
        .select(
            F.col("l.__id").alias("id_l"), F.col("r.__id").alias("id_r")
        )
        .distinct()
    )
    sets = toks.groupBy("__id").agg(
        F.array_sort(F.collect_list("tok")).alias("__set")
    )
    joined = (
        cand.join(
            sets.select(
                F.col("__id").alias("id_l"), F.col("__set").alias("s_l")
            ),
            on="id_l",
        )
        .join(
            sets.select(
                F.col("__id").alias("id_r"), F.col("__set").alias("s_r")
            ),
            on="id_r",
        )
    )
    inter = F.size(F.array_intersect(F.col("s_l"), F.col("s_r")))
    union = F.size(F.array_union(F.col("s_l"), F.col("s_r")))
    # filter on the UNROUNDED ratio so the 'every pair with Jaccard >=
    # threshold' contract holds for thresholds off the rounding grid;
    # round only the returned display column (ADVICE r3)
    return (
        joined.withColumn("__jraw", inter / union)
        .filter(F.col("__jraw") >= threshold)
        .select(
            "id_l", "id_r", F.round(F.col("__jraw"), scale).alias("jaccard")
        )
    )


# ---------------------------------------------------------------------------
# Document novelty scoring — per-doc contribution of first-seen shingles
# ---------------------------------------------------------------------------
def novelty_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    hash_key: bool = True,
) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct word
    ``shingle_k``-gram shingles whose FIRST occurrence in the corpus
    (minimum ``id_col``) is this document. Boilerplate-heavy and
    near-duplicate documents score near 0; genuinely new content scores
    near 1 — a cheap, fully deterministic data-selection signal that
    complements pairwise dedup (it quantifies marginal contribution
    instead of membership in a duplicate pair). With ids assigned in
    crawl/ingest order this is exactly "novel vs everything ingested
    before me".

    Returns (doc_id, n_shingles INT — distinct shingles in the doc,
    n_novel INT — distinct keys whose corpus-wide first occurrence is
    this doc, novelty DOUBLE rounded to 6).

    Scale shape — NO shingle-keyed join: ``n_novel`` is an aggregate of
    an aggregate (min-doc per shingle key, then count per winning doc),
    and ``n_shingles`` is a pure per-row projection, so the only wide
    ops are the shingle-keyed min-agg (map-side partial combine) and a
    doc-keyed join of two doc-sized frames (AQE broadcasts the novel
    side when small). The first cut joined the exploded pair frame back
    onto the min-agg on the shingle key — that re-shuffled every pair
    row AND re-computed the shingle explode on both sides of the join;
    this shape is 5.5x faster at sf0.1 (19.0s -> 3.4s) and moves
    corpus-scale data through exactly one exchange. ``hash_key=True``
    (default) reduces the shuffle key to a 60-bit md5-derived integer
    (the engine's standard replayable hash, cf. ``_shingle_hash``) so
    it moves 8-byte keys instead of raw shingle strings; a collision
    (~n^2/2^60) can only merge two shingle keys — identically so in the
    DuckDB oracle, which replays the same hash.
    """
    sh_arr = F.array_distinct(
        _shingles_from_tokens(F.col("__toks"), shingle_k)
    )
    # materialize the token split once (multi-referenced inside the
    # shingle transform lambda — functions/expr.py)
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        _tokens(F.col(text_col)).alias("__toks"),
    )
    if hash_key:
        key = F.conv(F.substring(F.md5(F.col("__sh")), 1, 15), 16, 10).cast(
            "long"
        )
    else:
        key = F.col("__sh")
    pairs = toked.select(
        "doc_id", F.explode(sh_arr).alias("__sh")
    ).select("doc_id", key.alias("__k"))
    novel = (
        pairs.groupBy("__k")
        .agg(F.min("doc_id").alias("__first"))
        .groupBy("__first")
        .agg(F.count(F.lit(1)).cast("int").alias("n_novel"))
    )
    per_doc = toked.select(
        "doc_id", F.size(sh_arr).cast("int").alias("n_shingles")
    )
    return (
        per_doc.join(
            novel, per_doc.doc_id == novel.__first, "left"
        )
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("int").alias(
                "n_novel"
            ),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_shingles"),
                6,
            ).alias("novelty"),
        )
    )


def duplicate_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 40,
    sample: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate SUBSTRING spans — the character-level
    dedup signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"): verbatim regions repeated across
    documents (licenses, boilerplate, templated paragraphs) that
    document-level and even near-dup dedup leave untouched, and that
    measurably degrade LMs. Returns one row per merged duplicate
    region: ``(id, s, e)`` with ``[s, e)`` 1-based CHARACTER positions
    into the document (slice with ``substr(text, s, e - s)``).

    Relation to ``operators/curation.py::duplicated_spans``: that
    operator works at WORD-n-gram granularity with a corpus-wide
    occurrence count (>= min_count, self-repeats included) and reports
    token statistics; this one is character-exact (catches duplicates
    that cross word boundaries or differ in tokenization), counts
    DISTINCT documents, emits sliceable char spans, and its removal
    twin :func:`remove_duplicate_substrings` implements the paper's
    remove-all-but-one policy that the word-gram variant deliberately
    approximates with remove-everywhere.

    The reference algorithm builds a corpus-wide suffix array — exact,
    but a single-machine data structure. The distributed-friendly
    standard is content-sampled fingerprinting (Manber 1994's
    approximate fingerprints; the mod-p variant of winnowing,
    Schleimer et al. 2003 §2): fingerprint EVERY k-char window (stride
    1 — alignment falls out of content addressing, not offsets), keep
    the deterministic 1/``sample`` subset ``fp % sample == 0``
    (selection depends only on the WINDOW CONTENT, so the same
    substring selects the same fingerprints in every document —
    alignment-robust where fixed-stride sampling is not), census the
    kept fingerprints for ones appearing in >= ``min_docs`` distinct
    documents, and merge each document's matched windows into maximal
    spans with the SQL-islands fold.

    Detection guarantee is probabilistic per CONTENT (not per
    occurrence): a duplicated region of length L >= k contains
    L - k + 1 windows and is missed only if none of them selects —
    P(miss) = (1 - 1/sample)^(L-k+1) for uniformly hashed content
    (k=40, sample=8, L=120: ~2e-5), and deterministically: a given
    substring either matches in EVERY document that contains it or in
    none (selection is content-keyed), so the miss never splits a
    duplicate group. With ``sample=1`` every window is selected and the
    spans are exact up to 63-bit fingerprint collisions.

    This IS :func:`incremental_substring_spans` over an empty index:
    the whole corpus is the batch. The empty index is a relation the
    optimizer can see is empty, so ``PropagateEmptyRelation`` folds the
    index join away and the plan is the batch-only census.

    100 TB shape: Scan -> the Arrow rolling-hash kernel with the
    1/sample filter inside it — one streamed pass; only the selected
    (id, p, fp) rows leave the kernel. Then one fp-keyed census
    (map-side combine), one fp-keyed join back, and one id-keyed
    window for the islands — three bounded shuffles, no self-join,
    nothing quadratic. The honest cost of substring-level dedup is the
    per-character fingerprint pass; the suffix-array alternative is
    O(bytes) memory on one machine.

    Determinism: integer rolling-hash fingerprints, integer modulus
    selection, islands over (id, position) total order —
    layout-independent end to end; the q192 DuckDB oracle replays every
    stage bit-for-bit.
    """
    return incremental_substring_spans(
        df, _empty_fp_index(df.sparkSession, k=k, sample=sample),
        id_col, text_col, k=k, sample=sample, min_docs=min_docs,
    )


def _selected_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int,
    sample: int,
) -> DataFrame:
    """The streamed fingerprint pass shared by ALL substring-dedup
    operators: ``(__id, __p, __fp)`` for every content-selected window
    (``fp % sample == 0``).

    The fingerprint is a 63-bit polynomial rolling hash computed by an
    Arrow ``mapInPandas`` kernel (:func:`_rolling_selected_positions`):
    O(1) amortized multiply-adds per character, where hashing each
    window's k chars would push ~k× corpus bytes through the hash. A
    window's fingerprint depends only on its k chars, so a duplicated
    substring selects identically in every document. The hash is pure
    integer arithmetic mod 2^63, so the DuckDB oracles replay it
    bit-for-bit as an exact HUGEINT sum over a precomputed B-powers
    table. :func:`_fp_spec` names the fingerprint space, and every
    stored index carries that name.
    """
    if k < 2:
        raise ValueError("duplicate substring ops: k must be >= 2")
    if sample < 1:
        raise ValueError("duplicate substring ops: sample must be >= 1")
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).cast("string").alias("__t"),
    ).filter(F.length("__t") >= k)
    # Parallelism floor (optimization guide §2.5 input skew / §6): the
    # fingerprint pass amplifies CPU ~k× over its input bytes, so it
    # must never be pinned to a degenerate scan split count (one small
    # single-row-group file = ONE task doing the whole corpus's
    # hashing). Repartition ONLY when the input has fewer partitions
    # than the cluster's defaultParallelism — a no-op on a real
    # many-split 100 TB scan. (``.rdd`` on a scan-rooted plan is free;
    # on a mid-pipeline AQE frame it materializes upstream stages once
    # — same caveat as _cpu_floor_repartition.)
    sc = df.sparkSession.sparkContext
    if base.rdd.getNumPartitions() < sc.defaultParallelism:
        base = base.repartition(sc.defaultParallelism)
    sel = _rolling_selected_positions(base, k=k, sample=sample)
    # One fp-keyed exchange here makes every downstream consumer (the
    # distinct-doc census, the dup-fp equi join probe, the keeper
    # election) hang off the SAME shuffle: Spark's exchange/stage reuse
    # then executes the fingerprint pass ONCE per operator instead of
    # once per consumer (guide §2.4 — the census + probe shape was
    # measured re-running the whole fingerprint subtree 2-4x). At
    # scale this shuffles the selected (id, p, fp) rows — ~24 bytes per
    # kept window — once, in exchange for never re-hashing the corpus.
    return sel.repartition("__fp")


#: odd base for the polynomial rolling hash (odd => invertible mod
#: 2^64, which is what lets the windowed hash be computed from prefix
#: sums with exact wraparound arithmetic)
_ROLL_B = 0x100000001B3  # the FNV-1a 64-bit prime, odd
_ROLL_BINV = pow(_ROLL_B, -1, 1 << 64)


def _rolling_selected_positions(
    base: DataFrame, *, k: int, sample: int
) -> DataFrame:
    """Arrow-batched rolling-hash variant of the fingerprint pass:
    h(w_i) = sum_j c[i+j] * B^(k-1-j) mod 2^64, masked to 63 bits.

    Instead of the sequential add-one-drop-one recurrence (which would
    be a Python loop), the window hash is computed in CLOSED FORM from
    numpy prefix sums: with T_i = sum_{j<=i} c[j] * Binv^j (Binv =
    B^-1 mod 2^64, exact because B is odd and uint64 wraps), h_i =
    (T_{i+k-1} - T_{i-2}) * B^{i+k-2} for 1-based i — three cumulative
    arrays and element-wise multiplies, all vectorized uint64. The
    1/sample selection filter runs INSIDE the kernel so only selected
    (id, p, fp) rows cross Arrow back to the JVM.

    Per-char cost is a handful of multiply-adds, not a k-char digest.
    """
    import numpy as np
    from pyspark.sql.types import StructType

    # output schema: (__id <input id type>, __p long, __fp long)
    out_schema = (
        StructType()
        .add("__id", base.schema["__id"].dataType)
        .add("__p", LongType())
        .add("__fp", LongType())
    )

    B = np.uint64(_ROLL_B)
    BINV = np.uint64(_ROLL_BINV)
    MASK63 = np.uint64((1 << 63) - 1)

    def kernel(batches):
        for pdf in batches:
            # Vectorize ACROSS documents (r11): one concatenated
            # codepoint array per Arrow batch instead of a per-doc
            # Python loop (measured: per-doc numpy-call overhead was
            # ~1 s over 15k short docs at sf0.1). The closed form works
            # unchanged with GLOBAL indices — h_g = (T[g+k-1] -
            # T[g-1]) * B^(g+k-1) telescopes to the same content-only
            # window hash — so the only doc-awareness needed is
            # dropping windows that straddle a document boundary.
            texts = [
                (i, str(t))
                for i, t in enumerate(pdf["__t"])
                if t is not None and len(str(t)) >= k
            ]
            if not texts:
                yield pd.DataFrame(
                    {"__id": [], "__p": [], "__fp": []}
                ).astype({"__p": "int64", "__fp": "int64"})
                continue
            joined = "".join(t for _, t in texts)
            c = np.frombuffer(
                joined.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            n = len(c)
            ipow = np.empty(n, dtype=np.uint64)
            ipow[0] = 1
            np.cumprod(np.full(n - 1, BINV, dtype=np.uint64),
                       out=ipow[1:])
            bpow = np.empty(n, dtype=np.uint64)
            bpow[0] = 1
            np.cumprod(np.full(n - 1, B, dtype=np.uint64),
                       out=bpow[1:])
            pref = np.cumsum(c * ipow, dtype=np.uint64)
            # 0-based global window start g in [0, n-k]:
            # h_g = (pref[g+k-1] - pref[g-1]) * B^(g+k-1)
            hi = pref[k - 1:]
            lo = np.concatenate(([np.uint64(0)], pref[: n - k]))
            h = ((hi - lo) * bpow[k - 1:]) & MASK63
            # document offsets: starts[d] = global start of doc d
            lens = np.fromiter(
                (len(t) for _, t in texts), dtype=np.int64, count=len(texts)
            )
            starts = np.concatenate(([0], np.cumsum(lens)))
            sel = h % np.uint64(sample) == 0
            gs = np.nonzero(sel)[0]
            # doc containing g, and in-doc window fit: g+k <= doc end
            d = np.searchsorted(starts, gs, side="right") - 1
            fit = gs + k <= starts[d + 1]
            gs, d = gs[fit], d[fit]
            orig_idx = np.fromiter(
                (i for i, _ in texts), dtype=np.int64, count=len(texts)
            )
            ids = pdf["__id"].to_numpy()[orig_idx[d]]
            yield pd.DataFrame(
                {
                    "__id": ids,
                    "__p": (gs - starts[d] + 1).astype("int64"),
                    "__fp": h[gs].astype(np.int64),
                }
            )

    return base.mapInPandas(kernel, schema=out_schema)


def _position_islands(hits: DataFrame, k: int) -> DataFrame:
    """SQL-islands merge of matched window positions into maximal
    ``(__id, s, e)`` spans (windows are [p, p+k))."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("__id").orderBy("__p")
    prev_end = F.max(F.col("__p") + F.lit(k)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_end.isNull() | (F.col("__p") > prev_end), F.lit(1)
    ).otherwise(F.lit(0))
    isl = hits.withColumn(
        "__isl",
        F.sum(new_island).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy("__id", "__isl").agg(
        F.min("__p").cast("long").alias("s"),
        (F.max("__p") + F.lit(k)).cast("long").alias("e"),
    )


def remove_duplicate_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 40,
    sample: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The TRANSFORM half of substring dedup: cut every duplicated
    region from every document EXCEPT one global keeper occurrence —
    the remove-all-but-one policy of Lee et al. 2021, which deletes
    the repeated mass while guaranteeing every duplicated window's
    text still survives somewhere in the corpus.

    Keeper election is per FINGERPRINT, not per merged span: each
    duplicate fingerprint keeps its first occurrence in (id, p) order
    (MIN over the (id, p) struct — an AGGREGATE with map-side partial
    combine, deliberately not a row_number window: a boilerplate
    fingerprint occurring in 10^9 documents would make one window
    partition sorted on a single task, while the min-struct reduces it
    tree-wise), a position is PROTECTED if it is the keeper of its
    fingerprint, and only unprotected matched positions are merged into
    cut spans. Electing on whole merged spans keyed by content was
    tried first and is brittle: maximal islands can extend one boundary
    char differently per document (a shared leading space), splitting
    what is semantically one duplicate group into singleton groups that
    each keep themselves — the fingerprint keeper is immune because
    election happens below the merge.

    Returns one row per INPUT document: ``(id, text <cleaned>, n_cut
    INT, cut_chars BIGINT)`` — untouched documents pass through with
    n_cut = 0. This IS :func:`incremental_substring_removal` over an
    empty index (every fingerprint is batch-new, so every duplicate
    fingerprint elects a keeper), with the same scale shape as
    :func:`duplicate_substring_spans` plus the fp-keyed keeper
    aggregate, the islands windows and the rebuild projection —
    nothing quadratic.
    """
    return incremental_substring_removal(
        df, _empty_fp_index(df.sparkSession, k=k, sample=sample),
        id_col, text_col, k=k, sample=sample, min_docs=min_docs,
    )


def _cut_and_rebuild(
    base: DataFrame,
    unprotected: DataFrame,
    protected: DataFrame,
    *,
    k: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The interval-subtraction cut set + per-doc text rebuild of
    :func:`incremental_substring_removal`: cut regions = islands of
    ``unprotected`` window positions MINUS islands of ``protected``
    ones (keeper windows' characters are never cut — the
    survive-somewhere guarantee), rebuilt with one ``aggregate`` fold
    over each doc's sorted cut list. ``base`` carries ``(__id, __t)``;
    returns ``(id, text <cleaned>, n_cut INT, cut_chars BIGINT)`` with
    untouched documents passing through (n_cut = 0)."""
    from pyspark.sql.window import Window

    u_isl = _position_islands(unprotected, k)
    # cut regions = (unprotected windows' coverage) MINUS (protected
    # windows' coverage): when duplicate groups OVERLAP inside a
    # keeper's document, a naive island over unprotected positions
    # covers the keeper windows' characters too and destroys the last
    # corpus-wide copy of those windows (round-9 review finding — the
    # survive-somewhere guarantee). Subtract the protected islands by
    # interval arithmetic: per u-island, the gaps before each clamped
    # blocked interval + the tail after the last one.
    p_isl = _position_islands(protected, k).select(
        "__id", F.col("s").alias("__ps"), F.col("e").alias("__pe")
    )
    overlapping = (F.col("__ps") < F.col("e")) & (
        F.col("__pe") > F.col("s")
    )
    blocked = (
        u_isl.join(p_isl, on="__id")
        .filter(overlapping)
        .select(
            "__id",
            "s",
            "e",
            F.greatest(F.col("__ps"), F.col("s")).alias("__bs"),
            F.least(F.col("__pe"), F.col("e")).alias("__be"),
        )
    )
    w_isl = Window.partitionBy("__id", "s").orderBy("__bs")
    gaps = blocked.select(
        "__id",
        F.coalesce(
            F.lag("__be").over(w_isl), F.col("s")
        ).alias("__fs"),
        F.col("__bs").alias("__fe"),
    )
    tails = blocked.groupBy("__id", "s", "e").agg(
        F.max("__be").alias("__fs")
    ).select("__id", "__fs", F.col("e").alias("__fe"))
    whole = u_isl.join(
        p_isl,
        on=(
            (u_isl["__id"] == p_isl["__id"])
            & (p_isl["__ps"] < u_isl["e"])
            & (p_isl["__pe"] > u_isl["s"])
        ),
        how="left_anti",
    ).select("__id", F.col("s").alias("__fs"), F.col("e").alias("__fe"))
    cuts = (
        gaps.unionByName(tails)
        .unionByName(whole)
        .filter(F.col("__fs") < F.col("__fe"))
    )
    per_doc = cuts.groupBy("__id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__fs").alias("__s"), F.col("__fe").alias("__e")
                )
            )
        ).alias("__cuts")
    )
    joined = base.join(per_doc, on="__id", how="left")

    def _fold(acc: Column, c: Column) -> Column:
        piece = F.substring(
            F.col("__t"),
            acc["pos"].cast("int"),
            (c["__s"] - acc["pos"]).cast("int"),
        )
        return F.struct(
            c["__e"].alias("pos"),
            F.concat(acc["out"], piece).alias("out"),
        )

    init = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("out")
    )
    rebuilt = F.aggregate(
        F.col("__cuts"),
        init,
        _fold,
        lambda acc: F.concat(
            acc["out"],
            F.substring(
                F.col("__t"),
                acc["pos"].cast("int"),
                (F.length("__t") - acc["pos"] + 1).cast("int"),
            ),
        ),
    )
    cut_chars = F.aggregate(
        F.col("__cuts"),
        F.lit(0).cast("long"),
        lambda acc, c: acc + (c["__e"] - c["__s"]),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.when(F.col("__cuts").isNull(), F.col("__t"))
        .otherwise(rebuilt)
        .alias(text_col),
        F.coalesce(F.size("__cuts"), F.lit(0)).cast("int").alias("n_cut"),
        F.coalesce(cut_chars, F.lit(0).cast("long")).alias("cut_chars"),
    )


def _fp_spec(k: int, sample: int) -> str:
    """The fingerprint-space tag of a stored substring index: the
    63-bit rolling hash over k-char windows, 1/``sample`` selected.
    Censuses under different tags share no fingerprints, so merging or
    probing across them would silently match (almost) nothing."""
    return f"roll63:k={k}:sample={sample}"


def _empty_fp_index(
    spark: SparkSession, *, k: int, sample: int
) -> DataFrame:
    """A zero-row index in the ``(k, sample)`` space that the optimizer
    can SEE is empty: a ``range`` filtered by a literal ``False``, so
    ``PropagateEmptyRelation`` folds the probe's index join away. (An
    empty ``createDataFrame`` is a ``LogicalRDD``, which Catalyst cannot
    fold, so the join would stay in the plan.)"""
    return (
        spark.range(1)
        .select(
            F.lit(None).cast("long").alias("fp"),
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(_fp_spec(k, sample)).alias("fp_spec"),
        )
        .where(F.lit(False))
    )


def _checked_index(index: DataFrame, *, k: int, sample: int) -> DataFrame:
    """``(fp, n_docs)`` of a stored index, refusing one built in another
    fingerprint space. An index with no ``fp_spec`` column predates the
    tag (it may hold md5 fingerprints) and is refused here, at call
    time. A row whose tag differs from ``k``/``sample`` fails the action
    through ``raise_error`` in this projection, which the merge and the
    probe run anyway: the check starts no job and adds no pass."""
    if "fp_spec" not in index.columns:
        raise ValueError(
            "substring fp index has no fp_spec column: it predates the "
            "fingerprint tag and may hold md5 fingerprints; rebuild it "
            "with substring_fp_index"
        )
    spec = _fp_spec(k, sample)
    return index.select(
        "fp",
        F.when(F.col("fp_spec") == spec, F.col("n_docs"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("substring fp index has fp_spec "),
                    F.coalesce(F.col("fp_spec"), F.lit("NULL")),
                    F.lit(f", this call needs {spec}"),
                )
            )
        )
        .alias("n_docs"),
    )


def substring_fp_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 40,
    sample: int = 8,
) -> DataFrame:
    """The STORED side of incremental substring dedup: the
    ``(fp, n_docs, fp_spec)`` census of a corpus's selected window
    fingerprints. Persist it (parquet, bucketed by ``fp`` at scale) once
    per base corpus; each new crawl batch then checks against the index
    instead of rescanning the base — the same incremental contract as
    :func:`incremental_dedup` (content keys) and
    ``incremental_connected_components`` (near-dup clusters), at
    substring granularity. ~one row per distinct selected fingerprint
    (1/``sample`` of distinct k-grams); counts are DISTINCT docs.
    ``fp_spec`` is the constant :func:`_fp_spec` tag, so the merge and
    the probes refuse an index built with another ``k``/``sample``.

    Maintenance precondition (ADVICE r9): merging censuses by SUMMING
    ``n_docs`` per fp — and the batch+index totals the incremental
    operators compute — assumes each document is counted in exactly ONE
    census, i.e. base and batch doc-id sets are DISJOINT. A re-crawled
    document present in both sides is double-counted and can reach
    ``min_docs`` spuriously; dedup re-crawls by doc id (or content key)
    BEFORE censusing.
    """
    sel = _selected_positions(df, id_col, text_col, k=k, sample=sample)
    return (
        sel.select("__fp", "__id")
        .distinct()
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            F.col("__fp").alias("fp"),
            "n_docs",
            F.lit(_fp_spec(k, sample)).alias("fp_spec"),
        )
    )


def merge_substring_fp_index(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 40,
    sample: int = 8,
) -> DataFrame:
    """Index MAINTENANCE after accepting a batch: the stored census
    plus the batch's census, summed per fingerprint — an aggregate,
    never a rebuild (the contract :func:`substring_fp_index`
    documents). Persist the result as the new index (at scale, write
    it bucketed by ``fp`` so the next batch's probe join is
    shuffle-free on the index side).

    PRECONDITION: the batch's doc ids are disjoint from every id the
    stored index has already counted (summing censuses double-counts
    re-crawled docs — see :func:`substring_fp_index`). ``k``/``sample``
    must match the index's ``fp_spec``: an untagged index raises
    ``ValueError`` here, a mismatched one fails the action. The merged
    index keeps the tag.

    pytest pins the algebra: merge(index(base), batch) ==
    index(base ∪ batch), row for row.
    """
    idx = _checked_index(index, k=k, sample=sample)
    b = substring_fp_index(batch, id_col, text_col, k=k, sample=sample)
    return (
        idx.unionByName(b.drop("fp_spec"))
        .groupBy("fp")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
        .withColumn("fp_spec", F.lit(_fp_spec(k, sample)))
    )


def _probe_hits(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int,
    sample: int,
    min_docs: int,
) -> DataFrame:
    """The census/probe stage of both substring-dedup operators:
    ``(__fp, __id, __p, __inbase)`` for every selected BATCH window
    whose fingerprint's distinct-document total (batch census + indexed
    ``n_docs``) reaches ``min_docs``. ``__inbase`` marks fingerprints
    the index already holds."""
    idx = _checked_index(index, k=k, sample=sample).select(
        F.col("fp").alias("__fp"), F.col("n_docs").alias("__in")
    )
    sel = _selected_positions(batch, id_col, text_col, k=k, sample=sample)
    # count_distinct(struct(__id)) == count over pre-distinct'd
    # (__fp, __id) pairs (the struct keeps a NULL id countable) and,
    # pre-partitioned by __fp, plans as a two-level aggregate with ZERO
    # extra exchanges. max(__p) + the always-true "__pmax >= 1"
    # conjunct (positions are 1-based) keep __p REFERENCED in this
    # branch: column pruning would otherwise narrow this branch's copy
    # of the fp exchange to (__fp, __id), making it canonically
    # different from the probe branch's and defeating exchange/stage
    # reuse — with both branches consuming (__id, __p, __fp) the
    # exchanges are identical and the fingerprint pass executes once
    # (guide §2.4).
    bcensus = (
        sel.groupBy("__fp")
        .agg(
            F.count_distinct(F.struct("__id")).cast("long").alias("__bn"),
            F.max("__p").alias("__pmax"),
        )
        .filter(F.col("__pmax") >= 1)
        .select("__fp", "__bn")
    )
    in_index = F.coalesce(F.col("__in"), F.lit(0))
    dup_fps = (
        bcensus.join(idx, on="__fp", how="left")
        .filter(F.col("__bn") + in_index >= min_docs)
        .select("__fp", (in_index > 0).alias("__inbase"))
    )
    # INNER join, not leftsemi: dup_fps is one row per fp (groupBy), so
    # the row sets are identical — but PushDownLeftSemiAntiJoin would
    # push a semi join below the fp repartition _selected_positions
    # emits, splitting the census and probe onto two copies of the
    # fingerprint pass; an inner join stays put, both consumers share
    # the one fp-keyed exchange, and the pass executes once.
    return sel.join(dup_fps, on="__fp")


def incremental_substring_spans(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 40,
    sample: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicate-substring spans of a NEW batch against a stored
    :func:`substring_fp_index` — the base corpus is never rescanned.
    A batch window is duplicated when its fingerprint's total distinct
    document count (batch-distinct + indexed ``n_docs``) reaches
    ``min_docs``, so both batch-internal duplicates and batch-vs-base
    duplicates surface, exactly as a full :func:`duplicate_substring_
    spans` over base+batch would flag the batch's side (same k/sample/
    min_docs => same selected windows, same totals). Returns
    ``(id, s, e)`` spans for BATCH documents only. The index's
    ``fp_spec`` must match ``k``/``sample`` (see
    :func:`merge_substring_fp_index`).

    PRECONDITION: batch doc ids are DISJOINT from the ids the index
    was built over (ADVICE r9 — re-crawls are common in incremental
    pipelines). A document counted on both sides double-counts toward
    ``min_docs`` and flags its windows as duplicated against ITSELF;
    drop already-ingested ids from the batch first (one anti-join
    against the corpus id set, or :func:`incremental_dedup` on the
    content key).

    Cost per batch: the streamed fingerprint pass over the BATCH, one
    batch-census aggregate, one fp-keyed join against the index (index
    side is fingerprint-count-sized; bucket it by fp to make the join
    shuffle-free), and the id-keyed islands window. Index maintenance
    after accepting a batch = union the batch census in (sum n_docs
    per fp) — an aggregate, not a rebuild.
    """
    hits = _probe_hits(
        batch, index, id_col, text_col, k=k, sample=sample,
        min_docs=min_docs,
    )
    return _position_islands(hits, k).select(
        F.col("__id").alias(id_col), "s", "e"
    )


def incremental_substring_removal(
    batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 40,
    sample: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The TRANSFORM half of incremental substring dedup — cleaned
    BATCH text against a stored :func:`substring_fp_index`, completing
    the q192/q193/q196 family: an ingest pipeline wants the batch's
    deduplicated text, not just its duplicate spans. The base corpus is
    never rescanned.

    Keeper policy: a batch window whose fingerprint is KNOWN TO THE
    BASE (indexed ``n_docs >= 1``) is always unprotected — the base
    copy is already written and survives, so the batch occurrence is
    cut. Fingerprints NEW in this batch elect a keeper as
    :func:`remove_duplicate_substrings` describes (MIN over the (id, p) struct —
    an aggregate, not a row_number window, for the same
    10^9-occurrence-boilerplate reason), and the cut set is the same
    protected-interval subtraction, so every batch-new duplicated
    window's text survives somewhere in the cleaned batch. This equals
    running :func:`remove_duplicate_substrings` over base+batch and
    projecting the batch documents whenever base doc ids precede batch
    ids in (id, p) struct order (the full run then elects the base
    occurrence as keeper for base-known fingerprints — exactly this
    operator's policy); the pytest pins that equivalence.

    PRECONDITION: batch doc ids are DISJOINT from the ids the index
    was built over (same contract as
    :func:`incremental_substring_spans` — a re-crawled doc would be
    flagged as duplicating itself and its text cut against its own
    base copy).

    Returns one row per BATCH document: ``(id, text <cleaned>, n_cut
    INT, cut_chars BIGINT)``. Cost per batch: the streamed fingerprint
    pass over the batch, one batch-census aggregate, one fp-keyed join
    against the index (bucket the index by fp for a shuffle-free
    probe), the fp-keyed keeper aggregate over batch-new fingerprints
    only, two id-keyed islands windows, and the rebuild projection —
    nothing touches the base corpus.
    """
    base_t = batch.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).cast("string").alias("__t"),
    )
    hits = _probe_hits(
        batch, index, id_col, text_col, k=k, sample=sample,
        min_docs=min_docs,
    )
    keepers = (
        hits.filter(~F.col("__inbase"))
        .groupBy("__fp")
        .agg(
            F.min(
                F.struct(
                    F.col("__id").alias("ki"), F.col("__p").alias("kp")
                )
            ).alias("__k0")
        )
    )
    tagged = hits.join(keepers, on="__fp", how="left")
    # base-known fps have no __k0 row: isNotNull() short-circuits the
    # conjunction to FALSE (never NULL), so ~is_keeper keeps them
    is_keeper = (
        F.col("__k0").isNotNull()
        & (F.col("__id") == F.col("__k0.ki"))
        & (F.col("__p") == F.col("__k0.kp"))
    )
    unprotected = tagged.filter(~is_keeper).select("__id", "__p")
    protected = tagged.filter(is_keeper).select("__id", "__p")
    return _cut_and_rebuild(
        base_t, unprotected, protected, k=k,
        id_col=id_col, text_col=text_col,
    )
