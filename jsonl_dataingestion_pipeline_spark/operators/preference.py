"""Bradley-Terry preference-strength fitting over pairwise comparison
logs — the RLHF / preference-data half of a training-data pipeline
(rank responses from A/B judgments, build DPO/reward-model pairs,
detect annotator-inconsistent items).

Model: item i carries strength s_i; P(w beats l) = sigma(s_w - s_l).
Fitting is full-batch gradient descent, but unlike the hashed
classifier (functions/classifier.py — k driver-side weights) the state
here is PER ITEM and stays DISTRIBUTED: strengths live in a DataFrame,
each iteration joins the comparison log against it twice (winner side,
loser side — both hash joins on the item key, co-partitioned round to
round), computes the per-comparison residual, and folds the +/- residual
pairs back into per-item gradients with one aggregate. Nothing
item-sized ever reaches the driver — millions of candidate documents
fit the same plan as 400.

Determinism contract (SCALING.md): strengths live on the 1e-9 integer
grid (BIGINT nano-units); the per-comparison residual uses the rational
fast-sigmoid (0.5 + 0.5*z/(1+|z|) — every op IEEE-correctly-rounded,
no libm exp) and quantizes ONCE to the grid; per-item gradient sums are
exact integer sums; the update rounds half-away-from-zero via the same
F.round both engines implement. A DuckDB oracle unrolls the iterations
as CTEs and matches bit-for-bit (q180).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonl_dataingestion_pipeline_spark.operators.common import (
    decimal_grad_sum,
    gd_update_u,
    pipeline_break,
    sigmoid_residual_u,
)


def bt_strengths(
    comparisons: DataFrame,
    winner_col: str,
    loser_col: str,
    *,
    iterations: int = 5,
    lr: float = 1.0,
    out_col: str = "bt_strength_u",
) -> DataFrame:
    """Fit Bradley-Terry strengths; returns (item, ``out_col`` BIGINT
    nano-units). Items = every id appearing as winner or loser; all
    start at strength 0 (the symmetric prior). Strengths are
    identifiable only up to a constant — compare differences or ranks,
    not absolute values; per-item ROUNDED steps are not exactly
    zero-sum, so the mean can drift a few nano-units from 0.

    Per iteration: z = (su_w - su_l)/1e9 per comparison, residual
    q = round((fast_sigmoid(z) - 1) * 1e9) BIGINT (<= 0: the winner's
    predicted shortfall), gradient g_i = sum(q over wins) - sum(q over
    losses) exact, update su_i = su_i - round(lr * g_i / n_comparisons).
    Self-comparisons (winner == loser) are rejected — they make the
    likelihood ill-defined.
    """
    if iterations < 1:
        raise ValueError("bt_strengths: iterations must be >= 1")
    comp = comparisons.select(
        F.col(winner_col).alias("__w"), F.col(loser_col).alias("__l")
    )
    # persist, NOT checkpoint: the InMemoryRelation advertises the
    # repartition(__w) layout, so the winner-side join reuses it every
    # iteration (a checkpointed LogicalRDD forgets its partitioning and
    # re-shuffles the full log each round — the measured pitfall
    # documented in functions/classifier.py::train_classifier)
    comp = comp.repartition(F.col("__w")).persist()
    n_self = comp.filter(F.col("__w") == F.col("__l")).count()
    if n_self:
        raise ValueError(
            f"bt_strengths: {n_self} self-comparison(s) (winner == "
            "loser) — drop them upstream, they carry no signal"
        )
    n_comp = comp.count()
    if n_comp == 0:
        raise ValueError("bt_strengths: empty comparison log")
    items = (
        comp.select(F.col("__w").alias("item"))
        .unionAll(comp.select(F.col("__l").alias("item")))
        .distinct()
    )
    su = pipeline_break(
        items.select("item", F.lit(0).cast("long").alias("__su"))
    )
    for _ in range(int(iterations)):
        j = (
            comp.join(
                su.select(
                    F.col("item").alias("__w"),
                    F.col("__su").alias("__suw"),
                ),
                on="__w",
            )
            .join(
                su.select(
                    F.col("item").alias("__l"),
                    F.col("__su").alias("__sul"),
                ),
                on="__l",
            )
        )
        z = (
            (F.col("__suw") - F.col("__sul")).cast("double")
            / F.lit(1e9)
        )
        q = sigmoid_residual_u(z, F.lit(1.0))
        signed = j.select(
            F.col("__w").alias("item"), q.alias("__q")
        ).unionAll(
            j.select(F.col("__l").alias("item"), (-q).alias("__q"))
        )
        grads = signed.groupBy("item").agg(
            decimal_grad_sum(F.col("__q")).alias("__g")
        )
        su = su.join(grads, on="item", how="left").select(
            "item",
            gd_update_u(
                F.col("__su"), F.col("__g"), lr, n_comp
            ).alias("__su"),
        )
        # cut lineage every round: the strength frame is the loop
        # state (the graph-family discipline, graph.py) — checkpoint
        # here, not persist: su is rebuilt each round, so layout reuse
        # buys nothing while unbounded lineage would
        su = pipeline_break(su)
    comp.unpersist()
    return su.select("item", F.col("__su").alias(out_col))


def dpo_pairs(
    df: DataFrame,
    prompt_col: str,
    response_col: str,
    score_col: str,
    *,
    min_margin: int = 1,
) -> DataFrame:
    """Best-vs-worst DPO pair construction from a scored response pool
    (Rafailov et al. 2023 consume (prompt, chosen, rejected); the
    standard pool-to-pairs recipe — UltraFeedback, Zephyr — takes the
    highest-rated response as chosen and the lowest as rejected). One
    row per surviving prompt: ``(prompt, chosen, rejected, chosen_score,
    rejected_score, margin, n_candidates)``.

    - Scores are caller-provided integers (micro-units by repo
      convention) — margins are exact integer differences.
    - Deterministic tiebreaks: equal top scores choose the SMALLEST
      response id; equal bottom scores reject the smallest id. A
      prompt whose pool has fewer than 2 responses, or whose best-worst
      margin is below ``min_margin`` (ties included), emits nothing —
      a pair that can't teach a preference is dropped, not fabricated.
    - Chosen and rejected are distinct by construction whenever a row
      emits (margin >= 1 forces different responses).

    Plan: ONE keyed aggregate (``min_by``/``max_by`` over
    lexicographic structs — map-side combined, never a window sort),
    then a filter. Hot-key bound: a prompt's candidate count (pool
    sizes are single digits in practice); corpus size only widens the
    key space.
    """
    if min_margin < 1:
        # margin >= 1 is what makes chosen != rejected by construction;
        # min_margin=0 would emit degenerate self-pairs on tied pools
        raise ValueError("min_margin must be >= 1 (ties can't teach)")
    p, r, s = (F.col(prompt_col), F.col(response_col), F.col(score_col))
    agg = df.groupBy(p.alias("prompt")).agg(
        F.min_by(
            F.struct(r.alias("id"), s.alias("score")),
            # best = MIN of (-score, id): max score, then SMALLEST id —
            # negating the SCORE (always numeric) keeps the id column
            # free to be any orderable type (string ids are common)
            F.struct((-s.cast("long")).alias("ns"), r.alias("i")),
        ).alias("__best"),
        F.min_by(
            F.struct(r.alias("id"), s.alias("score")),
            F.struct(s.alias("s"), r.alias("i")),
        ).alias("__worst"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
    )
    margin = (
        F.col("__best.score").cast("long")
        - F.col("__worst.score").cast("long")
    )
    return (
        agg.filter(
            (F.col("n_candidates") >= 2) & (margin >= min_margin)
        )
        .select(
            F.col("prompt").alias(prompt_col),
            F.col("__best.id").alias("chosen"),
            F.col("__worst.id").alias("rejected"),
            F.col("__best.score").cast("long").alias("chosen_score"),
            F.col("__worst.score").cast("long").alias("rejected_score"),
            margin.alias("margin"),
            "n_candidates",
        )
    )


def length_bias_audit(
    pairs: DataFrame,
    chosen_len_col: str,
    rejected_len_col: str,
    *,
    group_col: str = None,
    scale: int = 6,
) -> DataFrame:
    """Verbosity-bias diagnostic for preference data (Singhal et al.
    2023, "A Long Way to Go: Investigating Length Correlations in
    RLHF"; the standard pre-training-the-reward-model audit): among
    non-tied pairs, how often is the CHOSEN response the longer one?
    A rate far above 0.5 means the data teaches length, not quality.

    One row per group (or one row total): ``(n_pairs, longer_wins,
    ties, longer_rate_u, sum_len_diff)`` — ``longer_rate_u`` =
    ``floor(longer_wins * 10^scale / (n_pairs - ties))`` (0 when every
    pair ties), ``sum_len_diff`` = exact integer sum of
    chosen_len - rejected_len. One keyed aggregate, map-side combined;
    group cardinality bounds the exchange.
    """
    cl = F.col(chosen_len_col).cast("long")
    rl = F.col(rejected_len_col).cast("long")
    u = 10 ** scale
    keys = [F.col(group_col).alias("grp")] if group_col else []
    agg = pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((cl > rl).cast("long")).alias("longer_wins"),
        F.sum((cl == rl).cast("long")).alias("ties"),
        F.sum(cl - rl).alias("sum_len_diff"),
    )
    denom = F.col("n_pairs") - F.col("ties")
    num = F.col("longer_wins") * F.lit(u).cast("long")
    rate = (
        F.when(denom > 0, (num - F.pmod(num, denom)) / denom)
        .otherwise(F.lit(0))
        .cast("long")
    )
    cols = (["grp"] if group_col else []) + [
        "n_pairs",
        "longer_wins",
        "ties",
    ]
    return agg.select(*cols, rate.alias("longer_rate_u"), "sum_len_diff")
