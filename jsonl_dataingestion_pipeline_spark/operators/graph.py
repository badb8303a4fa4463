"""Iterative graph analytics on DataFrames.

The near-dup clustering operator (``operators/dedup.py``) already does
one distributed iterative graph algorithm (min-id label propagation);
this module adds the other classic, PageRank — the pattern for ANY
fixed-point computation over an edge table (influence scoring, spam-site
demotion in crawl curation, citation weighting).

Spark-first shape: each iteration is one ``src``-keyed join (ranks are
re-partitioned on the join key every round, so the edge relation's
partitioning is reused) plus one ``dst``-keyed aggregation with map-side
partial sums. Lineage is cut every ``checkpoint_every`` rounds
(``operators.common.pipeline_break``) so the plan does not grow
unboundedly — the same discipline the dedup clustering loop uses.

Determinism: every IEEE operation (divide, multiply, literal parse) is
bit-identical across engines; ONLY the summation order of incoming
contributions is run-dependent (~1e-16 relative noise). Rounding each
iteration's ranks to ``scale`` decimals (default 1e-9 grid, six orders
of magnitude above the noise) collapses both engines onto the same
values, which is what makes the operator oracle-replayable — the same
trick would NOT work without the per-iteration re-round, because
unrounded noise compounds over iterations.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .common import pipeline_break


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    damping: float = 0.85,
    scale: int = 9,
    checkpoint_every: int = 4,
    broadcast_ranks: bool = True,
    personalization: "Optional[Sequence]" = None,
) -> DataFrame:
    """PageRank over a directed edge table. Dangling nodes (no
    out-edges — a real crawl graph is full of them) are handled the
    standard way: their rank mass is redistributed uniformly to every
    node each iteration, so total rank stays 1. The dangling-mass term
    is computed as a 1-row aggregate and broadcast-cross-joined (never
    a per-row collect); when the graph has no dangling nodes (checked
    once at setup, one driver scalar) the term is skipped entirely and
    the loop is exactly the lean two-join shape.

    ``broadcast_ranks=True`` (default) ships the |V|-sized rank and
    degree vectors to the edge partitions each round, so the (much
    larger) edge relation is NEVER shuffled — per-iteration shuffle
    traffic is the partial-aggregated contribution sums, ~|V| rows.
    Set it False when |V| itself exceeds broadcast capacity (billions
    of nodes); the loop then falls back to src-keyed shuffle joins.

    ``personalization``: a sequence of seed node ids turns this into
    personalized PageRank (the random surfer teleports ONLY to seeds —
    the TrustRank / seed-biased authority score used to rank a crawl by
    proximity to trusted hosts). Teleport mass (1-d)/|S| lands on each
    seed, dangling mass redistributes over the seeds, and ranks start
    as the personalization vector (1/|S| on seeds, 0 elsewhere). Seeds
    ride as literals — no extra joins versus the uniform loop.

    Returns (node_id, rank) for every node appearing as src or dst,
    ranks rounded to ``scale`` decimals per iteration (see module note).
    """
    # materialize the STATIC relations once — every iteration consumes
    # them, and without the barrier each iteration's job would recompute
    # the whole upstream edge construction (measured 2-3x the loop cost)
    e = pipeline_break(
        edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    )
    # (node_id, __deg) in ONE exchange (optimization guide §2.4 "remove
    # shuffles outright"): the old shape was distinct(nodes) + deg
    # aggregate + left join + anti join — four exchanges and four
    # materialization jobs for what one groupBy over the endpoint union
    # computes directly. __deg = out-degree, NULL when the node has no
    # out-edges (the left-join semantics the loop depends on), so the
    # dangling set is exactly the __deg-IS-NULL slice — no separate
    # dangling frame or per-iteration leftsemi join needed.
    nodes_deg = pipeline_break(
        e.select(F.col("__src").alias("node_id"), F.lit(1).alias("__o"))
        .unionAll(e.select(F.col("__dst").alias("node_id"), F.lit(0)))
        .groupBy("node_id")
        .agg(F.sum("__o").cast("long").alias("__cnt"))
        .select(
            "node_id",
            F.when(F.col("__cnt") > 0, F.col("__cnt")).alias("__deg"),
        )
    )
    nodes = nodes_deg.select("node_id")
    # n and has_dangling from ONE 1-row aggregate (was: two counts)
    _stats = nodes_deg.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.when(F.col("__deg").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("__nd"),
    ).first()
    n = _stats["__n"]
    has_dangling = (_stats["__nd"] or 0) > 0
    if n == 0:
        raise ValueError("pagerank: edge table is empty (no nodes)")
    if personalization is not None:
        seeds = sorted(set(personalization))
        if not seeds:
            raise ValueError("pagerank: personalization seeds empty")
        # seeds absent from the graph would silently drop their
        # teleport share (ranks stop summing to 1; an all-missing seed
        # list would return all-zero ranks) — validate against the
        # node set instead. len(seeds) driver values vs |V|: a
        # broadcast semi-join sized by the seed literal list.
        present = {
            r["node_id"]
            for r in nodes.filter(
                F.col("node_id").isin(list(seeds))
            ).collect()
        }
        missing = [s for s in seeds if s not in present]
        if missing:
            raise ValueError(
                "pagerank: personalization seeds not in the graph: "
                f"{missing[:10]}{'...' if len(missing) > 10 else ''}; "
                "drop them or renormalize upstream"
            )
        ns = float(len(seeds))
        is_seed = F.col("node_id").isin(list(seeds))
        tele = F.when(
            is_seed, F.lit((1.0 - damping) / ns)
        ).otherwise(F.lit(0.0))
        init_rank = F.round(
            F.when(is_seed, F.lit(1.0 / ns)).otherwise(F.lit(0.0)),
            scale,
        )
        # dangling mass teleports back to the SEEDS, not everywhere
        dshare = F.when(is_seed, F.lit(1.0 / ns)).otherwise(F.lit(0.0))
    else:
        tele = F.lit((1.0 - damping) / n)
        init_rank = F.round(F.lit(1.0 / n), scale)
        dshare = F.lit(1.0 / float(n))
    ranks = nodes_deg.withColumn("rank", init_rank)
    rank_side = (
        (lambda d: F.broadcast(d)) if broadcast_ranks else (lambda d: d)
    )
    for i in range(iterations):
        # NOTE — measured and REJECTED loop variants, kept for the next
        # optimizer (this left-join stitch is load-bearing):
        # r10: fusing the stitch into the contribution aggregate via a
        #   zero-row-per-node union — defeated broadcast reuse,
        #   regressed the bench (OPTIMIZATION_r10.md §4.3).
        # r11: INNER stitch driven by `summed` with broadcast(nodes_deg)
        #   shared across iterations — faster under the noop sink
        #   (q116 4.18 -> 3.76 s) but REGRESSED the count-path bench
        #   (3.36 -> 3.75 / q161 2.10 -> 2.94, reproduced twice): the
        #   left-outer stitch on the aggregate's unique key is
        #   JOIN-ELIMINABLE when downstream prunes the rank columns,
        #   and the inner form (which changes cardinality) is not.
        # r11: co-partitioned persist() loop, zero broadcasts — only
        #   "won" via cross-run CacheManager reuse (result caching);
        #   honest per-run cost 5.8 vs 4.2 s (OPTIMIZATION_r11.md §4).
        contribs = (
            e.join(rank_side(ranks), e["__src"] == ranks["node_id"])
            .select(
                F.col("__dst").alias("node_id"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
        )
        summed = contribs.groupBy("node_id").agg(F.sum("__c").alias("__in"))
        stitched = nodes_deg.join(rank_side(summed), on="node_id", how="left")
        incoming = F.coalesce(F.col("__in"), F.lit(0.0))
        if has_dangling:
            # 1-row dangling-mass frame, broadcast to every node. The
            # mass is re-rounded like the ranks so the summation-order
            # noise (module note) can't leak into the next iteration.
            # Dangling nodes are exactly the __deg-IS-NULL rows the
            # ranks frame already carries — a filter, not a join
            # (guide §2.4; was a per-iteration leftsemi against a
            # separate dangling frame).
            dmass = (
                ranks.filter(F.col("__deg").isNull())
                .agg(
                    F.round(
                        F.coalesce(F.sum("rank"), F.lit(0.0)), scale
                    ).alias("__dmass")
                )
            )
            stitched = stitched.crossJoin(F.broadcast(dmass))
            incoming = incoming + F.col("__dmass") * dshare
        ranks = stitched.select(
            "node_id",
            "__deg",
            F.round(
                tele + F.lit(damping) * incoming, scale
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = pipeline_break(ranks)
    return ranks.select("node_id", "rank")


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    with_wedges: bool = False,
) -> DataFrame:
    """Exact global triangle count over an undirected graph given as an
    edge list (direction and duplicates ignored; self-loops dropped).
    Returns ONE row: (n_triangles BIGINT); with ``with_wedges=True``
    also (n_wedges BIGINT) — the oriented-wedge candidate count, the
    quantity whose growth the degree-orientation bound controls (the
    scale harness asserts it stays replica-linear).

    The 100 TB shape is the standard degree-orientation trick (e.g.
    Suri & Vassilvitskii 2011): orient every undirected edge from its
    LOWER-degree endpoint to its higher-degree endpoint (ties -> by
    vertex id), so every vertex's out-degree is bounded by ~sqrt(2|E|)
    regardless of how skewed the in-degrees are — a celebrity node with
    10^8 followers contributes NO wedge blowup because almost all of
    its edges point INTO it. Wedges are then one self-join of the
    oriented list on the wedge center, and each wedge is checked for
    its closing edge with a semi-join — every triangle is counted
    exactly once (its vertices form a unique oriented path
    a -> b -> c with a -> c present). Three shuffles total: degree
    aggregate, wedge join, closing semi-join; no CartesianProduct."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient low-degree -> high-degree (ties by id): rank = (d, v)
    da = deg.select(
        F.col("v").alias("a"), F.col("d").alias("da")
    )
    db = deg.select(
        F.col("v").alias("b"), F.col("d").alias("db")
    )
    ranked = e.join(da, on="a").join(db, on="b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    # wedges centered at u: (w1, w2) both out-neighbors of u
    o1 = oriented.select(F.col("u"), F.col("w").alias("w1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("w2"))
    wedges = o1.join(o2, on="u").filter(F.col("w1") < F.col("w2"))
    # a wedge closes iff the (w1, w2) UNDIRECTED edge exists
    closing = e.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    if with_wedges:
        # left join instead of semi (e is distinct and both sides are
        # a<b-normalized, so at most one match): count wedges AND
        # closed wedges in one aggregate
        flagged = wedges.join(
            closing.withColumn("__closed", F.lit(1)),
            on=["w1", "w2"],
            how="left",
        )
        return flagged.agg(
            F.sum(F.coalesce(F.col("__closed"), F.lit(0)))
            .cast("long")
            .alias("n_triangles"),
            F.count(F.lit(1)).cast("long").alias("n_wedges"),
        )
    tri = wedges.join(closing, on=["w1", "w2"], how="leftsemi")
    return tri.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
    broadcast_labels: bool = True,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007, the deterministic synchronous variant) — the standard
    cheap community pass over crawl/link graphs (mirror clusters, link
    farms, topic hubs) before anything expensive runs per-community.

    Undirected semantics (direction/duplicates ignored, self-loops
    dropped). Every vertex starts with its own id as label; each round
    every vertex simultaneously adopts the most frequent label among its
    neighbors, ties broken toward the SMALLEST label. Classic async LPA
    is run-order-dependent; the synchronous + min-label variant is fully
    deterministic, which is what makes it oracle-replayable round by
    round (the fixed ``rounds`` unrolls to SQL). Synchronous updates can
    2-cycle on bipartite structure instead of converging — with a fixed
    round budget that is a defined, replayable output, not a hang.

    100 TB shape: the adjacency (both directions of each edge) is built
    ONCE and checkpointed; each round is one join of labels to the
    adjacency (labels broadcast when |V| fits — the edge relation is
    then never shuffled), one (v, label) count with map-side partials,
    and one argmax-by-(count desc, label asc) aggregate done as a single
    ``min(struct(-count, label))`` — no window, no sort. Per-round
    shuffle traffic is ~|adjacency| rows of (v, label) pairs partially
    aggregated, bounded by the label-diversity of each vertex's
    neighborhood, never the raw edge bytes.

    Returns (node_id, label) for every vertex of the graph.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = pipeline_break(
        e.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(e.select(F.col("b").alias("v"), F.col("a").alias("u")))
    )
    labels = adj.select("v").distinct().withColumn("label", F.col("v"))
    label_side = (
        (lambda d: F.broadcast(d)) if broadcast_labels else (lambda d: d)
    )
    for i in range(rounds):
        neigh = adj.join(
            label_side(labels.withColumnRenamed("v", "u")), on="u"
        ).select("v", "label")
        counted = neigh.groupBy("v", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        labels = counted.groupBy("v").agg(
            F.min(
                F.struct(
                    (-F.col("__c")).alias("__nc"), F.col("label")
                )
            ).getField("label").alias("label")
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < rounds:
            labels = pipeline_break(labels)
    return labels.select(F.col("v").alias("node_id"), "label")


def bfs_distances(
    edges: DataFrame,
    sources,
    *,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 6,
) -> DataFrame:
    """Multi-source BFS hop distances — the seed-expansion primitive of
    web curation: distance-from-trusted-seeds ranking (the seed-set half
    of TrustRank), crawl-frontier budgeting by hop count, or bounding a
    contamination neighborhood around known-bad hosts.

    Undirected semantics (direction/duplicates ignored, self-loops
    dropped). ``sources`` is a sequence of vertex ids; each reachable
    vertex gets the hop count to its NEAREST source (sources themselves
    = 0). Vertices further than ``max_depth`` hops (or unreachable) are
    absent from the result; source ids absent from the edge set are
    ignored. BFS distances are unique, so there is no tie-breaking to
    get wrong — fully deterministic and oracle-replayable by unrolling
    the rounds.

    100 TB shape: the adjacency is built ONCE and checkpointed; each
    round is one equi-join of the current frontier against it, a
    distinct, and an anti-join against the visited set — all frames
    carry vertex ids only, never payloads, and the frontier/visited
    sides are orders of magnitude smaller than the edge table (AQE
    broadcasts them while they fit). Early exit on an empty frontier:
    at most ``max_depth`` rounds, each cut from lineage.

    Returns (node_id, dist INT).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = pipeline_break(
        e.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(e.select(F.col("b").alias("v"), F.col("a").alias("u")))
    )
    dist = pipeline_break(
        adj.select("v")
        .distinct()
        .filter(F.col("v").isin(list(sources)))
        .select("v", F.lit(0).cast("int").alias("dist"))
    )
    frontier = dist.select("v")
    for depth in range(1, max_depth + 1):
        new = pipeline_break(
            adj.join(frontier, on="v")
            .select(F.col("u").alias("v"))
            .distinct()
            .join(dist, on="v", how="left_anti")
            .select("v", F.lit(depth).cast("int").alias("dist"))
        )
        if new.count() == 0:
            break
        # every constituent of dist is already an eagerly checkpointed
        # frame, so the union needs NO re-materialization of the whole
        # visited set per depth (guide §1.2 — one fewer job per round;
        # the next round's anti-join scans <= max_depth materialized
        # block sets, never recomputes)
        dist = dist.unionAll(new)
        frontier = new.select("v")
    return dist.select(F.col("v").alias("node_id"), "dist")


def k_core(
    edges: DataFrame,
    k: int,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """Edges of the k-core: the maximal subgraph where every vertex has
    degree >= k — the classic web-graph curation peel (link farms and
    orphan pages fall out of the core; PageRank/crawl budgets focus on
    what remains). Undirected semantics: direction/duplicates ignored,
    self-loops dropped. Returns normalized edges (a < b).

    Iterative peeling to the fixpoint: each round is one degree
    aggregate + two semi-joins (edges whose BOTH endpoints survive);
    rounds needed = peeling depth (typically a handful — removing a
    vertex only decrements its neighbors). Per-round driver traffic is
    the single surviving-edge count used for the convergence test;
    lineage is cut each round so the plan never nests. Deterministic:
    the k-core is unique (no tie-breaking exists to get wrong)."""
    e = pipeline_break(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    n = e.count()
    converged = n == 0
    for _ in range(max_iterations):
        if n == 0:
            converged = True
            break
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("v")
        e2 = pipeline_break(
            e.join(keep.withColumnRenamed("v", "a"), on="a", how="leftsemi")
            .join(keep.withColumnRenamed("v", "b"), on="b", how="leftsemi")
            .select("a", "b")
        )
        n2 = e2.count()
        e = e2
        if n2 == n:
            converged = True
            break
        n = n2
    if not converged:
        # Peeling depth can be O(|V|) (a path graph at k=2 peels one
        # vertex per round from each end); returning here would hand
        # back a SUPERGRAPH of the k-core — fail loudly instead of
        # silently (VERDICT r5 item #6).
        raise RuntimeError(
            f"k_core: no fixpoint after max_iterations={max_iterations} "
            f"rounds ({n} edges still shrinking) — the result would be a "
            "supergraph of the k-core. Raise max_iterations (peel depth "
            "can be O(|V|) on path-like graphs)."
        )
    return e
