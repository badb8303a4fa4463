"""Entity-resolution pipeline — self-dedup of a mention table into
canonical entities (the record-linkage counterpart of the corpus
curation flagship):

    mentions
      -> blocking               (cheap key, bounds the candidate set)
      -> pairwise match         (Levenshtein within blocks, threshold)
      -> transitive clustering  (connected components over match pairs)
      -> survivorship           (per-field majority vote golden record)

Complements ``operators/fuzzy.py::blocked_match`` (probe-vs-reference,
best match per probe) with the SELF-match form: every within-block pair
under the distance threshold becomes an edge, and transitive closure
assigns each mention an entity id (the cluster's min mention id).

Every step is deterministic (block keys, integer distances, min-id
components, smallest-value mode tiebreaks), so the whole pipeline is
oracle-replayable (q168) — including the recursive clustering.

Scale shape: the self-join is bounded by block sizes (pick the key so
blocks stay small — the same knob every record-linkage system exposes);
components run on the match-pair graph (orders of magnitude smaller
than the mention table); survivorship is one mode aggregate per field
on the cluster key.
"""

from __future__ import annotations

import logging
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonl_dataingestion_pipeline_spark.operators.common import pipeline_break
from jsonl_dataingestion_pipeline_spark.operators.dedup import connected_components
from jsonl_dataingestion_pipeline_spark.operators.fuzzy import block_key
from jsonl_dataingestion_pipeline_spark.operators.repair import golden_record

_LOG = logging.getLogger(__name__)


def match_pairs(
    m: DataFrame, max_distance: int, *, max_block: int | None = None
) -> DataFrame:
    """Within-block match pairs of a blocked mention frame (``__mid``,
    ``__mname``, ``__bk``): an EQUI self-join on the block key with the
    Levenshtein threshold as a post-join filter — the plan contract
    (asserted in tests/test_plans.py) is that candidate generation is
    never a cross product; block sizes bound the fan-out.

    ``max_block`` is the skew guard: the self-join is O(block²), so one
    hot key (measured in SCALING.md: a block holding 10% of mentions is
    100x the candidates, 30% is 1,100x) goes quadratic at scale. When
    set, blocks larger than ``max_block`` are DROPPED from candidate
    generation with a logged mention count — the same drop-and-log
    contract as ``dedup.py``'s ``max_bucket``, never silent. ``None``
    (default) keeps the exact semantics the q168 oracle replays."""
    if max_block is not None:
        # ONE aggregation pass: collect the (few, by definition) hot
        # keys with their sizes, log the totals, and filter with the
        # keys as literals — a broadcast anti-join against the lazy
        # sizes plan would re-evaluate the whole upstream mention
        # construction a second time.
        hot_rows = (
            m.groupBy("__bk")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > max_block)
            .collect()
        )
        if hot_rows:
            _LOG.warning(
                "match_pairs: max_block=%d dropped %d hot block(s) "
                "covering %d mention(s) from candidate generation; "
                "their pairs are not emitted. Pass max_block=None for "
                "exact semantics.",
                max_block,
                len(hot_rows),
                sum(r["__bn"] for r in hot_rows),
            )
            m = m.filter(
                ~F.col("__bk").isin([r["__bk"] for r in hot_rows])
            )
    a = m.select(
        F.col("__mid").alias("id_l"),
        F.col("__mname").alias("__nl"),
        "__bk",
    )
    b = m.select(
        F.col("__mid").alias("id_r"),
        F.col("__mname").alias("__nr"),
        "__bk",
    )
    return (
        a.join(b, on="__bk")
        .filter(F.col("id_l") < F.col("id_r"))
        .filter(
            F.levenshtein(F.col("__nl"), F.col("__nr")) <= max_distance
        )
        .select("id_l", "id_r")
    )


def resolve_entities(
    mentions: DataFrame,
    *,
    id_col: str,
    name_col: str,
    attrs: Sequence[str] = (),
    max_distance: int = 2,
    key_start: int = 1,
    key_length: int = 4,
    max_block: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Resolve ``mentions`` into entities.

    Returns ``(assignments, golden)``: every mention labeled with its
    entity id (``id_col``, entity), and one golden record per entity
    (entity + the majority-vote value of ``name_col`` and each attr).
    ``max_block``: skew guard forwarded to :func:`match_pairs`.
    """
    m = pipeline_break(
        mentions.select(
            F.col(id_col).alias("__mid"),
            F.col(name_col).alias("__mname"),
            block_key(name_col, key_start, key_length).alias("__bk"),
        )
    )
    pairs = pipeline_break(match_pairs(m, max_distance, max_block=max_block))
    comp = connected_components(
        m.select(F.col("__mid").alias("id")),
        pairs,
    )
    assignments = comp.select(
        F.col("id").alias(id_col), F.col("comp").alias("entity")
    )
    enriched = mentions.join(
        assignments.withColumnRenamed(id_col, "__aid"),
        on=mentions[id_col] == F.col("__aid"),
    ).drop("__aid")
    golden = golden_record(enriched, "entity", [name_col, *attrs])
    return assignments, golden
