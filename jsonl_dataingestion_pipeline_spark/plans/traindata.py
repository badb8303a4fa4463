"""Training-data EXPORT pipeline — the downstream half that turns a
curated corpus (``plans/corpus.py``) into what a pre-training dataloader
actually consumes:

    curated docs
      -> token counting            (whitespace counts, q19 kernel)
      -> sequence packing          (concat-and-cut coordinates at
                                    seq_len, two-phase prefix sum —
                                    operators/packing.py)
      -> deterministic shard+pos   (global reproducible shuffle without
                                    a global sort —
                                    operators/partitioning.py)

Every stage is deterministic (integer arithmetic, md5 coins), so the
composed pipeline — counts, packing coordinates, the permutation — is
replayable end-to-end by the DuckDB oracle (q167).

Scale shape: token counting is a narrow projection; packing is the
q143 two-phase prefix sum (the only SinglePartition exchange carries
per-bucket totals, never data); sharding is one shard-keyed window
(q150). Stage boundaries are pipeline-broken so the stats frame
evaluates each stage exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonl_dataingestion_pipeline_spark.functions.textstats import (
    token_count,
)
from jsonl_dataingestion_pipeline_spark.operators.common import pipeline_break
from jsonl_dataingestion_pipeline_spark.operators.packing import (
    pack_sequences,
)
from jsonl_dataingestion_pipeline_spark.operators.partitioning import (
    shuffle_shards,
)


def export_training_data(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 512,
    n_shards: int = 16,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame]:
    """Pack ``df`` into ``seq_len``-token training sequences and assign
    every sequence-bearing document a reproducible (shard, pos)
    dataloader coordinate.

    Returns ``(export, stats)``:

    - ``export``: (``id_col``, n_tokens, tok_start, seq_first,
      seq_last, n_seqs, shard, pos) — everything a writer needs to emit
      shard files in order.
    - ``stats``: 4-row audit frame (stage, stage_name, n_rows,
      checksum) — input docs / packed docs / total sequences / sharded
      rows, each with an integer checksum (id sum, n_seqs sum, token
      sum, shard*1e6+pos sum) so the driver's oracle re-proves the
      whole composition, not just row counts.
    """
    docs = pipeline_break(
        df.select(
            F.col(id_col),
            token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        )
    )
    packed = pipeline_break(
        pack_sequences(docs, "n_tokens", id_col, seq_len=seq_len)
    )
    sharded = pipeline_break(
        shuffle_shards(
            packed.filter(F.col("n_seqs") > 0),
            id_col,
            n_shards=n_shards,
            seed=seed,
        )
    )

    def row(stage, name, frame, n_expr, ck_expr):
        return frame.agg(
            F.coalesce(n_expr, F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce(ck_expr, F.lit(0)).cast("long").alias("checksum"),
        ).select(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_rows",
            "checksum",
        )

    stats = (
        row(1, "input", docs, F.count(F.lit(1)), F.sum(id_col))
        .unionAll(
            row(
                2, "packed",
                packed.filter(F.col("n_seqs") > 0),
                F.count(F.lit(1)), F.sum("n_seqs"),
            )
        )
        .unionAll(
            row(
                3, "sequences", docs,
                F.ceil(F.sum("n_tokens") / F.lit(float(seq_len))),
                F.sum("n_tokens"),
            )
        )
        .unionAll(
            row(
                4, "sharded", sharded,
                F.count(F.lit(1)),
                F.sum(
                    F.col("shard").cast("long") * 1_000_000
                    + F.col("pos").cast("long")
                ),
            )
        )
    )
    return sharded, stats
