"""The shipment ingestion pipeline, end to end (reference `run_pipeline`,
`src/transformer.py:60-124` + writer normalization + partitioned sink).

The whole transform is a single narrow projection chain: scan -> clean ->
derive -> summarize -> narrative -> content -> doc shaping. No shuffle
until the optional dedup / partitioned write, so it parallelizes linearly
with input splits at any scale.
"""

from __future__ import annotations

import datetime as _dt
import logging
import time
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.arrays import split_multi_ids
from ..functions.cleaning import clean_string, coerce_boolean, ensure_str_id, nonblank
from ..functions.consignee import consignee_codes_list, extract_consignee_name
from ..functions.dates import parse_date_dayfirst, parse_multi_dates
from ..operators import content as content_op
from ..operators import narrative
from ..operators.common import SessionMemo, parallelism_floor, pipeline_break, release_break
from ..operators.derivations import dedup_by_key, with_derived_columns
from ..operators.docs import normalize_documents
from ..operators.summaries import (
    carrier_summary,
    critical_dates_summary,
    delay_reason_summary,
    port_route_summary,
    vessel_summary,
)
from ..schema import (
    BOOLEAN_COLUMNS,
    DATE_COLUMNS,
    DROP_COLUMNS_AFTER_LOAD,
    ID_COLUMNS,
    MULTI_VALUED_DATE_COLS,
    MULTI_VALUED_ID_COLS,
)
from ..sources import csv as csv_source
from ..sources import jsonl as jsonl_sink

AsOf = Union[None, str, _dt.date, Column]


def _as_of_col(as_of: AsOf) -> Column:
    if as_of is None:
        return F.current_date()
    if isinstance(as_of, Column):
        return as_of
    return F.lit(str(as_of)).cast("date")


_CLEAN_PROJECTIONS = SessionMemo()


def clean_columns(df: DataFrame) -> DataFrame:
    """F1-F6 typing pass over the canonical all-string frame.

    Two ``select``s, one codegen'd stage. Ordering mirrors
    `src/transformer.py:200-205` (strings -> IDs -> booleans -> dates) with
    the list-producing multi-ID split (F6) adopted from the legacy
    transformer per SURVEY.md §7.3.2.

    The first ``select`` cleans every column and types all but the dates;
    the second parses the dates from the cleaned strings' attributes.
    A date parse reads its input once per candidate pattern, so parsing
    ``clean_string(c)`` in place would copy that tree into each of them
    (:func:`parse_date_dayfirst`).

    The two projections are memoized by column list in a ``SessionMemo``.
    """

    def build() -> tuple:
        multi_dates = set(MULTI_VALUED_DATE_COLS)
        multi_ids = set(MULTI_VALUED_ID_COLS)
        booleans = set(BOOLEAN_COLUMNS)
        dates = set(DATE_COLUMNS)
        ids = set(ID_COLUMNS)
        cleaned, typed = [], []
        for name in df.columns:
            c = F.col(f"`{name}`")
            typed_expr = c
            if name in dates and name in multi_dates:
                expr, typed_expr = clean_string(c), parse_multi_dates(c)
            elif name in dates:
                expr, typed_expr = clean_string(c), parse_date_dayfirst(c)
            elif name in booleans:
                expr = coerce_boolean(c)
            elif name in multi_ids:
                expr = split_multi_ids(ensure_str_id(clean_string(c)))
            elif name in ids:
                expr = ensure_str_id(clean_string(c))
            else:
                expr = clean_string(c)
            cleaned.append(expr.alias(name))
            typed.append(typed_expr.alias(name))
        return cleaned, typed

    cleaned, typed = _CLEAN_PROJECTIONS.get(df.sparkSession, tuple(df.columns), build)
    return df.select(*cleaned).select(*typed)


_CONSIGNEE_PROJECTIONS = SessionMemo()


def with_consignee(df: DataFrame) -> DataFrame:
    """F7/F8 — consignee_name + consignee_codes list from consignee_raw.

    Column trees memoized in a ``SessionMemo``.
    """
    if "consignee_raw" not in df.columns:
        return df

    def build() -> dict:
        src = F.col("consignee_raw")
        return {
            "consignee_name": extract_consignee_name(src),
            "consignee_codes": consignee_codes_list(src),
        }

    return df.withColumns(_CONSIGNEE_PROJECTIONS.get(df.sparkSession, None, build))


_SUMMARY_PROJECTIONS = SessionMemo()


def with_summaries(df: DataFrame, as_of: Column) -> DataFrame:
    """T1-T5 summary columns.

    Column trees memoized by ``as_of`` in a
    ``SessionMemo``; they read a fixed set of
    column names, so the input schema does not shape them.
    """

    def build() -> dict:
        c = F.col
        return {
            "critical_dates_summary": critical_dates_summary(
                place_of_receipt=c("place_of_receipt"),
                load_port=c("load_port"),
                final_load_port=c("final_load_port"),
                discharge_port=c("discharge_port"),
                last_cy_lcn=c("equipment_arrived_at_last_cy_lcn"),
                final_destination=c("final_destination"),
                etd_lp=c("etd_lp_date"),
                atd_lp=c("atd_lp_date"),
                ata_flp=c("ata_flp_date"),
                atd_flp=c("atd_flp_date"),
                optimal_ata_dp=c("optimal_ata_dp_date"),
                out_gate_from_dp=c("out_gate_from_dp_date"),
                arrived_last_cy=c("equipment_arrived_at_last_cy_date"),
                delivery=c("delivery_to_consignee_date"),
                empty_return=c("empty_container_return_date"),
            ),
            "delay_reason_summary": delay_reason_summary(
                delayed_dp=c("delayed_dp"),
                dp_delayed_dur=c("dp_delayed_dur"),
                delayed_fd=c("delayed_fd"),
                fd_delayed_dur=c("fd_delayed_dur"),
                last_cy_lcn=c("equipment_arrived_at_last_cy_lcn"),
                final_destination=c("final_destination"),
            ),
            "vessel_summary": vessel_summary(
                c("first_vessel_name"), c("final_vessel_name")
            ),
            "carrier_summary": carrier_summary(
                c("final_carrier_name"), c("true_carrier_scac_name")
            ),
            "port_route_summary": port_route_summary(
                c("place_of_receipt"),
                c("load_port"),
                c("final_load_port"),
                c("discharge_port"),
                c("place_of_delivery"),
                c("final_destination"),
            ),
        }

    return df.withColumns(_SUMMARY_PROJECTIONS.get(df.sparkSession, str(as_of), build))


def transform_shipments(
    df: DataFrame,
    as_of: AsOf = None,
    *,
    dedup_key: Optional[str] = None,
) -> DataFrame:
    """Full derivation pipeline over a canonical all-string frame.

    ``as_of`` pins the reference's hidden 'today' clock (SURVEY.md §4.2.4).
    ``dedup_key='carr_eqp_uid'`` enables the legacy D8 dedup (one shuffle).
    """
    clock = _as_of_col(as_of)
    # Parallelism floor (optimization guide §2.5): the D1-D7 + T1-T7
    # derivation chain is a very CPU-heavy codegen projection (the T6/T7
    # narrative and content assembly is string work over ~100 fields per
    # row); pipelined into a few-split scan it runs on that few tasks.
    # Repartition to defaultParallelism only when the input has fewer
    # partitions — a no-op on a real many-split scan.
    df = parallelism_floor(df)
    out = clean_columns(df)
    if dedup_key:
        out = dedup_by_key(out, [dedup_key])
    out = with_consignee(out)
    out = with_derived_columns(out, clock)
    out = with_summaries(out, clock)
    out = narrative.with_milestones(out, clock)
    out = content_op.combined_content(out)
    drop_cols = [c for c in DROP_COLUMNS_AFTER_LOAD if c in out.columns]
    if drop_cols:
        out = out.drop(*drop_cols)
    return out


def build_documents(df: DataFrame) -> DataFrame:
    """D9-D11 doc shaping over the transformed frame."""
    return normalize_documents(df)


def run_batch(
    spark,
    input_path: str,
    output_path: str,
    *,
    as_of: AsOf = None,
    strict: bool = True,
    strict_docs: bool = False,
    finalize_names: bool = False,
) -> dict:
    """O1 — the production batch: scan -> transform -> docs -> JSONL sink, in one pass.

    Spark is lazy, so ``ingest_plan`` and ``transform_plan`` only build
    the plan. ``materialize`` runs it: the document frame is observed
    (rows out, bad documents) and stored through one
    :func:`pipeline_break`. ``write`` then reads the stored rows, so
    neither the sink's file-size sample nor the write plans or runs the
    transform again. The stored blocks are released before returning,
    also when the run fails.

    Returns one record (the reference logs the same brackets,
    `src/pipeline.py:75-136`): wall seconds of ``ingest_plan``,
    ``transform_plan``, ``materialize``, ``write`` and, with
    ``finalize_names``, ``finalize``; and the observed ``rows_out`` and
    ``bad_docs``.

    ``strict_docs`` mirrors the writer's strict mode
    (`src/writer.py:291-295`): raise ``ValueError`` when any document has
    a blank id or blank content. It reads the observed count, so it costs
    no extra pass, and it raises before the write, so a failed run
    publishes nothing. ``finalize_names`` applies the reference's
    ``<stem>_<tag>_<n>.jsonl`` naming (S7) after the write.
    """
    log = logging.getLogger("jsonl_dataingestion_pipeline_spark")
    record: dict = {}

    t0 = time.time()
    raw = csv_source.read_shipment_csv(spark, input_path, strict=strict)
    record["ingest_plan"] = round(time.time() - t0, 3)

    t0 = time.time()
    derived = transform_shipments(raw, as_of=as_of)
    docs = build_documents(derived)
    metrics = Observation()
    docs = docs.observe(
        metrics,
        F.count(F.lit(1)).alias("rows_out"),
        F.count_if(
            nonblank("document_id").isNull() | nonblank("content").isNull()
        ).alias("bad_docs"),
    )
    record["transform_plan"] = round(time.time() - t0, 3)

    t0 = time.time()
    stored = pipeline_break(docs)
    try:
        record.update(metrics.get)
        record["materialize"] = round(time.time() - t0, 3)
        if strict_docs and record["bad_docs"]:
            raise ValueError(
                f"strict mode: {record['bad_docs']} document(s) with empty id/content"
            )

        t0 = time.time()
        jsonl_sink.write_documents(stored, output_path)
        record["write"] = round(time.time() - t0, 3)
    finally:
        release_break(stored)

    if finalize_names:
        t0 = time.time()
        renamed = jsonl_sink.finalize_filenames(spark, output_path)
        record["finalize"] = round(time.time() - t0, 3)
        log.info("renamed %d output files", len(renamed))

    log.info("run_batch record: %s", record)
    return record
