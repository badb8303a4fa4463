"""D9-D11 — document normalization for the JSONL/RAG sink.

Reference: `_normalize_doc` (`src/writer.py:185-275`):
- document_id: carr_eqp_uid ?? job_no ?? container_number ?? doc_<n>
- content: combined_content ?? milestones ?? ""
- metadata: every other field as a nested object, minus carr_eqp_uid /
  consignee_raw / combined_content
- consignee_codes coerced to array<string> inside metadata.

Spark notes: the fallback ``doc_<n>`` uses the enumeration order within a
written group file in the reference — inherently nondeterministic. We make
it deterministic with ``row_number`` over an explicit ordering inside each
``source_group`` (one bounded window shuffle, only paid when requested).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import nonblank
from .common import SessionMemo

_METADATA_EXCLUDED = ("carr_eqp_uid", "consignee_raw", "combined_content")

_DOC_PROJECTIONS = SessionMemo()


def normalize_documents(
    df: DataFrame,
    *,
    id_fallback_order: Optional[Sequence[str]] = None,
    with_doc_index_fallback: bool = True,
    legacy_repr_consignee_code: bool = False,
) -> DataFrame:
    """Shape a fully derived shipment DataFrame into documents:
    ``(document_id, content, metadata struct, consignee_code, source_group)``.

    ``consignee_code`` is emitted as a typed ``array<string>`` — a
    deliberate contract change from the reference writer, which
    serializes ``str(list)`` (a Python-repr string like
    ``"['0001234567']"``, `src/writer.py:244-247`). Downstream consumers
    that still parse the old repr format can set
    ``legacy_repr_consignee_code=True`` to get that exact string form.

    The output projection (dominated by the ~100-field metadata struct)
    is memoized by (columns, flags) in a ``SessionMemo``.
    """
    columns = tuple(df.columns)
    order = tuple(id_fallback_order) if id_fallback_order is not None else None
    flags = (order, with_doc_index_fallback, legacy_repr_consignee_code)
    projection = _DOC_PROJECTIONS.get(
        df.sparkSession, (columns, *flags), lambda: _doc_projection(columns, *flags)
    )
    return df.select(*projection)


def _doc_projection(
    columns: Sequence[str],
    id_fallback_order: Optional[Sequence[str]],
    with_doc_index_fallback: bool,
    legacy_repr_consignee_code: bool,
) -> list:
    cols = set(columns)

    def opt(name: str):
        return nonblank(F.col(f"`{name}`")) if name in cols else F.lit(None).cast("string")

    if id_fallback_order is None:
        id_fallback_order = ("carr_eqp_uid", "job_no", "container_number")
    id_chain = [opt(name) for name in id_fallback_order]
    if with_doc_index_fallback:
        order_cols = [F.col(c) for c in ("container_number", "job_no") if c in cols]
        if not order_cols:
            order_cols = [F.lit(1)]
        part = (
            [F.col("source_group")] if "source_group" in cols else [F.lit(1)]
        )
        rn = F.row_number().over(Window.partitionBy(*part).orderBy(*order_cols))
        id_chain.append(F.concat(F.lit("doc_"), rn.cast("string")))

    content = F.coalesce(
        opt("combined_content"),
        opt("milestones"),
        F.lit(""),
    )

    codes = (
        F.col("consignee_codes")
        if "consignee_codes" in cols
        else F.array().cast("array<string>")
    )
    out_codes = codes
    if legacy_repr_consignee_code:
        # Python str(list) parity: ['a', 'b'] with single quotes; the
        # metadata field keeps the typed array either way
        joined = F.concat(F.lit("['"), F.array_join(codes, "', '"), F.lit("']"))
        out_codes = F.when(F.size(codes) == 0, F.lit("[]")).otherwise(joined)

    metadata_fields = [
        F.col(f"`{c}`").alias(c)
        for c in columns
        if c not in _METADATA_EXCLUDED and c != "consignee_codes"
    ]
    metadata = F.struct(*metadata_fields, codes.alias("consignee_codes"))

    projection = [
        F.coalesce(*id_chain).alias("document_id"),
        content.alias("content"),
        metadata.alias("metadata"),
        out_codes.alias("consignee_code"),
        *(
            [F.col("source_group").alias("source_group")]
            if "source_group" in cols
            else []
        ),
    ]
    return projection
