"""Conditional derivation operators D1-D8 (SURVEY.md §2.4).

Every derivation is a pure ``Column`` expression over already-typed (date /
boolean / string) columns, so the whole set fuses into a single narrow
whole-stage-codegen'd projection — zero shuffles, embarrassingly parallel
at any scale.

The "today" clock of the reference (``pd.Timestamp('today')``) is an
explicit ``as_of`` parameter (a date Column) for reproducibility — see
SURVEY.md §4.2.4.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dates import month_group, month_tag
from .common import SessionMemo


# ---------------------------------------------------------------------------
# D1 / D2 — optimal dates (predicated coalesce)
# ---------------------------------------------------------------------------
def optimal_ata_dp(
    ata_dp: Column, derived_ata_dp: Column, as_of: Column
) -> Column:
    """D1 — actual arrival if recorded, else derived arrival iff not in the
    future (`src/transformer.py:428-438`)."""
    return (
        F.when(ata_dp.isNotNull(), ata_dp)
        .when(derived_ata_dp.isNotNull() & (derived_ata_dp <= as_of), derived_ata_dp)
        .otherwise(F.lit(None).cast("date"))
    )


def optimal_eta_fd(
    predictive: Column, revised: Column, eta: Column
) -> Column:
    """D2 — priority coalesce (`src/transformer.py:440-446`)."""
    return F.coalesce(predictive, revised, eta)


# ---------------------------------------------------------------------------
# D3 / D4 — delay classification (label + integer day delta)
# ---------------------------------------------------------------------------
def dp_delay(
    optimal: Column, eta: Column, as_of: Column
) -> tuple[Column, Column]:
    """D3 — discharge-port delay label/duration (`src/transformer.py:457-484`).

    Returns ``(label, days)``. When the optimal arrival is unknown the
    shipment is judged against today's overdue-ness; otherwise against the
    ETA. (When optimal is known but ETA missing the reference's arithmetic
    is undefined — we define it as on_time/0.)
    """
    overdue = F.greatest(F.lit(0), F.datediff(as_of, eta))
    diff = F.datediff(optimal, eta)

    days = (
        F.when(optimal.isNull() & eta.isNotNull() & (eta > as_of), F.lit(0))
        .when(optimal.isNull() & eta.isNotNull(), overdue)
        .when(optimal.isNull(), F.lit(0))
        .otherwise(F.coalesce(diff, F.lit(0)))
        .cast("int")
    )
    label = (
        F.when(days > 0, F.lit("delay"))
        .when((days < 0) & optimal.isNotNull(), F.lit("early"))
        .otherwise(F.lit("on_time"))
    )
    return label, days


def fd_delay(
    optimal: Column,
    delivery: Column,
    empty_return: Column,
    as_of: Column,
) -> tuple[Column, Column]:
    """D4 — final-destination delay label/duration
    (`src/transformer.py:486-531`).

    Actual completion = delivery, else empty-container return, else "today"
    (flagged as not a real actual, which clamps negative/future deltas).
    """
    real_actual = F.coalesce(delivery, empty_return)
    has_real = real_actual.isNotNull()
    actual = F.coalesce(real_actual, as_of)
    raw = F.when(optimal.isNotNull(), F.datediff(actual, optimal)).otherwise(F.lit(0))

    days = (
        F.when(has_real, raw)
        .when(optimal.isNotNull() & (optimal > as_of), F.lit(0))
        .when(optimal.isNotNull(), F.greatest(F.lit(0), raw))
        .otherwise(F.lit(0))
        .cast("int")
    )
    label = (
        F.when(has_real & (raw > 0), F.lit("delay"))
        .when(has_real & (raw < 0), F.lit("early"))
        .when(has_real, F.lit("on_time"))
        .when(days > 0, F.lit("delay"))
        .otherwise(F.lit("on_time"))
    )
    return label, days


# ---------------------------------------------------------------------------
# D5 — shipment status ladder (first-match-wins CASE)
# ---------------------------------------------------------------------------
def shipment_status(
    *,
    empty_return: Column,
    delivery: Column,
    out_gate_last_cy: Column,
    arrived_last_cy: Column,
    optimal_ata_dp_date: Column,
    atd_flp: Column,
    ata_flp: Column,
    atd_lp: Column,
    etd_lp: Column,
    as_of: Column,
) -> Column:
    """D5 — 9-state decision ladder (`src/transformer.py:546-601`)."""
    return (
        F.when(empty_return.isNotNull(), F.lit("EMPTY_CONTAINER_RETURNED"))
        .when(delivery.isNotNull(), F.lit("DELIVERED"))
        .when(out_gate_last_cy.isNotNull(), F.lit("IN_INLAND_TRANSIT"))
        .when(arrived_last_cy.isNotNull(), F.lit("AT_LAST_CY"))
        .when(
            optimal_ata_dp_date.isNotNull() & (optimal_ata_dp_date <= as_of),
            F.lit("AT_DP"),
        )
        .when(
            atd_flp.isNotNull()
            & (optimal_ata_dp_date.isNull() | (optimal_ata_dp_date > as_of)),
            F.lit("IN_OCEAN_TRANSIT"),
        )
        .when(ata_flp.isNotNull() & atd_flp.isNull(), F.lit("AT_TS"))
        .when(
            atd_lp.isNull() & etd_lp.isNotNull() & (etd_lp >= as_of),
            F.lit("AT_ORIGIN"),
        )
        .otherwise(F.lit("UNKNOWN"))
    )


# ---------------------------------------------------------------------------
# D6 — partition tags
# ---------------------------------------------------------------------------
def partition_tags(etd_lp: Column) -> tuple[Column, Column]:
    """D6 — (source_group 'yyyy-MM', source_month_tag 'mmm_yy') from ETD LP
    (`src/transformer.py:1142-1158`); null ETD -> null tags."""
    return month_group(etd_lp), month_tag(etd_lp)


# ---------------------------------------------------------------------------
# D7 — workflow gap flag
# ---------------------------------------------------------------------------
def workflow_gap_flag(delivery: Column, empty_return: Column) -> Column:
    """D7 — flag empty-return-without-delivery
    (`src/transformer.py:745-752`)."""
    return F.when(
        delivery.isNull() & empty_return.isNotNull(),
        F.lit("missing_delivery_event_with_empty_return"),
    ).otherwise(F.lit("none_detected"))


def workflow_gap_flags_legacy(
    *,
    atd_lp: Column,
    ata_dp: Column,
    out_gate_dp: Column,
    arrived_cy: Column,
    delivery: Column,
    empty_return: Column,
    eta_dp: Column,
    eta_fd: Column,
) -> Column:
    """D7 legacy variant — the old transformer's 3-code gap list
    (`src/transformer_old.py:852-864`):

    - ``missing_atd_lp``: arrived/out-gated at DP but origin departure
      never recorded
    - ``missing_out_gate_from_dp``: DP ETA/ATA exists and downstream
      (last-CY arrival or delivery) happened, yet no DP out-gate
    - ``missing_eta_fd``: completed (delivered / empty-returned) with no
      final-destination ETA ever configured

    Joined with ``", "``; ``"none"`` when no gap fires.
    """
    g1 = atd_lp.isNull() & (ata_dp.isNotNull() | out_gate_dp.isNotNull())
    g2 = (
        (eta_dp.isNotNull() | ata_dp.isNotNull())
        & out_gate_dp.isNull()
        & (arrived_cy.isNotNull() | delivery.isNotNull())
    )
    g3 = eta_fd.isNull() & (delivery.isNotNull() | empty_return.isNotNull())
    joined = F.concat_ws(
        ", ",
        F.when(g1, F.lit("missing_atd_lp")),
        F.when(g2, F.lit("missing_out_gate_from_dp")),
        F.when(g3, F.lit("missing_eta_fd")),
    )
    return F.when(joined == "", F.lit("none")).otherwise(joined)


# ---------------------------------------------------------------------------
# D8 — deterministic key dedup
# ---------------------------------------------------------------------------
def dedup_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Optional[Sequence[Column]] = None,
) -> DataFrame:
    """D8 — keep one row per business key (`src/transformer_old.py:176-185`).

    Unlike pandas ``drop_duplicates(keep='first')`` (input-order dependent),
    we make the survivor explicit and deterministic via ``row_number`` over
    ``order_by``. One hash shuffle on the key; at scale prefer pre-bucketed
    input on the same key to make this shuffle-free.
    """
    if order_by is None:
        order_by = [F.col(k) for k in keys]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    rn = F.row_number().over(w)
    return df.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# Assembled derivation stage
# ---------------------------------------------------------------------------
_DERIVED_PROJECTIONS = SessionMemo()


def with_derived_columns(df: DataFrame, as_of: Column) -> DataFrame:
    """Apply D1-D7 over a cleaned, typed shipment DataFrame.

    Two narrow projections (the delay/status block references the
    ``optimal_*`` columns by name, so it must sit above them; everything
    inside that block reads only original or ``optimal_*`` columns, so it
    is a single ``withColumns``). Ordering mirrors the reference pipeline
    (`src/transformer.py:74-104`).

    The Column trees are memoized by (columns, ``str(as_of)``) in a
    ``SessionMemo``, whose docstring says how to pass ``as_of``.
    """

    def build() -> tuple:
        c = F.col
        optimal = {
            "optimal_ata_dp_date": optimal_ata_dp(
                c("ata_dp_date"), c("derived_ata_dp_date"), as_of
            ),
            "optimal_eta_fd_date": optimal_eta_fd(
                c("predictive_eta_fd_date"), c("revised_eta_fd_date"), c("eta_fd_date")
            ),
        }
        dp_label, dp_days = dp_delay(c("optimal_ata_dp_date"), c("eta_dp_date"), as_of)
        fd_label, fd_days = fd_delay(
            c("optimal_eta_fd_date"),
            c("delivery_to_consignee_date"),
            c("empty_container_return_date"),
            as_of,
        )
        group, tag = partition_tags(c("etd_lp_date"))
        rest = {
            "delayed_dp": dp_label,
            "dp_delayed_dur": dp_days,
            "delayed_fd": fd_label,
            "fd_delayed_dur": fd_days,
            "shipment_status": shipment_status(
                empty_return=c("empty_container_return_date"),
                delivery=c("delivery_to_consignee_date"),
                out_gate_last_cy=c("out_gate_at_last_cy_date"),
                arrived_last_cy=c("equipment_arrived_at_last_cy_date"),
                optimal_ata_dp_date=c("optimal_ata_dp_date"),
                atd_flp=c("atd_flp_date"),
                ata_flp=c("ata_flp_date"),
                atd_lp=c("atd_lp_date"),
                etd_lp=c("etd_lp_date"),
                as_of=as_of,
            ),
            "workflow_gap_flags": workflow_gap_flag(
                c("delivery_to_consignee_date"), c("empty_container_return_date")
            ),
            "source_group": group,
            "source_month_tag": tag,
        }
        return optimal, rest

    optimal, rest = _DERIVED_PROJECTIONS.get(
        df.sparkSession, (tuple(df.columns), str(as_of)), build
    )
    return df.withColumns(optimal).withColumns(rest)
