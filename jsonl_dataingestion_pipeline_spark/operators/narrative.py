"""T6 (milestones) and T7 (combined_content) narrative builders.

The reference implements these as ~725 LoC of row-at-a-time Python
(`src/transformer.py:771-1058` and `:1200-1637`). Here they are pure
``Column`` expression trees — large, but entirely JVM-side and fused into
whole-stage codegen with the rest of the projection, which is what makes
the pipeline viable at 100 TB (no Python round-trip per row).

Naming below follows the reference's leg structure so the two can be
diffed section by section.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import nonblank
from ..functions.dates import fmt_iso
from .common import SessionMemo


def _opt(cond: Column, *parts: Column | str) -> Column:
    frags = [F.lit(p) if isinstance(p, str) else p for p in parts]
    return F.when(cond, F.concat(*frags))


def _nullify(c: Column) -> Column:
    return F.nullif(c, F.lit(""))


# ---------------------------------------------------------------------------
# T6 — milestones narrative (`src/transformer.py:771-1047`)
# ---------------------------------------------------------------------------
def milestones(df_cols: dict[str, Column], as_of: Column) -> Column:
    """Build the 5-leg milestones narrative.

    ``df_cols`` maps canonical column names to Columns (typed: dates are
    DateType, statuses strings). Mirrors `_derive_milestones_row`.
    """
    g = df_cols.get

    def txt(name: str) -> Column:
        c = g(name)
        return nonblank(c) if c is not None else F.lit(None).cast("string")

    def dat(name: str) -> Column:
        c = g(name)
        return c if c is not None else F.lit(None).cast("date")

    status = F.upper(F.coalesce(txt("shipment_status"), F.lit("UNKNOWN")))
    display_status = F.when(
        status.isin("EMPTY_RETURNED", "EMPTY_CONTAINER_RETURNED"),
        F.lit("EMPTY CONTAINER RETURNED"),
    ).otherwise(status)

    por = F.coalesce(txt("place_of_receipt"), F.lit("POR"))
    lp = F.coalesce(txt("load_port"), F.lit("Load Port"))
    ts = txt("final_load_port")
    dp = F.coalesce(txt("discharge_port"), F.lit("Discharge Port"))

    dp_out_lcn = F.coalesce(txt("out_gate_from_dp_lcn"), dp)
    last_cy_lcn = F.coalesce(
        txt("equipment_arrived_at_last_cy_lcn"),
        txt("last_cy_location"),
        F.lit("Last CY"),
    )
    cy_out_lcn = F.coalesce(txt("out_gate_at_last_cy_lcn"), last_cy_lcn)

    pod = txt("place_of_delivery")
    final_dest = F.coalesce(txt("final_destination"), pod, F.lit("Final Destination"))
    delivery_lcn = F.coalesce(txt("delivery_to_consignee_lcn"), final_dest)
    empty_rt_lcn = F.coalesce(txt("empty_container_return_lcn"), delivery_lcn)

    etd_lp = dat("etd_lp_date")
    atd_lp = dat("atd_lp_date")
    ata_flp = dat("ata_flp_date")
    atd_flp = dat("atd_flp_date")
    eta_dp = dat("eta_dp_date")
    ata_dp = dat("optimal_ata_dp_date")
    out_dp = dat("out_gate_from_dp_date")
    equip_arr_cy = dat("equipment_arrived_at_last_cy_date")
    out_cy = dat("out_gate_at_last_cy_date")
    eta_fd = dat("optimal_eta_fd_date")
    delivery = dat("delivery_to_consignee_date")
    empty_rt = dat("empty_container_return_date")

    rail_load_dt = dat("rail_load_dp_date")
    rail_load_lc = txt("rail_load_dp_lcn")
    rail_dep_dt = dat("rail_departure_dp_date")
    rail_dep_lc = txt("rail_departure_dp_lcn")
    rail_arr_dt = dat("rail_arrival_destination_date")
    rail_arr_lc = txt("rail_arrival_destination_lcn")

    delayed_dp = F.lower(F.coalesce(txt("delayed_dp"), F.lit("unknown")))
    dp_days = g("dp_delayed_dur")
    delayed_fd = F.lower(F.coalesce(txt("delayed_fd"), F.lit("unknown")))
    fd_days = g("fd_delayed_dur")

    # ---- Leg 1 -----------------------------------------------------------
    leg1 = F.concat(
        F.lit("Leg 1 (POR → Load Port) ["),
        F.when(atd_lp.isNotNull(), F.lit("COMPLETED"))
        .when(etd_lp.isNotNull() & (etd_lp < as_of), F.lit("OVERDUE"))
        .when(etd_lp.isNotNull(), F.lit("PLANNED"))
        .otherwise(F.lit("UNKNOWN")),
        F.lit("]: "),
        por,
        F.lit(" → "),
        lp,
        F.lit("; "),
        F.when(
            atd_lp.isNotNull(),
            F.concat(F.lit("departed "), lp, F.lit(" on "), fmt_iso(atd_lp), F.lit(".")),
        )
        .when(
            etd_lp.isNotNull() & (etd_lp < as_of),
            F.concat(
                F.lit("ETD "),
                fmt_iso(etd_lp),
                F.lit(" passed; actual departure not recorded."),
            ),
        )
        .when(
            etd_lp.isNotNull(),
            F.concat(F.lit("planned ETD "), fmt_iso(etd_lp), F.lit(" from "), lp, F.lit(".")),
        )
        .otherwise(F.lit("no ETD/ATD recorded for origin leg.")),
    )

    # ---- Leg 2 -----------------------------------------------------------
    leg2_completed_desc = F.concat_ws(
        "; ",
        _opt(
            ata_flp.isNotNull(),
            "arrived TS ",
            ts,
            " on ",
            fmt_iso(ata_flp),
        ),
        F.concat(F.lit("departed TS on "), fmt_iso(atd_flp)),
    )
    leg2 = F.when(
        ts.isNotNull(),
        F.concat(
            F.lit("Leg 2 (Load Port → TS) ["),
            F.when(atd_flp.isNotNull(), F.lit("COMPLETED"))
            .when(ata_flp.isNotNull(), F.lit("PARTIAL"))
            .otherwise(F.lit("PLANNED")),
            F.lit("]: "),
            lp,
            F.lit(" → "),
            ts,
            F.lit("; "),
            F.when(atd_flp.isNotNull(), leg2_completed_desc)
            .when(
                ata_flp.isNotNull(),
                F.concat(
                    F.lit("arrived TS "),
                    ts,
                    F.lit(" on "),
                    fmt_iso(ata_flp),
                    F.lit("; TS departure not recorded."),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("TS at "),
                    ts,
                    F.lit(" configured, but no arrival/departure recorded yet."),
                )
            ),
        ),
    ).otherwise(
        F.concat(
            F.lit(
                "Leg 2 (Load Port → TS) [NOT_APPLICABLE]: no transshipment; "
                "direct ocean leg from "
            ),
            lp,
            F.lit(" to "),
            dp,
            F.lit("."),
        )
    )

    # ---- Leg 3 -----------------------------------------------------------
    dp_arrived = ata_dp.isNotNull() & (ata_dp <= as_of)
    dp_delay_txt = (
        F.when(
            (delayed_dp == "delay") & dp_days.isNotNull() & (dp_days > 0),
            F.format_string("delayed by ~%d day(s) vs ETA DP.", dp_days),
        )
        .when(
            (delayed_dp == "early") & dp_days.isNotNull() & (dp_days < 0),
            F.format_string("early by ~%d day(s) vs ETA DP.", F.abs(dp_days)),
        )
        .when(delayed_dp == "on_time", F.lit("on time vs ETA DP."))
        .otherwise(F.lit("arrival vs ETA DP not clearly classified."))
    )
    leg3 = F.concat(
        F.lit("Leg 3 (TS/Load → DP) ["),
        F.when(dp_arrived, F.lit("COMPLETED"))
        .when(eta_dp.isNotNull() & (eta_dp < as_of), F.lit("OVERDUE"))
        .when(eta_dp.isNotNull(), F.lit("IN_PROGRESS"))
        .otherwise(F.lit("UNKNOWN")),
        F.lit("]: "),
        F.coalesce(ts, lp),
        F.lit(" → "),
        dp,
        F.lit("; "),
        F.when(
            dp_arrived,
            F.concat(
                F.lit("arrived "),
                dp,
                F.lit(" on "),
                fmt_iso(ata_dp),
                F.lit(" ("),
                dp_delay_txt,
                F.lit(")"),
            ),
        )
        .when(
            eta_dp.isNotNull() & (eta_dp < as_of),
            F.concat(
                F.lit("ETA DP "),
                fmt_iso(eta_dp),
                F.lit(" passed; actual arrival not recorded."),
            ),
        )
        .when(
            eta_dp.isNotNull(),
            F.concat(
                F.lit("in ocean transit towards "),
                dp,
                F.lit(" (ETA "),
                fmt_iso(eta_dp),
                F.lit(")."),
            ),
        )
        .otherwise(F.lit("no ETA/ATA DP recorded.")),
    )

    # ---- Leg 4 -----------------------------------------------------------
    rail_bits = F.concat_ws(
        "; ",
        _opt(
            rail_load_dt.isNotNull() | rail_load_lc.isNotNull(),
            "rail load ",
            F.coalesce(rail_load_lc, dp_out_lcn),
            " on ",
            F.coalesce(fmt_iso(rail_load_dt), F.lit("date not recorded")),
        ),
        _opt(
            rail_dep_dt.isNotNull() | rail_dep_lc.isNotNull(),
            "rail depart ",
            F.coalesce(rail_dep_lc, dp_out_lcn),
            " on ",
            F.coalesce(fmt_iso(rail_dep_dt), F.lit("date not recorded")),
        ),
        _opt(
            rail_arr_dt.isNotNull() | rail_arr_lc.isNotNull(),
            "rail arrive ",
            F.coalesce(rail_arr_lc, last_cy_lcn),
            " on ",
            F.coalesce(fmt_iso(rail_arr_dt), F.lit("date not recorded")),
        ),
    )
    has_rail_bits = rail_bits != ""

    leg4_completed = equip_arr_cy.isNotNull() | rail_arr_dt.isNotNull()
    arr_dt = F.coalesce(equip_arr_cy, rail_arr_dt)
    arr_lc = F.when(equip_arr_cy.isNotNull(), last_cy_lcn).otherwise(
        F.coalesce(rail_arr_lc, last_cy_lcn)
    )
    leg4_in_progress = (
        out_dp.isNotNull() | rail_dep_dt.isNotNull() | rail_load_dt.isNotNull()
    )

    leg4_completed_desc = F.concat(
        F.when(
            out_dp.isNotNull(),
            F.concat(
                F.lit("departed DP area ("),
                dp_out_lcn,
                F.lit(") on "),
                fmt_iso(out_dp),
                F.lit(", arrived "),
                arr_lc,
                F.lit(" on "),
                fmt_iso(arr_dt),
                F.lit("."),
            ),
        ).otherwise(
            F.concat(
                F.lit("arrived "),
                arr_lc,
                F.lit(" on "),
                fmt_iso(arr_dt),
                F.lit("; DP out-gate not recorded."),
            )
        ),
        F.when(has_rail_bits, F.concat(F.lit(" Rail events: "), rail_bits)).otherwise(
            F.lit("")
        ),
    )
    leg4_in_progress_desc = F.concat_ws(
        "; ",
        _opt(
            out_dp.isNotNull(),
            "out-gated from DP area (",
            dp_out_lcn,
            ") on ",
            fmt_iso(out_dp),
        ),
        _opt(has_rail_bits, "Rail events: ", rail_bits),
        F.lit("arrival at last CY not recorded."),
    )
    status_suggests_moved = status.isin(
        "IN_INLAND_TRANSIT",
        "AT_LAST_CY",
        "DELIVERED",
        "EMPTY_RETURNED",
        "EMPTY_CONTAINER_RETURNED",
    )
    leg4 = F.concat(
        F.lit("Leg 4 (DP → Last CY) ["),
        F.when(leg4_completed, F.lit("COMPLETED"))
        .when(leg4_in_progress, F.lit("IN_PROGRESS"))
        .when(status_suggests_moved, F.lit("UNKNOWN"))
        .otherwise(F.lit("PLANNED")),
        F.lit("]: "),
        dp,
        F.lit(" → "),
        last_cy_lcn,
        F.lit("; "),
        F.when(leg4_completed, leg4_completed_desc)
        .when(leg4_in_progress, leg4_in_progress_desc)
        .when(
            status_suggests_moved,
            F.lit(
                "status suggests DP→CY movement happened, but DP/rail/CY "
                "events are missing."
            ),
        )
        .otherwise(F.lit("no DP→CY movement recorded yet.")),
    )

    # ---- Leg 5 -----------------------------------------------------------
    has_delivery = delivery.isNotNull()
    has_empty = empty_rt.isNotNull()
    fd_delay_txt = (
        F.when(
            (delayed_fd == "delay") & fd_days.isNotNull() & (fd_days > 0),
            F.format_string("delayed by ~%d day(s) vs ETA FD.", fd_days),
        )
        .when(
            (delayed_fd == "early") & fd_days.isNotNull() & (fd_days < 0),
            F.format_string("early by ~%d day(s) vs ETA FD.", F.abs(fd_days)),
        )
        .when(delayed_fd == "on_time", F.lit("on time vs ETA FD."))
        .otherwise(F.lit("completion vs ETA FD not clearly classified."))
    )
    leg5_details = F.concat_ws(
        "; ",
        _opt(
            out_cy.isNotNull(),
            "departed last CY (",
            cy_out_lcn,
            ") on ",
            fmt_iso(out_cy),
        ),
        F.when(
            has_delivery,
            F.concat(
                F.lit("delivered at "), delivery_lcn, F.lit(" on "), fmt_iso(delivery)
            ),
        ).when(
            ~has_empty,
            F.when(
                eta_fd.isNotNull(),
                F.concat(F.lit("delivery pending; ETA FD "), fmt_iso(eta_fd)),
            ).otherwise(F.lit("delivery pending; ETA FD not available")),
        ),
        F.when(
            has_empty,
            F.concat(
                F.lit("empty container returned at "),
                empty_rt_lcn,
                F.lit(" on "),
                fmt_iso(empty_rt),
            ),
        ).otherwise(F.lit("empty container return pending")),
    )
    leg5 = F.concat(
        F.lit("Leg 5 (Last CY → Final) ["),
        F.when(has_empty, F.lit("COMPLETED"))
        .when(has_delivery, F.lit("PARTIAL"))
        .when(eta_fd.isNotNull() & (eta_fd < as_of), F.lit("OVERDUE"))
        .when(eta_fd.isNotNull(), F.lit("PLANNED"))
        .otherwise(F.lit("UNKNOWN")),
        F.lit("]: "),
        last_cy_lcn,
        F.lit(" → "),
        final_dest,
        F.lit("; "),
        leg5_details,
        F.lit(" ("),
        fd_delay_txt,
        F.lit(")"),
    )

    header = F.concat(F.lit("Overall shipment status: "), display_status)
    return F.concat_ws(" || ", header, leg1, leg2, leg3, leg4, leg5)


_MILESTONES = SessionMemo()


def with_milestones(df: DataFrame, as_of: Column) -> DataFrame:
    # The T6 narrative is a ~300-node Column tree, memoized by (schema,
    # as_of expression) in a SessionMemo
    def build() -> Column:
        return milestones({name: F.col(f"`{name}`") for name in df.columns}, as_of)

    col = _MILESTONES.get(df.sparkSession, (tuple(df.columns), str(as_of)), build)
    return df.withColumn("milestones", col)
