"""T7 — combined_content: the indexed document body (SURVEY.md §2.6).

Reference: `_build_combined_content` (`src/transformer.py:1200-1632`) —
eight ordered sections joined by blank lines, each section assembled from
"append if present" fragments. Expressed here as staged projections:
``concat_ws`` drops null fragments, ``nullif(…,'')`` collapses empty
sections, and the final ``concat_ws('\\n\\n', …)`` stitches sections.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.arrays import join_for_text
from ..functions.cleaning import nonblank
from ..functions.dates import fmt_display
from .common import SessionMemo


def _opt(cond: Column, *parts: Column | str) -> Column:
    frags = [F.lit(p) if isinstance(p, str) else p for p in parts]
    return F.when(cond, F.concat(*frags))


def _nullify(c: Column) -> Column:
    return F.nullif(c, F.lit(""))


def _fmt_for_text(c: Column, dtype: T.DataType) -> Column:
    """`_fmt_value_for_text` (`src/transformer.py:1163-1198`) for a typed
    column: dates -> dd-MMM-yy, arrays -> ', '-joined (dates formatted),
    booleans -> 'True'/'False' (python str() parity), other scalars ->
    trimmed string; blank/empty -> null."""
    if isinstance(dtype, T.DateType):
        return fmt_display(c)
    if isinstance(dtype, T.ArrayType):
        if isinstance(dtype.elementType, T.DateType):
            return join_for_text(F.transform(c, fmt_display))
        return join_for_text(c)
    if isinstance(dtype, T.BooleanType):
        return F.when(c, F.lit("True")).when(~c, F.lit("False"))
    return nonblank(c.cast("string"))


# Prefix of the hidden columns the staged projections add and drop again.
_HIDDEN = "__content__"

_CONTENT = SessionMemo()


def combined_content(df: DataFrame, *, content_col: str = "combined_content") -> DataFrame:
    """Append the combined_content column to a fully derived DataFrame.

    The T7 body is applied as staged projections (:func:`_content_stages`)
    whose hidden columns are dropped again; the stages are memoized by
    schema in a ``SessionMemo``."""
    key = tuple((f.name, str(f.dataType)) for f in df.schema.fields)
    stages, content = _CONTENT.get(df.sparkSession, key, lambda: _content_stages(df.schema))
    for stage in stages:
        df = df.withColumns(stage)
    return df.withColumn(content_col, content).drop(*(name for stage in stages for name in stage))


def _content_stages(schema: T.StructType) -> tuple[list[dict[str, Column]], Column]:
    """The T7 body over the fields of ``schema`` (missing fields read as
    NULL, so their fragments drop out), as ``(stages, content)``.

    A Column used N times is N copies of its tree in the plan, and most
    values here are read by an ``isNotNull`` guard and by a ``concat``.
    So the values and the shared fragments are projected as hidden
    columns, one stage per level, and later stages read their attributes:

    1. every formatted field value;
    2. the intermediates several fragments share;
    3. the text of each section (null when empty);
    4. ``body``, the labelled sections joined by blank lines.

    ``content`` (over ``body``) ends the chain. Catalyst's
    ``CollapseProject`` does not inline a non-cheap alias read more than
    once, so the stages survive optimization as long as no ``Filter``
    sits above them (``PushDownPredicates`` would inline them again)."""
    dtypes = {f.name: f.dataType for f in schema.fields}
    values: dict[str, Column] = {}
    shared: dict[str, Column] = {}
    texts: dict[str, Column] = {}

    def stage(into: dict, name: str, c: Column) -> Column:
        into[_HIDDEN + name] = c
        return F.col(f"`{_HIDDEN}{name}`")

    def v(name: str) -> Column:
        if name not in dtypes:
            return F.lit(None).cast("string")
        return stage(values, name, _fmt_for_text(F.col(f"`{name}`"), dtypes[name]))

    consignee_name = v("consignee_name")
    container_number = v("container_number")
    container_type = v("container_type")
    destination_service = v("destination_service")
    shipment_status = v("shipment_status")
    display_status = stage(
        shared,
        "display_status",
        F.when(
            F.upper(F.coalesce(shipment_status, F.lit(""))).isin(
                "EMPTY_RETURNED", "EMPTY_CONTAINER_RETURNED"
            ),
            F.lit("EMPTY CONTAINER RETURNED"),
        ).otherwise(shipment_status),
    )
    hot_flag = (
        F.col("hot_container_flag")
        if "hot_container_flag" in dtypes
        else F.lit(None).cast("boolean")
    )
    seal_number = v("seal_number")

    load_port = v("load_port")
    discharge_port = v("discharge_port")
    final_destination = v("final_destination")
    last_cy_lcn = v("equipment_arrived_at_last_cy_lcn")

    # ---- Section 1: header ------------------------------------------------
    container_label = stage(
        shared,
        "container_label",
        F.when(
            container_number.isNotNull() & container_type.isNotNull(),
            F.concat(container_number, F.lit(" ("), container_type, F.lit(")")),
        ).otherwise(container_number),
    )

    route_bits = stage(
        shared,
        "route_bits",
        F.concat_ws(
            " | ",
            _opt(load_port.isNotNull(), "Origin/Load: ", load_port),
            F.when(
                discharge_port.isNotNull() & last_cy_lcn.isNotNull(),
                F.concat(
                    F.lit("Discharge: "),
                    discharge_port,
                    F.lit(" → Last CY location: "),
                    last_cy_lcn,
                ),
            ),
            _opt(
                discharge_port.isNotNull() & last_cy_lcn.isNull(),
                "Discharge: ",
                discharge_port,
            ),
            _opt(
                last_cy_lcn.isNotNull() & discharge_port.isNull(),
                "Last CY location: ",
                last_cy_lcn,
            ),
            _opt(final_destination.isNotNull(), "Final Destination: ", final_destination),
        ),
    )

    header = F.concat_ws(
        " | ",
        F.when(hot_flag, F.lit("HOT CONTAINER")),
        F.when(
            container_label.isNotNull() & consignee_name.isNotNull(),
            F.concat(
                F.lit("Container: "),
                container_label,
                F.lit(" | Consignee: "),
                consignee_name,
            ),
        )
        .when(
            container_label.isNotNull(),
            F.concat(F.lit("Container: "), container_label),
        )
        .when(
            consignee_name.isNotNull(),
            F.concat(F.lit("Consignee: "), consignee_name),
        ),
        _opt(
            container_type.isNotNull() & container_number.isNull(),
            "Container Type: ",
            container_type,
        ),
        _opt(seal_number.isNotNull(), "Seal Number: ", seal_number),
        _nullify(route_bits),
        _opt(
            destination_service.isNotNull(),
            "Destination service: ",
            destination_service,
        ),
        _opt(display_status.isNotNull(), "Current shipment status: ", display_status),
    )

    # ---- Section 2: key dates + delay snapshot ----------------------------
    etd_lp_date = v("etd_lp_date")
    eta_dp_date = v("eta_dp_date")
    optimal_ata_dp_date = v("optimal_ata_dp_date")
    optimal_eta_fd_date = v("optimal_eta_fd_date")
    delayed_dp = v("delayed_dp")
    dp_delayed_dur = v("dp_delayed_dur")
    delayed_fd = v("delayed_fd")
    fd_delayed_dur = v("fd_delayed_dur")

    key_dates = stage(
        shared,
        "key_dates",
        F.concat_ws(
            " | ",
            _opt(etd_lp_date.isNotNull(), "ETD LP: ", etd_lp_date),
            _opt(eta_dp_date.isNotNull(), "ETA DP: ", eta_dp_date),
            _opt(optimal_ata_dp_date.isNotNull(), "ATA DP (optimal): ", optimal_ata_dp_date),
            _opt(optimal_eta_fd_date.isNotNull(), "ETA FD (optimal): ", optimal_eta_fd_date),
        ),
    )
    delay_bits = stage(
        shared,
        "delay_bits",
        F.concat_ws(
            " | ",
            _opt(
                delayed_dp.isNotNull() & dp_delayed_dur.isNotNull(),
                "DP delay: ",
                delayed_dp,
                ", Δ≈",
                dp_delayed_dur,
                " day(s)",
            ),
            _opt(
                delayed_fd.isNotNull() & fd_delayed_dur.isNotNull(),
                "FD delay: ",
                delayed_fd,
                ", Δ≈",
                fd_delayed_dur,
                " day(s)",
            ),
        ),
    )
    dates_section = F.concat_ws(
        " ",
        _opt(key_dates != "", "Key dates: ", key_dates),
        _opt(delay_bits != "", "Delay snapshot: ", delay_bits),
    )

    # ---- Section 3: route summaries ---------------------------------------
    vessel_summary = v("vessel_summary")
    carrier_summary = v("carrier_summary")
    port_route_summary = v("port_route_summary")
    route_section = F.concat_ws(
        " ",
        _opt(port_route_summary.isNotNull(), "Route summary: ", port_route_summary),
        _opt(last_cy_lcn.isNotNull(), "Last CY location: ", last_cy_lcn),
        _opt(vessel_summary.isNotNull(), "Vessel summary: ", vessel_summary),
        _opt(carrier_summary.isNotNull(), "Carrier summary: ", carrier_summary),
    )

    # ---- Section 4: timeline ----------------------------------------------
    milestones_txt = v("milestones")
    critical = v("critical_dates_summary")
    delay_reason = v("delay_reason_summary")
    gaps = v("workflow_gap_flags")
    timeline_section = F.concat_ws(
        " ",
        _opt(milestones_txt.isNotNull(), "Milestones: ", milestones_txt),
        _opt(critical.isNotNull(), "Critical dates: ", critical),
        _opt(delay_reason.isNotNull(), "Delay analysis: ", delay_reason),
        _opt(
            gaps.isNotNull() & (F.lower(gaps) != "none_detected"),
            "Workflow gaps: ",
            gaps,
        ),
    )

    # ---- Section 5: operational status ------------------------------------
    dep_status_raw = v("current_departure_status")
    arr_status_raw = v("current_arrival_status")
    delivery_date_txt = v("delivery_to_consignee_date")
    empty_return_txt = v("empty_container_return_date")
    completed = delivery_date_txt.isNotNull() | empty_return_txt.isNotNull()

    def _suppress_no(c: Column) -> Column:
        # a literal "no" status is noise once the shipment has completed
        return F.when(completed & (F.lower(F.trim(c)) == "no"), F.lit(None)).otherwise(c)

    dep_status = stage(shared, "dep_status", _suppress_no(dep_status_raw))
    arr_status = stage(shared, "arr_status", _suppress_no(arr_status_raw))
    ops_section = F.concat_ws(
        " | ",
        _opt(dep_status.isNotNull(), "Current departure status: ", dep_status),
        _opt(arr_status.isNotNull(), "Current arrival status: ", arr_status),
    )

    # ---- Section 6: compliance --------------------------------------------
    filing_856 = v("856_filing_status")
    isf = v("get_isf_submission_date")
    compliance_section = F.concat_ws(
        " | ",
        _opt(filing_856.isNotNull(), "856 filing status: ", filing_856),
        _opt(isf.isNotNull(), "ISF submission: ", isf),
    )

    # ---- Section 7: operational events (15 kinds) -------------------------
    def event(label: str, date_c: Column, lcn_c: Column | None) -> Column:
        if lcn_c is None:
            return _opt(date_c.isNotNull(), label + ": ", date_c)
        return (
            F.when(
                date_c.isNotNull() & lcn_c.isNotNull(),
                F.concat(F.lit(label + ": "), date_c, F.lit(" @ "), lcn_c),
            )
            .when(date_c.isNotNull(), F.concat(F.lit(label + ": "), date_c))
            .when(lcn_c.isNotNull(), F.concat(F.lit(label + " location: "), lcn_c))
        )

    events_section = F.concat_ws(
        " | ",
        event("In-DC", v("in-dc_date"), None),
        event("Cargo ready", v("cargo_ready_date"), None),
        event("Cargo received", v("cargo_receiveds_date"), None),
        event(
            "Empty container dispatch",
            v("empty_container_dispatch_date"),
            v("empty_container_dispatch_lcn"),
        ),
        event("In-gate", v("in_gate_date"), v("in_gate_lcn")),
        event(
            "Carrier vehicle load",
            v("carrier_vehicle_load_date"),
            v("carrier_vehicle_load_lcn"),
        ),
        event(
            "Carrier vehicle unload",
            v("carrier_vehicle_unload_date"),
            v("carrier_vehicle_unload_lcn"),
        ),
        event("Vehicle departure", v("vehicle_departure_date"), v("vehicle_departure_lcn")),
        event("Vehicle arrival", v("vehicle_arrival_date"), v("vehicle_arrival_lcn")),
        event("Out-gate from DP", v("out_gate_from_dp_date"), v("out_gate_from_dp_lcn")),
        event(
            "Equipment arrived at last CY",
            v("equipment_arrived_at_last_cy_date"),
            v("equipment_arrived_at_last_cy_lcn"),
        ),
        event(
            "Out-gate at last CY",
            v("out_gate_at_last_cy_date"),
            v("out_gate_at_last_cy_lcn"),
        ),
        event("Rail load", v("rail_load_dp_date"), v("rail_load_dp_lcn")),
        event("Rail departure", v("rail_departure_dp_date"), v("rail_departure_dp_lcn")),
        event(
            "Rail arrival",
            v("rail_arrival_destination_date"),
            v("rail_arrival_destination_lcn"),
        ),
    )

    # ---- Section 8: cargo metrics / CO2 -----------------------------------
    cargo_weight = v("cargo_weight_kg")
    cargo_measure = v("cargo_measure_cubic_meter")
    cargo_count = v("cargo_count")
    cargo_um = v("cargo_um")
    cargo_detail_count = v("cargo_detail_count")
    detail_cargo_um = v("detail_cargo_um")
    co2_tank = v("co2_tank_on_wheel")
    co2_well = v("co2_well_to_wheel")

    metrics = stage(
        shared,
        "metrics",
        F.concat_ws(
            " ",
            _opt(cargo_weight.isNotNull(), "weight ", cargo_weight, " kg"),
            _opt(cargo_measure.isNotNull(), "volume ", cargo_measure, " m3"),
            F.when(
                cargo_count.isNotNull() & cargo_um.isNotNull(),
                F.concat(F.lit("Cargo count: "), cargo_count, F.lit(" "), cargo_um),
            ).when(cargo_count.isNotNull(), F.concat(F.lit("Cargo count: "), cargo_count)),
            _opt(
                cargo_detail_count.isNotNull() & detail_cargo_um.isNotNull(),
                "Detail cargo: ",
                cargo_detail_count,
                " ",
                detail_cargo_um,
            ),
        ),
    )
    co2 = stage(
        shared,
        "co2",
        F.concat_ws(
            " | ",
            _opt(co2_tank.isNotNull(), "tank-to-wheel ", co2_tank),
            _opt(co2_well.isNotNull(), "well-to-wheel ", co2_well),
        ),
    )
    cargo_section = F.concat_ws(
        " ",
        _opt(_nullify(metrics).isNotNull(), "Cargo metrics: ", metrics),
        _opt(_nullify(co2).isNotNull(), "CO2: ", co2),
    )

    free_days_section = F.concat_ws(
        " | ",
        _opt(v("demurrage_free_days").isNotNull(), "Demurrage free days: ", v("demurrage_free_days")),
        _opt(v("detention_free_days").isNotNull(), "Detention free days: ", v("detention_free_days")),
    )

    # ---- Section 9: references --------------------------------------------
    refs_section = F.concat_ws(
        " | ",
        _opt(v("po_numbers").isNotNull(), "PO Numbers: ", v("po_numbers")),
        _opt(v("booking_numbers").isNotNull(), "Booking Numbers: ", v("booking_numbers")),
        _opt(v("fcr_numbers").isNotNull(), "FCR Numbers: ", v("fcr_numbers")),
        _opt(v("obl_nos").isNotNull(), "Ocean BL Numbers: ", v("obl_nos")),
        _opt(v("job_no").isNotNull(), "Job No: ", v("job_no")),
        _opt(v("mcs_hbl").isNotNull(), "MCS HBL: ", v("mcs_hbl")),
        _opt(
            v("service_contract_number").isNotNull(),
            "Service Contract: ",
            v("service_contract_number"),
        ),
    )

    # ---- Section 10: parties & service ------------------------------------
    hot_flag_txt = F.when(hot_flag, F.lit("True")).when(~hot_flag, F.lit("False"))
    parties_section = F.concat_ws(
        " | ",
        _opt(consignee_name.isNotNull(), "Consignee: ", consignee_name),
        _opt(v("ship_to_party_name").isNotNull(), "Ship-to party: ", v("ship_to_party_name")),
        _opt(
            v("supplier_vendor_name").isNotNull(),
            "Supplier/Vendor: ",
            v("supplier_vendor_name"),
        ),
        _opt(v("manufacturer_name").isNotNull(), "Manufacturer: ", v("manufacturer_name")),
        _opt(v("job_type").isNotNull(), "Job type: ", v("job_type")),
        _opt(v("transport_mode").isNotNull(), "Transport mode: ", v("transport_mode")),
        _opt(hot_flag.isNotNull(), "Hot container flag: ", hot_flag_txt),
        _opt(
            v("booking_approval_status").isNotNull(),
            "Booking approval status: ",
            v("booking_approval_status"),
        ),
    )

    # (label, text) per section; an empty text is staged as null, so the
    # body skips it and its label
    sections = [
        (None, header),
        (None, dates_section),
        (None, route_section),
        (None, timeline_section),
        ("Operational status: ", ops_section),
        ("Compliance: ", compliance_section),
        ("Operational events: ", events_section),
        (None, cargo_section),
        ("Free days: ", free_days_section),
        ("References: ", refs_section),
        ("Parties & service: ", parties_section),
    ]
    labelled = []
    for i, (label, text) in enumerate(sections):
        text = stage(texts, f"section{i}", _nullify(text))
        labelled.append(text if label is None else _opt(text.isNotNull(), label, text))
    body_stage: dict[str, Column] = {}
    body = stage(body_stage, "body", F.concat_ws("\n\n", *labelled))
    fallback = F.concat(
        F.lit("Shipment record for container "),
        F.coalesce(container_number, F.lit("UNKNOWN")),
        F.lit("."),
    )
    content = F.when(body == "", fallback).otherwise(body)
    return [values, shared, texts, body_stage], content
