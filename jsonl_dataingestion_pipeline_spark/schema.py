"""Shipment data contract: source headers, canonical names, column classes.

This is the engine's port of the reference schema contract
(`/root/reference/src/config.py:26-161`): a strict 100-column CSV whose
headers must match by name AND position, renamed to snake_case canonical
names, with per-class typing rules applied afterwards (dates, multi-valued
cells, booleans, string IDs).

The mapping is expressed as an ordered tuple of (source_header, canonical)
pairs — order matters because the reference validates header *position*
(`src/transformer.py:167-187`).
"""

from __future__ import annotations

from pyspark.sql import types as T

# (source CSV header, canonical snake_case name) — order is the contract.
COLUMN_MAPPING: tuple[tuple[str, str], ...] = (
    ("Job No.", "job_no"),
    ("carr_eqp_uid", "carr_eqp_uid"),
    ("Container Number", "container_number"),
    ("Container Type", "container_type"),
    ("Destination Service", "destination_service"),
    ("Consignee Code (Multiple)", "consignee_raw"),
    ("PO Number (Multiple)", "po_numbers"),
    ("Booking Number (Multiple)", "booking_numbers"),
    ("FCR Number (Multiple)", "fcr_numbers"),
    ("Ocean BL No (Multiple)", "obl_nos"),
    ("Load Port", "load_port"),
    ("Final Load Port", "final_load_port"),
    ("Discharge Port", "discharge_port"),
    ("Last CY Location", "last_cy_location"),
    ("Place of Receipt", "place_of_receipt"),
    ("Place of Delivery", "place_of_delivery"),
    ("Final Destination", "final_destination"),
    ("First Vessel Code", "first_vessel_code"),
    ("First Vessel Name", "first_vessel_name"),
    ("First Voyage code", "first_voyage_code"),
    ("Final Carrier Code", "final_carrier_code"),
    ("Final Carrier SCAC Code", "final_carrier_scac_code"),
    ("Final Carrier Name", "final_carrier_name"),
    ("Final Vessel Code", "final_vessel_code"),
    ("Final Vessel Name", "final_vessel_name"),
    ("Final Voyage code", "final_voyage_code"),
    ("True Carrier Code", "true_carrier_code"),
    ("True Carrier SCAC Code", "true_carrier_scac_code"),
    ("True Carrier SCAC Name", "true_carrier_scac_name"),
    ("ETD LP", "etd_lp_date"),
    ("ETD FLP", "etd_flp_date"),
    ("ETA DP", "eta_dp_date"),
    ("ETA FD", "eta_fd_date"),
    ("Revised ETA", "revised_eta_date"),
    ("Predictive ETA", "predictive_eta_date"),
    ("ATD LP", "atd_lp_date"),
    ("ATA FLP", "ata_flp_date"),
    ("ATD FLP", "atd_flp_date"),
    ("ATA DP", "ata_dp_date"),
    ("Derived ATA DP", "derived_ata_dp_date"),
    ("Revised ETA FD", "revised_eta_fd_date"),
    ("Predictive ETA FD", "predictive_eta_fd_date"),
    ("Cargo Received Date (Multiple)", "cargo_receiveds_date"),
    ("Detention Free Days", "detention_free_days"),
    ("Demurrage Free Days", "demurrage_free_days"),
    ("Hot Container Flag", "hot_container_flag"),
    ("Supplier/Vendor Name", "supplier_vendor_name"),
    ("Manufacturer Name", "manufacturer_name"),
    ("Ship To Party Name", "ship_to_party_name"),
    ("Booking Approval Status", "booking_approval_status"),
    ("Service Contract Number", "service_contract_number"),
    ("CARRIER VEHICLE LOAD Date", "carrier_vehicle_load_date"),
    ("Carrier Vehicle Load Lcn", "carrier_vehicle_load_lcn"),
    ("Vehicle Departure Date", "vehicle_departure_date"),
    ("Vehicle Departure Lcn", "vehicle_departure_lcn"),
    ("Vehicle Arrival Date", "vehicle_arrival_date"),
    ("Vehicle Arrival Lcn", "vehicle_arrival_lcn"),
    ("Carrier Vehicle Unload Date", "carrier_vehicle_unload_date"),
    ("Carrier Vehicle Unload Lcn", "carrier_vehicle_unload_lcn"),
    ("Out Gate Date From DP", "out_gate_from_dp_date"),
    ("Out Gate Location", "out_gate_from_dp_lcn"),
    ("Equipment Arrived at Last CY", "equipment_arrived_at_last_cy_date"),
    ("Equipment Arrival at Last Lcn", "equipment_arrived_at_last_cy_lcn"),
    ("Out gate at Last CY", "out_gate_at_last_cy_date"),
    ("Out gate at Last CY Lcn", "out_gate_at_last_cy_lcn"),
    ("Delivery Date To Consignee", "delivery_to_consignee_date"),
    ("Delivery Date To Consignee Lcn", "delivery_to_consignee_lcn"),
    ("Empty Container Return Date", "empty_container_return_date"),
    ("Empty Container Return Lcn", "empty_container_return_lcn"),
    ("Late Booking Status", "late_booking_status"),
    ("Current Departure status", "current_departure_status"),
    ("Current Arrival status", "current_arrival_status"),
    ("Late Arrival status", "late_arrival_status"),
    ("Late Container Return status", "late_container_return_status"),
    ("CO2 Emission For Tank On Wheel", "co2_tank_on_wheel"),
    ("CO2 Emission For Well To Wheel", "co2_well_to_wheel"),
    ("Job Type", "job_type"),
    ("MCS HBL", "mcs_hbl"),
    ("Transport Mode", "transport_mode"),
    ("Rail Load DP Date", "rail_load_dp_date"),
    ("Rail Load DP Lcn", "rail_load_dp_lcn"),
    ("Rail Departure DP Date", "rail_departure_dp_date"),
    ("Rail Departure DP Lcn", "rail_departure_dp_lcn"),
    ("Rail Arrival Destination Date", "rail_arrival_destination_date"),
    ("Rail Arrival Destination Lcn", "rail_arrival_destination_lcn"),
    ("Cargo Ready Date", "cargo_ready_date"),
    ("IN-DC DATE", "in-dc_date"),
    ("Cargo Weight", "cargo_weight_kg"),
    ("Cargo Meassure", "cargo_measure_cubic_meter"),
    ("Cargo Count", "cargo_count"),
    ("Cargo UM", "cargo_um"),
    ("Cargo Detail Count", "cargo_detail_count"),
    ("Detail Cargo UM", "detail_cargo_um"),
    ("856 Filing Status", "856_filing_status"),
    ("Get_ISF_submission_dt", "get_isf_submission_date"),
    ("Seal Number", "seal_number"),
    ("In Gate Date", "in_gate_date"),
    ("In Gate Lcn", "in_gate_lcn"),
    ("Empty Container Dispatch Date", "empty_container_dispatch_date"),
    ("Empty Container Dispatch Lcn", "empty_container_dispatch_lcn"),
)

SOURCE_HEADERS: tuple[str, ...] = tuple(src for src, _ in COLUMN_MAPPING)
CANONICAL_COLUMNS: tuple[str, ...] = tuple(dst for _, dst in COLUMN_MAPPING)

# Column classes (reference: src/config.py:130-161).
# Every canonical *_date column plus the oddball "in-dc_date" is a date.
DATE_COLUMNS: tuple[str, ...] = tuple(
    c for c in CANONICAL_COLUMNS if c.endswith("_date") or c == "in-dc_date"
)

# Cells that may hold several comma-separated dates -> array<date>.
MULTI_VALUED_DATE_COLS: frozenset[str] = frozenset(
    {"cargo_receiveds_date", "cargo_ready_date"}
)

# Cells that may hold several comma-separated IDs -> array<string>
# (split + trim + drop empties + dedup + sort; reference
# src/transformer_old.py:188-214 — authoritative per SURVEY.md §7.3.2).
MULTI_VALUED_ID_COLS: tuple[str, ...] = (
    "po_numbers",
    "booking_numbers",
    "fcr_numbers",
    "obl_nos",
)

BOOLEAN_COLUMNS: tuple[str, ...] = ("hot_container_flag",)

ID_COLUMNS: tuple[str, ...] = ("job_no", "carr_eqp_uid", "container_number")

# Technical columns dropped after derivation (src/config.py:147-161).
DROP_COLUMNS_AFTER_LOAD: tuple[str, ...] = (
    "first_vessel_code",
    "first_voyage_code",
    "final_carrier_code",
    "final_carrier_scac_code",
    "final_vessel_code",
    "final_voyage_code",
    "true_carrier_code",
    "true_carrier_scac_code",
    "late_booking_status",
    "current_departure_status",
    "current_arrival_status",
    "late_arrival_status",
    "late_container_return_status",
)

# Max bytes per output JSONL file (reference src/config.py:18-19) — applied
# approximately by the per-write ``maxRecordsPerFile`` option that
# ``sources/jsonl.py::write_documents`` derives from a sampled size.
MAX_FILE_SIZE_BYTES: int = 12 * 1024 * 1024


def raw_csv_schema() -> T.StructType:
    """All-string read schema for the source CSV.

    The reference reads everything as ``str`` to preserve leading zeros in
    IDs (`src/ingestor.py:90-97`); typing happens later in the clean stage.
    """
    return T.StructType(
        [T.StructField(h, T.StringType(), True) for h in SOURCE_HEADERS]
    )
