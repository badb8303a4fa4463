"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed writes
byte-identical files. The program under test only ever sees the files.

- :func:`gen_orders` draws ``orders`` rows (key, order date, status); the
  shipment CSV is q40's canonical recipe applied to them, so q40's DuckDB
  oracle over the same rows predicts every published document.
- :func:`gen_documents` draws a ``documents``-schema corpus with set shares
  of exact duplicates, near-duplicates and boilerplate lines, and
  :func:`write_corpus_jsonl` writes it as JSONL with the lines that
  :func:`malformed_ids` picks truncated.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import random

from jsonl_dataingestion_pipeline_spark.schema import CANONICAL_COLUMNS, SOURCE_HEADERS

MONTH0 = dt.date(2023, 9, 1)  # first month of the shipment date spread


def _add_months(d: dt.date, n: int) -> dt.date:
    y, m = divmod(d.month - 1 + n, 12)
    return dt.date(d.year + y, m + 1, 1)


def gen_orders(seed: int, n_rows: int, months: int, key_base: int = 0) -> list[tuple]:
    """``n_rows`` distinct ``(o_orderkey, o_orderdate, o_orderstatus)``.

    Keys are sparse and seeded, so each seed hits a different mix of the
    recipe's key-modulo null and multi-value patterns; order dates spread
    uniformly over ``months`` months from :data:`MONTH0`, which sets the
    number of ``source_group`` partitions.
    """
    rng = random.Random(seed)
    keys = sorted(rng.sample(range(key_base, key_base + n_rows * 20), n_rows))
    first, last = MONTH0, _add_months(MONTH0, months)
    span = (last - first).days
    rows = []
    for k in keys:
        d = first + dt.timedelta(days=rng.randrange(span))
        st = rng.choices("FOP", weights=(5, 4, 1))[0]
        rows.append((k, d, st))
    return rows


def _dmy(d: dt.date) -> str:
    return f"{d.day}/{d.month}/{d.year}"


def canonical_row(k: int, d: dt.date, st: str) -> dict:
    """q40's canonical recipe (``q40_shipment_pipeline_full``) for one row."""
    plus = lambda n: _dmy(d + dt.timedelta(days=n))  # noqa: E731
    return {
        "job_no": f"JOB{k}",
        "carr_eqp_uid": f"UID{k}" if k % 5 != 0 else None,
        "container_number": f"CONT{k}",
        "container_type": "40HC" if k % 2 == 0 else "20GP",
        "consignee_raw": f"Consignee {k % 50} (00{1000000 + k % 1000})",
        "po_numbers": f"PO{k % 7}, PO{k % 3}",
        "load_port": f"PORT{k % 6}",
        "final_load_port": f"TS{k % 4}" if k % 3 == 0 else None,
        "discharge_port": f"DP{k % 5}",
        "place_of_receipt": f"POR{k % 4}",
        "final_destination": f"FD{k % 8}",
        "first_vessel_name": f"VSL{k % 9}",
        "final_vessel_name": f"VSL{k % 11}",
        "final_carrier_name": f"CARRIER{k % 4}",
        "true_carrier_scac_name": f"CARRIER{k % 6}",
        "hot_container_flag": "Y" if k % 10 == 0 else "N",
        "etd_lp_date": _dmy(d),
        "atd_lp_date": plus(2) if k % 7 != 0 else None,
        "ata_flp_date": plus(5) if k % 3 == 0 else None,
        "atd_flp_date": plus(6) if k % 6 == 0 else None,
        "eta_dp_date": plus(30),
        "ata_dp_date": plus(33) if k % 2 == 0 else None,
        "eta_fd_date": plus(45),
        "delivery_to_consignee_date": plus(50) if st == "F" else None,
        "empty_container_return_date": plus(55) if st == "F" and k % 3 == 0 else None,
        "cargo_weight_kg": str(k % 5000),
        "seal_number": f"SEAL{k}",
    }


def write_shipment_csv(path: str, orders: list[tuple]) -> None:
    """The 100-column source CSV; a null cell is written empty."""
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(SOURCE_HEADERS)
        for k, d, st in orders:
            row = canonical_row(k, d, st)
            w.writerow([row.get(c) or "" for c in CANONICAL_COLUMNS])


_WORDS = (
    "the a of and to in is it that for on with as at by from "
    "data table query scan join merge sort batch stream window key value "
    "row column spark order group filter part hash customer line fast slow "
    "big small agg ship port vessel cargo route carrier berth crane dock "
    "harbor freight manifest invoice ledger audit report model train"
).split()
_BOILERPLATE = (
    "subscribe to our newsletter for the latest data and query updates",
    "all rights reserved by the table and stream authors of this site",
    "click here to read more about the batch and window join",
    "share this page with a customer or a friend on the web",
)
LANGS = ("en", "de", "fr", "es")


def gen_documents(
    seed: int,
    n_docs: int,
    *,
    n_sources: int = 40,
    dup_share: float = 0.08,
    near_share: float = 0.08,
    boiler_share: float = 0.3,
) -> list[dict]:
    """``documents``-schema rows ``{doc_id, text, lang, source, n_chars}``.

    ``dup_share`` of docs repeat an earlier doc's text (whitespace and case
    changed, so only the normalized key matches); ``near_share`` copy an
    earlier doc with one word inserted; ``boiler_share`` carry a shared
    boilerplate sentence that the line-dedup stages remove.
    """
    rng = random.Random(seed)
    docs: list[dict] = []
    for i in range(n_docs):
        r = rng.random()
        if docs and r < dup_share:
            text = rng.choice(docs)["text"].upper().replace(" ", "  ")
        elif docs and r < dup_share + near_share:
            # one word inserted early shifts every later 8-token line, so
            # line dedup leaves the pair to the shingle near-dup stage
            toks = rng.choice(docs)["text"].split()
            toks.insert(rng.randrange(8), rng.choice(_WORDS))
            text = " ".join(toks)
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(40, 120)))
            if rng.random() < boiler_share:
                text = f"{text} {rng.choice(_BOILERPLATE)}"
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(LANGS),
                "source": f"src{rng.randrange(n_sources)}",
                "n_chars": len(text),
            }
        )
    return docs


def malformed_ids(docs: list[dict], seed: int, bad_share: float = 0.01) -> set[int]:
    """The doc ids whose lines :func:`write_corpus_jsonl` truncates, which
    the reader must quarantine: ``bad_share`` of the docs, at least one."""
    rng = random.Random(seed ^ 0x5EED)
    return {docs[i]["doc_id"] for i in rng.sample(range(len(docs)), max(1, int(len(docs) * bad_share)))}


def write_corpus_jsonl(path: str, docs: list[dict], bad_ids: set[int]) -> None:
    """Write ``docs`` one JSON object per line, the lines of ``bad_ids``
    truncated mid-object."""
    with open(path, "w", encoding="utf-8") as f:
        for d in docs:
            line = json.dumps(d, separators=(",", ":"))
            f.write((line[: len(line) // 2] if d["doc_id"] in bad_ids else line) + "\n")
