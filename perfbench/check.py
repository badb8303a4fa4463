"""Output checks. Each returns a list of problems; empty means correct.

The expected values come from the repository's own DuckDB oracles
(``__spark_entry__._ORACLE_DEDUP_SIM``) run over the same generated rows,
so the benchmark restates no pipeline logic.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
from collections import Counter

import duckdb
import pyarrow as pa

from jsonl_dataingestion_pipeline_spark.schema import MAX_FILE_SIZE_BYTES


_CTE = re.compile(r"((?:\bWITH(?:\s+RECURSIVE)?|,)\s*\w+\s+AS)\s*\(")


def _oracle(name: str) -> str:
    """The oracle's SQL with every CTE marked ``MATERIALIZED``. DuckDB
    otherwise inlines each CTE into every branch of the oracles' final
    ``UNION ALL`` and recomputes the funnel once per stage: over a minute
    of CPU against well under a second, for the same rows."""
    import __spark_entry__

    return _CTE.sub(r"\1 MATERIALIZED (", __spark_entry__._ORACLE_DEDUP_SIM[name])


def _duckdb():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # stdout carries the oracle's JSON
    return con


def expected_shipment_docs(orders: list[tuple]) -> Counter:
    """q40's oracle over the generated ``orders`` rows."""
    con = _duckdb()
    try:
        cols = ("o_orderkey", "o_orderdate", "o_orderstatus")
        con.register("orders", pa.Table.from_pydict(dict(zip(cols, map(list, zip(*orders))))))
        rows = con.execute(
            "SELECT document_id, status, source_group, content_md5, milestones_md5 "
            f"FROM ({_oracle('q40_shipment_pipeline_full')})"
        ).fetchall()
    finally:
        con.close()
    return Counter(rows)


def _md5(s) -> str | None:
    return None if s is None else hashlib.md5(s.encode("utf-8")).hexdigest()


def published_shipment_docs(out_dir: str) -> tuple[Counter, list[str]]:
    """Read a ``run_batch`` output tree back with plain ``json``: a multiset
    of ``(document_id, status, source_group, content_md5, milestones_md5)``
    and the files over the byte cap."""
    docs: Counter = Counter()
    problems = []
    for path in sorted(glob.glob(os.path.join(out_dir, "source_group=*", "*.json"))):
        size = os.path.getsize(path)
        if size > MAX_FILE_SIZE_BYTES:
            problems.append(f"{path}: {size} bytes over the {MAX_FILE_SIZE_BYTES}-byte cap")
        group = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
        with open(path, encoding="utf-8") as f:
            for line in f:
                d = json.loads(line)
                meta = d.get("metadata") or {}
                docs[
                    (
                        d.get("document_id"),
                        meta.get("shipment_status"),
                        group,
                        _md5(d.get("content")),
                        _md5(meta.get("milestones")),
                    )
                ] += 1
    return docs, problems


def check_shipment(got: Counter, expected: Counter) -> list[str]:
    """Published documents (:func:`published_shipment_docs`) against q40's oracle."""
    problems = []
    n_exp, n_got = sum(expected.values()), sum(got.values())
    if n_got != n_exp:
        problems.append(f"{n_got} documents published for {n_exp} input rows")
    missing = {k[2] for k in expected} - {k[2] for k in got}
    if missing:
        problems.append(f"missing month partitions: {sorted(missing)}")
    if got != expected:
        bad = sorted(set(got) ^ set(expected), key=str)
        problems.append(f"{len(bad)} documents differ from the q40 oracle, e.g. {bad[:2]}")
    return problems


def expected_funnel_stats(docs: list[dict]) -> dict[str, list[tuple]]:
    """q118 (web) and q90 (corpus) oracles over the generated documents
    that survive the reader's quarantine; ``docs`` is that table."""
    con = _duckdb()
    try:
        con.register("documents", pa.Table.from_pylist(docs))
        out = {}
        for key, q in (("web", "q118_web_pipeline"), ("corpus", "q90_corpus_pipeline")):
            out[key] = con.execute(
                f"SELECT stage, stage_name, n_docs, sum_ids FROM ({_oracle(q)}) ORDER BY stage"
            ).fetchall()
    finally:
        con.close()
    return out


def published_ids(out_dir: str, id_col: str) -> list[int]:
    ids = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.json"))):
        with open(path, encoding="utf-8") as f:
            ids.extend(json.loads(line)[id_col] for line in f)
    return ids


def check_funnel(name: str, stats: list[tuple], ids: list[int], expected: list[tuple]) -> list[str]:
    """Per-stage ``(stage, stage_name, n_docs, sum_ids)`` against the oracle,
    and the written survivors' ``ids`` against the last stage's count and id sum."""
    problems = []
    if sorted(stats) != expected:
        problems.append(f"{name} stage stats {sorted(stats)} != oracle {expected}")
    last = expected[-1]
    if (len(ids), sum(ids)) != (last[2], last[3]):
        problems.append(
            f"{name} wrote {len(ids)} survivors (id sum {sum(ids)}), oracle {last[2]} ({last[3]})"
        )
    return problems
