"""S1 latest-file discovery, S7 filename finalization, F9 multi-consignee,
strict doc validation, the run_batch record, the sink's file cap."""

from __future__ import annotations

import csv
import os
import time

import pytest
from pyspark.sql import functions as F

from jsonl_dataingestion_pipeline_spark.functions.consignee import (
    split_multi_consignee,
)
from jsonl_dataingestion_pipeline_spark.operators.common import (
    pipeline_break,
    release_break,
)
from jsonl_dataingestion_pipeline_spark.plans import shipment
from jsonl_dataingestion_pipeline_spark.plans.shipment import run_batch
from jsonl_dataingestion_pipeline_spark.schema import SOURCE_HEADERS
from jsonl_dataingestion_pipeline_spark.sources.csv import find_latest_file
from jsonl_dataingestion_pipeline_spark.sources.jsonl import (
    estimate_max_records_per_file,
    finalize_filenames,
    write_documents,
)


def _write_csv(path, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=list(SOURCE_HEADERS))
        w.writeheader()
        for r in rows:
            full = {h: "" for h in SOURCE_HEADERS}
            full.update(r)
            w.writerow(full)


def test_find_latest_file(tmp_path, spark):
    a = tmp_path / "old.csv"
    b = tmp_path / "new.csv"
    c = tmp_path / "ignored.txt"
    for p in (a, c):
        p.write_text("x")
    os.utime(a, (1000000, 1000000))
    b.write_text("y")
    got = find_latest_file(spark, str(tmp_path))
    assert got is not None and got.endswith("new.csv")
    assert find_latest_file(spark, str(tmp_path / "missing")) is None
    assert find_latest_file(spark, str(tmp_path), prefix="old") .endswith("old.csv")


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _blank_first_job(build):
    """``build_documents`` with the content of job J1 blanked."""

    def blanked(df):
        docs = build(df)
        return docs.withColumn(
            "content",
            F.when(F.col("document_id") == "J1", F.lit("")).otherwise(F.col("content")),
        )

    return blanked


def test_run_batch_finalize_names_and_timings(tmp_path, spark):
    src = tmp_path / "in.csv"
    _write_csv(src, [{"Job No.": "J1", "ETD LP": "05/01/2024"}])
    out = tmp_path / "out"
    record = run_batch(
        spark, str(src), str(out), as_of="2024-06-01", finalize_names=True
    )
    phases = {"ingest_plan", "transform_plan", "materialize", "write", "finalize"}
    assert phases <= set(record)
    assert (record["rows_out"], record["bad_docs"]) == (1, 0)
    files = [p.name for p in out.rglob("shipment_*.jsonl")]
    assert files == ["shipment_202401_1.jsonl"]
    # re-run appends counters rather than clobbering names
    run_batch(
        spark, str(src), str(out / "again"), as_of="2024-06-01", finalize_names=True
    )
    again = finalize_filenames(spark, str(out / "again"))
    assert again == []  # already finalized -> nothing left to rename


def test_run_batch_strict_docs_passes_with_fallback_id_and_content(tmp_path, spark):
    """A row with no id fields gets a ``doc_<n>`` id, and its content
    falls back to the milestones text, so strict mode accepts it. The
    stored documents are released when the run returns."""
    src = tmp_path / "in.csv"
    _write_csv(src, [{}])
    out = tmp_path / "out"
    before = _persisted_rdds(spark)
    record = run_batch(
        spark, str(src), str(out), as_of="2024-06-01", strict_docs=True
    )
    assert (record["rows_out"], record["bad_docs"]) == (1, 0)
    assert list(out.rglob("*.json"))
    assert _persisted_rdds(spark) == before


def test_run_batch_strict_docs_raises_before_write(tmp_path, spark, monkeypatch):
    monkeypatch.setattr(
        shipment, "build_documents", _blank_first_job(shipment.build_documents)
    )
    src = tmp_path / "in.csv"
    _write_csv(src, [{"Job No.": "J1"}, {"Job No.": "J2"}])
    out = tmp_path / "out"
    before = _persisted_rdds(spark)
    with pytest.raises(ValueError, match="1 document"):
        run_batch(spark, str(src), str(out), as_of="2024-06-01", strict_docs=True)
    assert not out.exists()  # a strict failure publishes nothing
    assert _persisted_rdds(spark) == before


def test_write_documents_rolls_files_at_estimated_record_cap(tmp_path, spark):
    """``maxRecordsPerFile`` from the size sample splits a group into
    several files, none over the estimated record count."""
    docs = pipeline_break(
        spark.createDataFrame(
            [(f"d{i}", "x" * 200, "2024-01" if i < 30 else "2024-02") for i in range(40)],
            "document_id string, content string, source_group string",
        ).coalesce(1)
    )
    try:
        cap = 2000
        per_file = estimate_max_records_per_file(docs, cap)
        write_documents(docs, str(tmp_path / "out"), cap_file_bytes=cap)
    finally:
        release_break(docs)
    files = list((tmp_path / "out" / "source_group=2024-01").glob("*.json"))
    assert len(files) > 1
    counts = [len(p.read_text().splitlines()) for p in files]
    assert sum(counts) == 30
    assert max(counts) <= per_file


def test_write_documents_byte_capped(tmp_path, spark):
    import json

    from jsonl_dataingestion_pipeline_spark.sources.jsonl import (
        write_documents_byte_capped,
    )

    df = spark.createDataFrame(
        [(f"doc{i}", "x" * 200, "2024-01" if i < 20 else "2024-02")
         for i in range(30)],
        "document_id string, content string, source_group string",
    )
    out = tmp_path / "capped"
    write_documents_byte_capped(df, str(out), cap_bytes=1000)
    files = sorted(out.glob("shipment_*.jsonl"))
    assert files, "no files written"
    by_tag = {}
    total = 0
    for p in files:
        data = p.read_bytes()
        assert len(data) <= 1000, f"{p.name} over cap: {len(data)}"
        lines = [json.loads(l) for l in data.decode().splitlines()]
        total += len(lines)
        tag = p.name.split("_")[1]
        by_tag.setdefault(tag, 0)
        by_tag[tag] += len(lines)
    assert total == 30
    assert by_tag == {"202401": 20, "202402": 10}
    # a single over-cap document still lands in its own file
    big = spark.createDataFrame(
        [("huge", "y" * 5000, "2024-03")],
        "document_id string, content string, source_group string",
    )
    write_documents_byte_capped(big, str(out), cap_bytes=1000)
    huge_files = list(out.glob("shipment_202403_*.jsonl"))
    assert len(huge_files) == 1 and huge_files[0].stat().st_size > 1000


def test_load_config_env(monkeypatch):
    import pytest as _pytest

    from jsonl_dataingestion_pipeline_spark.config import ConfigError, load_config

    with _pytest.raises(ConfigError, match="PIPELINE_INPUT_PATH"):
        load_config({})
    cfg = load_config(
        {
            "PIPELINE_INPUT_PATH": "/in",
            "PIPELINE_OUTPUT_PATH": "/out",
            "PIPELINE_AS_OF": "2024-06-01",
            "PIPELINE_STRICT_HEADERS": "0",
            "PIPELINE_SPARK_X": "y",
        }
    )
    assert cfg.input_path == "/in" and not cfg.strict_headers
    assert cfg.as_of == "2024-06-01"
    assert cfg.extra == {"PIPELINE_SPARK_X": "y"}


def test_split_multi_consignee(spark):
    df = spark.createDataFrame(
        [
            ("A Corp (123)| B Inc (456); C",),
            ("Solo Name",),
            ("(789)",),
            ("",),
            (None,),
            ("Dup (5)|Dup (5)",),
        ],
        "raw string",
    )
    name, codes = split_multi_consignee(F.col("raw"))
    rows = df.select(name.alias("n"), codes.alias("c")).collect()
    assert (rows[0]["n"], rows[0]["c"]) == ("A Corp", ["123", "456"])
    assert (rows[1]["n"], rows[1]["c"]) == ("Solo Name", [])
    assert (rows[2]["n"], rows[2]["c"]) == ("(789)", ["789"])  # name falls back
    assert (rows[3]["n"], rows[3]["c"]) == (None, [])
    assert (rows[4]["n"], rows[4]["c"]) == (None, [])
    assert (rows[5]["n"], rows[5]["c"]) == ("Dup", ["5"])


def test_byte_capped_writer_bucket_salt_and_merge(tmp_path, spark):
    """One dominant group + buckets_per_group>1 -> several tasks write
    collision-free p<bucket> files; finalize_filenames merges them into
    the sequential naming contract with caps intact."""
    from jsonl_dataingestion_pipeline_spark.sources.jsonl import (
        finalize_filenames,
        write_documents_byte_capped,
    )

    out = tmp_path / "salted"
    df = spark.createDataFrame(
        [(f"d{i}", "x" * 200, "2024-05") for i in range(60)],
        "document_id string, content string, source_group string",
    )
    write_documents_byte_capped(
        df, str(out), cap_bytes=1200, buckets_per_group=4
    )
    pre = sorted(p.name for p in out.glob("shipment_202405_p*_*.jsonl"))
    assert len({n.split("_")[2] for n in pre}) > 1  # >1 bucket writer ran

    finalize_filenames(spark, str(out))
    files = sorted(out.glob("shipment_202405_*.jsonl"))
    assert files and not list(out.glob("*_p*_*.jsonl"))
    # sequential counter 1..N, caps hold, no rows lost
    nums = sorted(int(f.stem.rsplit("_", 1)[1]) for f in files)
    assert nums == list(range(1, len(files) + 1))
    lines = [l for f in files for l in f.read_text().splitlines()]
    assert len(lines) == 60
    assert all(f.stat().st_size <= 1200 for f in files)


def test_finalize_filenames_root_fallback_tag(tmp_path, spark):
    """Unpartitioned output gets the 'all' tag, not the directory name."""
    from jsonl_dataingestion_pipeline_spark.sources.jsonl import finalize_filenames

    out = tmp_path / "flatout"
    out.mkdir()
    (out / "part-00000-abc.json").write_text('{"a":1}\n')
    (out / "part-00001-def.json").write_text('{"a":2}\n')
    renamed = finalize_filenames(spark, str(out))
    names = sorted(p.rsplit("/", 1)[1] for p in renamed)
    assert names == ["shipment_all_1.jsonl", "shipment_all_2.jsonl"]


def test_normalize_documents_legacy_consignee_repr(spark):
    from jsonl_dataingestion_pipeline_spark.operators.docs import normalize_documents

    df = spark.createDataFrame(
        [("J1", "c", ["0001234567"]), ("J2", "c", [])],
        "job_no string, combined_content string, consignee_codes array<string>",
    )
    legacy = {
        r["document_id"]: r["consignee_code"]
        for r in normalize_documents(
            df, legacy_repr_consignee_code=True, with_doc_index_fallback=False
        ).collect()
    }
    assert legacy == {"J1": "['0001234567']", "J2": "[]"}
    typed = normalize_documents(df, with_doc_index_fallback=False).first()
    assert typed["consignee_code"] == ["0001234567"]  # default stays typed


def test_read_jsonl_quarantine_splits_good_and_bad(tmp_path, spark):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from jsonl_dataingestion_pipeline_spark.sources.jsonl import (
        read_jsonl_quarantine,
    )

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "text": "ok"}\n'
        '{"id": 2, "text": "also ok"}\n'
        "{broken json!!\n"
        '{"id": "not-a-number", "text": "type mismatch"}\n'
        '{"id": 4, "text": "fine"}\n'
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType())]
    )
    good, bad = read_jsonl_quarantine(spark, str(p), schema)
    ids = sorted(r.id for r in good.collect())
    assert ids == [1, 2, 4]
    raws = [r.raw for r in bad.collect()]
    assert len(raws) == 2
    assert any("broken json" in r for r in raws)
    assert any("not-a-number" in r for r in raws)
