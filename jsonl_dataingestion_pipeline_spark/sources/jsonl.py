"""S4/S5/S6/S9 — JSONL document sink and readback.

Spark's JSON sink is exactly one-object-per-line JSONL with ISO date
serialization (reference `src/writer.py:143-183`); ``partitionBy`` replaces
the manual group-by-month write loop (`src/pipeline.py:108-113`); the 12 MB
file cap (`src/config.py:18-19`) is applied approximately through
``maxRecordsPerFile`` derived from a sampled average document size.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import MAX_FILE_SIZE_BYTES


def estimate_max_records_per_file(
    df: DataFrame,
    cap_bytes: int = MAX_FILE_SIZE_BYTES,
    sample_rows: int = 256,
) -> int:
    """Estimate how many serialized docs fit in ``cap_bytes``.

    Samples serialized row sizes driver-side (bounded by ``sample_rows``).
    An exact byte cap would need a custom ``foreachPartition`` writer
    (SURVEY.md §4.2.2); the cap exists to satisfy an indexing-service file
    limit, so a conservative estimate is acceptable.
    """
    # ``take`` plans a CollectLimit, which stays out of whole-stage codegen.
    # A limit inside a codegen'd stage names its row counter from a JVM-wide
    # sequence (``_limit_counter_<n>``), so each call's stage was new code
    # and compiled again.
    sizes = [
        r[0]
        for r in df.select(F.octet_length(F.to_json(F.struct("*")))).take(sample_rows)
    ]
    avg = sum(sizes) / len(sizes) if sizes else 1024.0
    # leave 10% headroom for size skew
    return max(1, int(cap_bytes * 0.9 / float(avg)))


def write_documents(
    df: DataFrame,
    path: str,
    *,
    partition_by: Optional[str] = "source_group",
    mode: str = "overwrite",
    cap_file_bytes: Optional[int] = MAX_FILE_SIZE_BYTES,
) -> None:
    """Write normalized documents as partitioned JSONL."""
    writer = df.write.mode(mode)
    if cap_file_bytes:
        writer = writer.option(
            "maxRecordsPerFile", estimate_max_records_per_file(df, cap_file_bytes)
        )
    if partition_by and partition_by in df.columns:
        writer = writer.partitionBy(partition_by)
    writer.json(path)


def finalize_filenames(
    spark: SparkSession,
    output_dir: str,
    *,
    stem: str = "shipment",
    suffix: str = ".json",
    fallback_tag: str = "all",
) -> list[str]:
    """S7 — rename part-files to the reference's naming contract.

    ``<partition>/part-*.json`` -> ``<partition>/<stem>_<tag>_<n>.jsonl``
    where ``tag`` is derived from the partition directory value (e.g.
    ``source_group=2024-01`` -> ``202401``) and ``n`` is a 1-based counter
    continuing from any files already present (reference
    `src/writer.py:59-77`). An unpartitioned output (files directly under
    ``output_dir``) gets ``fallback_tag`` (reference's 'all' fallback) —
    never the output directory's own name. Also merges bucket-salted
    files from :func:`write_documents_byte_capped` (``<stem>_<tag>_p<b>_<n>
    .jsonl``) into the same sequential counter. Driver-side metadata
    operation via the Hadoop FS API — works on object stores as well as
    local paths.
    """
    import re

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(output_dir)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return []

    renamed: list[str] = []
    dirs = [s.getPath() for s in fs.listStatus(root) if s.isDirectory()]
    for d in dirs or [root]:
        dname = d.getName()
        if "=" in dname:
            tag = dname.split("=", 1)[1]
            tag = re.sub(r"[^0-9A-Za-z]", "", tag).lower() or fallback_tag
            final_tags = [tag]
        else:
            # root fallback: no partition value to derive a tag from
            tag = fallback_tag
            final_tags = None  # bucket merge discovers tags below
        pattern = re.compile(rf"^{re.escape(stem)}_{re.escape(tag)}_(\d+)\.jsonl$")
        bucket_pat = re.compile(
            rf"^{re.escape(stem)}_([0-9a-z]+)_p\d+_\d+\.jsonl$"
        )
        existing = 0
        parts = []
        bucketed: dict[str, list] = {}
        for s in fs.listStatus(d):
            name = s.getPath().getName()
            m = pattern.match(name)
            bm = bucket_pat.match(name)
            if m:
                existing = max(existing, int(m.group(1)))
            elif bm:
                bucketed.setdefault(bm.group(1), []).append(s.getPath())
            elif name.startswith("part-") and name.endswith(suffix):
                parts.append(s.getPath())
        for i, p in enumerate(
            sorted(parts, key=lambda x: x.getName()), start=existing + 1
        ):
            target = jvm.org.apache.hadoop.fs.Path(d, f"{stem}_{tag}_{i}.jsonl")
            fs.rename(p, target)
            renamed.append(target.toString())
        # counter-merge the bucket-salted writer output per tag
        for btag, files in sorted(bucketed.items()):
            bpat = re.compile(rf"^{re.escape(stem)}_{re.escape(btag)}_(\d+)\.jsonl$")
            bexisting = 0
            for s in fs.listStatus(d):
                m = bpat.match(s.getPath().getName())
                if m:
                    bexisting = max(bexisting, int(m.group(1)))
            for i, p in enumerate(
                sorted(files, key=lambda x: x.getName()), start=bexisting + 1
            ):
                target = jvm.org.apache.hadoop.fs.Path(d, f"{stem}_{btag}_{i}.jsonl")
                fs.rename(p, target)
                renamed.append(target.toString())
    return renamed


def write_documents_byte_capped(
    df: DataFrame,
    output_dir: str,
    *,
    cap_bytes: int = MAX_FILE_SIZE_BYTES,
    group_col: str = "source_group",
    stem: str = "shipment",
    buckets_per_group: int = 1,
) -> None:
    """S6 exact variant — roll output files at a hard byte cap.

    The approximate ``maxRecordsPerFile`` path (:func:`write_documents`)
    is the default; this writer reproduces the reference's exact 12 MB
    rolling (`src/writer_old.py:39-101`): accumulate serialized lines,
    start a new file when the next line would exceed the cap (an
    over-cap single document still gets its own file).

    Distribution: rows are hash-partitioned on ``group_col`` so each task
    owns whole groups — group file counters need no coordination. One hot
    group then serializes on a single core; ``buckets_per_group > 1``
    salts the routing with a deterministic row-hash bucket so a dominant
    group spreads over that many tasks. Bucketed tasks write
    ``<stem>_<tag>_p<bucket>_<n>.jsonl`` (collision-free without
    coordination); run :func:`finalize_filenames` afterwards to merge
    them into the reference's sequential ``<stem>_<tag>_<n>.jsonl``
    counter. Workers write with plain ``open()``: local and shared
    filesystems only (an object-store variant would swap in a cloud SDK
    client per executor).
    """
    import datetime as _dt
    import json
    import os
    import re

    os.makedirs(output_dir, exist_ok=True)
    salted = buckets_per_group > 1
    if salted:
        bucket = F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(buckets_per_group))
        routed = df.withColumn("__bucket", bucket).repartition(
            F.col(group_col), F.col("__bucket")
        )
    else:
        routed = df.repartition(F.col(group_col))

    def _default(o):
        if isinstance(o, (_dt.date, _dt.datetime)):
            return o.isoformat()
        return str(o)

    def write_partition(rows) -> None:
        handles: dict = {}  # (tag, bucket) -> [file_obj, bytes_written, counter]

        def tag_of(val) -> str:
            t = re.sub(r"[^0-9A-Za-z]", "", str(val)) if val is not None else "unknown"
            return t.lower() or "unknown"

        def open_next(key):
            tag, bkt = key
            state = handles.get(key)
            n = state[2] + 1 if state else 1
            if state and state[0]:
                state[0].close()
            mid = f"_p{bkt}" if bkt is not None else ""
            path = os.path.join(output_dir, f"{stem}_{tag}{mid}_{n}.jsonl")
            f = open(path, "w", encoding="utf-8")
            handles[key] = [f, 0, n]
            return handles[key]

        for row in rows:
            d = row.asDict(recursive=True)
            bkt = d.pop("__bucket", None) if salted else None
            key = (tag_of(d.get(group_col)), bkt)
            line = json.dumps(d, ensure_ascii=False, default=_default) + "\n"
            size = len(line.encode("utf-8"))
            state = handles.get(key) or open_next(key)
            if state[1] > 0 and state[1] + size > cap_bytes:
                state = open_next(key)
            state[0].write(line)
            state[1] += size
        for f, _, _ in handles.values():
            f.close()

    routed.foreachPartition(write_partition)


def read_documents(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S9 — JSONL readback (validation path)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    *,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced JSONL read that QUARANTINES malformed lines
    instead of dropping or failing on them — the ingestion contract a
    100 TB crawl feed needs (a handful of truncated/garbage lines must
    neither kill the job nor vanish silently).

    PERMISSIVE mode with an explicit ``columnNameOfCorruptRecord``: a
    parseable line lands in the typed frame; an unparseable one lands
    (verbatim) in the quarantine frame for reprocessing/forensics.

    Returns ``(good, bad)``:
      - ``good``: rows matching ``schema`` (corrupt column dropped);
      - ``bad``: one ``raw`` string column with the original line.

    Both come from ONE cached scan (Spark requires referencing the
    corrupt column only after a cache/materialization; the cache also
    means the file is parsed once, not twice).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    full_schema = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType())]
    )
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        .cache()
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw")
    )
    return good, bad
