from __future__ import annotations

import pytest

from jsonl_dataingestion_pipeline_spark import get_spark
from jsonl_dataingestion_pipeline_spark.schema import CANONICAL_COLUMNS


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def checkpoint_dir(spark, tmp_path):
    """Set the session's checkpoint directory, so every ``pipeline_break``
    writes a reliable checkpoint under it (as ``<uuid>/rdd-<id>``); unset
    it on teardown, so the session-scoped ``spark`` goes back to local
    barriers. Yields the directory. A test that first runs with local
    barriers asks for it mid-test with
    ``request.getfixturevalue("checkpoint_dir")``."""
    sc = spark.sparkContext
    path = tmp_path / "ckpt"
    sc.setCheckpointDir(str(path))
    yield path
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None


_CANON_SCHEMA = ", ".join(f"`{c}` string" for c in CANONICAL_COLUMNS)


def make_shipment_df(spark, rows: list[dict]):
    """Canonical all-string shipment frame from sparse row dicts."""
    data = [
        tuple(r.get(c) for c in CANONICAL_COLUMNS) for r in rows
    ]
    return spark.createDataFrame(data, schema=_CANON_SCHEMA)


@pytest.fixture()
def shipment_df_factory(spark):
    def _make(rows: list[dict]):
        return make_shipment_df(spark, rows)

    return _make
