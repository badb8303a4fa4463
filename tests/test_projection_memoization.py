"""The shipment stages memoize their Column trees in ``SessionMemo``
instances (clean, consignee, derived, summaries, milestones, content,
documents). The memos must be invisible: a hit returns the same rows as
a fresh build, and the keys must discriminate every input that shapes
the trees (as_of, flags). A warm run on a same-schema frame must build
no tree at all, since the per-call cost of ``run_batch`` depends on it."""

from __future__ import annotations

from jsonl_dataingestion_pipeline_spark.operators.common import SessionMemo
from jsonl_dataingestion_pipeline_spark.operators.docs import normalize_documents
from jsonl_dataingestion_pipeline_spark.plans.shipment import (
    build_documents,
    transform_shipments,
)

from test_pipeline import AS_OF, FULL_ROW


def _rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_transform_cache_hit_identical(shipment_df_factory):
    df = shipment_df_factory([FULL_ROW])
    first = _rows(transform_shipments(df, as_of=AS_OF))
    # second call takes the cache-hit path through every memoized builder
    second = _rows(transform_shipments(shipment_df_factory([FULL_ROW]), as_of=AS_OF))
    assert first == second


def test_as_of_is_part_of_the_cache_key(shipment_df_factory):
    df = shipment_df_factory([FULL_ROW])
    base = transform_shipments(df, as_of=AS_OF).first()
    # a later clock must rebuild the derived trees, not reuse AS_OF's:
    # with no ata_dp_date fallback past the ETA, the dp delay keeps
    # growing with the clock
    later = transform_shipments(
        shipment_df_factory([dict(FULL_ROW, ata_dp_date="")]), as_of="2024-09-01"
    ).first()
    earlier = transform_shipments(
        shipment_df_factory([dict(FULL_ROW, ata_dp_date="")]), as_of="2024-06-01"
    ).first()
    assert later["dp_delayed_dur"] != earlier["dp_delayed_dur"]
    assert base["shipment_status"] is not None


def test_doc_flags_are_part_of_the_cache_key(shipment_df_factory):
    derived = transform_shipments(
        shipment_df_factory([dict(FULL_ROW, carr_eqp_uid="", job_no="", container_number="")]),
        as_of=AS_OF,
    )
    with_fallback = normalize_documents(derived).first()
    without = normalize_documents(derived, with_doc_index_fallback=False).first()
    assert with_fallback["document_id"].startswith("doc_")
    assert without["document_id"] is None


def test_warm_run_builds_no_tree(shipment_df_factory, monkeypatch):
    def run():
        docs = build_documents(
            transform_shipments(shipment_df_factory([FULL_ROW]), as_of=AS_OF)
        )
        return _rows(docs)

    cold = run()
    consulted, built = set(), []
    real_get = SessionMemo.get

    def counting_get(self, spark, key, build):
        consulted.add(id(self))

        def counted():
            built.append(key)
            return build()

        return real_get(self, spark, key, counted)

    monkeypatch.setattr(SessionMemo, "get", counting_get)
    assert run() == cold
    assert built == []
    # clean, consignee, derived, summaries, milestones, content, documents
    assert len(consulted) == 7
