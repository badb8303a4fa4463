"""The output checks: the shipment check catches small changes to published
documents, and the oracles it compares against return the repository's values."""

import json

from perfbench import check


def _publish(root, docs_by_group):
    for group, docs in docs_by_group.items():
        d = root / f"source_group={group}"
        d.mkdir(parents=True)
        with open(d / "part-00000.json", "w", encoding="utf-8") as f:
            for doc in docs:
                f.write(json.dumps(doc, ensure_ascii=False) + "\n")


def _doc(i):
    return {
        "document_id": f"UID{i}",
        "content": f"Shipment {i} → discharged at DP{i % 5}.",
        "metadata": {"shipment_status": "DELIVERED", "milestones": f"Leg 1 [{i}]"},
    }


def _tree(tmp_path):
    out = tmp_path / "out"
    _publish(out, {"2024-01": [_doc(i) for i in range(5)], "2024-02": [_doc(i) for i in range(5, 9)]})
    expected, problems = check.published_shipment_docs(out)
    assert not problems
    return out, expected


def _check(out, expected):
    got, problems = check.published_shipment_docs(out)
    return problems + check.check_shipment(got, expected)


def test_unchanged_output_passes(tmp_path):
    out, expected = _tree(tmp_path)
    assert _check(out, expected) == []


def test_one_byte_change_in_one_document_fails(tmp_path):
    out, expected = _tree(tmp_path)
    part = out / "source_group=2024-02" / "part-00000.json"
    raw = part.read_bytes()
    at = raw.index(b"Shipment 7") + len(b"Shipment ")
    part.write_bytes(raw[:at] + b"8" + raw[at + 1:])
    problems = _check(out, expected)
    assert len(problems) == 1 and "differ from the q40 oracle" in problems[0]


def test_missing_partition_and_count_fail(tmp_path):
    out, expected = _tree(tmp_path)
    for p in (out / "source_group=2024-02").iterdir():
        p.unlink()
    problems = " ".join(_check(out, expected))
    assert "missing month partitions: ['2024-02']" in problems
    assert "5 documents published for 9 input rows" in problems


def test_file_over_the_cap_fails(tmp_path, monkeypatch):
    out, expected = _tree(tmp_path)
    monkeypatch.setattr(check, "MAX_FILE_SIZE_BYTES", 100)
    assert any("over the 100-byte cap" in p for p in _check(out, expected))


def test_materialized_oracles_return_what_the_repository_sql_returns(monkeypatch):
    import __spark_entry__

    from perfbench import gen

    assert check._oracle("q90_corpus_pipeline").count("MATERIALIZED") > 10
    docs = gen.gen_documents(5, 120)
    orders = gen.gen_orders(5000, 200, 12, key_base=0)
    materialized = check.expected_funnel_stats(docs), check.expected_shipment_docs(orders)
    monkeypatch.setattr(check, "_oracle", lambda name: __spark_entry__._ORACLE_DEDUP_SIM[name])
    assert (check.expected_funnel_stats(docs), check.expected_shipment_docs(orders)) == materialized
