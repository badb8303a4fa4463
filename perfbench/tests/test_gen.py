"""The generators are pure functions of the seed."""

import hashlib

from perfbench import check, gen


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_shipment_csv_is_byte_identical_per_seed(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.csv", "b.csv", "c.csv"))
    gen.write_shipment_csv(a, gen.gen_orders(7, 300, 12))
    gen.write_shipment_csv(b, gen.gen_orders(7, 300, 12))
    gen.write_shipment_csv(c, gen.gen_orders(8, 300, 12))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_corpus_jsonl_is_byte_identical_per_seed(tmp_path):
    paths = [tmp_path / f"{i}.jsonl" for i in range(3)]
    bad = []
    for p, s in zip(paths, (3, 3, 4)):
        docs = gen.gen_documents(s, 200)
        bad.append(gen.malformed_ids(docs, s))
        gen.write_corpus_jsonl(p, docs, bad[-1])
    assert _digest(paths[0]) == _digest(paths[1]) and bad[0] == bad[1]
    assert _digest(paths[0]) != _digest(paths[2])
    assert len(bad[0]) == 2  # 1% of 200 lines


def test_month_spread_sets_the_partitions():
    orders = gen.gen_orders(1, 400, 5)
    expected = check.expected_shipment_docs(orders)
    assert sum(expected.values()) == 400
    assert {k[2] for k in expected} == {"2023-09", "2023-10", "2023-11", "2023-12", "2024-01"}
