"""Static hygiene for the driver contract — no Spark needed.

Catches registration mistakes (missing oracle, missing shape, SQL that
DuckDB cannot even bind) in seconds, long before the full gate runs.

The DYNAMIC half of the gate contract is the value-hash comparison of
every battery against its DuckDB oracle (tools/check_correctness.py);
that is also the only gate on the ANN batteries and the q170/q171
recall audits today. tests/test_determinism.py fuzzes the input
partitioning of the cross-row sums, and tests/test_pq.py and
tests/test_scale_operators.py hold operator-level recall floors. The
ANN shuffle-layout rerun and the 0.85/0.9 recall-audit floors were
deleted and are not restored yet (see ROADMAP.md).
"""
from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entrymod():
    spec = importlib.util.spec_from_file_location(
        "entry_under_test", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return c


def test_driver_registry_is_exactly_50_and_aligned(entrymod):
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) == 50
    assert set(q) == set(o)


def test_every_full_query_has_oracle_and_shape(entrymod):
    qf = entrymod.queries_full()
    of = entrymod.oracle_sql_full()
    missing_oracle = sorted(set(qf) - set(of))
    assert not missing_oracle, missing_oracle
    # every query referenced by a fold needs a declared shape
    folded = {
        q
        for parts in entrymod._UNION_MERGES.values()
        for _tag, q in parts
    }
    folded |= {
        q
        for _key, parts in entrymod._JOIN_MERGES.values()
        for q, _renames in parts
    }
    missing_shape = sorted(folded - set(entrymod._ORACLE_SHAPES))
    assert not missing_shape, missing_shape


def test_all_driver_oracles_bind_in_duckdb(entrymod, con):
    """EXPLAIN (bind + plan, no execution) every driver-facing oracle."""
    failures = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001 — report all binder errors
            failures.append((name, str(e).splitlines()[0]))
    assert not failures, failures


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_q145_fixture_peel_depth_within_oracle_margin(sf_dir):
    """The q145 oracle unrolls SIX peeling rounds; it equals the true
    k-core only while the fixture graph's peel depth stays <= 6. Pin
    depth <= 4 (two rounds of safety margin) at both the local test SF
    and the driver's correctness SF, so testdata drift fails HERE, not
    at the driver (VERDICT r5 item #6). Pure DuckDB + Python peel —
    independent of both the Spark operator and the SQL oracle."""
    import collections

    p = os.path.join(sf_dir, "lineitem.parquet")
    if not os.path.exists(p):
        pytest.skip(f"no testdata at {sf_dir}")
    c = duckdb.connect()
    edges = c.sql(
        f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey
            FROM read_parquet('{p}') WHERE l_orderkey % 7 = 0
        )
        SELECT DISTINCT LEAST(x.l_partkey, y.l_partkey) AS a,
                        GREATEST(x.l_partkey, y.l_partkey) AS b
        FROM li x JOIN li y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        """
    ).fetchall()
    e = set(map(tuple, edges))
    depth = 0
    while True:
        deg = collections.Counter()
        for a, b in e:
            deg[a] += 1
            deg[b] += 1
        keep = {v for v, d in deg.items() if d >= 6}
        e2 = {(a, b) for a, b in e if a in keep and b in keep}
        if e2 == e:
            break
        e = e2
        depth += 1
    assert depth <= 4, (
        f"q145 fixture peel depth grew to {depth} at {sf_dir}; the "
        "6-round unrolled oracle is only exact while depth <= 6 — "
        "regenerate the oracle with more rounds before this margin "
        "erodes further."
    )
