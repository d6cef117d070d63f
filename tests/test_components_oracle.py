"""Hermetic oracle check of the components queries: connected_components_star
and neardup_clusters from entry_queries run on small generated tables and
must equal their DuckDB oracle_sql, once per branch of the driver-finish
gate (broadcast threshold -1 forces the loop; the session default finishes
on the driver)."""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kg_curation_spark import entry_queries as eq

QUERIES = ["connected_components_star", "neardup_clusters"]
VOCAB = [f"w{i}" for i in range(30)]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    rng = random.Random(11)
    d = tmp_path_factory.mktemp("cc_oracle")
    nations = [f"NATION_{i:02d}" for i in range(8)]
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(8), pa.int32()),
            "n_name": nations,
            "n_regionkey": pa.array([i % 3 for i in range(8)], pa.int32()),
        }),
        d / "nation.parquet",
    )
    # nation 7 has no customers; some customer names sort below their
    # nation's, some above
    pq.write_table(
        pa.table({
            "c_custkey": pa.array(range(120), pa.int64()),
            "c_name": [f"{'C' if i % 2 else 'X'}ustomer#{i:04d}" for i in range(120)],
            "c_nationkey": pa.array([rng.randrange(7) for _ in range(120)], pa.int32()),
        }),
        d / "customer.parquet",
    )
    texts = []
    for i in range(160):
        if i and rng.random() < 0.3:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 40))))
    pq.write_table(
        pa.table({"doc_id": pa.array(range(160), pa.int64()), "text": texts}),
        d / "documents.parquet",
    )
    return str(d)


def _rows(pdf):
    return sorted(tuple(str(x) for x in r) for r in pdf[sorted(pdf.columns)].itertuples(index=False))


@pytest.mark.parametrize("name", QUERIES)
def test_components_queries_match_oracle_in_both_branches(spark, sf_dir, name):
    con = duckdb.connect()
    for t in ("customer", "nation", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    want = _rows(con.sql(eq.ORACLES[name]).df())
    assert len(want) > 20

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        for threshold in ("-1", prev):
            spark.conf.set(key, threshold)
            got = _rows(eq.QUERIES[name](spark, sf_dir).toPandas())
            assert got == want, f"{name} with threshold {threshold}"
    finally:
        spark.conf.set(key, prev)
