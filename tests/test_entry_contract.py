"""Local preview of the driver's verification harness.

Runs every `__spark_entry__.queries()` entry at sf0.01 and compares the
oracle-able ones against `oracle_sql()` in DuckDB: row count, column-name
set, and an order-insensitive value comparison (floats to 1e-6) — the same
shape as CORRECTNESS_r{N}.json. No-oracle entries are smoke-run for
schema stability + rows >= 0.
"""

import os

import duckdb
import pytest
from conftest import TESTDATA

import __spark_entry__ as entrymod

SF_DIR = os.path.join(TESTDATA, "sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize(rows, cols):
    """order-insensitive, column-name-sorted, float-tolerant row set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6) + 0.0  # normalize -0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# DuckDB column type → Spark simpleString where the names differ; every
# other type maps to its lowercased name (BIGINT → bigint, DOUBLE →
# double, DECIMAL(p,s) → decimal(p,s)). HUGEINT (DuckDB's sum of
# BIGINT) has no Spark twin, so an uncast sum fails the match.
DUCK_TO_SPARK = {"INTEGER": "int", "VARCHAR": "string"}


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = ddb.sql(ORACLES[name])
    d_cols = rel.columns
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (s_cols, d_cols)
    s_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    bad_types = {
        c: (str(t), s_types[c])
        for c, t in zip(d_cols, rel.types)
        if DUCK_TO_SPARK.get(str(t), str(t).lower()) != s_types[c]
    }
    assert not bad_types, (name, bad_types)
    assert len(s_rows) == len(d_rows), (name, len(s_rows), len(d_rows))
    ns, nd = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches[:3], (name, mismatches[:3])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"doc_id", "n_tokens", "lang_pred", "quality", "fp"}
