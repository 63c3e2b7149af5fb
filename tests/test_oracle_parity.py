"""Replicates the driver's correctness gate locally: every entry in
``__spark_entry__.queries()`` runs on Spark and its ``oracle_sql()`` twin
runs on DuckDB over the same parquet; results must match exactly
(row count, sorted-column value comparison). Runs at sf0.001 for speed —
the driver runs the same comparison at sf0.01.
"""

import importlib
import math
import os
import pkgutil
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
import dtaianomaly_spark

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_oracle(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con.execute(sql).fetch_df()


def canon(df):
    """Sort columns by name, then rows; normalize floats/None/NaN."""
    cols = sorted(df.columns)
    rows = []
    for tup in df[cols].itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None:
                row.append(None)
            elif isinstance(v, float):
                row.append(None if math.isnan(v) else v)
            else:
                row.append(v)
        rows.append(tuple(row))
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return cols, rows


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, name):
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        pytest.skip(f"{name}: no SQL oracle (rows-only check)")
    spark_df = entry_mod.queries()[name](spark, SF_DIR).toPandas()
    oracle_df = run_oracle(oracles[name])

    assert len(spark_df) == len(oracle_df), (
        f"{name}: row count {len(spark_df)} vs oracle {len(oracle_df)}"
    )
    s_cols, s_rows = canon(spark_df)
    o_cols, o_rows = canon(oracle_df)
    assert s_cols == o_cols, f"{name}: columns {s_cols} vs {o_cols}"
    mismatches = 0
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            mismatches += 1
            if mismatches <= 3:
                print(f"{name} row {i}: spark={a} oracle={b}")
    assert mismatches == 0, f"{name}: {mismatches}/{len(s_rows)} rows differ"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {f.name for f in df.schema.fields} >= {"doc_id", "tier", "bucket", "cnt"}


def test_every_module_imports_and_every_oracle_has_a_query():
    """A dangling import in a module no other test touches, or an
    oracle entry whose query is gone, fails here."""
    for mod in pkgutil.walk_packages(
        dtaianomaly_spark.__path__, dtaianomaly_spark.__name__ + "."
    ):
        importlib.import_module(mod.name)
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())
