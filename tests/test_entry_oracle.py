"""Mirror of the driver's correctness gate: run every `queries()` entry on
Spark and its `oracle_sql()` twin on DuckDB over the same parquet tables at
sf=0.01, then compare row count + order-insensitive values exactly.

The gate is sf-parametric: `SPARK_GRAFT_ORACLE_SF_DIR=/root/testdata/sf0.1
pytest tests/test_entry_oracle.py` reruns all 50 comparisons at 10× the
driver's scale (last run green 50/50, ~3 min on local[32] — scale-stability
evidence that no oracle bakes in sf0.01 row counts or sampling artifacts)."""

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype("float64").round(9)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


NAMES = sorted(entrymod.queries())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, duck, request):
    if name == "extract_real_pages":
        # its input is the reference checkout's real-page corpus
        request.getfixturevalue("reference_dir")
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    assert sql is not None, f"{name} has no oracle"
    got = _canon(fn(spark, SF).toPandas())
    want = _canon(duck.sql(sql).df())
    assert list(got.columns) == list(want.columns), \
        f"columns {list(got.columns)} != {list(want.columns)}"
    assert len(got) == len(want), f"rowcount {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.schema is not None
