from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meilisync_spark.session import get_spark
from meilisync_spark.sources.parquet import TABLES, table_path

SF_SMOKE = "/root/testdata/sf0.001"
# normalize_events's payload: every output column but seq/table/op/pk
PAYLOAD_COLS = ["ts", "value", "k"]
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="meilisync-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            p = table_path(sf_dir, t)
            if os.path.exists(p):
                con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
        return con

    return connect


def _norm(v):
    """Normalize a cell for cross-engine comparison (mimics the driver's
    order-insensitive value-hash: exact values, sorted columns/rows)."""
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    return ("s", str(v))


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def compare_to_oracle(spark_df, con, sql, name=""):
    """Assert row-count + sorted-by-column-name exact value equality."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    d_cols = rel.columns
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    sk, dk = rows_key(s_cols, s_rows), rows_key(d_cols, d_rows)
    if sk != dk:
        diffs = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
