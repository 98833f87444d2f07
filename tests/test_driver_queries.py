"""Driver-contract checks: every family-row query of
``__spark_entry__`` against its DuckDB oracle at sf0.001, and the
range-bucket queries sizing their KLL from parquet footers instead of
running a capacity-probe job."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as E
from tools.compare_oracle import TABLES, compare

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(E._ROWS))
def test_family_row_matches_oracle(spark, duck, name):
    got = E.queries()[name](spark, SF).toPandas()
    want = duck.execute(E.oracle_sql()[name]).df()
    assert compare(got, want) == []


def test_range_bucket_queries_run_no_capacity_probe(spark, monkeypatch):
    """Building either range-bucket query's DataFrame runs no
    ``count()`` or ``collect()`` job: the KLL capacity comes from the
    parquet footer row counts."""
    def no_probe(self, *a, **k):
        raise AssertionError("capacity probe job")

    df_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    monkeypatch.setattr(df_cls, "count", no_probe)
    monkeypatch.setattr(df_cls, "collect", no_probe)
    for name in ("range_buckets_price", "range_buckets_per_type"):
        E.queries()[name](spark, SF)
