"""Every registered harness query matches its DuckDB oracle at sf0.001."""

import pytest

import geoscan_fraud_spark.harness_geo  # noqa: F401 — registers geo ops
import geoscan_fraud_spark.harness_ext  # noqa: F401 — §7.5 extensions
import geoscan_fraud_spark.harness_pipeline  # noqa: F401 — dedup/ANN/text ops
from geoscan_fraud_spark.harness import QUERIES, resolved_oracles
from geoscan_fraud_spark.testing.oracle import compare_query, duckdb_connection

# mirrors the driver contract: `oracle_sql()` hands out RESOLVED SQL
# strings (lazy thunks already evaluated), never callables
RESOLVED = resolved_oracles()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, sf_dir, name):
    assert name in RESOLVED, f"{name}: registered entry has no resolved oracle"
    status, msg = compare_query(spark, con, QUERIES[name], RESOLVED[name], sf_dir)
    assert status == "pass", f"{name}: {msg}"
