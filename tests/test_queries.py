"""Registry-level tests: every registered query builds, runs at
sf0.001, and matches its DuckDB oracle (the driver's gate, mirrored
via tools/oracle_check helpers)."""

from __future__ import annotations

import duckdb
import pytest

from big_data_engineering_project_spark import caches
from big_data_engineering_project_spark.plans import REGISTRY
from big_data_engineering_project_spark.sources.catalog import TABLES
from tools.oracle_check import compare


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = REGISTRY[name]
    caches.clear_all_owned_caches()
    sdf = spec.builder(spark, sf_dir).toPandas()
    # A builder that fills the pin FIFO could evict its own frame
    # before the plan reads it.
    assert len(caches._PINS) < caches.PIN_BOUND
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only smoke
        return
    ddf = duck.execute(spec.oracle).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, problems


def test_embedding_centroids_oracle_at_sf001(spark):
    """Precision regression guard at sf0.01: the r4 centroid failure
    (HALF_UP vs HALF_EVEN decimal ties) only manifested above sf0.001
    — enough accumulation per (label, dim) group to cross a rounding
    boundary. The floor-quantized form must stay exact at the SF where
    the old form broke; sf0.001 alone cannot prove that."""
    import duckdb as _duckdb

    sf01 = "/root/testdata/sf0.01"
    spec = REGISTRY["q_embedding_centroids"]
    sdf = spec.builder(spark, sf01).toPandas()
    con = _duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf01}/embeddings.parquet')"
    )
    ddf = con.execute(spec.oracle).fetchdf()
    con.close()
    problems = compare("q_embedding_centroids@sf0.01", sdf, ddf)
    assert not problems, problems
