"""Every registered query with an oracle is hash-compared against
DuckDB at sf0.001 — the same comparison shape as the driver's t2 gate
(row count + schema + order-insensitive bit-exact value hash)."""

from __future__ import annotations

import pytest

from file_scraper_spark import registry
from tests.conftest import needs_smoke_fixture
from tools.check_correctness import canonical_rows, duckdb_run, value_hash

registry._ensure_loaded()
SPECS = sorted(registry.REGISTRY.items())


@pytest.mark.parametrize("name", [n for n, _ in SPECS])
def test_query(name, spark, sf_dir):
    spec = registry.REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        assert len(s_rows) >= 0  # rows-only: runs and has a stable schema
        assert sdf.columns
        return
    d_cols, d_rows = duckdb_run(sf_dir, spec.oracle)
    assert len(s_rows) == len(d_rows), f"{name}: rowcount mismatch"
    assert sorted(sdf.columns) == sorted(d_cols), f"{name}: column mismatch"
    sh = value_hash(sdf.columns, s_rows)
    dh = value_hash(d_cols, d_rows)
    if sh != dh:
        sc, dc = canonical_rows(sdf.columns, s_rows), canonical_rows(d_cols, d_rows)
        diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
        pytest.fail(f"{name}: value hash mismatch, first diffs {diff}")


@needs_smoke_fixture
def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())
