"""Sum mode: every registry sum is the decimal-exact form the oracle
gate pins (order-independent, hash-matching DuckDB)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_default_is_exact_decimal(spark, sf_dir):
    df = entrymod.q01_pricing_summary(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "decimal(18,6)" in analyzed
