"""Pin the battery registry and its output-encoding lint.

``battery.QUERIES`` and ``battery.ORACLES`` hold every registered
query in source order; ``tools/oracle_check.py`` runs each one against
its DuckDB oracle.
"""

from __future__ import annotations

from tabata_spark.battery import ORACLES, QUERIES


def test_rotation_preserves_the_full_battery():
    # The registry must never drop or duplicate a query, and ORACLES
    # must stay aligned with QUERIES.
    assert len(QUERIES) == len(set(QUERIES)) == 219
    assert list(ORACLES) == [n for n in QUERIES if n in ORACLES]


def test_every_query_has_an_oracle():
    # Oracle-less queries would get only a rows-only check; every
    # battery query carries a full value oracle.
    assert [n for n in QUERIES if n not in ORACLES] == []


def test_register_lint_rejects_decimal_outputs(spark):
    # The register() wrapper must refuse DECIMAL output columns (the
    # value hasher canonicalizes doubles/ints reliably, decimals
    # unreliably). Build a one-off registered query that emits decimal
    # and check the lint fires.
    import pytest

    from tabata_spark.battery import QUERIES as Q
    from tabata_spark.battery import register

    name = "__lint_probe__"
    try:

        @register(name, None)
        def bad(spark, sf_dir):
            from pyspark.sql import functions as F

            return spark.range(1).select(
                F.lit(1.5).cast("decimal(18,4)").alias("x")
            )

        with pytest.raises(AssertionError, match="DECIMAL output"):
            Q[name](spark, "/root/testdata/sf0.001")
    finally:
        Q.pop(name, None)
