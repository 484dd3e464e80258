"""t2-style correctness: every registered query with an oracle is run on
Spark and DuckDB at sf0.001 and hash-compared (same check the driver
runs at sf0.01). Queries without an oracle get a rows-run smoke check.
"""

from __future__ import annotations

import pytest

from tests.oracle_compare import assert_match
from unity_to_bigquery_spark.registry import all_queries

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir, built_queries):
    q = QUERIES[name]
    df = q.spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    built_queries[name] = (df.schema, plan)
    if q.oracle is None:
        # rows-only check (mirrors the driver's weaker path)
        n = df.count()
        assert n >= 0
        return
    assert_match(df, duck.sql(q.oracle), name=name)


# Allowed DuckDB result types for oracle outputs. Anything else (HUGEINT
# from uncast integer SUMs, DECIMAL, TIMESTAMP/DATE) hashes differently in
# the driver than in the float-absorbing local comparator — the d_simhash
# round-1 failure class. Keep this list tight.
_ALLOWED_DUCK_TYPES = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT", "VARCHAR", "BOOLEAN"}


@pytest.mark.parametrize("name", sorted(n for n, q in QUERIES.items() if q.oracle))
def test_oracle_output_types_are_hash_safe(name, duck):
    rel = duck.sql(QUERIES[name].oracle)
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() not in _ALLOWED_DUCK_TYPES
    ]
    assert not bad, (
        f"{name}: oracle emits driver-unsafe column types {bad}; "
        "cast integer SUMs to BIGINT, format temporals to strings "
        "(CLAUDE.md hard rule 2)"
    )
