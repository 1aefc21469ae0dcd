"""Round-15-cohort faces (plans/queries_r15.py): every face must be
oracle-green at two SFs, and the cohort's 10 faces must reach the
entry point through ``@query``, each with its oracle. Faces are selected
from the registry by the module that defines the callable."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from medallion_delta_lake_spark.plans import registry
from tests.oracle import compare_query, registered_faces

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
R15 = registered_faces("queries_r15")


def test_r15_cohort_registered():
    assert len(R15) == 10, R15
    queries, oracles = entry.queries(), entry.oracle_sql()
    missing = [n for n in R15 if n not in queries or not oracles.get(n)]
    assert not missing, f"r15 faces without entry or oracle: {missing}"


@pytest.mark.parametrize("name", R15)
@pytest.mark.parametrize("sf", SFS)
def test_draft_oracle_green(spark, name, sf):
    compare_query(spark, name, registry.QUERIES, registry.ORACLES, sf)
