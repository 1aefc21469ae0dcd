"""Oracle OUTPUT-dtype lint: no oracle may emit a HUGEINT column.

Root cause of every driver-red in rounds 8-10 (VERDICT r10): DuckDB's
``SUM(integer)`` and HUGEINT ``//`` return HUGEINT (int128). The
driver's value hasher renders int128 differently from Spark's int64,
so rows and schema match while the hash goes red — and the mismatch
never reproduces locally because tests/oracle.py compares *values*
(Python ints), which are equal. Exactly the 7 red ops of
CORRECTNESS_r10 — and none of the 284 green ones — had a HUGEINT
output column.

This lint makes the class structurally dead: every registered oracle
is *planned* (bound, not executed) in DuckDB against the sf0.001
views and its output column types are asserted free of
HUGEINT/UHUGEINT. An uncast ``SUM(int)`` in any future oracle fails
here before it can ship.

DOUBLE columns are deliberately NOT linted here — floats hash fine on
the driver (VERDICT r10 verified green DOUBLE faces); the Spark-side
DOUBLE discipline lives in tests/test_schema_lint.py.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from medallion_delta_lake_spark.catalog import TESTDATA_TABLES
from tests.conftest import SF_SMOKE

_BANNED = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TESTDATA_TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    return c


def test_no_hugeint_oracle_outputs(con):
    problems: list[str] = []
    for name, sql in sorted(entry.oracle_sql().items()):
        try:
            rel = con.sql(sql)  # binds + plans; does not execute
            types = [str(t).upper() for t in rel.types]
            cols = list(rel.columns)
        except Exception as ex:  # noqa: BLE001 — lint must name the op
            problems.append(f"{name}: oracle failed to bind: {ex!r:.160}")
            continue
        bad = [
            f"{c}:{t}"
            for c, t in zip(cols, types)
            if any(b in t for b in _BANNED)
        ]
        if bad:
            problems.append(
                f"{name}: HUGEINT output column(s) {bad} — CAST the "
                "integer SUM/`//` result to BIGINT in the oracle "
                "(driver hashes int128 differently from Spark int64)"
            )
    assert not problems, "\n".join(problems)
