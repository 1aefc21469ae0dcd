"""Cross-face scratch isolation (the ADVICE r11 class, pinned as a
test): every face that stages Delta/parquet tables writes them under
ONE shared parent dir (``registry.scratch``: tempdir/mdls_{tag}_{pid}/
{face}) and returns a LAZY DataFrame reading from it. A face build
that deletes the SHARED parent (rather than only its own subdir)
silently destroys every sibling face built before it — correct in
per-face tests, wrong in exactly the batch pattern a harness run uses
(build all, then evaluate all).

This test reproduces that batch pattern over every registered
face that stages scratch tables: build every face first (no
evaluation), then evaluate them all and compare row counts against
the DuckDB oracles. A rmtree regression to any face's scratch
handling fails here even though every per-face test stays green."""

from __future__ import annotations

import inspect

import duckdb

from medallion_delta_lake_spark.catalog import TESTDATA_TABLES
from medallion_delta_lake_spark.plans import registry

import pytest

pytestmark = pytest.mark.slow  # heavy battery: excluded from the fast default tier (pytest.ini)

SF = "/root/testdata/sf0.001"


def _oracle_counts(oracles: dict[str, str]) -> dict[str, int]:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    return {
        name: con.execute(
            f"SELECT COUNT(*) FROM ({sql})"
        ).fetchone()[0]
        for name, sql in oracles.items()
    }


def test_build_all_then_evaluate_all(spark):
    queries = {
        name: fn
        for name, fn in registry.QUERIES.items()
        if "scratch(" in inspect.getsource(fn)
    }
    assert len(queries) == 29
    # phase 1: build EVERY face before evaluating ANY — eager scratch
    # writes run now; the returned frames stay lazy
    built = {name: fn(spark, SF) for name, fn in sorted(queries.items())}
    # phase 2: evaluate all — each face's scratch data must have
    # survived every sibling build that came after it
    expected = _oracle_counts({n: registry.ORACLES[n] for n in queries})
    wrong = {
        name: (df.count(), expected[name])
        for name, df in built.items()
        if df.count() != expected[name]
    }
    assert not wrong, (
        "faces lost rows after sibling builds (scratch clobbered?): "
        f"{wrong}"
    )
