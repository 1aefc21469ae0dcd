"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, and an
order-insensitive value multiset (columns sorted by name, rows sorted).
Exact comparison — the registry's decimal-accumulation contract makes
floats bit-identical across engines, so no tolerance is applied.

On any mismatch, the first differing row pairs are persisted to
``mismatches/MISMATCH_<op>.json`` at the repo root so a red row is
actionable even when it doesn't reproduce later (driver-red evidence).
"""

from __future__ import annotations

import datetime as _dt
import importlib
import json
import math
from collections import Counter
from pathlib import Path

import duckdb

from medallion_delta_lake_spark.catalog import TESTDATA_TABLES

_REPO_ROOT = Path(__file__).resolve().parent.parent
MISMATCH_DIR = _REPO_ROOT / "mismatches"
_MAX_EVIDENCE_ROWS = 10


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    return v


def canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def _json_safe(v):
    if isinstance(v, float):
        # carry the exact bits: repr round-trips doubles, and the hex
        # form distinguishes 1-ulp deltas that decimal printing hides
        return {"repr": repr(v), "hex": v.hex()}
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    try:
        json.dumps(v)
        return v
    except TypeError:
        return repr(v)


def _persist_mismatch(name: str, sf_dir: str, payload: dict) -> Path:
    MISMATCH_DIR.mkdir(exist_ok=True)
    path = MISMATCH_DIR / f"MISMATCH_{name}.json"
    payload = {"op": name, "sf_dir": sf_dir, **payload}
    path.write_text(json.dumps(payload, indent=1, default=repr))
    return path


def registered_faces(module: str) -> list[str]:
    """Sorted ids of the registered faces defined in ``plans/<module>.py``."""
    importlib.import_module(f"medallion_delta_lake_spark.plans.{module}")
    from medallion_delta_lake_spark.plans import registry

    return sorted(
        n
        for n, fn in registry.QUERIES.items()
        if fn.__module__.rsplit(".", 1)[-1] == module
    )


def compare_query(spark, name: str, queries: dict, oracles: dict, sf_dir: str):
    """Assert Spark result == DuckDB oracle result for op-id ``name``."""
    sdf = queries[name](spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    o_cols, o_rows = run_oracle(oracles[name], sf_dir)

    sc, sr = canonical(s_cols, s_rows)
    oc, orows = canonical(o_cols, o_rows)
    if sc != oc:
        p = _persist_mismatch(
            name, sf_dir, {"kind": "schema", "spark_cols": sc, "oracle_cols": oc}
        )
        raise AssertionError(f"{name}: column mismatch {sc} vs {oc} [{p}]")
    if len(sr) != len(orows):
        s_cnt, o_cnt = Counter(sr), Counter(orows)
        p = _persist_mismatch(
            name,
            sf_dir,
            {
                "kind": "rows",
                "cols": sc,
                "spark_rows": len(sr),
                "oracle_rows": len(orows),
                "spark_only": [
                    _json_safe(r)
                    for r in list((s_cnt - o_cnt).elements())[:_MAX_EVIDENCE_ROWS]
                ],
                "oracle_only": [
                    _json_safe(r)
                    for r in list((o_cnt - s_cnt).elements())[:_MAX_EVIDENCE_ROWS]
                ],
            },
        )
        raise AssertionError(
            f"{name}: row count {len(sr)} vs {len(orows)} [{p}]"
        )
    mismatches = [(a, b) for a, b in zip(sr, orows) if a != b]
    if mismatches:
        s_cnt, o_cnt = Counter(sr), Counter(orows)
        p = _persist_mismatch(
            name,
            sf_dir,
            {
                "kind": "hash",
                "cols": sc,
                "n_mismatched_sorted_pairs": len(mismatches),
                # multiset difference beats positional zip: one shifted
                # row doesn't cascade into thousands of "mismatches"
                "spark_only": [
                    _json_safe(r)
                    for r in list((s_cnt - o_cnt).elements())[:_MAX_EVIDENCE_ROWS]
                ],
                "oracle_only": [
                    _json_safe(r)
                    for r in list((o_cnt - s_cnt).elements())[:_MAX_EVIDENCE_ROWS]
                ],
                "first_sorted_pair": {
                    "spark": _json_safe(mismatches[0][0]),
                    "oracle": _json_safe(mismatches[0][1]),
                },
            },
        )
        raise AssertionError(
            f"{name}: {len(mismatches)} row mismatches; "
            f"first: {mismatches[0]} [{p}]"
        )
