"""The registry has one registration path: a face exists only if a plans
module decorated it with ``@query``, and ``__spark_entry__`` imports
every plans module eagerly.

- ``queries()`` and ``oracle_sql()`` are the registry dicts, 379 each;
- a plans module that fails to import fails ``import __spark_entry__``
  instead of dropping its faces;
- every face of the heavy round-numbered cohorts (``queries_r11``,
  ``r12``, ``r13``, ``r16`` and ``r18``, selected by the defining module
  of the registered callable) is oracle-green at two SFs, in the
  ``slow`` tier. The fast-tier cohorts r14, r15 and r17 keep their own
  files (``tests/test_r14_drafts.py`` …), which select faces the same
  way;
- faces that stage tables through ``registry.scratch`` never share a
  scratch subdirectory across faces, so a face clearing its own never
  clears a sibling's, and a process removes the scratch parents it
  handed out when it exits.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

import pytest

import __spark_entry__ as entry
from medallion_delta_lake_spark.plans import registry
from tests.oracle import compare_query, registered_faces

REPO = Path(__file__).resolve().parent.parent
PLANS = REPO / "medallion_delta_lake_spark" / "plans"
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

_SLOW_MODULES = (
    "queries_r11", "queries_r12", "queries_r13", "queries_r16", "queries_r18"
)


def _face_cases():
    names = sorted(n for m in _SLOW_MODULES for n in registered_faces(m))
    for name in names:
        for sf in SFS:
            yield pytest.param(name, sf, marks=pytest.mark.slow, id=f"{sf}-{name}")


def test_queries_and_oracles_are_the_registry():
    assert entry.queries() == registry.QUERIES
    assert entry.oracle_sql() == registry.ORACLES
    assert len(entry.queries()) == 379 == len(entry.oracle_sql())


def test_broken_plans_module_fails_import():
    code = (
        "import sys\n"
        "sys.modules['medallion_delta_lake_spark.plans.queries_r18'] = None\n"
        "try:\n"
        "    import __spark_entry__\n"
        "except ImportError:\n"
        "    print('ImportError')\n"
        "else:\n"
        "    print('imported', len(__spark_entry__.queries()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout.strip()
    assert out == "ImportError", out


def test_scratch_parent_removed_at_exit():
    code = (
        "import os\n"
        "from medallion_delta_lake_spark.plans.registry import scratch\n"
        "d = scratch('/data/sf0.01', 'face')\n"
        "os.makedirs(d)\n"
        "open(os.path.join(d, 'part.parquet'), 'w').write('x')\n"
        "print(os.path.dirname(d))\n"
    )
    parent = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout.strip()
    assert Path(parent).name.startswith("mdls_"), parent
    assert not Path(parent).exists(), parent


def test_scratch_subdirectories_are_per_face():
    owners: dict[str, set[tuple[str, str]]] = defaultdict(set)
    for path in sorted(PLANS.glob("queries_*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "scratch"
                ):
                    continue
                sub = node.args[1]
                assert isinstance(sub, ast.Constant) and isinstance(
                    sub.value, str
                ), f"{path.name}:{fn.name}: scratch name must be a literal"
                owners[sub.value].add((path.stem, fn.name))
    assert len(owners) > 30
    shared = {sub: sorted(o) for sub, o in owners.items() if len(o) > 1}
    # the bucketed face writes the tables its plan-pin frame reads
    assert shared == {
        "bucketed_db": [
            ("queries_r16", "bucketed_join_frame"),
            ("queries_r16", "join_bucketed_colocated_q"),
        ]
    }


@pytest.mark.parametrize("name, sf", list(_face_cases()))
def test_face_oracle_green(spark, name, sf):
    compare_query(spark, name, registry.QUERIES, registry.ORACLES, sf)
