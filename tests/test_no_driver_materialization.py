"""No registered face materializes rows on the driver (VERDICT r13
#6): ``collect()`` / ``toPandas()`` / ``toLocalIterator()`` in a
query face is the definition of a non-distributed operator — at
100 TB the driver OOMs or serializes the whole job. The registry
convention is ZERO such sites across the plans and operators
surface; this AST lint fails the build when one appears.

(Tests, pipelines' debug helpers, and the oracle harness are exempt
— they run on bounded frames by construction and are not part of a
registered face's execution path. ``bench.py`` times ``count()``
only. The allowlist below is EMPTY; keep it that way.)
"""

from __future__ import annotations

import ast
import os

import medallion_delta_lake_spark as pkg

PKG_ROOT = os.path.dirname(pkg.__file__)
SCAN_DIRS = ("plans", "operators")
FORBIDDEN = {"collect", "toPandas", "toLocalIterator"}

# (module-relative path, enclosing qualname) -> reviewed reason.
# Empty by design — add an entry ONLY with a documented boundedness
# argument, mirroring tests/test_global_window_allowlist.py.
ALLOWLIST: dict[tuple[str, str], str] = {}


def _sites() -> list[tuple[str, str, str, int]]:
    out = []
    for d in SCAN_DIRS:
        droot = os.path.join(PKG_ROOT, d)
        for root, _dirs, files in os.walk(droot):
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(root, fn)
                rel = os.path.relpath(path, PKG_ROOT)
                tree = ast.parse(open(path).read())
                stack: list[str] = []

                def walk(node):
                    for child in ast.iter_child_nodes(node):
                        if isinstance(
                            child,
                            (
                                ast.FunctionDef,
                                ast.AsyncFunctionDef,
                                ast.ClassDef,
                            ),
                        ):
                            stack.append(child.name)
                            walk(child)
                            stack.pop()
                            continue
                        if (
                            isinstance(child, ast.Call)
                            and isinstance(
                                child.func, ast.Attribute
                            )
                            and child.func.attr in FORBIDDEN
                        ):
                            out.append(
                                (
                                    rel,
                                    ".".join(stack) or "<module>",
                                    child.func.attr,
                                    child.lineno,
                                )
                            )
                        walk(child)

                walk(tree)
    return out


def test_no_driver_materialization_in_faces():
    bad = [
        f"{rel}:{ln} {qual}() calls .{meth}()"
        for rel, qual, meth, ln in _sites()
        if (rel, qual) not in ALLOWLIST
    ]
    assert not bad, (
        "driver-side row materialization in the package surface "
        "(convert to a distributed plan or add a REVIEWED allowlist "
        "entry with a boundedness argument):\n" + "\n".join(bad)
    )


def test_allowlist_not_stale():
    live = {(rel, qual) for rel, qual, _m, _ln in _sites()}
    stale = [k for k in ALLOWLIST if k not in live]
    assert not stale, f"stale allowlist entries: {stale}"
