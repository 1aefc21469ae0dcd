"""Enforced allowlist of UNPARTITIONED window sites (VERDICT r11 #7).

A ``Window.orderBy(...)`` / ``W.orderBy(...)`` without ``partitionBy``
plans ``Exchange SinglePartition`` + a one-partition sort — the
classic silent 100 TB killer. The repo's convention allows them ONLY
over frames whose row count is bounded by something other than the
data size (distinct quantized values, category sets, calendar days,
top-k results, the ≤16k log-scale bucket frame). The r11 verdict
showed the convention can be mis-applied (events-rfm-scores' monetary
axis: a "distinct-value" frame that was really user-cardinality), so
every site is now INVENTORIED HERE with its cardinality bound, and
this test fails the build when a new unpartitioned window appears
anywhere in the package without a reviewed entry — or when an entry
goes stale.

Sites are keyed by (module-relative path, enclosing function
qualname) with the expected site count, so the list survives line
drift but still notices a function growing an extra global window.
"""

from __future__ import annotations

import ast
import os

import medallion_delta_lake_spark as pkg

PKG_ROOT = os.path.dirname(pkg.__file__)

# (file, enclosing qualname) -> (expected number of W/Window.orderBy
# sites WITHOUT partitionBy, documented cardinality bound)
ALLOWLIST: dict[tuple[str, str], tuple[int, str]] = {
    ("operators/agg.py", "ks_two_sample"): (
        1,
        "distinct QUANTIZED values (cents contract) — bounded by the "
        "value range, never the row count; map-side combined first",
    ),
    ("operators/agg.py", "mann_whitney_u"): (
        1,
        "distinct QUANTIZED values (cents contract) — value-range "
        "bounded",
    ),
    ("operators/agg.py", "kruskal_wallis"): (
        2,
        "site 1: distinct quantized values (scale param contract); "
        "site 2: per-group partials — |groups| rows",
    ),
    ("operators/agg.py", "theil_sen"): (
        1,
        "pair-slope frame ≤ max_points²/2, enforced by an explicit "
        "raise when n_points > max_points",
    ),
    ("operators/drift.py", "categorical_bhattacharyya"): (
        1,
        "distinct categories of a categorical column — caller "
        "contract, |categories| rows",
    ),
    ("operators/mleval.py", "_global_rank"): (
        1,
        "distinct score CENTS (every caller integerizes via "
        "_score_label) — bounded by score range; contract in "
        "docstring, continuous axes must use bucketed_global_rank",
    ),
    ("operators/mleval.py", "bucketed_global_rank"): (
        1,
        "bucket-aggregate frame, ≤16,384 rows BY CONSTRUCTION "
        "(axis_bucket: floor(signum·log2(|v|+1)·8) over finite "
        "doubles) — the designed bounded replacement for "
        "row-cardinality rank frames",
    ),
    ("operators/mleval.py", "ks_separation"): (
        2,
        "both over the distinct score-cents frame — score-range "
        "bounded",
    ),
    ("operators/mleval.py", "lift_deciles"): (
        1,
        "decile frame — ≤10 rows",
    ),
    ("operators/mleval.py", "poisson_bootstrap_mean_ci"): (
        1,
        "bootstrap replicate means — B rows (constant parameter)",
    ),
    ("operators/mleval.py", "roc_auc"): (
        1,
        "distinct score-cents frame — score-range bounded",
    ),
    ("operators/similarity.py", "kmeans_centroids"): (
        1,
        "centroid init frame — limit(k) applied before the window, "
        "≤k rows",
    ),
    ("operators/text_analysis.py", "zipf_profile"): (
        1,
        "top-k token frame — orderBy().limit(top_k) "
        "(TakeOrderedAndProject) runs BEFORE the rank window, ≤top_k "
        "rows (r12 fix: was vocab-cardinality)",
    ),
    ("plans/queries_feature.py", "_bucketed_nn_carry"): (
        2,
        "cross-bucket carry frames — per-bucket first/last-control "
        "aggregate, ≤16,384 rows by axis_bucket construction",
    ),
    ("plans/queries_feature.py", "_rfm_rank"): (
        1,
        "distinct BOUNDED-axis values (recency days ≤ horizon, "
        "frequency ≤ max events/user) — contract in docstring; the "
        "continuous monetary axis uses bucketed_global_rank instead",
    ),
    ("plans/queries_feature.py", "stats_anova_oneway_q"): (
        1,
        "per-group partials — |event_type| rows",
    ),
    ("plans/queries_mleval.py", "ml_expected_calibration_error_q"): (
        1,
        "calibration bins — ≤10 rows",
    ),
    ("plans/queries_mleval.py", "stats_cohens_kappa_q"): (
        1,
        "rating-category cells — |categories|² rows",
    ),
    ("plans/queries_r12.py", "events_survival_table_q"): (
        1,
        "distinct calendar days — horizon-bounded",
    ),
    ("plans/queries_rel.py", "agg_weekly_growth_q"): (
        1,
        "weekly revenue series — |weeks| rows (calendar-bounded)",
    ),
    ("plans/queries_rel.py", "explode_token_freq_q"): (
        1,
        "top-50 token frame — orderBy().limit(50) "
        "(TakeOrderedAndProject) runs BEFORE the rank window (r12 "
        "fix: was vocab-cardinality)",
    ),
    ("plans/queries_rel.py", "stats_brown_forsythe_q"): (
        1,
        "per-group partials — |event_type| rows",
    ),
    ("plans/queries_rel.py", "stats_runs_test_q"): (
        2,
        "daily revenue series — |days| rows (calendar-bounded), "
        "both sites",
    ),
    ("plans/queries_rel.py", "stats_spearman_rho_q.rank_map"): (
        1,
        "distinct values of integer/low-cardinality lineitem columns "
        "(l_quantity 1..50, discount cents) — value-range bounded",
    ),
    ("plans/queries_r15.py", "drift_wasserstein_binned_q"): (
        1,
        "fixed 256-bin histogram frame — ≤256 rows BY CONSTRUCTION "
        "(least(255, floor(value/width)) clamps every finite value "
        "into the bin range before the cumulative window)",
    ),
    ("operators/mleval.py", "auc_delong"): (
        2,
        "both over the distinct score-cents frame (placement "
        "integers below/above) — score-range bounded, same contract "
        "as _global_rank/ks_separation",
    ),
    ("plans/queries_r17.py", "ml_threshold_youden_q"): (
        1,
        "decile frame — ≤10 rows (same shape as lift_deciles)",
    ),
}


def _inventory() -> dict[tuple[str, str], int]:
    """AST scan: every ``W.orderBy(...)`` / ``Window.orderBy(...)``
    call (the UNPARTITIONED spelling — a chained
    ``partitionBy().orderBy()`` has a Call, not a Name, as the
    receiver), keyed by (relpath, enclosing function qualname)."""
    found: dict[tuple[str, str], int] = {}
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        if "__pycache__" in dirpath:
            continue
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG_ROOT)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())

            def walk(node: ast.AST, stack: list[str]) -> None:
                for child in ast.iter_child_nodes(node):
                    nstack = stack
                    if isinstance(
                        child, (ast.FunctionDef, ast.AsyncFunctionDef)
                    ):
                        nstack = stack + [child.name]
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr == "orderBy"
                        and isinstance(child.func.value, ast.Name)
                        and child.func.value.id in ("W", "Window")
                    ):
                        key = (rel, ".".join(stack) or "<module>")
                        found[key] = found.get(key, 0) + 1
                    walk(child, nstack)

            walk(tree, [])
    return found


def test_unpartitioned_window_sites_match_allowlist():
    found = _inventory()
    problems: list[str] = []
    for key, n in sorted(found.items()):
        want = ALLOWLIST.get(key)
        if want is None:
            problems.append(
                f"{key[0]}::{key[1]}: {n} UNREVIEWED unpartitioned "
                "window site(s) — single-partition sort at scale; "
                "either bound the frame (bucketed_global_rank, "
                "TakeOrdered-then-rank, grouped partials) or review "
                "the bound into ALLOWLIST"
            )
        elif want[0] != n:
            problems.append(
                f"{key[0]}::{key[1]}: {n} sites != allowlisted "
                f"{want[0]} — re-review the function's windows"
            )
    for key in sorted(set(ALLOWLIST) - set(found)):
        problems.append(
            f"{key[0]}::{key[1]}: allowlisted but no longer present "
            "— remove the stale entry"
        )
    assert not problems, "\n".join(problems)


def test_every_allowlist_entry_documents_a_bound():
    for key, (n, bound) in ALLOWLIST.items():
        assert n >= 1, key
        assert len(bound) >= 20, (
            f"{key}: the bound note must actually state the "
            "cardinality bound"
        )
