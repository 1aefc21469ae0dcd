"""Plan-shape pins for the r17-cohort graph face (registered r15).

graph-bfs-distance rides the label-propagation lineage shape
(the 2^k lesson, see test_r15_ops.test_label_propagation_lineage_is
_linear): weight-0 self-loops carry settled distances so each BFS
round references the prior frontier frame exactly ONCE — one
edges⋈frontier join + map-side MIN. The optimized plan of the
3-round face must therefore contain exactly 3 joins above the
cached edge relation; a naive least(own, min-neighbour) rewrite
would double the unresolved plan per round (1+2+4 = 7 joins) and
this pin fails the build before the bench does."""

from __future__ import annotations

from medallion_delta_lake_spark.plans import registry


def test_bfs_face_lineage_is_linear(spark):
    df = registry.QUERIES["graph-bfs-distance"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_joins = plan.count("Join")
    assert n_joins == 3, (
        f"3-round BFS must plan exactly 3 frontier joins, got "
        f"{n_joins} — frontier frame referenced more than once per "
        "round (2^k lineage regression)"
    )
    # the edge relation is cached ONCE and reused by every round —
    # lineage must stop at InMemoryRelation, not replay the
    # union/distinct edge build per round
    assert plan.count("InMemoryRelation") >= 1
