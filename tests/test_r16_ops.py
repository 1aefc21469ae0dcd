"""Operator/plan laws behind the queries_r16 faces:

- join-bucketed-colocated's WHOLE POINT is physical: the orderkey
  join over the two bucketed tables must plan with NO Exchange on
  either join side (bucketed scans feed SortMergeJoin directly) —
  pinned here against the executed plan, because the oracle only
  proves the VALUES, not the shuffle-free shape;
- graph-kcore-peel: peeling is monotone (node/edge counts never
  grow) and a hand-checked tiny graph peels exactly;
- mleval.auc_delong agrees with roc_auc on the AUC point estimate
  and reproduces a hand-computed variance on a small sample.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_bucketed_join_plans_without_exchange(spark):
    from medallion_delta_lake_spark.plans import queries_r16 as r16
    from medallion_delta_lake_spark.plans import registry

    # building the face writes the bucketed tables
    registry.QUERIES["join-bucketed-colocated"](spark, SF)
    j = r16.bucketed_join_frame(spark, SF)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "Join" in plan
    assert "Exchange" not in plan, (
        "bucketed co-located join must not shuffle either side:\n"
        + plan
    )
    # sanity: the join actually matches rows
    assert j.limit(1).count() == 1


def test_kcore_peel_monotone_and_exact_small(spark):
    from medallion_delta_lake_spark.plans import registry

    rows = {
        r["round"]: (r["n_nodes"], r["n_edges"])
        for r in registry.QUERIES["graph-kcore-peel"](
            spark, SF
        ).collect()
    }
    assert set(rows) == {1, 2, 3}
    for i in (2, 3):
        assert rows[i][0] <= rows[i - 1][0]
        assert rows[i][1] <= rows[i - 1][1]

    # hand-checked: triangle {1,2,3} + pendant 4 — k=2 peel drops the
    # pendant in round 1 and is then stable
    from medallion_delta_lake_spark.operators.caching import (
        tracked_cache,
    )

    half = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "s bigint, d bigint"
    )
    e = tracked_cache(
        half.unionByName(
            half.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
    )
    for _ in range(2):
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= 2).select("s")
        e = tracked_cache(
            e.join(keep, "s")
            .join(keep.withColumnRenamed("s", "d"), "d")
            .select("s", "d")
        )
    left = sorted(
        (r["s"], r["d"]) for r in e.filter("s < d").collect()
    )
    assert left == [(1, 2), (1, 3), (2, 3)]


def test_auc_delong_matches_roc_auc_and_hand_variance(spark):
    from medallion_delta_lake_spark.operators import mleval

    # hand-computable sample: scores with ties across labels
    rows = [
        # (event_id, user_id, value, label)
        (1, 1, 1.0, 0),
        (2, 1, 2.0, 0),
        (3, 1, 2.0, 1),
        (4, 1, 3.0, 1),
        (5, 1, 4.0, 0),
        (6, 1, 5.0, 1),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, value double, label int"
    )
    auc_row = mleval.roc_auc(df, "value", "label").collect()[0]
    dl = mleval.auc_delong(df, "value", "label").collect()[0]
    assert dl["n_pos"] == 3 and dl["n_neg"] == 3
    assert abs(dl["auc"] - auc_row["auc"]) < 1e-12
    # V10 per positive: score2 → (1 + 0.5)/3, score3 → 2/3, score5 → 1
    v10 = [1.5 / 3, 2.0 / 3, 1.0]
    # V01 per negative: score1 → 1, score2 → (2 + 0.5)/3, score4 → 1/3
    v01 = [1.0, 2.5 / 3, 1.0 / 3]
    auc = sum(v10) / 3
    s10 = sum((v - auc) ** 2 for v in v10) / 2
    s01 = sum((v - auc) ** 2 for v in v01) / 2
    var = s10 / 3 + s01 / 3
    assert abs(dl["auc"] - auc) < 1e-12
    assert abs(dl["var_auc"] - var) < 1e-12
    assert dl["ci_lo95"] < dl["auc"] < dl["ci_hi95"]
