"""Round-16-cohort query faces — REGISTERED as of round 14 (drafted
+ oracle-proven at two SFs in round 12 while the registry was frozen;
the registration is the mechanical draft→@query move; SURVEY.md §7
Phase 9, VERDICT r13 #1). The r14 driver window leads with the
r15-cohort 10 plus these 10, then drains the 8 r6-stale remnants and
22 of the 48 r7-stale ids.

The cohort closes physical-layout and data-quality gaps:

- join-bucketed-colocated — the SHUFFLE-FREE co-located join: both
  sides written as Hive-bucketed tables on the join key
  (``bucketBy(16, key).sortBy(key).saveAsTable``), so the
  SortMergeJoin plans directly over the bucketed scans with NO
  Exchange on either side — the physical-design story (pre-bucketed
  fact/dim co-location) a 100 TB recurring join needs, as a driven
  face rather than prose; tests/test_r16_ops.py pins the
  exchange-free plan shape;
- dq-expectation-suite — a Great-Expectations-style one-pass
  expectation report: null/range/domain/uniqueness/referential rules
  over orders+lineitem, each row (rule, n_checked, n_violations,
  pass_q6) — the data-quality gate a medallion bronze→silver
  promotion runs (reference validates silver inputs ad hoc;
  bronze_table_creation.py:25-60);
- agg-apdex-score — the Apdex SLA score per event type
  ((satisfied + tolerating/2) / total at T=100, 4T tolerating) in
  exact integer arithmetic — the ops-facing rollup of the latency
  histogram family;
- events-markov-2step — second-order Markov transitions (two-event
  context → next-event conditional), the sequence model one step
  beyond agg-markov-transition's first-order matrix; exact counts +
  one quantized division, ≤|types|³ output rows;
- ts-drift-naive-forecast — the drift-naive forecasting baseline
  (last train value + per-step mean train drift), backtested on the
  final week: per-type MAE and signed bias in (n_train−1)-scaled
  INTEGER arithmetic — the honest yardstick every fancier forecast
  face (holt/croston) should beat;
- events-retention-bitmap — EXACT day-over-day retained-user counts
  from mergeable bitmap chunks: |A∩B| = cnt(A)+cnt(B)−cnt(A∪B) with
  the union folded by ``bitmap_or_agg`` — the exact-retention
  companion of agg-bitmap-exact-distinct (r15), state = one ≤4 KB
  chunk per (day, id-range);
- scan-csv-malformed-audit — PERMISSIVE CSV ingestion with a
  corrupt-record column: deterministically injected bad rows land in
  ``_bad`` (never silently null out), good rows parse to exact
  cents — the quarantine accounting a bronze CSV landing zone needs
  (reference reads raw CSVs with spark.read.csv,
  bronze_table_creation.py:25-41);
- graph-kcore-peel — 3 rounds of k-core peeling (k=3): drop nodes
  with degree < k, recompute, repeat — per-round surviving node/edge
  counts; rounds are cached frames so the lineage stays linear
  (label-propagation's 2^k lesson, operators/graph.py).

Every face registers through ``@query``; tests/test_registered_faces.py
proves each oracle-green at two SFs and tests/test_oracle_dtype_lint.py
lints these oracles' output dtypes.
"""

from __future__ import annotations

import hashlib as _hashlib
import shutil as _shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medallion_delta_lake_spark.operators.agg import q_div
from medallion_delta_lake_spark.plans.registry import query, scratch, table


# ------------------------------------------------------------------
# join-bucketed-colocated

_BKT = 16


@query(
    "join-bucketed-colocated",
    # the bucketing is pure physical layout — the logical answer is
    # the plain join/aggregate over the source tables
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocated_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """join / shuffle-free co-located join over Hive-bucketed tables:
    orders and lineitem are written ``bucketBy(16, orderkey)
    .sortBy(orderkey)`` into a scratch database, and the recurring
    orderkey join then plans SortMergeJoin DIRECTLY over the bucketed
    scans — NO Exchange on either side (pinned by
    tests/test_r16_ops.py). This is the physical design that turns a
    100 TB fact⋈fact join from two full shuffles into a local merge
    per bucket: pay the layout cost once at write time, every
    downstream join rides it free. The only shuffle left in the face
    is the final small groupBy."""
    loc = scratch(sf_dir, "bucketed_db")
    db = f"mdls_r16_bkt_{_hashlib.md5(loc.encode()).hexdigest()[:8]}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    _shutil.rmtree(loc, ignore_errors=True)
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("pc"),
    )
    (
        o.write.mode("overwrite")
        .bucketBy(_BKT, "o_orderkey")
        .sortBy("o_orderkey")
        .format("parquet")
        .saveAsTable(f"{db}.orders_b")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(_BKT, "l_orderkey")
        .sortBy("l_orderkey")
        .format("parquet")
        .saveAsTable(f"{db}.lineitem_b")
    )
    ob = spark.table(f"{db}.orders_b")
    lb = spark.table(f"{db}.lineitem_b")
    j = ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("pc").alias("revenue_cents"),
    )


def bucketed_join_frame(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The raw bucketed join (pre-aggregate) — exposed so the plan
    test can assert the exchange-free SortMergeJoin shape without the
    final groupBy's legitimate exchange in the way. The MERGE hint
    pins the strategy the layout exists for: at toy test SFs the
    planner would (correctly) broadcast the tiny side instead and
    mark the scans ``Bucketed: false``, which is the right plan at
    that size but not the shape under test — at fact⋈fact scale the
    broadcast option is gone and SMJ-over-buckets is what remains."""
    loc = scratch(sf_dir, "bucketed_db")
    db = f"mdls_r16_bkt_{_hashlib.md5(loc.encode()).hexdigest()[:8]}"
    ob = spark.table(f"{db}.orders_b").hint("merge")
    lb = spark.table(f"{db}.lineitem_b")
    return ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])


# ------------------------------------------------------------------
# dq-expectation-suite

_DQ_PRIORITIES = (
    "'1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'"
)


@query(
    "dq-expectation-suite",
    oracle=f"""
    WITH r1 AS (
      SELECT 'orders.totalprice_positive' AS rule,
             CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(SUM(CASE WHEN o_totalprice IS NULL
                            OR o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_violations
      FROM orders
    ),
    r2 AS (
      SELECT 'orders.priority_domain' AS rule,
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderpriority NOT IN
                             ({_DQ_PRIORITIES})
                            OR o_orderpriority IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
    ),
    r3 AS (
      SELECT 'lineitem.quantity_range' AS rule,
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_quantity IS NULL
                            OR l_quantity < 1 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
    ),
    r4 AS (
      SELECT 'lineitem.orderkey_referential' AS rule,
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0
                      END) AS BIGINT)
      FROM lineitem l LEFT JOIN orders o
        ON l.l_orderkey = o.o_orderkey
    ),
    r5 AS (
      SELECT 'orders.orderkey_unique' AS rule,
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
    ),
    u AS (
      SELECT * FROM r1 UNION ALL SELECT * FROM r2
      UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
      UNION ALL SELECT * FROM r5
    )
    SELECT rule, n_checked, n_violations,
           CAST((CAST(n_checked - n_violations AS HUGEINT) * 1000000)
                // n_checked AS BIGINT) AS pass_q6
    FROM u
    """,
)
def dq_expectation_suite_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dq / expectation-suite report — five bronze→silver promotion
    gates evaluated in one pass each: NOT-NULL+positivity, value
    domain, numeric range, referential integrity (left-anti orphan
    count), and key uniqueness, emitted as (rule, n_checked,
    n_violations, pass_q6) rows — the Great-Expectations-style gate
    the medallion pipeline's silver build assumes (reference cleans
    silver inputs ad hoc, silver_table_creation.py). Every rule is a
    map-side-combined aggregate; the referential rule is the only
    join and shuffles just the key column. The exact pass-rate
    quantization makes the report row-hash stable for regression
    tracking."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    pri = [p.strip().strip("'") for p in _DQ_PRIORITIES.split(",")]

    r1 = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") <= 0),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_violations"),
    ).select(
        F.lit("orders.totalprice_positive").alias("rule"),
        "n_checked",
        "n_violations",
    )
    r2 = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.sum(
            F.when(
                ~F.col("o_orderpriority").isin(pri)
                | F.col("o_orderpriority").isNull(),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_violations"),
    ).select(
        F.lit("orders.priority_domain").alias("rule"),
        "n_checked",
        "n_violations",
    )
    r3 = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.sum(
            F.when(
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_violations"),
    ).select(
        F.lit("lineitem.quantity_range").alias("rule"),
        "n_checked",
        "n_violations",
    )
    r4 = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey"),
            li["l_orderkey"] == o["o_orderkey"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_checked"),
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_violations"),
        )
        .select(
            F.lit("lineitem.orderkey_referential").alias("rule"),
            "n_checked",
            "n_violations",
        )
    )
    r5 = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        (
            F.count(F.lit(1)) - F.countDistinct("o_orderkey")
        ).cast("bigint").alias("n_violations"),
    ).select(
        F.lit("orders.orderkey_unique").alias("rule"),
        "n_checked",
        "n_violations",
    )
    u = r1.unionByName(r2).unionByName(r3).unionByName(r4).unionByName(
        r5
    )
    return u.withColumn(
        "pass_q6",
        q_div(
            (F.col("n_checked") - F.col("n_violations")).cast(
                "decimal(38,0)"
            ),
            F.col("n_checked").cast("decimal(38,0)"),
            6,
        ),
    )


# ------------------------------------------------------------------
# agg-apdex-score

_APDEX_T_CENTS = 10000  # T = 100.00 (value treated as latency)


@query(
    "agg-apdex-score",
    oracle=f"""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    a AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN cents <= {_APDEX_T_CENTS}
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS n_satisfied,
             CAST(SUM(CASE WHEN cents > {_APDEX_T_CENTS}
                            AND cents <= {4 * _APDEX_T_CENTS}
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tolerating
      FROM v GROUP BY event_type
    )
    SELECT event_type, n_total, n_satisfied, n_tolerating,
           CAST((CAST(2 * n_satisfied + n_tolerating AS HUGEINT)
                 * 1000000) // (2 * n_total) AS BIGINT) AS apdex_q6
    FROM a
    """,
)
def agg_apdex_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / Apdex SLA score per event type — (satisfied +
    tolerating/2) / total with T=100.00 and the standard 4T
    tolerating band, on cents-quantized values: the single-number
    ops rollup of the latency-histogram family
    (agg-latency-histogram gives the distribution; Apdex is what the
    pager threshold reads). Doubled-numerator integer form
    (2·sat + tol)/(2·total) keeps the whole face in exact integer
    arithmetic — one map-side-combined aggregate, no window, no
    join."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cents = F.floor(F.col("value") * 100).cast("bigint")
    a = ev.select("event_type", cents.alias("cents")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(
            F.when(F.col("cents") <= _APDEX_T_CENTS, 1).otherwise(0)
        ).cast("bigint").alias("n_satisfied"),
        F.sum(
            F.when(
                (F.col("cents") > _APDEX_T_CENTS)
                & (F.col("cents") <= 4 * _APDEX_T_CENTS),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_tolerating"),
    )
    return a.withColumn(
        "apdex_q6",
        q_div(
            (
                2 * F.col("n_satisfied") + F.col("n_tolerating")
            ).cast("decimal(38,0)"),
            (2 * F.col("n_total")).cast("decimal(38,0)"),
            6,
        ),
    )


# ------------------------------------------------------------------
# events-markov-2step


@query(
    "events-markov-2step",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             LAG(event_type, 1) OVER w AS prev1,
             LAG(event_type, 2) OVER w AS prev2
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT prev2, prev1, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE prev2 IS NOT NULL
      GROUP BY prev2, prev1, event_type
    ),
    ctx AS (
      SELECT prev2, prev1, SUM(n) AS ctx_n FROM tri
      GROUP BY prev2, prev1
    )
    SELECT t.prev2, t.prev1, t.next_type, t.n,
           CAST((CAST(t.n AS HUGEINT) * 1000000) // c.ctx_n
                AS BIGINT) AS p_q6
    FROM tri t JOIN ctx c
      ON t.prev2 = c.prev2 AND t.prev1 = c.prev1
    """,
)
def events_markov_2step_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events / second-order Markov transitions — P(next | two-event
    context) per user journey, the one-step-deeper sequence model
    over agg-markov-transition's first-order matrix (captures e.g.
    view→click→purchase vs click→view→purchase asymmetry that a
    first-order chain collapses). Two lags over the user-partitioned
    window, exact trigram/context counts, one quantized division;
    output is ≤|types|³ rows however large the event log. The
    context-total join is a broadcast of the ≤|types|² frame."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    ).filter(F.col("prev2").isNotNull())
    tri = s.groupBy(
        "prev2", "prev1", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ctx = tri.groupBy("prev2", "prev1").agg(
        F.sum("n").alias("ctx_n")
    )
    j = tri.join(F.broadcast(ctx), ["prev2", "prev1"])
    return j.select(
        "prev2",
        "prev1",
        "next_type",
        "n",
        q_div(
            F.col("n").cast("decimal(38,0)"),
            F.col("ctx_n").cast("decimal(38,0)"),
            6,
        ).alias("p_q6"),
    )


# ------------------------------------------------------------------
# ts-drift-naive-forecast

_TSF_TRAIN_LAST = 23  # train = days 1..23, test = the rest (7 days)


@query(
    "ts-drift-naive-forecast",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             EXTRACT(DAY FROM ts) AS dom,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2, 3
    ),
    tr AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_train,
             MIN(dom) AS d_first, MAX(dom) AS d_last,
             CAST(MIN_BY(cents, dom) AS BIGINT) AS y_first,
             CAST(MAX_BY(cents, dom) AS BIGINT) AS y_last
      FROM s WHERE dom <= {_TSF_TRAIN_LAST}
      GROUP BY event_type
    ),
    te AS (
      SELECT event_type, dom, cents FROM s
      WHERE dom > {_TSF_TRAIN_LAST}
    ),
    err AS (
      SELECT te.event_type,
             -- forecast·(d_last−d_first) kept integer:
             -- f(d) = y_last + (y_last−y_first)/(d_last−d_first)·(d−d_last)
             (te.cents - tr.y_last) * (tr.d_last - tr.d_first)
               - (tr.y_last - tr.y_first) * (te.dom - tr.d_last)
               AS e_scaled,
             (tr.d_last - tr.d_first) AS denom
      FROM te JOIN tr ON te.event_type = tr.event_type
      WHERE tr.d_last > tr.d_first
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST((CAST(SUM(abs(e_scaled)) AS HUGEINT) * 10000)
                // (COUNT(*) * MAX(denom)) AS BIGINT) AS mae_q4,
           CAST(CASE WHEN SUM(e_scaled) < 0 THEN -1 ELSE 1 END
                AS BIGINT)
             * CAST((CAST(abs(SUM(e_scaled)) AS HUGEINT) * 10000)
                    // (COUNT(*) * MAX(denom)) AS BIGINT) AS bias_q4
    FROM err GROUP BY event_type
    """,
)
def ts_drift_naive_forecast_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ts / drift-naive forecast backtest — the baseline every holt/
    croston face must beat: forecast(d) = last train value + the mean
    train drift (y_last−y_first)/(d_last−d_first) extrapolated, fit
    on days 1–23 of daily revenue and scored on the final week. MAE
    and signed bias are computed with the error SCALED by the integer
    drift denominator, so everything stays exact BIGINT until one
    quantized division per metric (cents·q4 units). Per-type
    aggregates with min_by/max_by closing the train summary — no
    window at all, two shuffles total."""
    ev = table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.dayofmonth("ts").alias("dom"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    tr = (
        s.filter(F.col("dom") <= _TSF_TRAIN_LAST)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.min("dom").alias("d_first"),
            F.max("dom").alias("d_last"),
            F.min_by("cents", "dom").cast("bigint").alias("y_first"),
            F.max_by("cents", "dom").cast("bigint").alias("y_last"),
        )
        .filter(F.col("d_last") > F.col("d_first"))
    )
    te = s.filter(F.col("dom") > _TSF_TRAIN_LAST).select(
        "event_type", "dom", "cents"
    )
    err = te.join(F.broadcast(tr), "event_type").select(
        "event_type",
        (
            (F.col("cents") - F.col("y_last"))
            * (F.col("d_last") - F.col("d_first"))
            - (F.col("y_last") - F.col("y_first"))
            * (F.col("dom") - F.col("d_last"))
        ).alias("e_scaled"),
        (F.col("d_last") - F.col("d_first")).alias("denom"),
    )
    a = err.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.abs(F.col("e_scaled"))).alias("sum_abs"),
        F.sum("e_scaled").alias("sum_err"),
        F.max("denom").alias("denom"),
    )
    sign = F.when(F.col("sum_err") < 0, F.lit(-1)).otherwise(
        F.lit(1)
    ).cast("bigint")
    return a.select(
        "event_type",
        "n_test",
        q_div(
            F.col("sum_abs").cast("decimal(38,0)"),
            (F.col("n_test") * F.col("denom")).cast("decimal(38,0)"),
            4,
        ).alias("mae_q4"),
        (
            sign
            * q_div(
                F.abs(F.col("sum_err")).cast("decimal(38,0)"),
                (F.col("n_test") * F.col("denom")).cast(
                    "decimal(38,0)"
                ),
                4,
            )
        ).alias("bias_q4"),
    )


# ------------------------------------------------------------------
# events-retention-bitmap


@query(
    "events-retention-bitmap",
    oracle="""
    WITH du AS (
      SELECT DISTINCT (CAST(ts AS DATE) - DATE '1970-01-01') AS dd,
             user_id
      FROM events WHERE user_id IS NOT NULL
    ),
    n AS (
      SELECT dd, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY dd
    ),
    ret AS (
      SELECT a.dd, CAST(COUNT(*) AS BIGINT) AS n_retained
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND b.dd = a.dd + 1
      GROUP BY a.dd
    )
    SELECT CAST(n1.dd AS BIGINT) AS day_idx,
           n1.n AS n_day, n2.n AS n_next,
           COALESCE(ret.n_retained, 0) AS n_retained
    FROM n n1
    JOIN n n2 ON n2.dd = n1.dd + 1
    LEFT JOIN ret ON ret.dd = n1.dd
    """,
)
def events_retention_bitmap_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events / EXACT day-over-day retention from mergeable bitmap
    chunks — |U_d ∩ U_{d+1}| via the inclusion-exclusion identity
    cnt(d) + cnt(d+1) − cnt(d ∪ d+1), where each day's user set is
    one 32k-bit bitmap chunk per id-range (bitmap_construct_agg) and
    the union folds with bitmap_or_agg: the exact-retention companion
    of agg-bitmap-exact-distinct (r15). State is one ≤4 KB chunk per
    (day, id-range) — the day×day user-set intersection never touches
    a row-per-user shuffle, so a 100 TB event log's retention
    triangle costs |days|²·chunks, not |users|. The oracle is the
    naive exact self-join."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    mid = F.col("user_id") + 1
    chunks = (
        ev.select(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("dd"),
            F.floor((mid - 1) / F.lit(32768)).cast("bigint").alias(
                "bucket"
            ),
            F.bitmap_bit_position(mid).alias("pos"),
        )
        .groupBy("dd", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    daycnt = chunks.groupBy("dd").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n")
    )
    pairs = chunks.select(
        F.explode(
            F.array(F.col("dd"), F.col("dd") - 1)
        ).alias("pair"),
        "bucket",
        "bm",
    )
    uni = (
        pairs.groupBy("pair", "bucket")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("c"))
        .groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("n_union"))
    )
    d1 = daycnt.select(
        F.col("dd").alias("day_idx"), F.col("n").alias("n_day")
    )
    d2 = daycnt.select(
        (F.col("dd") - 1).alias("day_idx"), F.col("n").alias("n_next")
    )
    out = (
        d1.join(d2, "day_idx")
        .join(uni, d1["day_idx"] == uni["pair"])
        .select(
            "day_idx",
            "n_day",
            "n_next",
            (
                F.col("n_day") + F.col("n_next") - F.col("n_union")
            ).alias("n_retained"),
        )
    )
    return out


# ------------------------------------------------------------------
# scan-csv-malformed-audit

_CSV_BAD_MOD = 97


@query(
    "scan-csv-malformed-audit",
    oracle=f"""
    WITH src AS (
      SELECT event_type, value,
             (event_id % {_CSV_BAD_MOD} = 0) AS bad
      FROM events
    ),
    good AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM src WHERE NOT bad GROUP BY event_type
    ),
    corrupt AS (
      SELECT '_corrupt' AS event_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(0 AS BIGINT) AS cents
      FROM src WHERE bad
    )
    SELECT * FROM good UNION ALL SELECT * FROM corrupt
    """,
)
def scan_csv_malformed_audit_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """scan / PERMISSIVE CSV landing-zone audit — the quarantine
    accounting a bronze CSV ingest needs (reference reads raw CSVs,
    bronze_table_creation.py:25-41): a scratch CSV is written with
    deterministically injected unparseable rows (every {mod}th
    event's value column corrupted), read back with a declared schema
    + ``columnNameOfCorruptRecord``, and the face reports per-type
    good-row counts and exact cents totals plus one ``_corrupt``
    quarantine row. Proves (a) malformed rows land in the corrupt
    column rather than silently nulling a typed field, (b) every
    clean row's double survives the text round-trip bit-exactly (the
    oracle computes the same totals from the original parquet). Scan
    + one aggregate — no shuffle beyond the groupBy."""
    p = scratch(sf_dir, "csv_land")
    _shutil.rmtree(p, ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.when(
            F.col("event_id") % _CSV_BAD_MOD == 0, F.lit("BAD")
        ).otherwise(F.col("value").cast("string")),
    )
    ev.select(line.alias("value")).coalesce(4).write.mode(
        "overwrite"
    ).text(p)
    schema = (
        "event_id bigint, user_id bigint, event_type string, "
        "value double, _bad string"
    )
    from medallion_delta_lake_spark.operators.caching import (
        tracked_cache,
    )

    # cached: Spark disallows querying ONLY the internal corrupt
    # column from a raw CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    # the quarantine branch below does exactly that, so it must read
    # the materialized frame, not the live scan
    df = tracked_cache(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(p)
    )
    good = (
        df.filter(F.col("_bad").isNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    corrupt = df.filter(F.col("_bad").isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    ).select(
        F.lit("_corrupt").alias("event_type"),
        "n_rows",
        F.lit(0).cast("bigint").alias("cents"),
    )
    return good.unionByName(corrupt)


# ------------------------------------------------------------------
# graph-kcore-peel

_KCORE_K = 3
_KCORE_ROUNDS = 3
# cached round-frame width: (s, d) bigint pairs are ~16 B/row, so 16
# partitions ≈ 10⁸ edges at ~100 MB each (see graph_kcore_peel_q)
_KCORE_PARTS = 16


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled k-core peeling (same symmetrized edge set and
    degree-filter round as the Spark face)."""
    parts = [
        """
    WITH e00 AS (
      SELECT DISTINCT l_partkey * 2 AS s, l_suppkey * 2 + 1 AS d
      FROM lineitem
    ),
    e0 AS (SELECT s, d FROM e00 UNION ALL SELECT d, s FROM e00)"""
    ]
    prev = "e0"
    selects = []
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    dg{i} AS (SELECT s, COUNT(*) AS c FROM {prev} GROUP BY s),
    kp{i} AS (SELECT s FROM dg{i} WHERE c >= {k}),
    e{i} AS (
      SELECT e.s, e.d FROM {prev} e
      JOIN kp{i} a ON e.s = a.s
      JOIN kp{i} b ON e.d = b.s
    )"""
        )
        selects.append(
            f"""
    SELECT {i} AS round,
           CAST(COUNT(DISTINCT s) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN s < d THEN 1 ELSE 0 END) AS BIGINT)
             AS n_edges
    FROM e{i}"""
        )
        prev = f"e{i}"
    parts.append(" UNION ALL ".join(selects))
    return "".join(parts)


@query("graph-kcore-peel", oracle=_kcore_oracle())
def graph_kcore_peel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph / k-core peeling (k=3, 3 rounds) over the part↔supplier
    graph: each round drops every node whose CURRENT degree is below
    k and keeps only edges between survivors — the dense-core
    extractor that strips one-off/long-tail attachments before
    community or centrality work. Per-round survivor counts are the
    output, so the oracle can unroll the rounds as a CTE chain. Each
    round is one degree aggregate + two semi-join filters; the round
    frames are cached so the deg+filter double-reference of each
    round's edge frame stays linear in lineage
    (label-propagation's 2^k lesson, operators/graph.py).

    Round frames repartition to ``_KCORE_PARTS`` by the join key
    before caching: cached plans keep their materialized width (AQE
    does not re-coalesce them by default), and an (s, d) bigint-pair
    edge list is ~16 B/row — at full shuffle width each of the 3
    rounds schedules dozens of near-empty tasks (measured 6.6 s →
    2.6 s cold at sf0.1). 16 partitions carries ~10⁸ edges at
    ~100 MB each; a bigger graph raises the constant, it does not
    change the plan."""
    from medallion_delta_lake_spark.operators.caching import (
        tracked_cache,
    )

    half = (
        table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
    )
    e = tracked_cache(
        half.unionByName(
            half.select(F.col("d").alias("s"), F.col("s").alias("d"))
        ).repartition(_KCORE_PARTS, "s")
    )
    stats = []
    for i in range(1, _KCORE_ROUNDS + 1):
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= _KCORE_K).select("s")
        e = tracked_cache(
            e.join(keep, "s")
            .join(keep.withColumnRenamed("s", "d"), "d")
            .select("s", "d")
            .repartition(_KCORE_PARTS, "s")
        )
        stats.append(
            e.agg(
                F.countDistinct("s").cast("bigint").alias("n_nodes"),
                F.sum(
                    F.when(F.col("s") < F.col("d"), 1).otherwise(0)
                ).cast("bigint").alias("n_edges"),
            ).select(
                F.lit(i).alias("round"), "n_nodes", "n_edges"
            )
        )
    out = stats[0]
    for s_ in stats[1:]:
        out = out.unionByName(s_)
    return out


# ------------------------------------------------------------------
# ml-auc-delong-ci

from medallion_delta_lake_spark.operators.agg import (  # noqa: E402
    limb_double_sql as _limb_sql,
)

_DL_BASE = """
      SELECT event_id, user_id,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
"""

_DL_PD = "CAST(p AS DOUBLE)"
_DL_QD = "CAST(q AS DOUBLE)"


@query(
    "ml-auc-delong-ci",
    # HUGEINT accumulators on the DuckDB side (SUM(BIGINT) is native
    # HUGEINT), DECIMAL(38,0) on the Spark side — both exact; the two
    # variance numerators are Cauchy-Schwarz-nonnegative integers
    # closed through the shared three-limb double conversion
    oracle=f"""
    WITH base AS ({_DL_BASE}),
    f AS (SELECT v, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS np
          FROM base GROUP BY v),
    g AS (SELECT v, np, n - np AS nn FROM f),
    r AS (
      SELECT np, nn,
        2 * COALESCE(SUM(nn) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + nn AS a,
        2 * COALESCE(SUM(np) OVER (ORDER BY v DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + np AS b
      FROM g
    ),
    t AS (
      SELECT SUM(CAST(np AS HUGEINT) * a) AS A,
             SUM(CAST(np AS HUGEINT) * a * a) AS A2,
             SUM(CAST(nn AS HUGEINT) * b) AS B,
             SUM(CAST(nn AS HUGEINT) * b * b) AS B2,
             CAST(SUM(np) AS BIGINT) AS p,
             CAST(SUM(nn) AS BIGINT) AS q
      FROM r
    ),
    c AS (
      SELECT p, q,
        ({_limb_sql("A")} / (2.0 * {_DL_PD} * {_DL_QD})) AS auc,
        (({_limb_sql("CAST(p AS HUGEINT) * A2 - A * A")}
           / ({_DL_PD} * {_DL_PD} * ({_DL_PD} - 1.0)
              * 4.0 * {_DL_QD} * {_DL_QD}))
         + ({_limb_sql("CAST(q AS HUGEINT) * B2 - B * B")}
           / ({_DL_QD} * {_DL_QD} * ({_DL_QD} - 1.0)
              * 4.0 * {_DL_PD} * {_DL_PD}))) AS var_auc
      FROM t
    ),
    s AS (
      SELECT p, q, auc, var_auc, sqrt(var_auc) AS se FROM c
    )
    SELECT p AS n_pos, q AS n_neg, auc, var_auc, se AS se_auc,
           (auc - 1.96 * se) AS ci_lo95,
           (auc + 1.96 * se) AS ci_hi95
    FROM s
    """,
)
def ml_auc_delong_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml eval / DeLong variance + 95% CI for the exact ROC-AUC — the
    error bar ml-roc-auc doesn't carry: var(AUC) = S10/n⁺ + S01/n⁻
    from the per-positive placement integers a_v = 2·(negatives
    below) + (negatives tied), all accumulated exactly on the
    bounded distinct-cents frame (operators/mleval.py:auc_delong).
    sqrt and the ± close are IEEE-exact; the variance numerators go
    through the three-limb decimal→double conversion because they
    exceed 2^53 (the agg-corr-matrix lesson). Plan: one grouped count
    of the fact table, two ordered windows over distinct cents, one
    1-row close."""
    from medallion_delta_lake_spark.operators import mleval

    ev = table(spark, sf_dir, "events")
    lab = ev.select(
        "event_id",
        "user_id",
        "value",
        (F.col("event_type") == "purchase").cast("int").alias(
            "label"
        ),
    )
    return mleval.auc_delong(lab, "value", "label")


# ------------------------------------------------------------------
# window-rolling-skewness

_SKEW_N = 20


@query(
    "window-rolling-skewness",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    w AS (
      SELECT user_id, event_id,
             COUNT(*) OVER win AS n,
             CAST(SUM(c) OVER win AS BIGINT) AS s1,
             CAST(SUM(c * c) OVER win AS BIGINT) AS s2,
             CAST(SUM(c * c * c) OVER win AS BIGINT) AS s3
      FROM e
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_SKEW_N - 1} PRECEDING
                              AND CURRENT ROW)
    ),
    m AS (
      SELECT user_id, event_id, n,
             n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1 AS anum,
             n * s2 - s1 * s1 AS bnum
      FROM w WHERE n = {_SKEW_N}
    )
    SELECT user_id, event_id,
           CASE WHEN bnum > 0 THEN
             CAST(anum AS DOUBLE)
               / (CAST(bnum AS DOUBLE)
                  * sqrt(CAST(bnum AS DOUBLE)))
           END AS skew_g1
    FROM m
    """,
)
def window_rolling_skewness_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """window / rolling skewness g₁ over each user's trailing 20
    values — the distribution-SHAPE monitor the rolling mean/zscore
    family can't see (a symmetric spike and a one-sided drift move
    the variance identically but g₁ apart). Integer-cents power sums
    keep the window exact; the textbook g₁ = m₃/m₂^{{3/2}} reduces to
    the n-free identity A/(B·√B) with
    A = n²Σx³ − 3nΣx²Σx + 2(Σx)³ and B = nΣx² − (Σx)², both exact
    BIGINTs, so the only doubles are one division and one
    IEEE-correctly-rounded sqrt. Window partitions on user_id —
    data-parallel at any scale."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    c = F.floor(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_SKEW_N - 1), Window.currentRow)
    )
    base = ev.select(
        "user_id", "event_id", "ts", c.alias("c")
    ).select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("c").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).cast("bigint").alias(
            "s2"
        ),
        F.sum(F.col("c") * F.col("c") * F.col("c"))
        .over(w)
        .cast("bigint")
        .alias("s3"),
    ).filter(F.col("n") == _SKEW_N)
    n, s1, s2, s3 = (
        F.col("n"),
        F.col("s1"),
        F.col("s2"),
        F.col("s3"),
    )
    anum = n * n * s3 - 3 * n * s2 * s1 + 2 * s1 * s1 * s1
    bnum = n * s2 - s1 * s1
    return base.select(
        "user_id",
        "event_id",
        F.when(
            bnum > 0,
            anum.cast("double")
            / (bnum.cast("double") * F.sqrt(bnum.cast("double"))),
        ).alias("skew_g1"),
    )
