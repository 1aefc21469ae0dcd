"""Round-12 query faces — REGISTERED as of round 12 (the first 12
were drafted + oracle-proven at three SFs in round 11 while the
registry was frozen at 305; see SURVEY.md §7 Phase 8). The cohort:

- the §2-core text-format scan trio (scan-csv-typed, scan-json-lines,
  scan-orc-roundtrip) — the LAST reference-core ops without direct
  driver faces (previously e2e-pytest evidence only);
- the sketch-maintenance E2E pair (hll epoch rebuild, CDC-maintained
  CMS) driving the r11 delete/turnstile paths through the log engine;
- the Delta WRITE path as driver faces (sink-delta-append-evolve,
  sink-delta-overwrite-timetravel — VERDICT r11 #4), graduating
  write_delta + log-replay read-back from pytest-only to CORRECTNESS
  rows;
- ml eval (average precision, Matthews corr), weighted Bernoulli
  sampling, the VARIANT census pair, and two lifecycle analytics
  faces (survival table, cohort LTV curve).

ADVICE r11 fixes landed BEFORE registration: scratch cleanup no
longer deletes sibling faces' shared parent dir, the MCC denominator
guard tests each confusion marginal individually (the 4-way integer
product wraps int64), and ml-average-precision ranks via the bounded
bucketed machinery instead of broadcasting a raw distinct-cents
frame.

tests/test_registered_faces.py proves every face here oracle-green at two
SFs, and tests/test_oracle_dtype_lint.py lints these oracles' OUTPUT
dtypes (no HUGEINT) with the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from medallion_delta_lake_spark.functions.hashing import h64, h64_sql
from medallion_delta_lake_spark.operators.agg import q_div
from medallion_delta_lake_spark.plans.registry import query, scratch, table


# ------------------------------------------------------------------
# ml eval: average precision (area under the PR curve, step version)


@query(
    "ml-average-precision",
    # AP = (1/n_pos) Σ_{positive rows} P@rank, P@rank = cum_pos/rank.
    # Each P@rank term is quantized floor(1e12·cum_pos/rank) →
    # BIGINT via exact integer division, so the cross-row sum is
    # order-free integer addition; the close is one q_div by n_pos.
    # Total ordering (score cents DESC, event_id ASC) kills ties.
    oracle="""
    WITH s AS (
      SELECT event_id,
             CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT y,
             ROW_NUMBER() OVER (ORDER BY v DESC, event_id ASC) AS rnk,
             SUM(y) OVER (ORDER BY v DESC, event_id ASC
                          ROWS UNBOUNDED PRECEDING) AS cum_pos
      FROM s
    ),
    terms AS (
      SELECT CAST(CAST(cum_pos AS HUGEINT) * 1000000000000 // rnk
                  AS BIGINT) AS p_at_k
      FROM r WHERE y = 1
    )
    SELECT CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS n,
           CAST((SELECT SUM(y) FROM r) AS BIGINT) AS n_pos,
           CAST(CASE WHEN (SELECT SUM(y) FROM r) > 0
                THEN CAST(SUM(p_at_k) AS HUGEINT)
                     // (SELECT SUM(y) FROM r)
                END AS BIGINT) AS ap_q12
    FROM terms
    """,
)
def ml_average_precision_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml eval / average precision — the PR-curve area every ranking
    and retrieval eval reports next to ROC-AUC (which the registry
    already has): AP = mean over positives of precision at that
    positive's rank. Scoring: value as the score ('purchase' = the
    positive class), cents-quantized with event_id tie-breaks so the
    ranking is total and engine-exact.

    Driver face is all-integer: each P@rank is an exact integer
    rational at 10¹² (q_div), their sum is order-free BIGINT
    addition, the close divides by n_pos once — no double anywhere
    (the r8-r10 lesson applied at design time).

    Scale posture (ADVICE r11 applied): the global rank uses
    mleval.bucketed_global_rank — an order-preserving log-scale
    bucket key with ≤16,384 values BY CONSTRUCTION (not the raw
    distinct-cents frame, whose cardinality is bounded only by the
    score range), so the single-partition cumulative window and the
    broadcast ride a ≤16k-row frame at any scale; the per-bucket
    ROW_NUMBER is partitioned (distributed). The cumulative positive
    count rides the same bucket frame as a prefix sum.
    """
    from medallion_delta_lake_spark.operators.mleval import (
        bucketed_global_rank,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.select(
        "event_id",
        F.floor(F.col("value").cast("double") * 100)
        .cast("bigint")
        .alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    ranked = bucketed_global_rank(
        s, "v", False, "rnk", "event_id", prefix_sums={"cum_pos": "y"}
    )
    terms = ranked.filter(F.col("y") == 1).select(
        q_div(F.col("cum_pos"), F.col("rnk"), 12).alias("p_at_k")
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    return terms.agg(F.sum("p_at_k").alias("_sum")).crossJoin(
        F.broadcast(tot)
    ).select(
        "n",
        "n_pos",
        F.when(
            F.col("n_pos") > 0, q_div(F.col("_sum"), F.col("n_pos"), 0)
        ).alias("ap_q12"),
    )


# ------------------------------------------------------------------
# sampling: weighted Bernoulli via portable hash


@query(
    "sample-weighted-bernoulli",
    # weight-proportional Bernoulli keep: row kept iff
    # h64(doc_id) · w_max < 2^60 · w  (pure integer inequality —
    # P(keep) = w/w_max exactly, deterministic in both engines);
    # census face = per-language kept/total/weight mass
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(length(text) AS BIGINT) AS w
      FROM documents
    ),
    g AS (SELECT MAX(w) AS w_max FROM d),
    k AS (
      SELECT d.lang, d.w, g.w_max,
             CASE WHEN CAST({h64_sql("CAST(doc_id AS VARCHAR)")}
                       AS HUGEINT) * g.w_max
                  < CAST(1152921504606846976 AS HUGEINT) * d.w
                  THEN 1 ELSE 0 END AS kept
      FROM d, g
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(w) AS BIGINT) AS w_total,
           CAST(SUM(CASE WHEN kept = 1 THEN w ELSE 0 END) AS BIGINT)
             AS w_kept
    FROM k GROUP BY lang
    """,
)
def sample_weighted_bernoulli_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sampling / weighted Bernoulli — keep each document with
    probability proportional to its weight (text length here; token
    count in production), decided by a PURE INTEGER inequality on the
    portable hash: keep iff h64(doc_id)·w_max < 2^60·w, so
    P(keep) = w/w_max exactly, the draw is reproducible in any
    engine, and re-running the pipeline keeps the SAME documents
    (the deterministic-sampling property the mixture ops already
    rely on — no RNG state, no seed plumbing). The h64·w_max product
    can exceed int64, so it rides DECIMAL(38,0)/HUGEINT on the
    respective engines. Census face: per-lang doc and weight
    mass kept — the sanity table a weighted-sampling run ships with.

    Scale posture: one broadcast scalar (w_max), one per-row integer
    predicate, one grouped count — scan-bound, no shuffle beyond the
    language rollup."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("w"),
    )
    g = d.agg(F.max("w").alias("w_max"))
    kept = (
        h64(F.col("doc_id").cast("string")).cast("decimal(38,0)")
        * F.col("w_max").cast("decimal(38,0)")
        < F.lit(1 << 60).cast("decimal(38,0)")
        * F.col("w").cast("decimal(38,0)")
    )
    k = d.crossJoin(F.broadcast(g)).select(
        "lang",
        "w",
        F.when(kept, 1).otherwise(0).alias("kept"),
    )
    return k.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.sum("w").alias("w_total"),
        F.sum(F.when(F.col("kept") == 1, F.col("w")).otherwise(0)).alias(
            "w_kept"
        ),
    )


# ------------------------------------------------------------------
# sketch maintenance under churn — driver faces for the r11
# epoch-rebuild path and the r10 turnstile CMS path


import shutil as _shutil

from medallion_delta_lake_spark.functions.hashing import (
    minhash_params,
    perm_hash_sql,
)


_HLL_SQL_TAIL = """
    regs AS (
      SELECT day, h & 1023 AS reg,
        CASE WHEN (h >> 10) = 0 THEN 51
             ELSE 51 - length(bin(h >> 10)) END AS r
      FROM h
    ), reg_max AS (
      SELECT day, reg, MAX(r) AS r
      FROM regs GROUP BY day, reg
    ), agg AS (
      SELECT day, COUNT(*) AS n_present,
        SUM((CAST(1 AS BIGINT) << (51 - r))) AS s_present
      FROM reg_max GROUP BY day
    )
    SELECT day, 1024 AS m,
      CAST(1024 - n_present AS INT) AS v_zero,
      CAST(s_present + (1024 - n_present)
        * (CAST(1 AS BIGINT) << 51) AS BIGINT) AS s_pow,
      CAST(
        (CAST(7213 AS HUGEINT) * 1024 * 1024 * 1024
         * (CAST(1 AS HUGEINT) << 51) * 1000000)
        // ((10000 * 1024 + 10790)
            * (s_present + (1024 - n_present)
               * (CAST(1 AS HUGEINT) << 51)))
        AS BIGINT) AS est_q6
    FROM agg
"""


@query(
    "sketch-hll-rebuild",
    # the refreshed epoch-partitioned HLL store must estimate exactly
    # like a from-scratch sketch of the FINAL table state; the oracle
    # replays the same churn (day-1 deletes below the k cut, day-3
    # uid rewrites) in SQL and mirrors the register/estimate math
    oracle=f"""
    WITH base AS (
      SELECT event_id % 4 AS day,
             CAST(user_id AS VARCHAR) AS uid,
             event_id AS k
      FROM events WHERE user_id IS NOT NULL
    ),
    fin AS (
      SELECT day,
             CASE WHEN day = 3 THEN uid || '_z' ELSE uid END AS uid
      FROM base WHERE NOT (day = 1 AND k < 3000)
    ),
    h AS (
      SELECT day, {h64_sql("uid")} AS h FROM fin
    ),{_HLL_SQL_TAIL}
    """,
)
def sketch_hll_rebuild_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch / HLL epoch rebuild under churn — the delete path for
    non-invertible sketches driven end to end: seed a log-backed
    (day, uid) table with CDF on, store per-day HLL register
    partials, churn two of the four epochs through the log engine
    (DELETE below a key cut in day 1, uid rewrite in day 3), fold
    the CHANGE FEED through sketch_epoch_rebuild (touched epochs
    rescan, untouched partials reused verbatim), and estimate from
    the refreshed store. Oracle = from-scratch HLL over the final
    state — so a stale or over-rescanned partial breaks the hash
    (operators/sketches.py:sketch_epoch_rebuild; the maintenance
    story CMS gets from cms_apply_changes, completed for max-merge
    sketches)."""
    from medallion_delta_lake_spark.operators import sketches as sk
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "hll_epochs")
    _shutil.rmtree(p, ignore_errors=True)
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            (F.col("event_id") % 4).alias("day"),
            F.col("user_id").cast("string").alias("uid"),
            F.col("event_id").alias("k"),
        )
    )
    delta_log.write_delta(spark, base.coalesce(2), p)
    delta_log.set_table_properties(
        p, {"delta.enableChangeDataFeed": "true"}
    )
    v0 = delta_log.resolve_snapshot(p)["version"]

    def part(df: DataFrame) -> DataFrame:
        return sk.hll_partials(df, ["day"], "uid", p=10)

    stored = part(delta_log.read_delta(spark, p))
    delta_log.delete_delta_log(
        spark, p, [("day", "=", 1), ("k", "<", 3000)]
    )
    delta_log.update_delta_log(
        spark, p, [("day", "=", 3)], {"uid": "concat(uid, '_z')"}
    )
    changes = delta_log.table_changes(spark, p, v0 + 1)
    cur = delta_log.read_delta(spark, p)
    refreshed = sk.sketch_epoch_rebuild(cur, stored, changes, "day", part)
    return sk.hll_estimate(refreshed, ["day"], p=10)


_CMS_D, _CMS_W = 4, 1024
_CMS_PARAMS = minhash_params(_CMS_D)


def _cms_counters_sql(src: str) -> str:
    rows = []
    for i, (a, b) in enumerate(_CMS_PARAMS):
        ph = perm_hash_sql(h64_sql("item"), a, b)
        rows.append(
            f"SELECT {i} AS row_i, ({ph}) % {_CMS_W} AS bucket,"
            f" COUNT(*) AS cnt FROM {src} GROUP BY 2"
        )
    return " UNION ALL ".join(rows)


def _cms_probe_sql() -> str:
    rows = []
    for i, (a, b) in enumerate(_CMS_PARAMS):
        ph = perm_hash_sql(h64_sql("probe"), a, b)
        rows.append(
            f"SELECT probe, {i} AS row_i, ({ph}) % {_CMS_W} AS bucket"
            f" FROM probes"
        )
    return " UNION ALL ".join(rows)


@query(
    "sketch-cms-maintained",
    # turnstile CDC maintenance driven through the log engine: the
    # maintained counter matrix must answer point queries exactly
    # like a from-scratch CMS of the final state (the oracle replays
    # the churn in SQL and rebuilds the counters)
    oracle=f"""
    WITH base AS (
      SELECT event_id AS k, user_id AS uid,
             CAST(user_id AS VARCHAR) AS item
      FROM events WHERE user_id IS NOT NULL
    ),
    fin AS (
      SELECT k, uid,
             CASE WHEN k >= 1000 AND k < 3000 THEN item || '_x'
                  ELSE item END AS item
      FROM base WHERE k >= 1000
    ),
    counters AS ({_cms_counters_sql("fin")}),
    probes AS (
      SELECT DISTINCT item AS probe FROM fin WHERE uid % 5 = 0
    ),
    pb AS ({_cms_probe_sql()})
    SELECT probe,
      MIN(COALESCE(cnt, 0)) AS est_cnt
    FROM pb LEFT JOIN counters USING (row_i, bucket)
    GROUP BY probe
    """,
)
def sketch_cms_maintained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch / CDC-maintained Count-Min — the r10 turnstile path
    driven END TO END through the log engine as a checked face: seed
    a (k, uid, item) table with CDF on, sketch it, churn it (DELETE
    k<1000; UPDATE item suffix on 1000≤k<3000 — update_preimage −1s
    and update_postimage +1s land as one feed), fold the change feed
    into the counters with cms_apply_changes, and answer the uid%5
    probe set from the MAINTAINED matrix. Oracle rebuilds the
    counters from the churned final state, so any drift between
    maintenance and rebuild — a missed preimage, a double-counted
    insert — breaks the hash exactly
    (operators/sketches.py:cms_apply_changes)."""
    from medallion_delta_lake_spark.operators import sketches as sk
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "cms_cdc")
    _shutil.rmtree(p, ignore_errors=True)
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.col("event_id").alias("k"),
            F.col("user_id").alias("uid"),
            F.col("user_id").cast("string").alias("item"),
        )
    )
    delta_log.write_delta(spark, base.coalesce(2), p)
    delta_log.set_table_properties(
        p, {"delta.enableChangeDataFeed": "true"}
    )
    v0 = delta_log.resolve_snapshot(p)["version"]
    sketch = sk.cms_partials(
        delta_log.read_delta(spark, p), [], "item", d=_CMS_D, w=_CMS_W
    )
    delta_log.delete_delta_log(spark, p, [("k", "<", 1000)])
    delta_log.update_delta_log(
        spark,
        p,
        [("k", ">=", 1000), ("k", "<", 3000)],
        {"item": "concat(item, '_x')"},
    )
    changes = delta_log.table_changes(spark, p, v0 + 1)
    maintained = sk.cms_apply_changes(
        sketch, changes, "item", d=_CMS_D, w=_CMS_W
    )
    fin = delta_log.read_delta(spark, p)
    probes = (
        fin.filter(F.col("uid") % 5 == 0)
        .select(F.col("item"))
        .distinct()
    )
    return sk.cms_query(maintained, probes, "item", d=_CMS_D, w=_CMS_W)


# ------------------------------------------------------------------
# semi-structured: variant key census face


@query(
    "variant-key-census",
    # the drift scorecard over a VARIANT column: per-key row count,
    # non-null count, and deterministic observed-type sample; the
    # oracle recomputes all three from the base typed columns (keys
    # and types are knowable because the variant is built from a
    # declared struct with ignoreNullFields=false)
    oracle="""
    SELECT 'event_type' AS key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(event_type) AS BIGINT) AS n_nonnull,
           CASE WHEN COUNT(event_type) > 0 THEN 'STRING'
                ELSE 'VOID' END AS type_sample
    FROM events
    UNION ALL
    SELECT 'user_id',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(user_id) AS BIGINT),
           CASE WHEN COUNT(user_id) > 0 THEN 'BIGINT'
                ELSE 'VOID' END
    FROM events
    UNION ALL
    SELECT 'value_cents',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(value) AS BIGINT),
           CASE WHEN COUNT(value) > 0 THEN 'BIGINT'
                ELSE 'VOID' END
    FROM events
    """,
)
def variant_key_census_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semi-structured / VARIANT key census — the schema-drift
    scorecard (operators/variant_ops.py:variant_key_census) over a
    variant built from the events struct with nulls KEPT
    (ignoreNullFields=false): per key, how many rows carry it, how
    many are non-null, and the deterministic observed-type sample
    (MIN of schema_of_variant — 'BIGINT' beats 'VOID', so one
    non-null row pins the type; the double column is cents-quantized
    first because JSON renders doubles as value-shaped decimals). The oracle recomputes the census
    from the typed base columns — any key the variant path drops, or
    a type it misreports, breaks the hash."""
    from medallion_delta_lake_spark.operators import variant_ops as vo

    ev = table(spark, sf_dir, "events").select(
        F.parse_json(
            F.to_json(
                F.struct(
                    "event_type",
                    "user_id",
                    # JSON round-trips doubles as value-shaped
                    # DECIMAL(p,s) variants (5.0 -> DECIMAL(1,0)),
                    # so the type sample would be data-dependent;
                    # cents-quantize once for an engine-stable BIGINT
                    F.floor(F.col("value") * 100)
                    .cast("bigint")
                    .alias("value_cents"),
                ),
                {"ignoreNullFields": "false"},
            )
        ).alias("payload")
    )
    return vo.variant_key_census(ev, "payload")


@query(
    "variant-type-profile",
    # per-path observed-type distribution over a DELIBERATELY mixed
    # column (even event_ids carry amount as a number, odd as a
    # string — the classic ingestion bug this op quantifies); counts
    # are integers keyed by (path, type string)
    oracle="""
    WITH m AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 'BIGINT'
                  ELSE 'STRING' END AS amount_type
      FROM events WHERE value IS NOT NULL
    )
    SELECT '$.amount' AS path, amount_type AS variant_type,
           COUNT(*) AS n
    FROM m GROUP BY amount_type
    UNION ALL
    SELECT '$.etype', 'STRING', COUNT(*) FROM events
    WHERE value IS NOT NULL
    """,
)
def variant_type_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semi-structured / VARIANT type profile — the quantified
    ingestion-bug report (operators/variant_ops.py:
    variant_type_profile): for each declared path, how many rows
    carry each observed variant type. The face builds a mixed column
    on purpose — even event_ids serialize amount as a JSON number
    (BIGINT cents), odd ones as a string — and the profile must
    report the exact split plus the all-STRING control path. One
    bounded explode (|paths| = 2) over the variant, one integer
    groupBy; at 100 TB the profile is the pre-shred audit that
    decides each path's target type."""
    from medallion_delta_lake_spark.operators import variant_ops as vo

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cents = F.floor(F.col("value") * 100).cast("bigint")
    payload = F.parse_json(
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(
                F.lit('{"amount":'),
                cents.cast("string"),
                F.lit(',"etype":"'),
                F.col("event_type"),
                F.lit('"}'),
            ),
        ).otherwise(
            F.concat(
                F.lit('{"amount":"'),
                cents.cast("string"),
                F.lit('","etype":"'),
                F.col("event_type"),
                F.lit('"}'),
            )
        )
    ).alias("payload")
    return vo.variant_type_profile(
        ev.select(payload), "payload", ["$.amount", "$.etype"]
    )


@query(
    "events-survival-table",
    # Kaplan-Meier risk table over user lifetimes: death day = a
    # user's last active day (censored when it equals the horizon),
    # n_at_risk(t) = users alive entering t (suffix sum over the
    # ~30-day distinct-day frame), d(t) = deaths at t; the per-step
    # hazard is the exact integer rational d·10^12/n (q_div). The KM
    # survival curve itself is a cumulative PRODUCT of per-step
    # rationals — cross-engine float territory — so, like the HLL ln
    # correction, it stays out of the face: callers fold S(t) from
    # (n_at_risk, d_events), which this table carries exactly.
    oracle="""
    WITH life AS (
      SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day
      FROM events GROUP BY user_id
    ),
    g AS (SELECT MAX(CAST(ts AS DATE)) AS horizon FROM events),
    d AS (
      SELECT last_day AS t,
             COUNT(*) AS n_ending,
             SUM(CASE WHEN last_day < horizon THEN 1 ELSE 0 END)
               AS d_events,
             SUM(CASE WHEN last_day = horizon THEN 1 ELSE 0 END)
               AS n_censored
      FROM life, g GROUP BY last_day
    ),
    r AS (
      SELECT t,
             CAST(d_events AS BIGINT) AS d_events,
             CAST(n_censored AS BIGINT) AS n_censored,
             CAST(SUM(n_ending) OVER (ORDER BY t DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
      FROM d
    )
    SELECT t, n_at_risk, d_events, n_censored,
           CAST(CAST(d_events AS HUGEINT) * 1000000000000
                // n_at_risk AS BIGINT) AS hazard_q12
    FROM r
    """,
)
def events_survival_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / survival (Kaplan-Meier) risk table — per calendar
    day: users still at risk entering the day, churn events (users
    whose LAST activity was that day, before the horizon), end-of-
    window censored users, and the exact integer hazard d/n at 10¹².
    The retention-modeling input every lifecycle team needs beyond
    cohort-retention's fixed weekly grid. One per-user rollup, one
    ~30-row distinct-day frame; the suffix sum (n_at_risk) is a
    window over DISTINCT DAYS, never per user — scan-bound at any
    scale."""
    ev = table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_day")
    )
    g = ev.agg(F.max(F.col("ts").cast("date")).alias("horizon"))
    d = (
        life.crossJoin(F.broadcast(g))
        .groupBy(F.col("last_day").alias("t"))
        .agg(
            F.count(F.lit(1)).alias("n_ending"),
            F.sum(
                F.when(F.col("last_day") < F.col("horizon"), 1).otherwise(0)
            ).alias("d_events"),
            F.sum(
                F.when(F.col("last_day") == F.col("horizon"), 1).otherwise(0)
            ).alias("n_censored"),
        )
    )
    w = W.orderBy(F.col("t").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    r = d.select(
        "t",
        "d_events",
        "n_censored",
        F.sum("n_ending").over(w).alias("n_at_risk"),
    )
    return r.select(
        "t",
        "n_at_risk",
        "d_events",
        "n_censored",
        q_div(F.col("d_events"), F.col("n_at_risk"), 12).alias(
            "hazard_q12"
        ),
    )


@query(
    "ml-matthews-corr",
    # Matthews correlation from the same quarter-point confusion
    # cells as ml-confusion-threshold: integer cells, the MCC close
    # is one shared IEEE chain (4 casts, 3 products, sqrt) per row —
    # engine-identical; the balanced-cell metric that survives class
    # skew where accuracy and F1 mislead
    oracle="""
    WITH base AS (
      SELECT CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
               AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT MAX(v) AS gmax FROM base),
    qf AS (SELECT CAST(q AS INT) AS q FROM (VALUES (1),(2),(3)) t(q)),
    j AS (
      SELECT qf.q,
             CASE WHEN b.v >= (qf.q * g.gmax) // 4 THEN 1 ELSE 0 END
               AS pred,
             b.y
      FROM base b, g, qf
    ),
    cells AS (
      SELECT q,
             CAST(SUM(pred * y) AS BIGINT) AS tp,
             CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
             CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
             CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn
      FROM j GROUP BY q
    )
    SELECT q, tp, fp, fn, tn,
           -- each marginal tested individually: the 4-way integer
           -- product is ~n^4 and overflows BIGINT past n ~ 55k rows
           -- (DuckDB raises, Spark wraps) — ADVICE r11
           CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0
                 AND (tn + fp) > 0 AND (tn + fn) > 0
                THEN (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                      - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                     / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                            * (CAST(tp AS DOUBLE)
                               + CAST(fn AS DOUBLE))
                            * (CAST(tn AS DOUBLE)
                               + CAST(fp AS DOUBLE))
                            * (CAST(tn AS DOUBLE)
                               + CAST(fn AS DOUBLE)))
                ELSE 0.0 END AS mcc
    FROM cells
    """,
)
def ml_matthews_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml eval / Matthews correlation coefficient at the same
    quarter-point thresholds as ml-confusion-threshold — the
    single-number confusion summary that stays honest under class
    skew (accuracy and F1 both saturate when one class dominates;
    MCC is the geometric-mean correlation of the 2×2 table).
    Integer cells from one grouped pass over the broadcast threshold
    fan-out; the close is ONE shared IEEE chain (products + sqrt) off
    the exact integer cells, with the degenerate all-one-class rows
    pinned to 0.0 in both engines."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    g = base.agg(F.max("v").alias("gmax"))
    qf = F.explode(F.array(*[F.lit(q) for q in (1, 2, 3)])).alias("q")
    j = base.crossJoin(F.broadcast(g)).select(
        "v", "y", "gmax", qf
    ).select(
        "q",
        "y",
        F.when(
            F.col("v") >= F.expr("(q * gmax) div 4"), 1
        ).otherwise(0).alias("pred"),
    )
    cells = j.groupBy("q").agg(
        F.sum(F.col("pred") * F.col("y")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("y"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("y")).alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("y"))).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    # marginals tested individually, never multiplied as integers:
    # the 4-way product is ~n^4 and wraps int64 past ~55k rows/cell
    denom_pos = (
        ((F.col("tp") + F.col("fp")) > 0)
        & ((F.col("tp") + F.col("fn")) > 0)
        & ((F.col("tn") + F.col("fp")) > 0)
        & ((F.col("tn") + F.col("fn")) > 0)
    )
    mcc = F.when(
        denom_pos,
        (tp * tn - fp * fn)
        / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
    ).otherwise(F.lit(0.0))
    return cells.select("q", "tp", "fp", "fn", "tn", mcc.alias("mcc"))


@query(
    "scan-orc-roundtrip",
    # ORC source coverage (Spark-native columnar format beyond
    # parquet/csv/json/delta): events subset written as ORC, read
    # back, aggregated; the oracle computes the same rollup straight
    # off the base parquet, so any value the ORC round trip loses
    # (timestamp encoding, decimal width, nulls) breaks the hash
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(COUNT(user_id) AS BIGINT) AS n_users_nonnull,
           CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
             AS sum_micros,
           MIN(CAST(ts AS DATE)) AS first_day
    FROM events WHERE event_id % 3 = 0
    GROUP BY event_type
    """,
)
def scan_orc_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source / ORC round trip — the third columnar format after
    parquet and the delta log engine: every-3rd event written as ORC
    (snappy) to scratch, read back through spark.read.orc, and
    rolled up per type (counts, null census, exact integer micros
    sum, first active day). Column pruning and predicate pushdown
    work on ORC scans the same way the parquet plan audits show —
    the face proves values survive the format's own encodings
    (union-encoded timestamps, present streams for nulls)."""
    p = scratch(sf_dir, "events_orc")
    _shutil.rmtree(p, ignore_errors=True)
    src = table(spark, sf_dir, "events").filter(
        F.col("event_id") % 3 == 0
    )
    src.write.mode("overwrite").orc(p)
    back = spark.read.orc(p)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("user_id").alias("n_users_nonnull"),
        F.sum(
            F.floor(F.col("value") * 1e6).cast("bigint")
        ).alias("sum_micros"),
        F.min(F.col("ts").cast("date")).alias("first_day"),
    )


_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@query(
    "scan-csv-typed",
    # §2-core scan-csv as a driver-graded face (previously e2e-pytest
    # evidence only): every-5th event written as headered CSV with an
    # explicit micros timestampFormat, read back with a DECLARED
    # schema (never inferSchema — the reference's Q2 quirk class),
    # and rolled up; the oracle computes the same rollup off the base
    # parquet, so any value the text round trip mangles (micros
    # truncation, double shortest-repr drift, null encoding) breaks
    # the hash. Probe-verified: micros + doubles round-trip exactly
    # under this format in both directions.
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(COUNT(user_id) AS BIGINT) AS n_users_nonnull,
           CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
             AS sum_micros,
           MAX(ts) AS last_ts
    FROM events WHERE event_id % 5 = 0
    GROUP BY event_type
    """,
)
def scan_csv_typed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source / typed CSV round trip — the reference's bronze
    ingestion path (ref bronze_table_creation.py: spark.read.csv with
    declared schemas) as a checked face: write a typed subset as
    headered CSV (micros timestampFormat), read it back with the
    DECLARED schema, aggregate. Declared schemas are the contract —
    inferSchema on 100 TB means a second full scan AND type drift
    between runs."""
    p = scratch(sf_dir, "events_csv")
    _shutil.rmtree(p, ignore_errors=True)
    src = table(spark, sf_dir, "events").filter(
        F.col("event_id") % 5 == 0
    ).select("event_id", "user_id", "event_type", "value", "ts")
    (
        src.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .csv(p)
    )
    back = (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string,"
            " value double, ts timestamp"
        )
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .csv(p)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("user_id").alias("n_users_nonnull"),
        F.sum(
            F.floor(F.col("value") * 1e6).cast("bigint")
        ).alias("sum_micros"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "scan-json-lines",
    # §2-core scan-json as a driver-graded face: ndjson written with
    # the micros timestampFormat, read back with a declared schema;
    # same exact-round-trip contract as scan-csv-typed
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(COUNT(user_id) AS BIGINT) AS n_users_nonnull,
           CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
             AS sum_micros,
           MAX(ts) AS last_ts
    FROM events WHERE event_id % 7 = 0
    GROUP BY event_type
    """,
)
def scan_json_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source / JSON-lines round trip — the reference's semi-
    structured ingestion (ref bronze_table_creation.py json reads) as
    a checked face: a typed subset written as ndjson, read back with
    a DECLARED schema and explicit micros timestampFormat,
    aggregated. The oracle computes off the base parquet — text
    round-trip fidelity is the thing under test."""
    p = scratch(sf_dir, "events_json")
    _shutil.rmtree(p, ignore_errors=True)
    src = table(spark, sf_dir, "events").filter(
        F.col("event_id") % 7 == 0
    ).select("event_id", "user_id", "event_type", "value", "ts")
    src.write.mode("overwrite").option("timestampFormat", _TS_FMT).json(p)
    back = (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string,"
            " value double, ts timestamp"
        )
        .option("timestampFormat", _TS_FMT)
        .json(p)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("user_id").alias("n_users_nonnull"),
        F.sum(
            F.floor(F.col("value") * 1e6).cast("bigint")
        ).alias("sum_micros"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "events-cohort-ltv-curve",
    # cohort-retention's revenue counterpart: cumulative
    # value-per-cohort by weeks-since-acquisition, integer cents end
    # to end (the cumulative sum rides a window over the ~5×5
    # distinct (cohort, age) frame, never per user/event)
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(DATE_TRUNC('week', MIN(ts)) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    wk AS (
      SELECT f.cohort_week,
             CAST(date_diff('week', f.cohort_week,
                  CAST(DATE_TRUNC('week', e.ts) AS TIMESTAMP))
               AS INT) AS age_weeks,
             CAST(floor(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN firsts f ON f.user_id = e.user_id
      WHERE e.value IS NOT NULL
    ),
    cohort_n AS (
      SELECT cohort_week, COUNT(*) AS n_users
      FROM firsts GROUP BY cohort_week
    ),
    agg AS (
      SELECT cohort_week, age_weeks,
             CAST(SUM(cents) AS BIGINT) AS rev_cents,
             COUNT(*) AS n_events
      FROM wk GROUP BY cohort_week, age_weeks
    )
    SELECT a.cohort_week, a.age_weeks,
           CAST(c.n_users AS BIGINT) AS n_users,
           a.rev_cents, a.n_events,
           CAST(SUM(a.rev_cents) OVER (
             PARTITION BY a.cohort_week ORDER BY a.age_weeks
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents,
           CAST(CAST(SUM(a.rev_cents) OVER (
                  PARTITION BY a.cohort_week ORDER BY a.age_weeks
                  ROWS UNBOUNDED PRECEDING) AS HUGEINT)
                * 100 // c.n_users AS BIGINT) AS ltv_q2
    FROM agg a JOIN cohort_n c ON c.cohort_week = a.cohort_week
    """,
)
def events_cohort_ltv_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / cohort LTV curve — cohort-retention's revenue
    twin: per acquisition-week cohort and weeks-since-acquisition,
    the event revenue (integer cents), its running total, and the
    cumulative lifetime value per acquired user (exact rational at
    ×100 via q_div) — the payback-period table every growth model
    reads. The cumulative window is PARTITIONED by cohort and runs
    over the tiny distinct (cohort, age) frame; the per-event work
    is one join against the broadcastable per-user firsts rollup."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    wk = (
        ev.filter(F.col("value").isNotNull())
        .join(firsts, "user_id")
        .select(
            "cohort_week",
            (
                F.floor(
                    F.datediff(
                        F.date_trunc("week", F.col("ts")),
                        F.col("cohort_week"),
                    )
                    / 7
                )
            ).cast("int").alias("age_weeks"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    cohort_n = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    agg = wk.groupBy("cohort_week", "age_weeks").agg(
        F.sum("cents").alias("rev_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wcum = W.partitionBy("cohort_week").orderBy("age_weeks").rowsBetween(
        W.unboundedPreceding, 0
    )
    out = agg.join(cohort_n, "cohort_week").select(
        "cohort_week",
        "age_weeks",
        "n_users",
        "rev_cents",
        "n_events",
        F.sum("rev_cents").over(wcum).alias("cum_rev_cents"),
        q_div(
            F.sum("rev_cents").over(wcum) * 100, F.col("n_users"), 0
        ).alias("ltv_q2"),
    )
    return out


# ------------------------------------------------------------------
# Delta write path as driver faces (VERDICT r11 #4): write_delta +
# log-replay read-back graduate from pytest-only to CORRECTNESS rows


@query(
    "sink-delta-append-evolve",
    # two appends, the second widening the schema (merge_schema):
    # the committed table state must equal the declarative union with
    # NULLs for the pre-evolution batch's missing column — a dropped
    # add action, a misapplied schemaString, or old files not
    # back-filling the new column as NULL all break the hash
    oracle="""
    WITH u AS (
      SELECT event_id, event_type, CAST(NULL AS BIGINT) AS cents
      FROM events WHERE event_id % 4 = 0
      UNION ALL
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 4 = 1
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(COUNT(cents) AS BIGINT) AS n_cents,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM u GROUP BY event_type
    """,
)
def sink_delta_append_evolve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink / Delta append + schema evolution round trip — the
    reference's bronze append path (ref bronze_table_creation.py:26-61,
    mode('append') + mergeSchema) as a driver-graded face: append one
    batch, append a second batch carrying a NEW column with
    merge_schema=True, and read the committed state back by pure log
    replay (sources/delta_log.py:write_delta/read_delta). Rows from
    the pre-evolution files must surface the new column as NULL —
    exactly what Delta's own reader does. The rollup face is
    all-integer (counts, null census, cents sum, id range).

    Scale posture: data files ride Spark's distributed parquet
    writer; only O(files) commit metadata passes through the driver —
    the same division of labor as delta-spark itself."""
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "sink_append_evolve")
    _shutil.rmtree(p, ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    b1 = ev.filter(F.col("event_id") % 4 == 0).select(
        "event_id", "event_type"
    )
    delta_log.write_delta(spark, b1.coalesce(2), p)
    b2 = ev.filter(F.col("event_id") % 4 == 1).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    delta_log.write_delta(spark, b2.coalesce(2), p, merge_schema=True)
    back = delta_log.read_delta(spark, p)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("cents").alias("n_cents"),
        F.sum("cents").alias("sum_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "sink-delta-overwrite-timetravel",
    # overwrite commits remove actions for every previously-active
    # file while keeping the data files — so the CURRENT snapshot is
    # the new batch only and VERSION_AS_OF the first commit still
    # reads the old batch byte-for-byte; both snapshots' rollups are
    # recomputed off the base parquet
    oracle="""
    SELECT 'current' AS snap, event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE event_id % 3 = 1
    GROUP BY event_type
    UNION ALL
    SELECT 'v_first', event_type,
           COUNT(*),
           CAST(SUM(event_id) AS BIGINT)
    FROM events WHERE event_id % 3 = 0
    GROUP BY event_type
    """,
)
def sink_delta_overwrite_timetravel_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sink / Delta overwrite + time travel round trip — the
    reference's silver overwrite path (ref silver_table_creation.py:
    300, mode('overwrite')) as a driver-graded face: commit batch A,
    OVERWRITE with batch B (remove actions for every active file —
    logical delete, data files stay), then read BOTH the current
    snapshot and VERSION_AS_OF the first commit through log replay.
    The current rollup must see only B; the time-travelled rollup
    must see exactly A (sources/delta_log.py: overwrite semantics +
    resolve_snapshot version replay). All-integer face."""
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "sink_overwrite_tt")
    _shutil.rmtree(p, ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 3 == 0).select(
        "event_id", "event_type"
    )
    b = ev.filter(F.col("event_id") % 3 == 1).select(
        "event_id", "event_type"
    )
    v_first = delta_log.write_delta(spark, a.coalesce(2), p)
    delta_log.write_delta(spark, b.coalesce(2), p, mode="overwrite")

    def rollup(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_id"),
        ).select(F.lit(tag).alias("snap"), "event_type", "n", "sum_id")

    cur = rollup(delta_log.read_delta(spark, p), "current")
    old = rollup(
        delta_log.read_delta(spark, p, version_as_of=v_first), "v_first"
    )
    return cur.unionByName(old)
