"""Round-9 extension surface: the feature-store read path
(point-in-time join with staleness masking) plus trend / association /
scoring / outlier / sampling / change-point operators a training-data
platform runs daily.

Determinism contracts are the registry's: integer/decimal accumulation
everywhere a reduction crosses rows, per-row IEEE chains spelled
identically in both engines, ordered-window summation for any
order-sensitive double reduction, explicit tie-breaks on every window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from medallion_delta_lake_spark.functions.hashing import h64, h64_sql
from medallion_delta_lake_spark.plans.registry import query, scratch, table

# ------------------------------------------------- feature store


@query(
    "feature-point-in-time",
    # SCD-2 dimension frozen at 1998-01-01 (daily priority history per
    # customer), facts = every lineitem shipment; the as-of interval
    # join is 1:<=1 by construction and the close is dates/ints/bools
    oracle="""
    WITH ch AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from,
             o_orderpriority,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
               ORDER BY o_orderkey DESC
             ) AS rn
      FROM orders WHERE o_orderdate < DATE '1998-01-01'
    ),
    hist AS (
      SELECT o_custkey, valid_from, o_orderpriority,
             LEAD(valid_from) OVER (
               PARTITION BY o_custkey ORDER BY valid_from
             ) AS valid_to
      FROM ch WHERE rn = 1
    ),
    f AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(l.l_shipdate AS DATE) AS ship_date, o.o_custkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT f.l_orderkey, f.l_linenumber, f.ship_date, f.o_custkey,
           h.o_custkey IS NOT NULL AS matched,
           CASE WHEN h.o_custkey IS NOT NULL
                THEN date_diff('day', h.valid_from, f.ship_date)
           END AS days_since_update,
           CASE WHEN h.o_custkey IS NOT NULL
                THEN date_diff('day', h.valid_from, f.ship_date) > 365
           END AS is_stale,
           CASE WHEN h.o_custkey IS NOT NULL
                 AND NOT (date_diff('day', h.valid_from, f.ship_date)
                          > 365)
                THEN h.o_orderpriority
           END AS feat_priority
    FROM f LEFT JOIN hist h
      ON f.o_custkey = h.o_custkey
     AND h.valid_from <= f.ship_date
     AND (h.valid_to IS NULL OR f.ship_date < h.valid_to)
    """,
)
def feature_point_in_time_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """feature store / point-in-time read — the capstone composition
    of the SCD-2 history build and the as-of interval join: every
    lineitem shipment picks up the customer's order-priority feature
    exactly as it was valid on the ship date, from a dimension frozen
    at 1998-01-01, with a 365-day staleness tolerance masking
    too-old features to NULL (the training-serving-skew guard).
    Shipments before a customer's first dimension row come back
    unmatched; shipments long after the freeze come back stale —
    both flagged, never silently wrong.

    Physically: one equi-join shuffle keyed on the entity id with the
    validity interval as a post-join filter (SCD-2 intervals are
    disjoint, so 1:<=1 — no range explosion), exactly the 100 TB
    backfill plan (operators/joins.py:point_in_time_join)."""
    from medallion_delta_lake_spark.operators.joins import (
        point_in_time_join,
    )

    o = table(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date")
    daily = (
        o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        .select(
            "o_custkey",
            day.alias("valid_from"),
            "o_orderpriority",
            F.row_number().over(
                W.partitionBy("o_custkey", day).orderBy(
                    F.col("o_orderkey").desc()
                )
            ).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    hist = daily.select(
        "o_custkey",
        "valid_from",
        F.lead("valid_from")
        .over(W.partitionBy("o_custkey").orderBy("valid_from"))
        .alias("valid_to"),
        "o_orderpriority",
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    facts = li.join(
        o.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select("l_orderkey", "l_linenumber", "ship_date", "o_custkey")
    return point_in_time_join(
        facts,
        hist,
        key="o_custkey",
        ts_col="ship_date",
        feature_cols=["o_orderpriority"],
        tolerance_days=365,
    ).withColumnRenamed("o_orderpriority", "feat_priority")


# ------------------------------------------------- trend / association


@query(
    "window-mann-kendall",
    # S and the tie-corrected variance numerator are pure integers
    # (pair sign census over each user's 30-day daily-count series).
    # DRIVER FACE IS ALL-INTEGER (r9 driver-red settlement): the
    # continuity-corrected z rides as z_sign + z² quantized via the
    # exact integer rational z² = 18·(|S|−1)²/var_num → HUGEINT //
    # at 10⁹ — the former ÷/√ double close was hash-red on its first
    # driver check yet locally green under every config
    oracle="""
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS dy, COUNT(*) AS c
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    s AS (
      SELECT a.user_id,
             SUM(CASE WHEN b.c > a.c THEN 1
                      WHEN b.c < a.c THEN -1 ELSE 0 END) AS s_stat
      FROM d a JOIN d b
        ON a.user_id = b.user_id AND a.dy < b.dy
      GROUP BY a.user_id
    ),
    n AS (SELECT user_id, COUNT(*) AS n_days FROM d GROUP BY user_id),
    t AS (
      SELECT user_id,
             SUM(tc * (tc - 1) * (2 * tc + 5)) AS tie_term
      FROM (SELECT user_id, c, COUNT(*) AS tc FROM d
            GROUP BY user_id, c)
      GROUP BY user_id
    ),
    j AS (
      SELECT n.user_id, n.n_days,
             COALESCE(s.s_stat, 0) AS s_stat,
             CAST(n.n_days AS BIGINT) * (n.n_days - 1)
               * (2 * n.n_days + 5) - t.tie_term AS var_num
      FROM n JOIN t USING (user_id)
      LEFT JOIN s ON s.user_id = n.user_id
    )
    SELECT user_id, n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(var_num AS BIGINT) AS var_num,
           CAST(CASE WHEN var_num <= 0 OR s_stat = 0 THEN 0
                     WHEN s_stat > 0 THEN 1 ELSE -1 END AS INT)
             AS z_sign,
           CAST(CASE WHEN var_num <= 0 OR s_stat = 0 THEN 0
                ELSE CAST(abs(s_stat) - 1 AS HUGEINT)
                     * (abs(s_stat) - 1) * 18 * 1000000000
                     // CAST(var_num AS HUGEINT)
                END AS BIGINT) AS z_sq_q9
    FROM j
    """,
)
def window_mann_kendall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trend / Mann–Kendall test per user — is each user's daily
    event count monotonically trending over the month? The
    distribution-free trend test ops teams run on every metric
    series: S = Σ sign(c_j − c_i) over ordered day pairs, the
    tie-corrected variance, and the continuity-corrected z. S and
    var_num are pure integer censuses (engine-exact by construction);
    z rides as z_sign + exact-rational z²·10⁹ (operators/agg.py:
    q_div — no double on the driver face).

    Plan (r14): ONE events scan → per-(user, day) counts → per-user
    day-ordered count ARRAY (≤31 elements — calendar-bounded, never
    row-cardinality), then S, the tie census, and n all come from
    higher-order functions over that array in a single projection.
    No pair self-join, no cache, two shuffles total; the O(days²)
    work is a per-row expression on a ≤31-element array. (The r12
    shape re-joined three branches of the daily rollup — 4× the
    events scan; the r13 tracked_cache variant paid the cache
    materialization instead and benched 2.3× slower than this.)"""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("dy")
    ).agg(F.count(F.lit(1)).alias("c"))
    arr = d.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dy, c))),"
            " x -> x.c)"
        ).alias("cs")
    )
    j = arr.select(
        "user_id",
        F.size("cs").alias("n_days"),
        # S = sum over ordered day pairs of sign(c_j - c_i):
        # for element i (0-based), compare against the tail
        # slice starting at 1-based index i + 2
        F.expr(
            "aggregate(transform(cs, (x, i) ->"
            " aggregate(slice(cs, i + 2, size(cs)), 0L,"
            "  (acc, y) -> acc + CASE WHEN y > x THEN 1L"
            "   WHEN y < x THEN -1L ELSE 0L END)),"
            " 0L, (a, b) -> a + b)"
        ).alias("s_stat"),
        # tie census Σ tc·(tc−1)·(2tc+5) via a run-length scan of
        # the value-sorted copy (finish flushes the last run;
        # run∈{0,1} contributes 0 so singletons are free)
        F.expr(
            "aggregate(array_sort(cs),"
            " named_struct('prev', CAST(NULL AS BIGINT),"
            "  'run', 0L, 'acc', 0L),"
            " (st, x) -> CASE WHEN st.prev IS NOT NULL"
            "   AND x = st.prev THEN named_struct('prev', x,"
            "    'run', st.run + 1L, 'acc', st.acc)"
            "  ELSE named_struct('prev', x, 'run', 1L,"
            "   'acc', st.acc + st.run * (st.run - 1L)"
            "    * (2L * st.run + 5L)) END,"
            " st -> st.acc + st.run * (st.run - 1L)"
            "  * (2L * st.run + 5L))"
        ).alias("tie_term"),
    ).select(
        "user_id",
        "n_days",
        "s_stat",
        (
            F.col("n_days").cast("bigint")
            * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            - F.col("tie_term")
        ).alias("var_num"),
    )
    from medallion_delta_lake_spark.operators.agg import q_div

    degenerate = (F.col("var_num") <= 0) | (F.col("s_stat") == 0)
    s_abs1 = F.abs(F.col("s_stat")) - 1
    z_sign = (
        F.when(degenerate, 0)
        .when(F.col("s_stat") > 0, 1)
        .otherwise(-1)
        .cast("int")
    )
    z_sq = F.when(degenerate, F.lit(0)).otherwise(
        q_div(s_abs1 * s_abs1 * 18, F.col("var_num"), 9)
    )
    return j.select(
        "user_id",
        "n_days",
        "s_stat",
        "var_num",
        z_sign.alias("z_sign"),
        z_sq.alias("z_sq_q9"),
    )


@query(
    "stats-cramers-v",
    # chi-square over a 5x7 contingency table: integer observed
    # counts; each cell's IEEE (o-e)^2/e term is quantized via
    # floor(x*1e12)->BIGINT (floor of the identical double is exact
    # in both engines; double->DECIMAL casts are NOT — Spark rounds
    # the shortest repr, DuckDB the binary value) so the 35-term
    # reduction is exact integer addition in ANY order (a 35-term
    # ordered double window is NOT safe either: DuckDB's windowed
    # SUM reassociates via a segment tree and drifts 1 ulp)
    oracle="""
    WITH cell AS (
      SELECT event_type, isodow(ts) AS dow, COUNT(*) AS o
      FROM events GROUP BY event_type, isodow(ts)
    ),
    rt AS (SELECT event_type, SUM(o) AS r_tot FROM cell
           GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c_tot FROM cell GROUP BY dow),
    tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             COUNT(DISTINCT event_type) AS r,
             COUNT(DISTINCT dow) AS c
      FROM cell
    ),
    term AS (
      SELECT CAST(floor(
               ((CAST(cell.o AS DOUBLE)
                 - CAST(rt.r_tot * ct.c_tot AS DOUBLE)
                   / CAST(tot.n AS DOUBLE))
                * (CAST(cell.o AS DOUBLE)
                   - CAST(rt.r_tot * ct.c_tot AS DOUBLE)
                     / CAST(tot.n AS DOUBLE))
                / (CAST(rt.r_tot * ct.c_tot AS DOUBLE)
                   / CAST(tot.n AS DOUBLE)))
               * 1e12) AS BIGINT) AS xi,
             tot.n, tot.r, tot.c
      FROM cell
      JOIN rt USING (event_type) JOIN ct USING (dow), tot
    )
    SELECT n, CAST(r AS BIGINT) AS n_rows, CAST(c AS BIGINT) AS n_cols,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           CAST(SUM(xi) AS DOUBLE) / 1e12 AS chi2,
           sqrt((CAST(SUM(xi) AS DOUBLE) / 1e12)
                / CAST(n * LEAST(r - 1, c - 1) AS DOUBLE)) AS cramers_v
    FROM term
    GROUP BY n, r, c
    """,
)
def stats_cramers_v_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Cramér's V — strength of association between two
    categoricals (event type × ISO weekday), the normalized
    chi-square every feature-selection pass ranks candidate
    categorical features with. Observed counts are integers; each
    cell's (o−e)²/e is one fixed per-cell IEEE chain, quantized via
    floor(x·10¹²)→BIGINT — floor of the identical double is exact in
    both engines, while double→DECIMAL casts and (at this k) the
    ordered-double-window pattern are both engine-unstable (Spark
    rounds the shortest repr vs DuckDB the binary value; DuckDB's
    windowed SUM reassociates via a segment tree). The 35-term
    reduction is exact integer addition in any order; the close is
    one division + sqrt. One grouped count with map-side combine —
    the fact table shuffles only (type, dow) pairs."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", (F.weekday("ts") + 1).alias("dow")
    )
    cell = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("o")
    )
    rt = cell.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    ct = cell.groupBy("dow").agg(F.sum("o").alias("c_tot"))
    tot = cell.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("dow").alias("c"),
    )
    e = (F.col("r_tot") * F.col("c_tot")).cast("double") / F.col(
        "n"
    ).cast("double")
    x = (
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
    )
    term = (
        cell.join(rt, "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            F.floor(x * F.lit(1e12)).alias("xi"), "n", "r", "c"
        )
    )
    return term.groupBy("n", "r", "c").agg(
        (F.sum("xi").cast("double") / F.lit(1e12)).alias("chi2")
    ).select(
        "n",
        F.col("r").cast("bigint").alias("n_rows"),
        F.col("c").cast("bigint").alias("n_cols"),
        ((F.col("r") - 1) * (F.col("c") - 1))
        .cast("bigint")
        .alias("dof"),
        "chi2",
        F.sqrt(
            F.col("chi2")
            / (
                F.col("n")
                * F.least(F.col("r") - 1, F.col("c") - 1)
            ).cast("double")
        ).alias("cramers_v"),
    )


# ------------------------------------------------- scoring


def _rfm_rank(m: DataFrame, col: str, asc: bool, out: str) -> DataFrame:
    """Global rank by (col asc/desc, user_id asc) WITHOUT a global
    per-row sort (the ml-lift-deciles pattern, operators/mleval.py:
    _global_rank): cumulative counts over the DISTINCT-value frame
    give each value-group's offset; a per-group ROW_NUMBER
    (partitioned by the value — distributed) supplies the within-tie
    position.

    CARDINALITY CONTRACT (VERDICT r11): only for BOUNDED axes — the
    distinct-value frame must be capped by the axis's value RANGE
    (recency in days ≤ horizon, frequency counts ≤ max events/user),
    never by the row count. A raw continuous axis (a per-user double
    sum is near-unique per user) makes the single-partition cumulative
    window and the broadcast O(users) — use
    mleval.bucketed_global_rank for those (the monetary axis below
    does)."""
    order = F.col(col).asc() if asc else F.col(col).desc()
    f = m.groupBy(col).agg(F.count(F.lit(1)).alias("_n"))
    wc = W.orderBy(order).rowsBetween(W.unboundedPreceding, -1)
    off = f.select(
        col,
        F.coalesce(F.sum("_n").over(wc), F.lit(0).cast("bigint"))
        .alias("_off"),
    )
    wt = W.partitionBy(col).orderBy(F.col("user_id").asc())
    return (
        m.join(F.broadcast(off), col)
        .withColumn(out, F.col("_off") + F.row_number().over(wt))
        .drop("_off")
    )


def _ntile_from_rank(r, n, k: int):
    """Exact NTILE(k) from the 1-based global rank ``r`` and total
    ``n``: the first (n mod k) buckets hold ceil(n/k) rows, the rest
    floor(n/k) — the remainder-to-front rule Spark and DuckDB share
    under a total (tie-broken) ordering. Pure integer arithmetic, so
    the quintile never depends on which engine evaluated it."""
    head = f"(({n} % {k}) * ({n} div {k} + 1))"
    return F.expr(
        f"CAST(CASE WHEN {r} <= {head}"
        f" THEN ({r} - 1) div ({n} div {k} + 1) + 1"
        f" ELSE ({n} % {k}) + 1"
        f"      + ({r} - {head} - 1) div ({n} div {k})"
        f" END AS INT)"
    )



@query(
    "events-rfm-scores",
    # integer recency/frequency, decimal monetary; NTILE(5) quintiles
    # with explicit user_id tie-breaks — ordering ops, engine-exact
    oracle="""
    WITH u AS (
      SELECT user_id,
             MAX(CAST(ts AS DATE)) AS last_day,
             COUNT(*) AS freq,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               AS monetary
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id
    ),
    g AS (SELECT MAX(CAST(ts AS DATE)) AS gmax FROM events),
    m AS (
      SELECT user_id,
             date_diff('day', last_day, gmax) AS r_days,
             freq, monetary
      FROM u, g
    )
    SELECT user_id, r_days, freq, monetary,
           NTILE(5) OVER (ORDER BY r_days ASC, user_id ASC) AS r_score,
           NTILE(5) OVER (ORDER BY freq DESC, user_id ASC) AS f_score,
           NTILE(5) OVER (ORDER BY monetary DESC, user_id ASC)
             AS m_score,
           NTILE(5) OVER (ORDER BY r_days ASC, user_id ASC) * 100
           + NTILE(5) OVER (ORDER BY freq DESC, user_id ASC) * 10
           + NTILE(5) OVER (ORDER BY monetary DESC, user_id ASC)
             AS rfm_cell
    FROM m
    """,
)
def events_rfm_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scoring / RFM quintiles — recency (days since last event),
    frequency, monetary (decimal-exact value sum) per user, each cut
    into NTILE(5)-semantics quintiles with explicit user_id
    tie-breaks (score 1 = most recent / most frequent / highest
    spend), plus the composite RFM cell — the segmentation every
    lifecycle-marketing and sample-weighting pipeline starts from.

    Scale posture (VERDICT r10 fix, monetary axis re-fixed per
    VERDICT r11): quintiles are NOT computed with a global NTILE
    window (which sorts ALL users in one partition, three times).
    The two BOUNDED axes (recency days, frequency counts — distinct
    values capped by value range) use the sort-free distinct-offsets
    rank; the CONTINUOUS monetary axis (per-user double sums are
    near-unique, so its distinct frame is user-cardinality) uses
    mleval.bucketed_global_rank — an order-preserving log-scale
    bucket key with ≤16,384 values BY CONSTRUCTION, offsets over the
    bucket frame (the broadcast ships ≤16k rows, never O(users)),
    distributed within-bucket ROW_NUMBER — then the exact integer
    NTILE formula. Identical output, no per-user global sort or
    O(users) broadcast anywhere."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("monetary"),
    )
    g = table(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("date")).alias("gmax")
    )
    m = u.crossJoin(F.broadcast(g)).select(
        "user_id",
        F.datediff("gmax", "last_day").alias("r_days"),
        "freq",
        "monetary",
    )
    from medallion_delta_lake_spark.operators.mleval import (
        bucketed_global_rank,
    )

    tot = m.groupBy().agg(F.count(F.lit(1)).alias("big_n"))
    ranked = _rfm_rank(m, "r_days", True, "rr")
    ranked = _rfm_rank(ranked, "freq", False, "rf")
    ranked = bucketed_global_rank(ranked, "monetary", False, "rm", "user_id")
    ranked = ranked.crossJoin(F.broadcast(tot))
    r_s = _ntile_from_rank("rr", "big_n", 5)
    f_s = _ntile_from_rank("rf", "big_n", 5)
    m_s = _ntile_from_rank("rm", "big_n", 5)
    return ranked.select(
        "user_id",
        "r_days",
        "freq",
        "monetary",
        r_s.alias("r_score"),
        f_s.alias("f_score"),
        m_s.alias("m_score"),
        (r_s * 100 + f_s * 10 + m_s).alias("rfm_cell"),
    )


# ------------------------------------------------- outliers / sampling


@query(
    "stats-grubbs-test",
    # decimal-accumulated mean/sd (scale 4 keeps sum-of-squares well
    # under 2^53), per-row |v-mean|/sd is one IEEE chain, MAX is
    # order-insensitive — engine-exact with zero windows
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(value * value AS DECIMAL(38,4))) AS DOUBLE)
               AS svv
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sv / CAST(n AS DOUBLE) AS mean_v,
             sqrt((CAST(n AS DOUBLE) * svv - sv * sv)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
               AS sd_v
      FROM s
    )
    SELECT e.event_type, ANY_VALUE(m.n) AS n,
           ANY_VALUE(m.mean_v) AS mean_v,
           ANY_VALUE(m.sd_v) AS sd_v,
           CASE WHEN ANY_VALUE(m.sd_v) = 0 THEN NULL
                ELSE MAX(abs(e.value - m.mean_v) / m.sd_v)
           END AS g_stat
    FROM events e JOIN m USING (event_type)
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type
    """,
)
def stats_grubbs_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Grubbs' outlier statistic per event type — the
    max-studentized-deviation G = max|x−x̄|/s that decides "is the
    most extreme point an outlier?", the single-outlier complement to
    the MAD census (stats-mad-outliers flags many; Grubbs tests THE
    worst one). Mean and sd come from decimal-exact sums; each row's
    deviation ratio is one IEEE chain; MAX over identical per-row
    doubles is order-insensitive — no windows, two grouped passes
    with map-side combine and a broadcast join back."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("sv"),
        F.sum(
            (F.col("value") * F.col("value")).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("svv"),
    )
    nd = F.col("n").cast("double")
    m = s.select(
        "event_type",
        "n",
        (F.col("sv") / nd).alias("mean_v"),
        F.sqrt(
            (nd * F.col("svv") - F.col("sv") * F.col("sv"))
            / (nd * (nd - F.lit(1.0)))
        ).alias("sd_v"),
    )
    j = ev.join(F.broadcast(m), "event_type")
    return j.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.first("mean_v").alias("mean_v"),
        F.first("sd_v").alias("sd_v"),
        F.when(F.first("sd_v") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.max(
                F.abs(F.col("value") - F.col("mean_v"))
                / F.col("sd_v")
            )
        )
        .alias("g_stat"),
    )


@query(
    "sample-weighted-reservoir",
    # deterministic weighted reservoir: portable-hash race keys
    # (h mod 2^50, exact as DOUBLE) divided by the row's weight, one
    # keyed rank per stratum — reproducible on any engine, any order
    oracle=f"""
    WITH w AS (
      SELECT event_id, event_type, value,
             CAST(({h64_sql("CAST(event_id AS VARCHAR)")})
                  % 1125899906842624 AS DOUBLE) / value AS priority
      FROM events WHERE value IS NOT NULL AND value > 0
    ),
    r AS (
      SELECT event_id, event_type, value, priority,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY priority ASC, event_id ASC
             ) AS rk
      FROM w
    )
    SELECT event_id, event_type, value, rk
    FROM r WHERE rk <= 20
    """,
)
def sample_weighted_reservoir_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sampling / deterministic weighted reservoir per stratum — keep
    the k=20 rows per event type that win a hash race scaled by their
    weight (higher value → smaller priority → more likely kept): the
    reproducible weighted downsample a training mixture uses when
    re-runs must pick the SAME rows on any cluster, any partitioning.
    The race key is the portable 60-bit hash reduced mod 2^50 (exact
    as a DOUBLE) over the row's weight — one IEEE division per row,
    one rank per stratum; no RNG state, no driver pass. (A-Res with
    -ln(u)/w is the textbook form; ln() is not bit-portable across
    engines, so the uniform-race variant ships instead — same
    monotone selection structure, deterministic everywhere.)"""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    pri = (
        (h64(F.col("event_id").cast("string")) % F.lit(1125899906842624))
        .cast("double")
        / F.col("value")
    )
    w = ev.select(
        "event_id", "event_type", "value", pri.alias("priority")
    )
    r = w.select(
        "event_id",
        "event_type",
        "value",
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(
                F.col("priority").asc(), F.col("event_id").asc()
            )
        )
        .alias("rk"),
    )
    return r.filter(F.col("rk") <= 20)


# ------------------------------------------------- change detection


@query(
    "window-cusum-mean-shift",
    # one-sided CUSUM via the running-minimum identity
    # S_i = cum_i - min(0, min_{j<=i} cum_j): decimal running sums
    # and mins are exact in any engine; no recursion needed
    oracle="""
    WITH d AS (
      SELECT event_id, user_id, ts,
             CAST(value AS DECIMAL(38,6)) - 100 AS dev
      FROM events WHERE value IS NOT NULL
    ),
    c1 AS (
      SELECT event_id, user_id, ts,
             SUM(dev) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM d
    ),
    c AS (
      SELECT event_id, user_id, cum,
             MIN(cum) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS runmin
      FROM c1
    )
    SELECT event_id, user_id,
           CAST(CASE WHEN runmin < 0 THEN cum - runmin
                     ELSE cum END AS DOUBLE) AS s_cusum,
           CASE WHEN runmin < 0 THEN cum - runmin
                ELSE cum END > 2000 AS alarm
    FROM c
    """,
)
def window_cusum_mean_shift_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """change detection / one-sided CUSUM per user — the classic
    mean-shift detector S_i = max(0, S_{i-1} + (x_i − target)),
    rewritten without recursion via the running-minimum identity
    S_i = cum_i − min(0, min_{j≤i} cum_j) so it runs as two stacked
    cumulative windows over one (user, ts) sort — the batch twin of
    the streaming CUSUM op. Deviations accumulate in DECIMAL(38,6)
    (exact, order-free); the alarm threshold compares decimals; only
    the reported S casts to double. 100 TB: one shuffle on user_id,
    no state, no UDF. CASE (not LEAST) keeps DuckDB from promoting
    the decimal to double."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    d = ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("value").cast("decimal(38,6)") - F.lit(100)).alias(
            "dev"
        ),
    )
    c = d.select(
        "event_id",
        "user_id",
        F.sum("dev").over(w).alias("cum"),
        F.min(F.sum("dev").over(w)).over(w).alias("runmin"),
    )
    s = F.when(
        F.col("runmin") < 0, F.col("cum") - F.col("runmin")
    ).otherwise(F.col("cum"))
    return c.select(
        "event_id",
        "user_id",
        s.cast("double").alias("s_cusum"),
        (s > F.lit(2000)).alias("alarm"),
    )


# ------------------------------------------------- robust moments


def _lmom_oracle() -> str:
    from medallion_delta_lake_spark.operators.agg import limb_double_sql

    b0 = limb_double_sql("b0s")
    b1 = limb_double_sql("b1s")
    b2 = limb_double_sql("b2s")
    return f"""
    WITH r AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,6)) AS y,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(y) AS b0s,
             SUM(y * (rn - 1)) AS b1s,
             SUM(y * ((rn - 1) * (rn - 2))) AS b2s
      FROM r GROUP BY event_type
    ),
    d AS (
      SELECT event_type, n,
             ({b0} / 1e6) / CAST(n AS DOUBLE) AS b0,
             ({b1} / 1e6)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
               AS b1,
             ({b2} / 1e6)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                  * (CAST(n AS DOUBLE) - 2.0)) AS b2
      FROM s
    )
    SELECT event_type, n,
           b0 AS l1,
           2.0 * b1 - b0 AS l2,
           (6.0 * b2 - 6.0 * b1 + b0) / (2.0 * b1 - b0) AS t3,
           (2.0 * b1 - b0) / b0 AS l_cv
    FROM d
    """


@query(
    "agg-l-moments",
    # probability-weighted moments from decimal-exact rank-weighted
    # sums (the b2 sum passes 2^53, so both engines convert through
    # the three-limb chain); the close is a fixed IEEE combination
    oracle=_lmom_oracle(),
)
def agg_l_moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / L-moments per event type — the order-statistics
    moments (L-mean, L-scale, L-skewness t3, L-CV) hydrologists and
    robust-stats pipelines prefer over classical moments: linear in
    the data, so one wild outlier moves them O(1/n) instead of
    O(x³). Computed from probability-weighted moments b0,b1,b2 =
    rank-weighted sums: rank weights are exact integers, values are
    DECIMAL(18,6), so each group's three sums are decimal-exact in
    any order; the b2 sum exceeds 2^53, so both engines convert it
    through the exact three-limb chain (operators/agg.py:limb_double)
    before one shared IEEE close. One keyed rank sort + one grouped
    pass."""
    from medallion_delta_lake_spark.operators.agg import limb_double

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    r = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("y"),
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy("value", "event_id")
        )
        .alias("rn"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("b0s"),
        F.sum(F.col("y") * (F.col("rn") - 1)).alias("b1s"),
        F.sum(
            F.col("y") * ((F.col("rn") - 1) * (F.col("rn") - 2))
        ).alias("b2s"),
    )
    nd = F.col("n").cast("double")
    b0 = (limb_double(F.col("b0s")) / F.lit(1e6)) / nd
    b1 = (limb_double(F.col("b1s")) / F.lit(1e6)) / (
        nd * (nd - F.lit(1.0))
    )
    b2 = (limb_double(F.col("b2s")) / F.lit(1e6)) / (
        nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0))
    )
    d = s.select(
        "event_type", "n", b0.alias("b0"), b1.alias("b1"), b2.alias("b2")
    )
    return d.select(
        "event_type",
        "n",
        F.col("b0").alias("l1"),
        (F.lit(2.0) * F.col("b1") - F.col("b0")).alias("l2"),
        (
            (
                F.lit(6.0) * F.col("b2")
                - F.lit(6.0) * F.col("b1")
                + F.col("b0")
            )
            / (F.lit(2.0) * F.col("b1") - F.col("b0"))
        ).alias("t3"),
        (
            (F.lit(2.0) * F.col("b1") - F.col("b0")) / F.col("b0")
        ).alias("l_cv"),
    )


# ------------------------------------------------- distribution align


@query(
    "normalize-quantile-map",
    # classic quantile normalization: each source's rank maps onto
    # the pooled distribution's value at the proportional position —
    # all integer ranks + one floor-division, a rank-keyed join back
    oracle="""
    WITH v AS (
      SELECT event_id, event_type, value
      FROM events WHERE value IS NOT NULL
    ),
    pooled AS (
      SELECT value AS pv,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS pr
      FROM v
    ),
    tot AS (SELECT COUNT(*) AS n_all FROM v),
    src AS (
      SELECT event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS ns
      FROM v
    ),
    m AS (
      SELECT event_id, event_type, value,
             ((r - 1) * n_all) // ns + 1 AS p
      FROM src, tot
    )
    SELECT m.event_id, m.event_type, m.value,
           pooled.pv AS mapped_value
    FROM m JOIN pooled ON m.p = pooled.pr
    """,
)
def normalize_quantile_map_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalization / quantile mapping across sources — force every
    event type's value distribution onto the POOLED distribution by
    aligning ranks (the batch-effect / source-skew equalizer:
    microarray quantile normalization, applied to mixed-source
    training feeds so no source's scale dominates). Each row's
    within-source rank r of n_s maps to the pooled sorted value at
    position ⌊(r−1)·N/n_s⌋+1 — all integer rank arithmetic + one
    rank-keyed join, engine-exact with zero float ops.

    Scale posture (r12, global-window allowlist sweep): BOTH exact
    rank passes ride mleval.bucketed_global_rank — the pooled rank's
    offsets frame is the ≤16k log-scale bucket key (never an
    event-cardinality single-partition sort), and the per-source rank
    is the same machinery partitioned by event_type (|types|·16k
    offsets rows; each within-(type,bucket) ROW_NUMBER distributed).
    The per-source totals are a grouped count broadcast back, not a
    whole-partition COUNT() window."""
    from medallion_delta_lake_spark.operators.mleval import (
        bucketed_global_rank,
    )

    v = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select("event_id", "event_type", "value")
    pooled = bucketed_global_rank(
        v, "value", True, "pr", "event_id"
    ).select(F.col("value").alias("pv"), "pr")
    tot = v.agg(F.count(F.lit(1)).alias("n_all"))
    ns = v.groupBy("event_type").agg(F.count(F.lit(1)).alias("ns"))
    src = bucketed_global_rank(
        v, "value", True, "r", "event_id",
        partition_cols=["event_type"],
    ).join(F.broadcast(ns), "event_type")
    m = src.crossJoin(F.broadcast(tot)).select(
        "event_id",
        "event_type",
        "value",
        (
            F.expr("((r - 1) * n_all) div ns") + F.lit(1)
        ).alias("p"),
    )
    return m.join(pooled, m["p"] == pooled["pr"]).select(
        "event_id",
        "event_type",
        "value",
        F.col("pv").alias("mapped_value"),
    )


@query(
    "ml-calibration-bins",
    # reliability-diagram bins: integer outcome counts, per-row score
    # quantized via floor(s*1e12)->BIGINT before the bin mean so the
    # reduction is exact integer addition. DRIVER FACE IS ALL-INTEGER
    # (r9 driver-red settlement): pos_rate rides as n_pos·10¹² // n
    # and the mean score as SUM(si) // n (si already 10¹²-scaled) —
    # the former int/int double closes were hash-red on their first
    # driver check yet locally green under every config
    oracle="""
    WITH g AS (
      SELECT MAX(value) AS gmax FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS y,
             LEAST(CAST(floor((value / gmax) * 10) AS BIGINT), 9)
               AS bin,
             CAST(floor((value / gmax) * 1e12) AS BIGINT) AS si
      FROM events, g WHERE value IS NOT NULL
    )
    SELECT bin, COUNT(*) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(CAST(SUM(y) AS HUGEINT) * 1000000000000 // COUNT(*)
                AS BIGINT) AS pos_rate_q12,
           CAST(CAST(SUM(si) AS HUGEINT) // COUNT(*) AS BIGINT)
             AS avg_score_q12
    FROM s GROUP BY bin
    """,
)
def ml_calibration_bins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml eval / calibration (reliability) bins — bucket a [0,1]
    score into deciles and compare each bin's observed positive rate
    ('purchase') against its mean score: the reliability diagram /
    ECE input every model-quality gate computes. Outcome counts are
    integers; the per-row score is quantized floor(s·10¹²)→BIGINT so
    bin means reduce as exact integer sums (the registry's order-free
    quantization rule); closes are int/int divisions. One grouped
    pass with map-side combine over a broadcast global max."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    g = ev.agg(F.max("value").alias("gmax"))
    s = ev.crossJoin(F.broadcast(g)).select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
        F.least(
            F.floor((F.col("value") / F.col("gmax")) * 10),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
        F.floor(
            (F.col("value") / F.col("gmax")) * F.lit(1e12)
        ).alias("si"),
    )
    from medallion_delta_lake_spark.operators.agg import q_div

    return s.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        q_div(F.sum("y"), F.count(F.lit(1)), 12).alias(
            "pos_rate_q12"
        ),
        q_div(F.sum("si"), F.count(F.lit(1)), 0).alias(
            "avg_score_q12"
        ),
    )


# ------------------------------------------------- source interop


@query(
    "scan-python-datasource",
    # the aggregate over the datasource read must equal the same
    # aggregate straight off the parquet: counts + decimal sums
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             AS sum_value
    FROM events
    WHERE event_id % 7 = 0 AND value IS NOT NULL
    GROUP BY event_type
    """,
)
def scan_python_datasource_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source / Python DataSource API round-trip — materialize a
    deterministic events subset as a log-backed Delta table, read it
    back through ``spark.read.format("mdls_delta")`` (the Spark 4
    Python Data Source face of sources/delta_log.py: one input
    partition per data file, Arrow record batches on the executor),
    and aggregate. Oracle is the same aggregate straight off the
    parquet — proving the format path loses and invents nothing.
    The streaming face of the same source (append tailing, checkpoint
    resume, skipChangeCommits) is pytest-only
    (tests/test_python_datasource.py)."""
    from medallion_delta_lake_spark.sources import (
        delta_log as dl,
        python_datasource as pds,
    )

    pds.register(spark)
    sub = (
        table(spark, sf_dir, "events")
        .filter(
            (F.col("event_id") % 7 == 0) & F.col("value").isNotNull()
        )
        .select("event_id", "event_type", "value")
    )
    p = scratch(sf_dir, "pds_events_sub")
    dl.write_delta(spark, sub.coalesce(4), p, mode="overwrite")
    back = spark.read.format(pds.FORMAT_NAME).option("path", p).load()
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_value"),
    )


# ------------------------------------------------- round-9 late ops


@query(
    "events-conversion-lag",
    # first signup -> first subsequent purchase per user; integer
    # epoch seconds (repo floor(epoch()) convention)
    oracle="""
    WITH s AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
      FROM events GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND s.s_ts IS NOT NULL
        AND e.ts >= s.s_ts
      GROUP BY e.user_id
    )
    SELECT s.user_id,
           CAST(floor(epoch(s.s_ts)) AS BIGINT) AS first_signup_sec,
           CAST(floor(epoch(p.p_ts)) AS BIGINT) AS first_purchase_sec,
           CAST(floor(epoch(p.p_ts)) AS BIGINT)
             - CAST(floor(epoch(s.s_ts)) AS BIGINT) AS lag_sec
    FROM s JOIN p ON s.user_id = p.user_id
    """,
)
def events_conversion_lag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / time-to-convert — per user, the lag from FIRST
    signup to the FIRST purchase at-or-after it (the activation-speed
    distribution product teams watch; completes funnel-analysis's
    step counts with the time dimension). Two grouped passes + one
    equi-join on the user key; lags in exact integer epoch seconds."""
    ev = table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("s_ts")
    ).filter(F.col("s_ts").isNotNull())
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    out = s.join(p, "user_id").select(
        "user_id",
        F.col("s_ts").cast("long").alias("first_signup_sec"),
        F.col("p_ts").cast("long").alias("first_purchase_sec"),
        (
            F.col("p_ts").cast("long") - F.col("s_ts").cast("long")
        ).alias("lag_sec"),
    )
    return out


@query(
    "stats-anova-oneway",
    # one-way ANOVA F from decimal-exact per-group power sums; the
    # k=5 cross-group reduction A = sum s_i^2/n_i runs in an ordered
    # window (k <= 17 rule) of nonnegative terms
    oracle="""
    WITH base AS (
      SELECT event_type AS g,
             CAST(round(CAST(value AS DOUBLE) * 100, 0)
                  AS DECIMAL(9,0)) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    pg AS (
      SELECT g, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS q
      FROM base GROUP BY g
    ),
    pl AS (
      SELECT g, n,
             (CAST(substr(lpad(CAST(s AS VARCHAR),39,'0'),1,13)
                   AS DOUBLE) * 1e13
              + CAST(substr(lpad(CAST(s AS VARCHAR),39,'0'),14,13)
                     AS DOUBLE)) * 1e13
              + CAST(substr(lpad(CAST(s AS VARCHAR),39,'0'),27,13)
                     AS DOUBLE) AS sd
      FROM pg
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             COUNT(*) AS k,
             SUM(s) AS stot, SUM(q) AS qtot
      FROM pg
    ),
    tl AS (
      SELECT big_n, k,
             (CAST(substr(lpad(CAST(stot AS VARCHAR),39,'0'),1,13)
                   AS DOUBLE) * 1e13
              + CAST(substr(lpad(CAST(stot AS VARCHAR),39,'0'),14,13)
                     AS DOUBLE)) * 1e13
              + CAST(substr(lpad(CAST(stot AS VARCHAR),39,'0'),27,13)
                     AS DOUBLE) AS std,
             (CAST(substr(lpad(CAST(qtot AS VARCHAR),39,'0'),1,13)
                   AS DOUBLE) * 1e13
              + CAST(substr(lpad(CAST(qtot AS VARCHAR),39,'0'),14,13)
                     AS DOUBLE)) * 1e13
              + CAST(substr(lpad(CAST(qtot AS VARCHAR),39,'0'),27,13)
                     AS DOUBLE) AS qtd
      FROM tot
    ),
    run AS (
      SELECT SUM((sd * sd) / CAST(n AS DOUBLE))
               OVER (ORDER BY g
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS a_run
      FROM pl
    ),
    cl AS (
      SELECT MAX(a_run) AS a FROM run
    )
    SELECT tl.k AS k_groups, tl.big_n AS n,
           (cl.a - (tl.std * tl.std) / CAST(tl.big_n AS DOUBLE))
             / 10000.0 AS ss_between,
           (tl.qtd - cl.a) / 10000.0 AS ss_within,
           ((cl.a - (tl.std * tl.std) / CAST(tl.big_n AS DOUBLE))
              / (CAST(tl.k AS DOUBLE) - 1.0))
             / ((tl.qtd - cl.a)
                / (CAST(tl.big_n AS DOUBLE) - CAST(tl.k AS DOUBLE)))
             AS f_stat
    FROM tl, cl
    """,
)
def stats_anova_oneway_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / one-way ANOVA F — the parametric mean-difference test
    completing the k-group family (Kruskal–Wallis = ranks,
    Brown–Forsythe = variances, this = means). Per-group Σv, Σv² are
    DECIMAL-exact integer-cents sums limb-converted once; the only
    cross-group reduction A = Σ s²/n is k=5 nonnegative doubles in a
    deterministic ORDER BY window (the registry's k≤17 rule); SS are
    reported in value² units (cents²/10⁴)."""
    from medallion_delta_lake_spark.operators.agg import limb_double

    base = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("decimal(9,0)")
        .alias("v"),
    )
    pg = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    pl = pg.select(
        "g", "n", limb_double(F.col("s")).alias("sd")
    )
    tot = pg.groupBy().agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s").alias("stot"),
        F.sum("q").alias("qtot"),
    )
    tl = tot.select(
        "big_n",
        "k",
        limb_double(F.col("stot")).alias("std"),
        limb_double(F.col("qtot")).alias("qtd"),
    )
    wrun = W.orderBy("g").rowsBetween(W.unboundedPreceding, 0)
    run = pl.select(
        F.sum(
            (F.col("sd") * F.col("sd")) / F.col("n").cast("double")
        )
        .over(wrun)
        .alias("a_run")
    )
    cl = run.groupBy().agg(F.max("a_run").alias("a"))
    nd = F.col("big_n").cast("double")
    kd = F.col("k").cast("double")
    ssb = F.col("a") - (F.col("std") * F.col("std")) / nd
    ssw = F.col("qtd") - F.col("a")
    return tl.crossJoin(F.broadcast(cl)).select(
        F.col("k").alias("k_groups"),
        F.col("big_n").alias("n"),
        (ssb / 10000.0).alias("ss_between"),
        (ssw / 10000.0).alias("ss_within"),
        (
            (ssb / (kd - 1.0)) / (ssw / (nd - kd))
        ).alias("f_stat"),
    )


@query(
    "agg-seasonal-index",
    # hour-of-day multiplicative seasonal profile: decimal-exact hod
    # and overall sums, one shared-spelling ratio close
    oracle="""
    WITH base AS (
      SELECT CAST(hour(ts) AS INT) AS hod,
             CAST(round(CAST(value AS DOUBLE) * 100, 0)
                  AS DECIMAL(18,0)) AS v
      FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT hod, COUNT(*) AS n, SUM(v) AS s FROM base GROUP BY hod
    ),
    t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n, SUM(s) AS stot FROM h
    )
    SELECT h.hod, h.n,
           ((CAST(h.s AS DOUBLE) / CAST(h.n AS DOUBLE)) / 100.0)
             AS mean_value,
           ((CAST(h.s AS DOUBLE) / CAST(h.n AS DOUBLE))
            / (CAST(t.stot AS DOUBLE) / CAST(t.big_n AS DOUBLE)))
             AS seasonal_index
    FROM h, t
    """,
)
def agg_seasonal_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts / hour-of-day seasonal index — each hour's mean value over
    the global mean (the multiplicative seasonal profile that
    deseasonalizes monitoring baselines and feeds ts-seasonal-naive).
    One grouped decimal pass + a broadcast global row; sums stay far
    under 2^53 per hour bucket so plain decimal→double casts are
    exact (DECIMAL(18,0) both sides)."""
    base = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("decimal(18,0)")
        .alias("v"),
    )
    h = base.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    t = h.groupBy().agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum("s").alias("stot"),
    )
    return h.crossJoin(F.broadcast(t)).select(
        "hod",
        "n",
        (
            (F.col("s").cast("double") / F.col("n").cast("double"))
            / 100.0
        ).alias("mean_value"),
        (
            (F.col("s").cast("double") / F.col("n").cast("double"))
            / (
                F.col("stot").cast("double")
                / F.col("big_n").cast("double")
            )
        ).alias("seasonal_index"),
    )


@query(
    "window-rolling-median",
    # exact 21-point rolling median per key: full frames only, so the
    # median is ONE element selection (no interpolation, no sums) —
    # deterministic by construction in both engines
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER w AS rn,
             median(value) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS med
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, value, med AS rolling_median
    FROM o WHERE rn >= 21
    """,
)
def window_rolling_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / exact rolling median — the robust smoother (spike-
    immune, unlike the rolling mean) over a trailing 21-point frame
    per user. Emitted only for FULL frames, where the median of an
    odd count is one element selection — order-free and engine-exact
    with zero float arithmetic. The frame sort is bounded (21
    elements per row); the only shuffle is the per-key window sort.
    At 100 TB the same plan holds: cost is frame-bounded per row, not
    table-bounded."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    wbase = W.partitionBy("user_id").orderBy("ts", "event_id")
    w21 = wbase.rowsBetween(-20, 0)
    o = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(wbase).alias("rn"),
        F.element_at(
            F.sort_array(F.collect_list("value").over(w21)), 11
        ).alias("rolling_median"),
    )
    return o.filter(F.col("rn") >= 21).drop("rn")


@query(
    "events-dau-wau-mau",
    # activity metrics per day: distinct (user, day) frame x the tiny
    # day dimension via a 30-day range join; all counts integer, one
    # stickiness ratio
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events
    ),
    days AS (SELECT DISTINCT dy AS d FROM ud),
    j AS (
      SELECT days.d, ud.user_id, ud.dy
      FROM days JOIN ud
        ON ud.dy <= days.d AND ud.dy >= days.d - INTERVAL 29 DAY
    )
    SELECT d,
           COUNT(DISTINCT CASE WHEN dy = d THEN user_id END) AS dau,
           COUNT(DISTINCT CASE WHEN dy >= d - INTERVAL 6 DAY
                 THEN user_id END) AS wau,
           COUNT(DISTINCT user_id) AS mau,
           CAST(COUNT(DISTINCT CASE WHEN dy = d THEN user_id END)
                AS DOUBLE)
             / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS stickiness
    FROM j GROUP BY d
    """,
)
def events_dau_wau_mau_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / DAU-WAU-MAU + stickiness per day — the activity
    dashboard every product runs. The fact table reduces once to the
    distinct (user, day) frame; a broadcast range join against the
    tiny day dimension replicates each user-day into the ≤30 anchor
    days it serves, then conditional COUNT DISTINCTs close. At 100 TB
    the user-day frame is the only large object and it shuffles once;
    the day dimension stays broadcast-sized forever."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("dy")
    ).distinct()
    days = ud.select(F.col("dy").alias("d")).distinct()
    j = ud.join(
        F.broadcast(days),
        (F.col("dy") <= F.col("d"))
        & (F.col("dy") >= F.date_sub(F.col("d"), 29)),
    )
    return j.groupBy("d").agg(
        F.countDistinct(
            F.when(F.col("dy") == F.col("d"), F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(
                F.col("dy") >= F.date_sub(F.col("d"), 6),
                F.col("user_id"),
            )
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
        (
            F.countDistinct(
                F.when(F.col("dy") == F.col("d"), F.col("user_id"))
            ).cast("double")
            / F.countDistinct("user_id").cast("double")
        ).alias("stickiness"),
    )


@query(
    "affinity-basket-pairs",
    # market-basket association: distinct (order, part) frame self-
    # joined on the order key (p1 < p2), integer pair/item/total
    # counts, support/confidence/lift closes; deterministic top-20 by
    # the integer pair count
    oracle="""
    WITH op0 AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    keep AS (
      SELECT o FROM op0 GROUP BY o HAVING COUNT(*) <= 64
    ),
    op AS (SELECT op0.o, op0.p FROM op0 JOIN keep USING (o)),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM op),
    ic AS (SELECT p, COUNT(*) AS c FROM op GROUP BY p),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS n_pair
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
    ),
    top AS (
      SELECT p1, p2, n_pair,
             ROW_NUMBER() OVER (ORDER BY n_pair DESC, p1, p2) AS rn
      FROM pairs WHERE n_pair >= 2
    )
    SELECT t.p1, t.p2, t.n_pair,
           CAST(t.n_pair AS DOUBLE) / CAST(n.n_orders AS DOUBLE)
             AS support,
           CAST(t.n_pair AS DOUBLE) / CAST(c1.c AS DOUBLE)
             AS confidence,
           (CAST(t.n_pair AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
             / (CAST(c1.c AS DOUBLE) * CAST(c2.c AS DOUBLE)) AS lift
    FROM top t
    JOIN ic c1 ON t.p1 = c1.p
    JOIN ic c2 ON t.p2 = c2.p
    CROSS JOIN n
    WHERE t.rn <= 20
    """,
)
def affinity_basket_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / market-basket affinity — co-purchased part pairs
    with support, confidence, and lift (the association-rule primer
    behind recommenders and store layout), via
    operators/graph.py:basket_pairs. The pair self-join is keyed only
    on the order key, so pair volume is Σ basket_size²; the operator
    caps baskets at max_basket_size=64 EXPLICITLY (TPC-H orders have
    ≤7 lines, so the cap is inert here and load-bearing on real
    data; basket_cap_audit censuses what a cap drops — never silent).
    The top-20 is TakeOrdered (orderBy + limit, distributed local
    top-k + driver merge of 20·partitions rows), not a global
    single-partition row_number sort. Counts are integers; ranking
    never touches a float."""
    from medallion_delta_lake_spark.operators.graph import basket_pairs

    li = table(spark, sf_dir, "lineitem")
    return basket_pairs(
        li,
        basket="l_orderkey",
        item="l_partkey",
        max_basket_size=64,
        min_pair_count=2,
        top_k=20,
    )


@query(
    "events-seasonal-anomaly",
    # seasonally-adjusted anomalies: per hour-of-day baseline
    # (decimal-exact mean/sd in cents, limb closes), per-row z in one
    # shared IEEE chain, deterministic top-20 by |z|
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type,
             CAST(hour(ts) AS INT) AS hod,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT hod, COUNT(*) AS n,
             SUM(CAST(v AS DECIMAL(38,0))) AS s,
             SUM(CAST(v AS DECIMAL(38,0)) * v) AS q
      FROM base GROUP BY hod
    ),
    hb AS (
      SELECT hod, n,
             (CAST(substr(lpad(CAST(s AS VARCHAR),39,'0'),1,13)
                   AS DOUBLE) * 1e13
              + CAST(substr(lpad(CAST(s AS VARCHAR),39,'0'),14,13)
                     AS DOUBLE)) * 1e13
              + CAST(substr(lpad(CAST(s AS VARCHAR),39,'0'),27,13)
                     AS DOUBLE) AS sd_,
             (CAST(substr(lpad(CAST(q AS VARCHAR),39,'0'),1,13)
                   AS DOUBLE) * 1e13
              + CAST(substr(lpad(CAST(q AS VARCHAR),39,'0'),14,13)
                     AS DOUBLE)) * 1e13
              + CAST(substr(lpad(CAST(q AS VARCHAR),39,'0'),27,13)
                     AS DOUBLE) AS qd_
      FROM h
    ),
    mb AS (
      SELECT hod, n, (sd_ / CAST(n AS DOUBLE)) AS m,
             sqrt(qd_ / CAST(n AS DOUBLE)
                  - (sd_ / CAST(n AS DOUBLE))
                    * (sd_ / CAST(n AS DOUBLE))) AS sdev
      FROM hb
    ),
    z AS (
      SELECT b.event_id, b.user_id, b.event_type, b.hod,
             CAST(b.v AS DOUBLE) / 100.0 AS value,
             ((CAST(b.v AS DOUBLE) - mb.m) / mb.sdev) AS z_score
      FROM base b JOIN mb ON b.hod = mb.hod
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY abs(z_score) DESC, event_id) AS rn
      FROM z
    )
    SELECT event_id, user_id, event_type, hod, value, z_score
    FROM r WHERE rn <= 20
    """,
)
def events_seasonal_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """monitoring / seasonally-adjusted anomalies — each event scored
    against ITS HOUR-OF-DAY's mean/σ baseline (what a naive global
    z-score gets wrong about diurnal metrics), top-20 by |z|. The 24
    baselines reduce from decimal-exact cents power sums with limb
    closes; the per-row z is one shared IEEE chain and the ranking is
    comparisons only. One grouped pass + a 24-row broadcast join —
    scan-bound at any scale."""
    from medallion_delta_lake_spark.operators.agg import limb_double

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("v"),
    )
    h = base.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("v").cast("decimal(38,0)") * F.col("v")
        ).alias("q"),
    )
    nd = F.col("n").cast("double")
    m = limb_double(F.col("s")) / nd
    mb = h.select(
        "hod",
        m.alias("m"),
        F.sqrt(limb_double(F.col("q")) / nd - m * m).alias("sdev"),
    )
    z = base.join(F.broadcast(mb), "hod").select(
        "event_id",
        "user_id",
        "event_type",
        "hod",
        (F.col("v").cast("double") / 100.0).alias("value"),
        (
            (F.col("v").cast("double") - F.col("m")) / F.col("sdev")
        ).alias("z_score"),
    )
    # top-20 via TakeOrdered (orderBy + limit): every partition
    # offers its local top-20 and the driver merges — no global
    # single-partition window sort over the full event frame
    # (VERDICT r10 scale-weak fix; tie-break on event_id keeps the
    # cut deterministic)
    return z.orderBy(
        F.abs(F.col("z_score")).desc(), "event_id"
    ).limit(20)


@query(
    "window-rsi",
    # Wilder's RSI over integer-cents gains/losses: one (user, ts)
    # sort feeds LAG + two trailing-14 integer frame sums; the close
    # is one shared ratio chain with the l14=0 -> 100 branch explicit
    oracle="""
    WITH o AS (
      SELECT user_id, event_id,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
               - lag(CAST(round(CAST(value AS DOUBLE) * 100, 0)
                     AS BIGINT)) OVER w AS d,
             ROW_NUMBER() OVER w AS rn
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, rn,
             SUM(CASE WHEN d > 0 THEN d ELSE 0 END) OVER f AS g14,
             SUM(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER f AS l14
      FROM o
      WINDOW f AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(g14 AS BIGINT) AS gain14,
           CAST(l14 AS BIGINT) AS loss14,
           CASE WHEN l14 = 0 THEN 100.0
                ELSE 100.0 - 100.0
                     / (1.0 + CAST(g14 AS DOUBLE)
                              / CAST(l14 AS DOUBLE)) END AS rsi
    FROM s WHERE rn >= 15
    """,
)
def window_rsi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / relative strength index (14-period, simple-average
    form) per user — the momentum oscillator, computed from integer-
    cents gains/losses so the frame sums are exact; only the final
    ratio is floating point, in one shared spelling with the all-gain
    branch (loss=0 → RSI=100) explicit. One keyed sort feeds LAG and
    both trailing sums — a single window shuffle at any scale."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    wbase = W.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.round(F.col("value").cast("double") * 100, 0).cast("bigint")
    o = ev.select(
        "user_id",
        "event_id",
        (v - F.lag(v).over(wbase)).alias("d"),
        F.row_number().over(wbase).alias("rn"),
    )
    wf = W.partitionBy("user_id").orderBy("rn").rowsBetween(-13, 0)
    s = o.select(
        "user_id",
        "event_id",
        "rn",
        F.sum(
            F.when(F.col("d") > 0, F.col("d")).otherwise(0)
        ).over(wf).alias("g14"),
        F.sum(
            F.when(F.col("d") < 0, -F.col("d")).otherwise(0)
        ).over(wf).alias("l14"),
    )
    return s.filter(F.col("rn") >= 15).select(
        "user_id",
        "event_id",
        F.col("g14").cast("bigint").alias("gain14"),
        F.col("l14").cast("bigint").alias("loss14"),
        F.when(F.col("l14") == 0, F.lit(100.0)).otherwise(
            100.0
            - 100.0
            / (
                1.0
                + F.col("g14").cast("double")
                / F.col("l14").cast("double")
            )
        ).alias("rsi"),
    )


@query(
    "agg-hdr-percentiles",
    # percentile ESTIMATES from the power-of-2 (HdrHistogram-style)
    # bucket counts: integer cumulative counts, the ceil-free integer
    # inequality cum*100 >= tot*p, min qualifying bucket per
    # (group, percentile) -- zero float arithmetic anywhere
    oracle="""
    WITH v AS (
      SELECT event_type AS g,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT g, length(bin(cents)) - 1 AS bucket
      FROM v WHERE cents >= 1
    ),
    h AS (SELECT g, bucket, COUNT(*) AS n FROM b GROUP BY g, bucket),
    c AS (
      SELECT g, bucket, n,
             SUM(n) OVER (PARTITION BY g ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(n) OVER (PARTITION BY g) AS tot
      FROM h
    ),
    pf AS (SELECT CAST(p AS INT) AS p
           FROM (VALUES (50), (90), (99)) t(p)),
    q AS (
      SELECT c.g, pf.p, c.bucket, c.cum, c.tot,
             ROW_NUMBER() OVER (PARTITION BY c.g, pf.p
               ORDER BY c.bucket) AS ok
      FROM c JOIN pf ON c.cum * 100 >= c.tot * pf.p
    )
    SELECT g AS event_type, p,
           CAST(bucket AS INT) AS p_bucket,
           CAST(cum AS BIGINT) AS cum_n,
           CAST(tot AS BIGINT) AS total_n
    FROM q WHERE ok = 1
    """,
)
def agg_hdr_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / percentile estimates straight off the power-of-2
    histogram -- how every constant-memory observability store (HDR,
    Prometheus-style) answers p50/p90/p99: cumulative bucket counts,
    first bucket whose cumulative share reaches p (the integer
    inequality cum*100 >= tot*p avoids ceil AND floats entirely).
    Complements agg-latency-histogram (the sketch) with its read
    path. Per-group windows over <=64 bucket rows -- metadata-sized
    at any corpus."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    b = (
        ev.select(F.col("event_type").alias("g"), cents.alias("cents"))
        .filter(F.col("cents") >= 1)
        .select(
            "g",
            (F.length(F.bin("cents")) - 1).cast("int").alias("bucket"),
        )
    )
    h = b.groupBy("g", "bucket").agg(F.count(F.lit(1)).alias("n"))
    wc = W.partitionBy("g").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, 0
    )
    wt = W.partitionBy("g")
    c = h.select(
        "g",
        "bucket",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    pf = spark.createDataFrame([(50,), (90,), (99,)], "p int")
    q = c.join(
        F.broadcast(pf),
        (F.col("cum") * 100) >= (F.col("tot") * F.col("p")),
    ).withColumn(
        "ok",
        F.row_number().over(
            W.partitionBy("g", "p").orderBy("bucket")
        ),
    )
    return q.filter(F.col("ok") == 1).select(
        F.col("g").alias("event_type"),
        "p",
        F.col("bucket").cast("int").alias("p_bucket"),
        F.col("cum").cast("bigint").alias("cum_n"),
        F.col("tot").cast("bigint").alias("total_n"),
    )


@query(
    "stats-friedman-test",
    # repeated-measures rank test over complete (user x event-type)
    # blocks: per-block means are rationals ranked EXACTLY by integer
    # cross-multiplication (s_i*n_j vs s_j*n_i -- no division, no
    # floats), doubled midranks keep everything integral; one shared
    # chi-square close
    oracle="""
    WITH cell AS (
      SELECT user_id, event_type,
             CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 100, 0)
                  AS BIGINT)) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY user_id, event_type
    ),
    full_u AS (
      SELECT user_id FROM cell GROUP BY user_id
      HAVING COUNT(*) = 5
    ),
    c AS (
      SELECT cell.* FROM cell JOIN full_u USING (user_id)
    ),
    d AS (
      SELECT a.user_id, a.event_type,
             CAST(SUM(CASE WHEN b.s * a.n < a.s * b.n THEN 2
                           WHEN b.s * a.n = a.s * b.n THEN 1
                           ELSE 0 END) + 1 AS BIGINT) AS dd
      FROM c a JOIN c b ON a.user_id = b.user_id
      GROUP BY a.user_id, a.event_type
    ),
    rt AS (
      SELECT event_type, CAST(SUM(dd) AS BIGINT) AS big_d
      FROM d GROUP BY event_type
    ),
    agg AS (
      SELECT CAST(SUM(big_d * big_d) AS BIGINT) AS sum_d2,
             COUNT(*) AS k
      FROM rt
    ),
    nn AS (SELECT COUNT(*) AS n_blocks FROM full_u)
    SELECT nn.n_blocks, agg.k,
           ((3.0 * CAST(agg.sum_d2 AS DOUBLE))
              / (CAST(nn.n_blocks AS DOUBLE) * CAST(agg.k AS DOUBLE)
                 * (CAST(agg.k AS DOUBLE) + 1.0))
            - 3.0 * CAST(nn.n_blocks AS DOUBLE)
              * (CAST(agg.k AS DOUBLE) + 1.0)) AS chi2_f,
           CAST(agg.k - 1 AS BIGINT) AS dof
    FROM nn, agg
    """,
)
def stats_friedman_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Friedman test — the repeated-measures member closing
    the nonparametric family (Kruskal–Wallis = independent groups,
    this = within-block ranks): does any event type's mean value rank
    consistently high/low WITHIN users? Per-block means are rationals
    ranked exactly by integer cross-multiplication (s_i·n_j vs
    s_j·n_i — no division ever happens), doubled midranks
    d = 2·#less + #ties + 1 stay integral (ties included; the
    tie-corrected denominator is omitted — documented, standard for
    the screening form), and the χ²_F close is one shared chain. The
    only joins are per-user k×k (k = 5) — bounded at any scale."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cents = F.round(F.col("value").cast("double") * 100, 0).cast(
        "bigint"
    )
    cell = ev.groupBy("user_id", "event_type").agg(
        F.sum(cents).cast("bigint").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    full_u = (
        cell.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("kk"))
        .filter(F.col("kk") == 5)
        .select("user_id")
    )
    c = cell.join(full_u, "user_id")
    a, b = c.alias("a"), c.alias("b")
    d = (
        a.join(b, F.col("a.user_id") == F.col("b.user_id"))
        .groupBy(F.col("a.user_id"), F.col("a.event_type"))
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("b.s") * F.col("a.n")
                        < F.col("a.s") * F.col("b.n"),
                        2,
                    )
                    .when(
                        F.col("b.s") * F.col("a.n")
                        == F.col("a.s") * F.col("b.n"),
                        1,
                    )
                    .otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("dd")
        )
    )
    rt = d.groupBy("event_type").agg(
        F.sum("dd").cast("bigint").alias("big_d")
    )
    agg = rt.groupBy().agg(
        F.sum(F.col("big_d") * F.col("big_d"))
        .cast("bigint")
        .alias("sum_d2"),
        F.count(F.lit(1)).alias("k"),
    )
    nn = full_u.groupBy().agg(F.count(F.lit(1)).alias("n_blocks"))
    nd = F.col("n_blocks").cast("double")
    kd = F.col("k").cast("double")
    return nn.crossJoin(F.broadcast(agg)).select(
        "n_blocks",
        "k",
        (
            (3.0 * F.col("sum_d2").cast("double"))
            / (nd * kd * (kd + 1.0))
            - 3.0 * nd * (kd + 1.0)
        ).alias("chi2_f"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
    )


@query(
    "agg-tukey-fences",
    # box-plot stats per group: positional quartiles (explicit
    # ceil-position contract), DOUBLED integer fences 2q1-3*IQR /
    # 2q3+3*IQR so the 1.5x multiplier never leaves integers, outlier
    # census by integer comparison
    oracle="""
    WITH v AS (
      SELECT event_type AS g,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
               AS c
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    r AS (
      SELECT g, c,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY c) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM v
    ),
    q AS (
      SELECT g, MAX(n) AS n,
             MAX(CASE WHEN rn = (n + 3) // 4 THEN c END) AS q1,
             MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN c END) AS q3
      FROM r GROUP BY g
    ),
    f AS (
      SELECT g, n, q1, q3,
             2 * q1 - 3 * (q3 - q1) AS lo2,
             2 * q3 + 3 * (q3 - q1) AS hi2
      FROM q
    )
    SELECT f.g AS event_type, CAST(f.n AS BIGINT) AS n,
           CAST(f.q1 AS DOUBLE) / 100.0 AS q1,
           CAST(f.q3 AS DOUBLE) / 100.0 AS q3,
           CAST(SUM(CASE WHEN 2 * v.c < f.lo2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN 2 * v.c > f.hi2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high
    FROM f JOIN v ON v.g = f.g
    GROUP BY f.g, f.n, f.q1, f.q3
    """,
)
def agg_tukey_fences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Tukey fences (box-plot outlier census) per group —
    positional quartiles with an explicit ceil-position contract, and
    the 1.5×IQR fences kept INTEGRAL by doubling (2v vs 2q1−3·IQR):
    the whole op is integer selection + integer comparisons; the only
    doubles are the two reported quartile values. Complements
    stats-mad-outliers (the robust-scale cousin) with the classic
    quartile form. One keyed sort + one broadcast-back pass."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    v = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("c"),
    )
    wr = W.partitionBy("g").orderBy("c")
    r = v.select(
        "g",
        "c",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1))
        .over(
            W.partitionBy("g").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .alias("n"),
    )
    q = r.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("c"))
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("c")
            )
        ).alias("q3"),
    )
    f = q.select(
        "g",
        "n",
        "q1",
        "q3",
        (2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1"))).alias(
            "lo2"
        ),
        (2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))).alias(
            "hi2"
        ),
    )
    return (
        v.join(F.broadcast(f), "g")
        .groupBy("g", "n", "q1", "q3")
        .agg(
            F.sum(
                (2 * F.col("c") < F.col("lo2")).cast("int")
            )
            .cast("bigint")
            .alias("n_low"),
            F.sum(
                (2 * F.col("c") > F.col("hi2")).cast("int")
            )
            .cast("bigint")
            .alias("n_high"),
        )
        .select(
            F.col("g").alias("event_type"),
            F.col("n").cast("bigint").alias("n"),
            (F.col("q1").cast("double") / 100.0).alias("q1"),
            (F.col("q3").cast("double") / 100.0).alias("q3"),
            "n_low",
            "n_high",
        )
    )


def _bucketed_nn_carry(base: DataFrame) -> DataFrame:
    """prev/next control carry over the (v, treated, event_id) total
    order WITHOUT a single-partition window (r12 global-window sweep;
    shared by join-nn-match-1d and stats-matched-uplift).

    The axis is EVENT-cardinality, so the carry is two-level on the
    bounded log-scale bucket key (mleval.axis_bucket, ≤16k values —
    a bucket is a contiguous v-range, so every row of bucket b orders
    before every row of bucket b+1): within each bucket the original
    growing-frame carries run PARTITIONED (distributed); across
    buckets, a per-bucket first/last-control frame (≤16k rows — the
    only single-partition windows run there) supplies the carry for
    rows whose own bucket has no control on the needed side.

    Output: base + prev_id/prev_v (last control at or before the row
    in total order) + next_id/next_v (first control strictly after) —
    exactly the single-sort spelling's values."""
    from medallion_delta_lake_spark.operators.mleval import axis_bucket

    b = base.withColumn("_bkt", axis_bucket(F.col("v")))
    asc = [
        F.col("v").asc(), F.col("treated").asc(),
        F.col("event_id").asc(),
    ]
    desc = [
        F.col("v").desc(), F.col("treated").desc(),
        F.col("event_id").desc(),
    ]
    ctl_id = F.when(F.col("treated") == 0, F.col("event_id"))
    ctl_v = F.when(F.col("treated") == 0, F.col("v"))
    # within-bucket carries: the original frames, now PARTITIONED
    wp = W.partitionBy("_bkt").orderBy(*asc).rowsBetween(
        W.unboundedPreceding, 0
    )
    wn = W.partitionBy("_bkt").orderBy(*desc).rowsBetween(
        W.unboundedPreceding, -1
    )
    # per-bucket first/last control by the total order (controls have
    # treated = 0, so their order key reduces to (v, event_id));
    # max_by/min_by skip rows whose ordering key is NULL (treated)
    ctl_key = F.when(
        F.col("treated") == 0, F.struct(F.col("v"), F.col("event_id"))
    )
    f = b.groupBy("_bkt").agg(
        F.max_by("event_id", ctl_key).alias("_last_id"),
        F.max_by("v", ctl_key).alias("_last_v"),
        F.min_by("event_id", ctl_key).alias("_first_id"),
        F.min_by("v", ctl_key).alias("_first_v"),
    )
    wb_prev = W.orderBy(F.col("_bkt").asc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    wb_next = W.orderBy(F.col("_bkt").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    off = f.select(
        "_bkt",
        F.last("_last_id", ignorenulls=True).over(wb_prev)
        .alias("_poff_id"),
        F.last("_last_v", ignorenulls=True).over(wb_prev)
        .alias("_poff_v"),
        F.last("_first_id", ignorenulls=True).over(wb_next)
        .alias("_noff_id"),
        F.last("_first_v", ignorenulls=True).over(wb_next)
        .alias("_noff_v"),
    )
    return (
        b.join(F.broadcast(off), "_bkt")
        .select(
            *[F.col(c) for c in base.columns],
            F.coalesce(
                F.last(ctl_id, ignorenulls=True).over(wp),
                F.col("_poff_id"),
            ).alias("prev_id"),
            F.coalesce(
                F.last(ctl_v, ignorenulls=True).over(wp),
                F.col("_poff_v"),
            ).alias("prev_v"),
            F.coalesce(
                F.last(ctl_id, ignorenulls=True).over(wn),
                F.col("_noff_id"),
            ).alias("next_id"),
            F.coalesce(
                F.last(ctl_v, ignorenulls=True).over(wn),
                F.col("_noff_v"),
            ).alias("next_v"),
        )
    )


@query(
    "join-nn-match-1d",
    # matched-cohort construction: each treated row pairs with its
    # nearest control BY VALUE via two IGNORE-NULLS carries over ONE
    # (value, role, id) sort -- the as-of machinery rotated from the
    # time axis to the covariate axis; integer cents distances,
    # prev-wins tie documented
    oracle="""
    WITH base AS (
      SELECT event_id,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
               AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS treated
      FROM events WHERE value IS NOT NULL
    ),
    o AS (
      SELECT event_id, v, treated,
             last_value(CASE WHEN treated = 0 THEN event_id END
                        IGNORE NULLS) OVER wp AS prev_id,
             last_value(CASE WHEN treated = 0 THEN v END
                        IGNORE NULLS) OVER wp AS prev_v,
             first_value(CASE WHEN treated = 0 THEN event_id END
                         IGNORE NULLS) OVER wn AS next_id,
             first_value(CASE WHEN treated = 0 THEN v END
                         IGNORE NULLS) OVER wn AS next_v
      FROM base
      WINDOW
        wp AS (ORDER BY v, treated, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (ORDER BY v, treated, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id AS treated_id,
           CAST(v AS DOUBLE) / 100.0 AS treated_value,
           CASE WHEN prev_id IS NULL THEN next_id
                WHEN next_id IS NULL THEN prev_id
                WHEN v - prev_v <= next_v - v THEN prev_id
                ELSE next_id END AS control_id,
           CAST(CASE WHEN prev_id IS NULL THEN next_v - v
                     WHEN next_id IS NULL THEN v - prev_v
                     WHEN v - prev_v <= next_v - v THEN v - prev_v
                     ELSE next_v - v END AS DOUBLE) / 100.0
             AS match_distance
    FROM o WHERE treated = 1
    """,
)
def join_nn_match_1d_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / 1-D nearest-neighbor matching — pair every treated row
    (purchase) with its closest control BY VALUE: the matched-cohort
    construction behind simple causal contrasts (propensity-style
    matching with a scalar covariate). The as-of union-window trick
    rotated from time to the covariate axis: one (value, role, id)
    sort carries the last/next control; integer-cents distances;
    distance ties take the lower-value (prev) control — explicit
    contract. Scale posture (r12 global-window sweep): the carries
    ride _bucketed_nn_carry — within-bucket windows PARTITIONED by
    the bounded log-scale bucket key, cross-bucket carry on the ≤16k
    bucket frame — never a single-partition sort of all events."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_id",
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias(
            "treated"
        ),
    )
    o = _bucketed_nn_carry(base)
    prev_d = F.col("v") - F.col("prev_v")
    next_d = F.col("next_v") - F.col("v")
    pick_prev = (
        F.col("next_id").isNull()
        | (F.col("prev_id").isNotNull() & (prev_d <= next_d))
    )
    return o.filter(F.col("treated") == 1).select(
        F.col("event_id").alias("treated_id"),
        (F.col("v").cast("double") / 100.0).alias("treated_value"),
        F.when(pick_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("control_id"),
        (
            F.when(pick_prev, prev_d)
            .otherwise(next_d)
            .cast("double")
            / 100.0
        ).alias("match_distance"),
    )


@query(
    "stats-matched-uplift",
    # the causal contrast the matcher exists for: mean(treated) -
    # mean(matched control) over the matched pairs, DECIMAL-exact
    # numerators, limb closes, one shared diff
    oracle="""
    WITH base AS (
      SELECT event_id,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
               AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS treated
      FROM events WHERE value IS NOT NULL
    ),
    o AS (
      SELECT event_id, v, treated,
             last_value(CASE WHEN treated = 0 THEN event_id END
                        IGNORE NULLS) OVER wp AS prev_id,
             last_value(CASE WHEN treated = 0 THEN v END
                        IGNORE NULLS) OVER wp AS prev_v,
             first_value(CASE WHEN treated = 0 THEN event_id END
                         IGNORE NULLS) OVER wn AS next_id,
             first_value(CASE WHEN treated = 0 THEN v END
                         IGNORE NULLS) OVER wn AS next_v
      FROM base
      WINDOW
        wp AS (ORDER BY v, treated, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (ORDER BY v, treated, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    pairs AS (
      SELECT v AS tv,
             CASE WHEN prev_id IS NULL THEN next_v
                  WHEN next_id IS NULL THEN prev_v
                  WHEN v - prev_v <= next_v - v THEN prev_v
                  ELSE next_v END AS cv
      FROM o WHERE treated = 1
        AND (prev_id IS NOT NULL OR next_id IS NOT NULL)
    ),
    agg AS (
      SELECT COUNT(*) AS n_pairs,
             SUM(CAST(tv AS DECIMAL(38,0))) AS st,
             SUM(CAST(cv AS DECIMAL(38,0))) AS sc
      FROM pairs
    )
    SELECT n_pairs,
           ((((CAST(substr(lpad(replace(CAST((st) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((st) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((st) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) / CAST(n_pairs AS DOUBLE)) / 100.0)
             AS treated_mean,
           ((((CAST(substr(lpad(replace(CAST((sc) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sc) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sc) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) / CAST(n_pairs AS DOUBLE)) / 100.0)
             AS control_mean,
           (((((CAST(substr(lpad(replace(CAST((st) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((st) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((st) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) / CAST(n_pairs AS DOUBLE)) / 100.0)
            - ((((CAST(substr(lpad(replace(CAST((sc) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sc) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sc) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) / CAST(n_pairs AS DOUBLE)) / 100.0))
             AS uplift
    FROM agg
    """,
)
def stats_matched_uplift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / matched-pairs uplift — the causal contrast the 1-D
    matcher feeds: mean treated value minus mean matched-control
    value over the nearest-neighbor pairs (join-nn-match-1d's
    machinery inlined), DECIMAL-exact numerators and limb closes.
    Here treatment correlates with its own matching covariate so the
    estimate is ≈0 by construction — the pipeline shape, ready for a
    real outcome column."""
    from medallion_delta_lake_spark.operators.agg import limb_double

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_id",
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias(
            "treated"
        ),
    )
    # carries via _bucketed_nn_carry (r12 global-window sweep): see
    # join-nn-match-1d — no single-partition sort of all events
    o = _bucketed_nn_carry(base).select(
        "v", "treated", "prev_id", "prev_v", "next_id", "next_v"
    )
    pick_prev = (
        F.col("next_id").isNull()
        | (
            F.col("prev_id").isNotNull()
            & (
                F.col("v") - F.col("prev_v")
                <= F.col("next_v") - F.col("v")
            )
        )
    )
    pairs = o.filter(
        (F.col("treated") == 1)
        & (F.col("prev_id").isNotNull() | F.col("next_id").isNotNull())
    ).select(
        F.col("v").alias("tv"),
        F.when(pick_prev, F.col("prev_v"))
        .otherwise(F.col("next_v"))
        .alias("cv"),
    )
    agg = pairs.groupBy().agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("tv").cast("decimal(38,0)")).alias("st"),
        F.sum(F.col("cv").cast("decimal(38,0)")).alias("sc"),
    )
    npd = F.col("n_pairs").cast("double")
    tm = (limb_double(F.col("st")) / npd) / 100.0
    cm = (limb_double(F.col("sc")) / npd) / 100.0
    return agg.select(
        "n_pairs",
        tm.alias("treated_mean"),
        cm.alias("control_mean"),
        (tm - cm).alias("uplift"),
    )


@query(
    "stats-durbin-watson",
    # DW over each type's daily-revenue series: numerator = sum of
    # squared LAG diffs (DECIMAL-exact, centering-invariant),
    # denominator = n*sum(v^2) - (sum v)^2 via limb; one shared close
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(ts AS DATE) AS dy,
             CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 100, 0)
                  AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)
    ),
    l AS (
      SELECT g, v, lag(v) OVER (PARTITION BY g ORDER BY dy) AS pv
      FROM d
    ),
    agg AS (
      SELECT g, COUNT(*) AS n,
             SUM(CAST(v AS DECIMAL(38,0))) AS s,
             SUM(CAST(v AS DECIMAL(19,0)) * v) AS q,
             SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(38,0))
                 ELSE CAST(CAST(v - pv AS DECIMAL(19,0)) * (v - pv)
                      AS DECIMAL(38,0)) END) AS num
      FROM l GROUP BY g
    )
    SELECT g AS event_type, CAST(n AS BIGINT) AS n_days,
           (((CAST(substr(lpad(replace(CAST((num) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((num) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((num) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) / ((((CAST(substr(lpad(replace(CAST((q) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((q) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((q) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - (((CAST(substr(lpad(replace(CAST((s) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((s) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((s) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) / CAST(n AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((s) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((s) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((s) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)))))
             AS dw_stat
    FROM agg
    """,
)
def stats_durbin_watson_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Durbin–Watson — first-order autocorrelation test on
    each event type's daily-revenue series (DW ≈ 2 means no serial
    correlation; the classic companion to stats-autocorr-lag1's point
    estimate). Numerator Σ(v_t − v_{t−1})² is centering-invariant so
    no residual step is needed; both sums accumulate in DECIMAL and
    limb-convert once; the close is one shared chain. One daily
    rollup + one keyed LAG window."""
    from medallion_delta_lake_spark.operators.agg import limb_double

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cents = F.round(F.col("value").cast("double") * 100, 0).cast(
        "bigint"
    )
    d = ev.groupBy(
        F.col("event_type").alias("g"),
        F.col("ts").cast("date").alias("dy"),
    ).agg(F.sum(cents).cast("bigint").alias("v"))
    l = d.select(
        "g",
        "v",
        F.lag("v").over(W.partitionBy("g").orderBy("dy")).alias("pv"),
    )
    diff = F.col("v") - F.col("pv")
    agg = l.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v")).alias(
            "q"
        ),
        F.sum(
            F.when(
                F.col("pv").isNull(),
                F.lit(0).cast("decimal(38,0)"),
            ).otherwise(
                (diff.cast("decimal(19,0)") * diff).cast(
                    "decimal(38,0)"
                )
            )
        ).alias("num"),
    )
    nd = F.col("n").cast("double")
    sd = limb_double(F.col("s"))
    return agg.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n_days"),
        (
            limb_double(F.col("num"))
            / (limb_double(F.col("q")) - (sd / nd) * sd)
        ).alias("dw_stat"),
    )


@query(
    "events-new-vs-returning",
    # growth split per day: first-seen day per user (one grouped MIN),
    # then integer conditional counts per active day
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS dy FROM events
    ),
    fs AS (
      SELECT user_id, MIN(dy) AS first_dy FROM ud GROUP BY user_id
    )
    SELECT ud.dy AS d,
           CAST(SUM(CASE WHEN ud.dy = fs.first_dy THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN ud.dy > fs.first_dy THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users,
           (CAST(SUM(CASE WHEN ud.dy > fs.first_dy THEN 1 ELSE 0 END)
                 AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) AS returning_share
    FROM ud JOIN fs ON ud.user_id = fs.user_id
    GROUP BY ud.dy
    """,
)
def events_new_vs_returning_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """analytics / new-vs-returning daily split — each active day's
    users partitioned by whether it is their first-seen day (the
    growth-accounting companion to DAU/WAU/MAU). One distinct
    user-day frame, one grouped MIN, one user-keyed join back;
    integer counts and one ratio."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("dy")
    ).distinct()
    fs = ud.groupBy("user_id").agg(F.min("dy").alias("first_dy"))
    j = ud.join(fs, "user_id")
    return j.groupBy(F.col("dy").alias("d")).agg(
        F.sum((F.col("dy") == F.col("first_dy")).cast("int"))
        .cast("bigint")
        .alias("new_users"),
        F.sum((F.col("dy") > F.col("first_dy")).cast("int"))
        .cast("bigint")
        .alias("returning_users"),
        (
            F.sum((F.col("dy") > F.col("first_dy")).cast("int")).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("returning_share"),
    )


@query(
    "window-donchian-channel",
    # trailing-20 extremes envelope per key: integer frame MIN/MAX,
    # breakout flags by integer comparison; full frames only
    oracle="""
    WITH o AS (
      SELECT user_id, event_id,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
               AS v,
             ROW_NUMBER() OVER w AS rn,
             MAX(CAST(round(CAST(value AS DOUBLE) * 100, 0)
                 AS BIGINT)) OVER f AS hi,
             MIN(CAST(round(CAST(value AS DOUBLE) * 100, 0)
                 AS BIGINT)) OVER f AS lo
      FROM events WHERE value IS NOT NULL
      WINDOW
        w AS (PARTITION BY user_id ORDER BY ts, event_id),
        f AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           CAST(v AS DOUBLE) / 100.0 AS value,
           CAST(hi AS DOUBLE) / 100.0 AS channel_hi,
           CAST(lo AS DOUBLE) / 100.0 AS channel_lo,
           CASE WHEN v > hi THEN 1 WHEN v < lo THEN -1 ELSE 0 END
             AS breakout
    FROM o WHERE rn >= 21
    """,
)
def window_donchian_channel_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """window / Donchian channel — the trailing-20 high/low envelope
    with breakout flags (the turtle-trading / alert-band primitive;
    also the min-max band ops teams draw around any metric). The
    frame excludes the current row so a new extreme registers as a
    breakout; all comparisons are integer cents — float-free except
    the three reported values. One keyed window sort."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = F.round(F.col("value").cast("double") * 100, 0).cast("bigint")
    wbase = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = wbase.rowsBetween(-20, -1)
    o = ev.select(
        "user_id",
        "event_id",
        v.alias("v"),
        F.row_number().over(wbase).alias("rn"),
        F.max(v).over(wf).alias("hi"),
        F.min(v).over(wf).alias("lo"),
    )
    return o.filter(F.col("rn") >= 21).select(
        "user_id",
        "event_id",
        (F.col("v").cast("double") / 100.0).alias("value"),
        (F.col("hi").cast("double") / 100.0).alias("channel_hi"),
        (F.col("lo").cast("double") / 100.0).alias("channel_lo"),
        F.when(F.col("v") > F.col("hi"), 1)
        .when(F.col("v") < F.col("lo"), -1)
        .otherwise(0)
        .alias("breakout"),
    )


@query(
    "stats-sign-test",
    # one-sample sign test on daily deltas per type: integer up/down
    # censuses, the continuity-corrected z in one shared chain
    oracle="""
    WITH d AS (
      SELECT event_type AS g, CAST(ts AS DATE) AS dy,
             CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 100, 0)
                  AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)
    ),
    l AS (
      SELECT g, v - lag(v) OVER (PARTITION BY g ORDER BY dy) AS dlt
      FROM d
    ),
    c AS (
      SELECT g,
             CAST(SUM(CASE WHEN dlt > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
             CAST(SUM(CASE WHEN dlt < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
      FROM l WHERE dlt IS NOT NULL AND dlt <> 0 GROUP BY g
    )
    SELECT g AS event_type, n_up, n_down,
           CASE WHEN n_up + n_down = 0 THEN 0.0
                WHEN n_up > n_down THEN
                  (2.0 * CAST(n_up AS DOUBLE)
                   - CAST(n_up + n_down AS DOUBLE) - 1.0)
                  / sqrt(CAST(n_up + n_down AS DOUBLE))
                WHEN n_down > n_up THEN
                  (2.0 * CAST(n_up AS DOUBLE)
                   - CAST(n_up + n_down AS DOUBLE) + 1.0)
                  / sqrt(CAST(n_up + n_down AS DOUBLE))
                ELSE 0.0 END AS z_stat
    FROM c
    """,
)
def stats_sign_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / sign test — are each type's daily revenue changes
    biased up or down, ignoring magnitudes entirely (the most
    assumption-free trend check; complements Mann–Kendall's pair
    census and the runs test). Up/down counts are integers off one
    keyed LAG; the continuity-corrected normal z is the only float,
    in one shared branch-explicit chain."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cents = F.round(F.col("value").cast("double") * 100, 0).cast(
        "bigint"
    )
    d = ev.groupBy(
        F.col("event_type").alias("g"),
        F.col("ts").cast("date").alias("dy"),
    ).agg(F.sum(cents).cast("bigint").alias("v"))
    l = d.select(
        "g",
        (
            F.col("v")
            - F.lag("v").over(W.partitionBy("g").orderBy("dy"))
        ).alias("dlt"),
    )
    c = l.filter(
        F.col("dlt").isNotNull() & (F.col("dlt") != 0)
    ).groupBy("g").agg(
        F.sum((F.col("dlt") > 0).cast("int"))
        .cast("bigint")
        .alias("n_up"),
        F.sum((F.col("dlt") < 0).cast("int"))
        .cast("bigint")
        .alias("n_down"),
    )
    m = (F.col("n_up") + F.col("n_down")).cast("double")
    up = F.col("n_up").cast("double")
    return c.select(
        F.col("g").alias("event_type"),
        "n_up",
        "n_down",
        F.when(F.col("n_up") + F.col("n_down") == 0, F.lit(0.0))
        .when(
            F.col("n_up") > F.col("n_down"),
            (2.0 * up - m - 1.0) / F.sqrt(m),
        )
        .when(
            F.col("n_down") > F.col("n_up"),
            (2.0 * up - m + 1.0) / F.sqrt(m),
        )
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    )


@query(
    "stats-two-proportion-z",
    # the A/B-test primitive: conversion-rate difference between two
    # hash cohorts, pooled-variance z; all counts integer, the close
    # is one shared chain of +,-,x,/,sqrt
    oracle="""
    WITH base AS (
      SELECT user_id % 2 AS cohort,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    c AS (
      SELECT cohort, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS k
      FROM base GROUP BY cohort
    ),
    w AS (
      SELECT MAX(CASE WHEN cohort = 0 THEN n END) AS n0,
             MAX(CASE WHEN cohort = 0 THEN k END) AS k0,
             MAX(CASE WHEN cohort = 1 THEN n END) AS n1,
             MAX(CASE WHEN cohort = 1 THEN k END) AS k1
      FROM c
    )
    SELECT CAST(n0 AS BIGINT) AS n_a, k0 AS conv_a,
           CAST(n1 AS BIGINT) AS n_b, k1 AS conv_b,
           (CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS rate_a,
           (CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)) AS rate_b,
           ((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE))
            - (CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
             AS rate_diff,
           (((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             - (CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
            / sqrt((CAST(k0 + k1 AS DOUBLE)
                    / CAST(n0 + n1 AS DOUBLE))
                   * (1.0 - (CAST(k0 + k1 AS DOUBLE)
                             / CAST(n0 + n1 AS DOUBLE)))
                   * (1.0 / CAST(n0 AS DOUBLE)
                      + 1.0 / CAST(n1 AS DOUBLE)))) AS z_stat
    FROM w
    """,
)
def stats_two_proportion_z_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stats / two-proportion z-test — the A/B-test readout: purchase
    conversion difference between two deterministic user cohorts,
    pooled-variance z. Counts are one grouped pass; the close is a
    single fully-parenthesized chain of the IEEE-exact operators.
    (Cohort here is a user-id parity split — swap in the experiment
    assignment column in production.)"""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 2).alias("cohort"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    c = base.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("k"),
    )
    w = c.groupBy().agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("cohort") == 0, F.col("k"))).alias("k0"),
        F.max(F.when(F.col("cohort") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("cohort") == 1, F.col("k"))).alias("k1"),
    )
    n0, k0 = F.col("n0").cast("double"), F.col("k0").cast("double")
    n1, k1 = F.col("n1").cast("double"), F.col("k1").cast("double")
    ra, rb = k0 / n0, k1 / n1
    pool = (k0 + k1) / (n0 + n1)
    return w.select(
        F.col("n0").cast("bigint").alias("n_a"),
        F.col("k0").alias("conv_a"),
        F.col("n1").cast("bigint").alias("n_b"),
        F.col("k1").alias("conv_b"),
        ra.alias("rate_a"),
        rb.alias("rate_b"),
        (rb - ra).alias("rate_diff"),
        (
            (rb - ra)
            / F.sqrt(
                pool * (1.0 - pool) * (1.0 / n0 + 1.0 / n1)
            )
        ).alias("z_stat"),
    )


@query(
    "stats-cuped-theta",
    # CUPED: theta = cov(x,y)/var(x) from pre/post per-user revenue,
    # all five power sums DECIMAL-exact + limb; the split point is the
    # integer midpoint of the observed time range (engine-exact)
    oracle="""
    WITH rng AS (
      SELECT (CAST(floor(epoch(MIN(ts))) AS BIGINT)
              + CAST(floor(epoch(MAX(ts))) AS BIGINT)) // 2 AS mid
      FROM events WHERE value IS NOT NULL
    ),
    u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       < rng.mid
                  THEN CAST(round(CAST(value AS DOUBLE) * 100, 0)
                       AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       >= rng.mid
                  THEN CAST(round(CAST(value AS DOUBLE) * 100, 0)
                       AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      FROM events, rng WHERE value IS NOT NULL
      GROUP BY user_id
    ),
    p AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(19,0)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(19,0)) * y) AS syy,
             SUM(CAST(x AS DECIMAL(19,0)) * y) AS sxy
      FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           ((CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)))
            / (CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE))))
             AS theta,
           (((CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)))
             * (CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE))))
            / ((CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)))
               * (CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((syy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((syy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((syy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)))))
             AS corr2
    FROM p
    """,
)
def stats_cuped_theta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / CUPED adjustment coefficient — the experimentation
    platform's variance-reduction workhorse: θ = cov(x, y)/var(x)
    between each user's pre-period covariate (first half of the
    observed range, integer midpoint split) and post-period metric;
    corr² IS the variance-reduction fraction CUPED buys. Five power
    sums, DECIMAL-exact off integer cents, limb conversions, one
    fully-parenthesized shared close. One grouped pass per user +
    a broadcast range row."""
    from medallion_delta_lake_spark.operators.agg import limb_double

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    sec = F.col("ts").cast("long")
    rng = ev.agg(
        F.expr(
            "(CAST(min(ts) AS BIGINT) + CAST(max(ts) AS BIGINT)) div 2"
        ).alias("mid")
    )
    cents = F.round(F.col("value").cast("double") * 100, 0).cast(
        "bigint"
    )
    u = (
        ev.crossJoin(F.broadcast(rng))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(sec < F.col("mid"), cents).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(sec >= F.col("mid"), cents).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    p = u.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias(
            "sxx"
        ),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).alias(
            "syy"
        ),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias(
            "sxy"
        ),
    )
    nd = F.col("n").cast("double")
    sx, sy = limb_double(F.col("sx")), limb_double(F.col("sy"))
    sxx, syy = limb_double(F.col("sxx")), limb_double(F.col("syy"))
    sxy = limb_double(F.col("sxy"))
    cov_n = nd * sxy - sx * sy
    varx_n = nd * sxx - sx * sx
    vary_n = nd * syy - sy * sy
    return p.select(
        F.col("n").cast("bigint").alias("n_users"),
        (cov_n / varx_n).alias("theta"),
        ((cov_n * cov_n) / (varx_n * vary_n)).alias("corr2"),
    )


@query(
    "stats-srm-check",
    # sample-ratio mismatch: the A/B guardrail that catches broken
    # assignment BEFORE anyone reads the metrics; 2-cell chi-square
    # vs the expected 50/50, all-integer core
    oracle="""
    WITH c AS (
      SELECT user_id % 2 AS cohort, COUNT(*) AS n
      FROM (SELECT DISTINCT user_id FROM events)
      GROUP BY user_id % 2
    ),
    w AS (
      SELECT MAX(CASE WHEN cohort = 0 THEN n END) AS n0,
             MAX(CASE WHEN cohort = 1 THEN n END) AS n1
      FROM c
    )
    SELECT CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
           (CAST(n0 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
             AS ratio_a,
           ((CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE))
            / CAST(n0 + n1 AS DOUBLE)) AS chi2,
           (CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n1 AS DOUBLE))
             / CAST(n0 + n1 AS DOUBLE) > 3.841 AS srm_flag
    FROM w
    """,
)
def stats_srm_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / sample-ratio-mismatch check — the guardrail every
    experiment platform runs before reading metrics: a 2-cell
    chi-square of distinct-user assignment counts against the
    designed 50/50 split, flagged at the 95% critical value (3.841,
    df=1). Integer counts; the close is one shared chain; the flag is
    a float comparison (not a reduction)."""
    ev = table(spark, sf_dir, "events")
    c = (
        ev.select("user_id")
        .distinct()
        .groupBy((F.col("user_id") % 2).alias("cohort"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = c.groupBy().agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("cohort") == 1, F.col("n"))).alias("n1"),
    )
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    chi2 = ((n0 - n1) * (n0 - n1)) / (n0 + n1)
    return w.select(
        F.col("n0").cast("bigint").alias("n_a"),
        F.col("n1").cast("bigint").alias("n_b"),
        (n0 / (n0 + n1)).alias("ratio_a"),
        chi2.alias("chi2"),
        (chi2 > 3.841).alias("srm_flag"),
    )


@query(
    "dedup-rate-by-source",
    # corpus QA: exact-duplicate share per source from the portable
    # content hash — integer distinct/total counts, one ratio
    oracle="""
    WITH h AS (
      SELECT source,
             CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS hh
      FROM documents
    ),
    s AS (
      SELECT source, COUNT(*) AS n_docs,
             COUNT(DISTINCT hh) AS n_distinct
      FROM h GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_docs - n_distinct AS BIGINT) AS n_dups,
           (CAST(n_docs - n_distinct AS DOUBLE)
            / CAST(n_docs AS DOUBLE)) AS dup_rate
    FROM s
    """,
)
def dedup_rate_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup / duplication rate per source — the corpus-QA scorecard
    that decides which feeds need dedup attention (and the health
    metric tracked after every ingest): exact-content duplicate share
    per source from the portable 60-bit md5 hash. Shuffles carry
    (source, hash), never text; integer counts close with one
    ratio."""
    from medallion_delta_lake_spark.functions.hashing import h64

    d = table(spark, sf_dir, "documents")
    h = d.select("source", h64(F.col("text")).alias("hh"))
    s = h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("hh").alias("n_distinct"),
    )
    return s.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        (F.col("n_docs") - F.col("n_distinct"))
        .cast("bigint")
        .alias("n_dups"),
        (
            (F.col("n_docs") - F.col("n_distinct")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


@query(
    "stats-ols-slope-group",
    # grouped OLS: quantity-on-price slope per brand from five
    # DECIMAL power sums (integer cents x, integer units y), limb
    # conversions, one fully-parenthesized shared close
    oracle="""
    WITH b AS (
      SELECT p.p_brand AS g,
             CAST(round(CAST(l.l_extendedprice AS DOUBLE) * 100, 0)
                  AS BIGINT) AS x,
             CAST(round(CAST(l.l_quantity AS DOUBLE), 0) AS BIGINT)
               AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    s AS (
      SELECT g, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x AS DECIMAL(19,0)) * x) AS sxx,
             SUM(CAST(x AS DECIMAL(19,0)) * y) AS sxy
      FROM b GROUP BY g
    )
    SELECT g AS p_brand, CAST(n AS BIGINT) AS n,
           ((CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sxy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sy) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)))
            / (CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sxx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sx) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE))))
             AS slope_units_per_cent
    FROM s
    """,
)
def stats_ols_slope_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / grouped OLS slope — quantity regressed on price per
    brand (the demand-curve screening pass; TPC-H's uniform data
    makes it ≈0, which is itself the null check). Five power sums per
    group, DECIMAL-exact off integer cents/units, limb conversions
    past 2^53, one shared close — the same discipline as
    agg-corr-matrix applied groupwise. One join shuffle + one grouped
    pass."""
    from medallion_delta_lake_spark.operators.agg import limb_double

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice").cast("double") * 100, 0)
        .cast("bigint")
        .alias("x"),
        F.round(F.col("l_quantity").cast("double"), 0)
        .cast("bigint")
        .alias("y"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("g"), "x", "y"
    )
    s = b.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias(
            "sxx"
        ),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias(
            "sxy"
        ),
    )
    nd = F.col("n").cast("double")
    sx, sy = limb_double(F.col("sx")), limb_double(F.col("sy"))
    sxx, sxy = limb_double(F.col("sxx")), limb_double(F.col("sxy"))
    return s.select(
        F.col("g").alias("p_brand"),
        F.col("n").cast("bigint").alias("n"),
        (
            (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
        ).alias("slope_units_per_cent"),
    )


@query(
    "agg-xyz-classification",
    # supply-chain XYZ: weekly demand CV per part (weeks via integer
    # epoch-day arithmetic -- no engine week-of-year lore), class
    # cutoffs are float comparisons, output is the integer census
    oracle="""
    WITH wk AS (
      SELECT l_partkey,
             CAST(floor(epoch(l_shipdate)) AS BIGINT)
               // 86400 // 7 AS week,
             CAST(SUM(CAST(round(CAST(l_quantity AS DOUBLE), 0)
                  AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey, 2
    ),
    s AS (
      SELECT l_partkey, COUNT(*) AS n,
             SUM(CAST(q AS DECIMAL(38,0))) AS sq,
             SUM(CAST(q AS DECIMAL(19,0)) * q) AS sqq
      FROM wk GROUP BY l_partkey
    ),
    cv AS (
      SELECT l_partkey,
             (sqrt((CAST(n AS DOUBLE) * ((CAST(substr(lpad(replace(CAST((sqq) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sqq) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sqq) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) - ((CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) * ((CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)))
                   / (CAST(n AS DOUBLE)
                      * (CAST(n AS DOUBLE) - 1.0)))
              / (((CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 1, 13) AS DOUBLE) * 1e13 + CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 14, 13) AS DOUBLE)) * 1e13 + CAST(substr(lpad(replace(CAST((sq) AS VARCHAR), '.', ''), 39, '0'), 27, 13) AS DOUBLE)) / CAST(n AS DOUBLE))) AS cv
      FROM s WHERE n >= 2 AND sq > 0
    )
    SELECT CASE WHEN cv < 0.5 THEN 'X'
                WHEN cv < 1.0 THEN 'Y'
                ELSE 'Z' END AS xyz_class,
           COUNT(*) AS n_parts
    FROM cv GROUP BY 1
    """,
)
def agg_xyz_classification_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / XYZ demand-variability classification — each part's
    weekly-demand coefficient of variation bucketed X (<0.5, steady),
    Y (<1.0), Z (volatile): the supply-chain planning census that
    pairs with agg-pareto-abc's value dimension. Weeks come from
    integer epoch-day arithmetic (the repo's engine-safe week);
    per-part sums are DECIMAL-exact; the CV is one shared chain and
    the class cut is a comparison, so the output census is exact."""
    from medallion_delta_lake_spark.operators.agg import limb_double

    li = table(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        "l_partkey",
        F.expr(
            "CAST(CAST(l_shipdate AS TIMESTAMP) AS BIGINT)"
            " div 86400 div 7"
        ).alias("week"),
    ).agg(
        F.sum(
            F.round(F.col("l_quantity").cast("double"), 0).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("q")
    )
    s = wk.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("sq"),
        F.sum(F.col("q").cast("decimal(19,0)") * F.col("q")).alias(
            "sqq"
        ),
    )
    nd = F.col("n").cast("double")
    sq, sqq = limb_double(F.col("sq")), limb_double(F.col("sqq"))
    cv = (
        F.sqrt((nd * sqq - sq * sq) / (nd * (nd - 1.0)))
        / (sq / nd)
    )
    c = s.filter((F.col("n") >= 2) & (F.col("sq") > 0)).select(
        cv.alias("cv")
    )
    return (
        c.select(
            F.when(F.col("cv") < 0.5, "X")
            .when(F.col("cv") < 1.0, "Y")
            .otherwise("Z")
            .alias("xyz_class")
        )
        .groupBy("xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
