"""Round-14-cohort query faces — REGISTERED in ROUND 13 alongside
the r13 cohort (VERDICT r12 #1 asked for both cohorts' 20 faces in
the r13 window: 20 registrations + 30 r6-stale re-checks fill the
50 slots). Drafted + oracle-proven at two SFs in round 12 while the
registry was frozen; registration is the same mechanical
draft→@query move as r10→r11, r11→r12 and the r13 hand-off
(SURVEY.md §7 Phase 9).

The cohort widens the thinnest families and graduates the last two
pytest-only maintenance paths:

- cluster-kmeans-refine — ONE engine-exact Lloyd iteration (assign →
  quantized-integer centroid update → reassign) with per-cluster
  movement counts; the `cluster` family's first refit face (the
  balance face only audits a fixed assignment) — the "re-fit before
  cluster-parallel processing" step its own docstring promises;
- dedup-semantic-bucketed — SemDeDup-style semantic near-dup flags
  over the LSH coarse cells (keep-first-seen; the embedding-space
  twin of the lexical MinHash pipeline);
- events-retention-triangle — the classic cohort-week × offset
  retention matrix (the activation/retention report);
- stats-cochran-q — Cochran's Q for k correlated binary treatments
  (the repeated-measures test the stats family lacked; Friedman
  covers ordinal, McNemar only k=2);
- window-kaufman-er — Kaufman efficiency ratio per user (trailing
  |net| / path-length over 8 events), exact integer cents arithmetic;
- agg-trimmed-mean — 10% two-sided trimmed mean per event type, the
  rank riding mleval.bucketed_global_rank with
  partition_cols=['event_type'] (the r12 scale machinery exercised
  in its grouped mode);
- ml-fbeta-sweep — decile-threshold F₀.₅/F₁/F₂ sweep from integer
  confusion cells (denominator-cleared rational betas);
- stats-cohens-d — pooled-SD standardized mean difference (effect
  size) between purchase and view values from exact integer
  cents/cents² sums;
- maintenance-vacuum-retention — overwrite-then-VACUUM: the data-file
  GC path (sources/delta_log.py:vacuum, pytest-only until now) as a
  driver face — tombstoned seed files deleted (count pinned in the
  output), surviving snapshot content exact;
- maintenance-checkpoint-v2 — V2 (uuid-manifest + sidecars)
  checkpoint mid-history, then cleanup_log deletes every
  pre-checkpoint commit JSON — replay MUST reconstruct the snapshot
  from the checkpoint alone (the log-retention path driven end to
  end, cleaned-commit count pinned).

tests/test_r14_drafts.py proves every face here oracle-green at two
SFs, and tests/test_oracle_dtype_lint.py lints these oracles' OUTPUT
dtypes (no HUGEINT) with the rest.
"""

from __future__ import annotations

import shutil as _shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medallion_delta_lake_spark.operators import similarity as sim
from medallion_delta_lake_spark.plans.queries_ml import (
    _bucket_sql,
    _cos_sql,
)
from medallion_delta_lake_spark.plans.queries_mleval import (
    _BASE_SQL,
    _label_events,
)
from medallion_delta_lake_spark.plans.registry import query, scratch, table


_K = 8
_DIMS = 64

# quantized squared-gap term shared by both assignment passes of the
# kmeans oracle (centroid value arrives as a DOUBLE expression)
def _qgap_sql(x: str, c: str) -> str:
    return (
        f"CAST(floor((CAST({x} AS DOUBLE) - {c})"
        f" * (CAST({x} AS DOUBLE) - {c}) * 1e12) AS BIGINT)"
    )


@query(
    "cluster-kmeans-refine",
    # one exact Lloyd iteration: integer-quantized L2 argmin (ties to
    # the lowest cid), centroid update from floor(x*1e6) BIGINT
    # component sums closed as (si/n)/1e6, reassign — per-cluster
    # sizes before/after plus movers-in are all integers, so the row
    # hash proves assignment AND update arithmetic in one face
    oracle=f"""
    WITH idx AS (SELECT CAST(range AS INT) + 1 AS i FROM range({_DIMS})),
    c0 AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings WHERE vec_id < {_K}
    ),
    d0 AS (
      SELECT e.vec_id, c0.cid,
             SUM({_qgap_sql("e.embedding[idx.i]", "CAST(c0.cv[idx.i] AS DOUBLE)")}) AS d2q
      FROM embeddings e, c0, idx
      GROUP BY e.vec_id, c0.cid
    ),
    a0 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2q, cid) AS rn
        FROM d0
      ) WHERE rn = 1
    ),
    cs AS (
      SELECT a0.cid, idx.i,
             SUM(CAST(floor(CAST(e.embedding[idx.i] AS DOUBLE) * 1e6)
                 AS BIGINT)) AS si,
             COUNT(*) AS n
      FROM a0 JOIN embeddings e USING (vec_id), idx
      GROUP BY a0.cid, idx.i
    ),
    c0v AS (
      SELECT cid, idx.i, CAST(cv[idx.i] AS DOUBLE) AS cval
      FROM c0, idx
    ),
    cf AS (
      SELECT c0v.cid, c0v.i,
             COALESCE((CAST(cs.si AS DOUBLE) / CAST(cs.n AS DOUBLE))
                      / 1e6, c0v.cval) AS cval
      FROM c0v LEFT JOIN cs ON c0v.cid = cs.cid AND c0v.i = cs.i
    ),
    d1 AS (
      SELECT e.vec_id, cf.cid,
             SUM({_qgap_sql("e.embedding[cf.i]", "cf.cval")}) AS d2q
      FROM embeddings e, cf
      GROUP BY e.vec_id, cf.cid
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d2q, cid) AS rn
        FROM d1
      ) WHERE rn = 1
    ),
    n0 AS (SELECT cid, COUNT(*) AS n0 FROM a0 GROUP BY cid),
    n1 AS (
      SELECT a1.cid, COUNT(*) AS n1,
             CAST(SUM(CASE WHEN a0.cid <> a1.cid THEN 1 ELSE 0 END)
                  AS BIGINT) AS moved_in
      FROM a1 JOIN a0 USING (vec_id) GROUP BY a1.cid
    )
    SELECT c0.cid,
           COALESCE(n0.n0, 0) AS n0,
           COALESCE(n1.n1, 0) AS n1,
           COALESCE(n1.moved_in, 0) AS moved_in
    FROM c0 LEFT JOIN n0 USING (cid) LEFT JOIN n1 USING (cid)
    """,
)
def cluster_kmeans_refine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster / one exact Lloyd iteration — the refit step the IVF
    coarse quantizer needs when the corpus drifts
    (operators/similarity.py:kmeans_step_exact): assign every vector
    to its nearest seed centroid (first-{k} init, quantized integer
    L2, ties to the lowest cid), recompute centroids from
    floor(x*1e6) BIGINT component sums — order-free, fully
    distributed — and reassign against the refined centroids.
    Output: per-cluster size before/after + movers-in, all integers.
    Unlike kmeans_centroids' decimal(38,12) means (engine-divergent;
    see agg-vector-mean), every step here is oracle-exact. Shapes:
    two broadcast-NLJ assigns (shuffle = one row/vector), one
    (cid, dim) integer aggregate (shuffle = k·dims rows), a k-row
    reassembly — no window, no collect."""
    e = table(spark, sf_dir, "embeddings")
    c0 = e.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    step = sim.kmeans_step_exact(e, c0)
    n0f = step.groupBy(F.col("cid0").alias("cid")).agg(
        F.count(F.lit(1)).alias("n0")
    )
    n1f = step.groupBy(F.col("cid1").alias("cid")).agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum(
            (F.col("cid0") != F.col("cid1")).cast("int")
        ).cast("bigint").alias("moved_in"),
    )
    zero = F.lit(0).cast("bigint")
    return (
        c0.select("cid")
        .join(n0f, "cid", "left")
        .join(n1f, "cid", "left")
        .select(
            "cid",
            F.coalesce(F.col("n0"), zero).alias("n0"),
            F.coalesce(F.col("n1"), zero).alias("n1"),
            F.coalesce(F.col("moved_in"), zero).alias("moved_in"),
        )
    )


_TAU = 0.3


@query(
    "dedup-semantic-bucketed",
    # SemDeDup keep-first-seen: dup iff a lower-id same-LSH-bucket
    # vector has cosine >= tau; per-label census is all-integer
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding,
             {_bucket_sql("embedding")} AS bkt
      FROM embeddings
    ),
    dup AS (
      SELECT DISTINCT q.vec_id
      FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id > c.vec_id
      WHERE {_cos_sql("q.embedding", "c.embedding")}
            >= CAST({_TAU} AS DOUBLE)
    )
    SELECT b.label, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dupes,
           COUNT(*) - CAST(SUM(CASE WHEN d.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM b LEFT JOIN dup d ON b.vec_id = d.vec_id
    GROUP BY b.label
    """,
)
def dedup_semantic_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup / semantic near-dup census — SemDeDup-style keep/discard
    over the embedding space (operators/similarity.py:semantic_dupes):
    coarse-cell = the 6-plane hyperplane LSH bucket, a vector is a dup
    iff a LOWER-id cell-mate has cosine ≥ τ=0.3 (keep-first-seen —
    the decision semantic-dedup pipelines apply before training; τ is
    corpus-calibrated: testdata max pairwise cosine ≈ 0.48). The
    embedding-space twin of the lexical dedup-minhash-lsh family.
    Shapes: bucket ids are row expressions, candidates ride a bucket
    equi-join (never all-pairs), the flag is a distinct + left join —
    every shuffle keyed on bucket/id."""
    e = table(spark, sf_dir, "embeddings")
    flags = sim.semantic_dupes(e, tau=_TAU, n_planes=6, dims=_DIMS)
    isd = F.col("is_dup").cast("int")
    return (
        e.select("vec_id", "label")
        .join(flags, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(isd).cast("bigint").alias("n_dupes"),
            (F.count(F.lit(1)) - F.sum(isd)).cast("bigint").alias(
                "n_kept"
            ),
        )
    )


@query(
    "events-retention-triangle",
    # cohort week = first active epoch-week per user; count distinct
    # active users per (cohort, offset) — the retention matrix
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
      FROM events WHERE user_id IS NOT NULL
    ),
    coh AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk GROUP BY user_id)
    SELECT coh.cohort_wk, wk.wk - coh.cohort_wk AS week_offset,
           COUNT(*) AS n_users
    FROM wk JOIN coh USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_triangle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events / cohort retention triangle — the activation report:
    users cohorted by first-active epoch-week (CAST ts AS LONG div
    604800, the repo floor-epoch convention), counted once per
    (cohort, week-offset) cell. Shapes: one distinct on (user, week)
    — rows collapse ~70× before anything else — a user-keyed min, a
    small-key join and aggregate; all shuffles on user/cohort keys,
    no window."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    wk = ev.select(
        "user_id",
        F.expr("CAST(ts AS LONG) div 604800").alias("wk"),
    ).distinct()
    coh = wk.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        wk.join(coh, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_CQ_THRESH = 14


@query(
    "stats-cochran-q",
    # k=5 correlated binary treatments (>=14 events of each type per
    # user); Q closes from integer row/column sums — the only double
    # is the final division
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_type,
             CASE WHEN COUNT(*) >= {_CQ_THRESH} THEN 1 ELSE 0 END AS x
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id, event_type
    ),
    ri AS (SELECT user_id, CAST(SUM(x) AS BIGINT) AS r FROM x GROUP BY user_id),
    cj AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS c FROM x GROUP BY event_type),
    t AS (
      SELECT (SELECT COUNT(*) FROM ri) AS n_users,
             (SELECT CAST(SUM(r) AS BIGINT) FROM ri) AS big_n,
             (SELECT CAST(SUM(r * r) AS BIGINT) FROM ri) AS sum_r2,
             (SELECT CAST(SUM(c * c) AS BIGINT) FROM cj) AS sum_c2,
             (SELECT COUNT(*) FROM cj) AS k
    )
    SELECT CAST(k AS INT) AS k, n_users, big_n,
           (CAST((k - 1) * (k * sum_c2 - big_n * big_n) AS DOUBLE)
            / nullif(CAST(k * big_n - sum_r2 AS DOUBLE), 0.0)) AS q_stat
    FROM t
    """,
)
def stats_cochran_q_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Cochran's Q — the k-treatment repeated-measures test
    for correlated BINARY responses (Friedman covers ordinal, McNemar
    only k=2): subjects = users, treatments = the 5 event types,
    success = ≥14 events of that type (the per-user per-type count is
    SF-invariant ≈13, so the binarization stays mixed at every SF).
    Absent (user, type) pairs are zeros and drop out of every sum, so
    the grid never materializes. Q = (k-1)(k·ΣCⱼ² − N²) /
    (k·N − ΣRᵢ²), all integer until the one closing division
    (NULL on the degenerate all-equal-rows case). Shapes: one
    (user, type) count, two tiny re-aggregations, a 1-row close."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    x = ev.groupBy("user_id", "event_type").agg(
        (F.count(F.lit(1)) >= _CQ_THRESH).cast("int").alias("x")
    )
    ri = x.groupBy("user_id").agg(
        F.sum("x").cast("bigint").alias("r")
    )
    cj = x.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("c")
    )
    rt = ri.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("r").cast("bigint").alias("big_n"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sum_r2"),
    )
    ct = cj.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
        F.count(F.lit(1)).cast("int").alias("k"),
    )
    t = rt.crossJoin(F.broadcast(ct))
    kk = F.col("k").cast("bigint")
    num = (kk - 1) * (kk * F.col("sum_c2") - F.col("big_n") * F.col("big_n"))
    den = kk * F.col("big_n") - F.col("sum_r2")
    return t.select(
        "k",
        "n_users",
        "big_n",
        (
            num.cast("double")
            / F.nullif(den.cast("double"), F.lit(0.0))
        ).alias("q_stat"),
    )


_ER_W = 8


@query(
    "window-kaufman-er",
    # trailing |net change| over path length on integer cents — the
    # trend-efficiency signal; exact integer num/den, one division
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, ts,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    d AS (
      SELECT user_id, event_id, ts, c,
             abs(c - lag(c, 1) OVER w) AS adiff,
             lag(c, {_ER_W}) OVER w AS c8
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, c, c8,
             SUM(adiff) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_ER_W - 1} PRECEDING AND CURRENT ROW)
               AS den
      FROM d
    )
    SELECT user_id, event_id,
           CAST(abs(c - c8) AS BIGINT) AS er_num,
           CAST(den AS BIGINT) AS er_den,
           (CAST(abs(c - c8) AS DOUBLE)
            / nullif(CAST(den AS DOUBLE), 0.0)) AS er
    FROM s WHERE c8 IS NOT NULL
    """,
)
def window_kaufman_er_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / Kaufman efficiency ratio — trend efficiency per user:
    |net change over the last {w}| / path length (Σ trailing absolute
    steps), on integer cents so numerator and denominator are exact
    and the single division is the only double (the adaptive-MA
    speed-control signal; complements window-rsi/-bollinger). Both
    engines order every window by (ts, event_id) — a total order, so
    lag offsets and the trailing frame agree exactly. All windows
    PARTITIONED by user (bounded per-user rows); no global window."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = base.select(
        "user_id",
        "event_id",
        "ts",
        "c",
        F.abs(F.col("c") - F.lag("c", 1).over(w)).alias("adiff"),
        F.lag("c", _ER_W).over(w).alias("c8"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_ER_W - 1), 0)
    )
    s = d.select(
        "user_id",
        "event_id",
        "c",
        "c8",
        F.sum("adiff").over(ws).alias("den"),
    )
    num = F.abs(F.col("c") - F.col("c8"))
    return s.filter(F.col("c8").isNotNull()).select(
        "user_id",
        "event_id",
        num.cast("bigint").alias("er_num"),
        F.col("den").cast("bigint").alias("er_den"),
        (
            num.cast("double")
            / F.nullif(F.col("den").cast("double"), F.lit(0.0))
        ).alias("er"),
    )


@query(
    "agg-trimmed-mean",
    # 10% two-sided trim per event type: rank by (cents, event_id),
    # drop n//10 from each tail, decimal-exact mean of the kept cents
    oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY v, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM base
    )
    SELECT event_type, COUNT(*) AS n_kept,
           (CAST(SUM(v) AS DOUBLE) / (100.0 * COUNT(*)))
             AS trimmed_mean
    FROM r WHERE rk > n // 10 AND rk <= n - n // 10
    GROUP BY event_type
    """,
)
def agg_trimmed_mean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / two-sided 10% trimmed mean per event type — the
    outlier-robust location estimate (drops what winsorize clamps):
    cents-integerized values ranked by (v, event_id) WITHIN each type
    via mleval.bucketed_global_rank(partition_cols=['event_type']) —
    the r12 bounded-bucket machinery in its grouped mode, so the
    offsets frame is |types|·≤16k rows and the within-bucket
    row_number is distributed no matter how many rows one type holds
    (a plain per-type ROW_NUMBER window would sort whole types in
    single partitions at 100×). Kept-band sums are exact BIGINT; the
    mean is the one closing division."""
    from medallion_delta_lake_spark.operators.mleval import (
        bucketed_global_rank,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("v"),
    )
    ranked = bucketed_global_rank(
        base, "v", True, "rk", "event_id", partition_cols=["event_type"]
    )
    sizes = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    j = ranked.join(F.broadcast(sizes), "event_type")
    lo = F.expr("n div 10")
    kept = j.filter(
        (F.col("rk") > lo) & (F.col("rk") <= F.col("n") - lo)
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        (
            F.sum("v").cast("double")
            / (F.lit(100.0) * F.count(F.lit(1)))
        ).alias("trimmed_mean"),
    )


@query(
    "ml-fbeta-sweep",
    # decile thresholds of the integer score range; F-beta family from
    # integer cells via denominator-cleared rational betas
    oracle=f"""
    WITH base AS ({_BASE_SQL}),
    g AS (SELECT MAX(v) AS gmax FROM base),
    qf AS (SELECT CAST(range AS INT) + 1 AS q FROM range(9)),
    j AS (
      SELECT qf.q,
             CASE WHEN b.v >= (qf.q * g.gmax) // 10 THEN 1 ELSE 0 END
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
           (5.0 * CAST(tp AS DOUBLE)
            / (5.0 * CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)
               + 4.0 * CAST(fp AS DOUBLE))) AS f_half,
           (2.0 * CAST(tp AS DOUBLE)
            / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
               + CAST(fn AS DOUBLE))) AS f1,
           (5.0 * CAST(tp AS DOUBLE)
            / (5.0 * CAST(tp AS DOUBLE) + 4.0 * CAST(fn AS DOUBLE)
               + CAST(fp AS DOUBLE))) AS f2
    FROM cells
    """,
)
def ml_fbeta_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml eval / F-beta decile sweep — the precision-weighted (F₀.₅)
    and recall-weighted (F₂) companions to F₁ across the 9 decile
    cuts of the observed score range
    (operators/mleval.py:fbeta_at_thresholds): β² is rational, so
    multiplying through by 4 keeps every term integer — F₀.₅ =
    5tp/(5tp+fn+4fp), F₂ = 5tp/(5tp+4fn+fp) — one double division
    per metric. Same one-scan + broadcast-threshold shape as the
    confusion face, 3× finer sweep."""
    from medallion_delta_lake_spark.operators.mleval import (
        fbeta_at_thresholds,
    )

    return fbeta_at_thresholds(
        _label_events(spark, sf_dir), "value", "label", cuts=10
    )


@query(
    "stats-cohens-d",
    # effect size between purchase and view values: means and pooled
    # variance close from exact integer cents / cents^2 sums
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
    ),
    g AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(v * v) AS BIGINT) AS ss
      FROM base GROUP BY event_type
    ),
    t AS (
      SELECT
        (SELECT n FROM g WHERE event_type = 'purchase') AS n1,
        (SELECT s FROM g WHERE event_type = 'purchase') AS s1,
        (SELECT ss FROM g WHERE event_type = 'purchase') AS ss1,
        (SELECT n FROM g WHERE event_type = 'view') AS n2,
        (SELECT s FROM g WHERE event_type = 'view') AS s2,
        (SELECT ss FROM g WHERE event_type = 'view') AS ss2
    )
    SELECT n1, n2,
           ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 100.0)
             AS mean_diff,
           (((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 100.0)
            / sqrt(
                ((CAST(ss1 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / CAST(n1 AS DOUBLE))
                 + (CAST(ss2 AS DOUBLE)
                    - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                      / CAST(n2 AS DOUBLE)))
                / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)
                / 10000.0
              )) AS cohens_d
    FROM t
    """,
)
def stats_cohens_d_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Cohen's d — the pooled-SD standardized mean difference
    (the effect size every A/B readout should report next to its
    p-value; the stats family had the tests but not the magnitude):
    purchase vs view values, cents-integerized so Σv and Σv² are
    exact BIGINTs under any partitioning; means, the pooled variance
    ((SS₁+SS₂)/(n₁+n₂−2)) and d itself close in a fixed IEEE
    expression shared with the oracle (the /100 and /10000 rescale
    cents back to units). One scan, a 2-row aggregate, a 1-row
    close."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    base = ev.select(
        "event_type",
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("v"),
    )
    g = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    )
    p = g.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("ss").alias("ss1"),
    )
    v = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
        F.col("ss").alias("ss2"),
    )
    t = p.crossJoin(F.broadcast(v))
    n1, s1, ss1 = (
        F.col(c).cast("double") for c in ("n1", "s1", "ss1")
    )
    n2, s2, ss2 = (
        F.col(c).cast("double") for c in ("n2", "s2", "ss2")
    )
    mean_diff = (s1 / n1 - s2 / n2) / F.lit(100.0)
    pooled = (
        ((ss1 - s1 * s1 / n1) + (ss2 - s2 * s2 / n2))
        / (n1 + n2 - F.lit(2.0))
        / F.lit(10000.0)
    )
    return t.select(
        "n1",
        "n2",
        mean_diff.alias("mean_diff"),
        (mean_diff / F.sqrt(pooled)).alias("cohens_d"),
    )


@query(
    "maintenance-vacuum-retention",
    # overwrite tombstones the 2 seed files; VACUUM(keep_versions=1)
    # must delete exactly those 2 and leave the live snapshot intact
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           2 AS n_files_vacuumed
    FROM events WHERE event_id % 3 = 1
    GROUP BY event_type
    """,
)
def maintenance_vacuum_retention_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """maintenance / VACUUM round trip — the data-file GC path
    (sources/delta_log.py:vacuum, pytest-proven in
    tests/test_delta_lifecycle_e2e.py) as a driver-graded face: seed
    a table as exactly 2 files, OVERWRITE it (remove+add — the seed
    files become tombstones), VACUUM with keep_versions=1 — which
    must delete exactly the 2 unreferenced seed files, never a live
    one — then read the surviving snapshot back by log replay. The
    deleted-file count is pinned INTO the output rows, so collecting
    a live file or missing a tombstone breaks the hash exactly like
    corrupting the content would. Completes the maintenance trilogy
    (optimize-zorder / restore-version / vacuum)."""
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "vacuum_ret")
    _shutil.rmtree(p, ignore_errors=True)
    seed = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 0)
        .select("event_id", "event_type")
    )
    delta_log.write_delta(spark, seed.repartition(2), p)
    repl = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 1)
        .select("event_id", "event_type")
    )
    delta_log.write_delta(spark, repl.repartition(3), p, mode="overwrite")
    deleted = delta_log.vacuum(p, keep_versions=1)
    n_data = sum(1 for d in deleted if d.endswith(".parquet"))
    back = delta_log.read_delta(spark, p)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
    ).withColumn("n_files_vacuumed", F.lit(n_data).cast("int"))


@query(
    "maintenance-checkpoint-v2",
    # V2 checkpoint at version 3 (protocol-upgrade commit included),
    # then cleanup_log deletes commits 0..2 — replay must rebuild the
    # snapshot from manifest + sidecars alone; 3 cleaned JSONs pinned
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           3 AS n_logs_cleaned
    FROM events WHERE event_id % 7 <= 3
    GROUP BY event_type
    """,
)
def maintenance_checkpoint_v2_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """maintenance / V2-checkpoint + log retention round trip — the
    log-compaction path driven END TO END as a driver face: three
    appends, a V2 checkpoint (uuid MANIFEST + sidecar add-files;
    writing it lands the v2Checkpoint protocol-upgrade commit,
    exactly like enabling delta.checkpointPolicy=v2), one more
    append, then cleanup_log(keep_versions=1) DELETES every
    pre-checkpoint commit JSON (versions 0-2) — so the final
    log-replay read has no choice but to reconstruct state from the
    checkpoint manifest + sidecars and the two post-checkpoint
    commits. The cleaned-JSON count is pinned into the output; a
    replay that still needed a deleted commit would throw, and a
    checkpoint missing an add-file breaks the hash. Graduates
    write_checkpoint/cleanup_log (pytest-only:
    tests/test_log_compaction.py) to a CORRECTNESS row."""
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "ckpt_v2")
    _shutil.rmtree(p, ignore_errors=True)
    ev = table(spark, sf_dir, "events")

    def _part(r: int):
        return (
            ev.filter(F.col("event_id") % 7 == r)
            .select("event_id", "event_type")
        )

    delta_log.write_delta(spark, _part(0).repartition(2), p)
    delta_log.write_delta(spark, _part(1).coalesce(1), p, mode="append")
    delta_log.write_delta(spark, _part(2).coalesce(1), p, mode="append")
    delta_log.write_checkpoint(p, v2=True)
    delta_log.write_delta(spark, _part(3).coalesce(1), p, mode="append")
    cleaned = delta_log.cleanup_log(p, keep_versions=1)
    back = delta_log.read_delta(spark, p)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
    ).withColumn("n_logs_cleaned", F.lit(len(cleaned)).cast("int"))
