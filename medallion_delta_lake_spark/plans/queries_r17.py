"""Round-17 cohort query faces — REGISTERED in round 15 (drafted and
two-SF oracle-proven in round 12). Each face pairs a Spark query
with its DuckDB oracle; tests/test_r17_drafts.py proves every
pair compare_query-green at two SFs (SURVEY.md §7 Phases 8/9).

The cohort closes the LAST delta_log entry points without driver
faces (CONVERT / CLONE / DESCRIBE-HISTORY) and widens ML-eval,
corpus-analytics, and robust-window coverage:

- maintenance-convert-parquet — CONVERT TO DELTA in place
  (sources/delta_log.py:convert_to_delta): an existing plain-parquet
  directory becomes a log-backed table with zero data I/O (one add
  per file, footer stats), then a log-replay read must equal the
  original frame;
- maintenance-clone-table — SHALLOW CLONE
  (sources/delta_log.py:clone_delta) + divergence: delete rows from
  the CLONE, prove the source is untouched and the clone mutated —
  the zero-copy dev/test-sandbox workflow, isolation driven E2E;
- maintenance-history-audit — DESCRIBE HISTORY
  (sources/delta_log.py:table_history) over a pinned 5-commit life
  (overwrite, append, DELETE-by-DV, OPTIMIZE, RESTORE): version,
  operation, add/remove action counts all pinned;
- text-bigram-lm-score — self-trained bigram language-model quality
  score per document (mean per-bigram conditional probability,
  quantized per token so the mean is an exact integer mean — the
  transcendental-free stand-in for perplexity-based corpus QA
  (CCNet-style), since ln() is not bit-portable across engines);
- ml-threshold-youden — the Youden-J threshold sweep over decile
  cuts: J·P·N = tp·N − fp·P stays a signed integer per threshold, so
  the operating-point choice is exact;
- stats-mcc-multiclass — the 5-class Matthews correlation from an
  all-integer confusion matrix (c·s − Σp_k·t_k over the sqrt of
  integer deficits; ml-matthews-corr is the binary case);
- ml-regression-metrics — MAE / RMSE / mean-error for the
  leave-one-out user-mean predictor: per-row errors carry the exact
  integer form (n·x − S)/(n − 1), quantized per row, so the metric
  sums are order-free integers — the ml family's first REGRESSION
  eval (everything so far was classification/ranking);
- text-chi2-keyness — per-source keyness: the χ² 2×2 association of
  each token with a source vs the rest of the corpus, top-5 terms
  per source by exact quantized χ² (the corpus-comparison tool that
  tfidf's raw counts miss);
- graph-bfs-distance — 3-hop BFS distance histogram from the
  nation-0 supplier seed set over the part↔supplier graph; frontier
  rounds ride the same self-loop/one-join-one-MIN shape as
  label-propagation (linear lineage), with +1 edge weights;
- window-rolling-mad — median absolute deviation over the trailing
  21-point frame (full frames only): the robust volatility twin of
  window-rolling-median — both the center and the deviations are
  element selections from the sorted frame, zero float arithmetic.

tests/test_oracle_dtype_lint.py lints these oracles' output dtypes.
"""

from __future__ import annotations

import shutil as _shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medallion_delta_lake_spark.operators.agg import q_div
from medallion_delta_lake_spark.plans.registry import query, scratch, table


# ------------------------------------------------------------------
# maintenance-convert-parquet


@query(
    "maintenance-convert-parquet",
    # CONVERT moves no data: the log-replay read must reproduce the
    # same aggregate the raw parquet subset gives
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events
    WHERE event_id % 5 = 0 AND value IS NOT NULL
    GROUP BY event_type
    """,
)
def maintenance_convert_parquet_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """maintenance / CONVERT TO DELTA in place — the migration path
    for an existing parquet lake (reference lands plain parquet
    before any Delta features, bronze_table_creation.py): a scratch
    parquet directory is converted by committing protocol + metaData
    + one add per EXISTING file (zero data I/O, footer stats power
    skipping immediately; sources/delta_log.py:convert_to_delta), and
    the face aggregates the LOG-REPLAY read — equal to the raw
    subset, so conversion provably lost and invented nothing. At
    100 TB this is the only workable migration: O(files) metadata vs
    a full rewrite."""
    from medallion_delta_lake_spark.sources import delta_log as dl

    p = scratch(sf_dir, "convert_src")
    _shutil.rmtree(p, ignore_errors=True)
    sub = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_id") % 5 == 0) & F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    sub.coalesce(2).write.mode("overwrite").parquet(p)
    dl.convert_to_delta(spark, p)
    back = dl.read_delta(spark, p)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )


# ------------------------------------------------------------------
# maintenance-clone-table


@query(
    "maintenance-clone-table",
    # src must stay complete after the clone-side DELETE; the clone
    # must reflect it — both recomputable from events directly
    oracle="""
    WITH sub AS (
      SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE event_id % 3 = 0 AND value IS NOT NULL
    ),
    s AS (
      SELECT 'source' AS side, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM sub GROUP BY event_type
    ),
    c AS (
      SELECT 'clone' AS side, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM sub WHERE cents > 10000 GROUP BY event_type
    )
    SELECT * FROM s UNION ALL SELECT * FROM c
    """,
)
def maintenance_clone_table_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """maintenance / SHALLOW CLONE + divergence — the zero-copy
    sandbox workflow: clone a seeded table (add actions point at the
    SOURCE's files, no data copied;
    sources/delta_log.py:clone_delta), DELETE low-value rows from the
    CLONE (DV/rewrite on clone-staged files only), and read BOTH
    sides back through log replay. The face's two labeled aggregates
    prove isolation end to end: the source is byte-identical to its
    pre-clone state, the clone reflects exactly the delete. The
    oracle recomputes both sides from the raw events."""
    from medallion_delta_lake_spark.sources import delta_log as dl

    src = scratch(sf_dir, "clone_src")
    dst = scratch(sf_dir, "clone_dst")
    _shutil.rmtree(src, ignore_errors=True)
    _shutil.rmtree(dst, ignore_errors=True)
    sub = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_id") % 3 == 0) & F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    dl.write_delta(spark, sub.coalesce(2), src, mode="overwrite")
    dl.clone_delta(src, dst)
    dl.delete_delta_log(spark, dst, [("cents", "<=", 10000)])

    def agg(path: str, side: str) -> DataFrame:
        return (
            dl.read_delta(spark, path)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("cents"),
            )
            .select(
                F.lit(side).alias("side"), "event_type", "n", "cents"
            )
        )

    return agg(src, "source").unionByName(agg(dst, "clone"))


# ------------------------------------------------------------------
# text-bigram-lm-score


_LM_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


@query(
    "text-bigram-lm-score",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_LM_NORM_SQL}, ' ') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM d, unnest(range(1, len(toks))) AS r(i)
    ),
    cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
    cu AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY w1),
    sc AS (
      SELECT bg.doc_id,
             CAST((CAST(cb.cb AS HUGEINT) * 1000000) // cu.cu
                  AS BIGINT) AS p_q6
      FROM bg JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
      JOIN cu ON bg.w1 = cu.w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST((CAST(SUM(p_q6) AS HUGEINT)) // COUNT(*) AS BIGINT)
             AS lm_score_q6
    FROM sc GROUP BY doc_id
    """,
)
def text_bigram_lm_score_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """text / bigram language-model quality score — each document's
    mean conditional bigram probability P(w2|w1) under the
    corpus-trained bigram LM: the CCNet-style fluency/quality proxy
    (template junk scores high, shuffled or alien text scores low)
    without perplexity's ln(), which is not bit-portable across
    engines — each bigram's probability is quantized to an exact
    integer q6 FIRST, so the per-doc mean is an integer mean and the
    face row-hashes exactly. Plan: one bigram count (map-side
    combined), a broadcast-size unigram fold, one join back — all
    shuffles on the token keys, vocabulary-bounded."""
    from medallion_delta_lake_spark.functions.texts import (
        normalize_text,
    )

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.posexplode(F.split(normalize_text("text"), " ")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = t.select(
        "doc_id",
        F.col("tok").alias("w1"),
        F.lead("tok").over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = cb.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("cu"))
    sc = (
        bg.join(cb, ["w1", "w2"])
        .join(cu, "w1")
        .select(
            "doc_id",
            q_div(
                F.col("cb").cast("decimal(38,0)"),
                F.col("cu").cast("decimal(38,0)"),
                6,
            ).alias("p_q6"),
        )
    )
    return sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        q_div(
            F.sum("p_q6").cast("decimal(38,0)"),
            F.count(F.lit(1)).cast("decimal(38,0)"),
            0,
        ).alias("lm_score_q6"),
    )


# ------------------------------------------------------------------
# ml-threshold-youden

_YOUDEN_BASE = """
      SELECT event_id,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
"""


@query(
    "ml-threshold-youden",
    # decile-cut thresholds (same arithmetic cut as ml-lift-deciles /
    # ml-fbeta-sweep); J·P·N is a signed integer per threshold
    oracle=f"""
    WITH base AS ({_YOUDEN_BASE}),
    f AS (SELECT v, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS np
          FROM base GROUP BY v),
    off AS (
      SELECT v, COALESCE(SUM(n) OVER (ORDER BY v DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS c_before
      FROM f
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(SUM(np) AS BIGINT) AS p
      FROM f
    ),
    rk AS (
      SELECT b.y, b.v,
             off.c_before + ROW_NUMBER() OVER (
               PARTITION BY b.v ORDER BY b.event_id) AS r,
             tot.big_n, tot.p
      FROM base b JOIN off ON b.v = off.v, tot
    ),
    d AS (
      SELECT ((r - 1) * 10) // big_n AS decile_0, y, v, big_n, p
      FROM rk
    ),
    g AS (
      SELECT decile_0, big_n, p,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(MIN(v) AS BIGINT) AS thr_cents
      FROM d GROUP BY decile_0, big_n, p
    ),
    cum AS (
      SELECT decile_0, thr_cents, big_n, p,
             CAST(SUM(n_pos) OVER (ORDER BY decile_0
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tp,
             CAST(SUM(n) OVER (ORDER BY decile_0
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pred_pos
      FROM g
    ),
    j AS (
      SELECT decile_0, thr_cents, tp, pred_pos - tp AS fp,
             p, big_n - p AS nn,
             tp * (big_n - p) - (pred_pos - tp) * p AS j_scaled
      FROM cum
    )
    SELECT CAST(decile_0 + 1 AS BIGINT) AS decile, thr_cents, tp, fp,
           CAST(CASE WHEN j_scaled < 0 THEN -1 ELSE 1 END AS BIGINT)
             * CAST((CAST(abs(j_scaled) AS HUGEINT) * 1000000)
                    // (p * nn) AS BIGINT) AS j_q6
    FROM j
    """,
)
def ml_threshold_youden_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ml eval / Youden-J operating-point sweep — J = TPR − FPR at
    each decile threshold of the score (take everything in deciles
    1..k as positive): the standard threshold-selection criterion
    when classes are imbalanced and accuracy misleads. The rank comes
    from the same distinct-cents offsets frame as ml-lift-deciles
    (no fact sort), the cumulative confusion cells are integers, and
    J is emitted as the exact signed quantization of
    (tp·N − fp·P)/(P·N) — so the argmax is decidable from the face's
    own rows with zero float ambiguity."""
    from medallion_delta_lake_spark.operators.mleval import (
        _global_rank,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        F.col("event_id").alias("_tid"),
    )
    rk = _global_rank(base).drop("big_n")
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("big_n"),
        F.sum("y").cast("bigint").alias("p"),
    )
    d = rk.crossJoin(F.broadcast(tot)).select(
        (((F.col("r") - 1) * 10) / F.col("big_n"))
        .cast("bigint")
        .alias("decile_0"),
        "y",
        "v",
        "big_n",
        "p",
    )
    g = d.groupBy("decile_0", "big_n", "p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.min("v").cast("bigint").alias("thr_cents"),
    )
    wc = Window.orderBy("decile_0").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "decile_0",
        "thr_cents",
        "big_n",
        "p",
        F.sum("n_pos").over(wc).cast("bigint").alias("tp"),
        F.sum("n").over(wc).cast("bigint").alias("pred_pos"),
    )
    j = cum.select(
        "decile_0",
        "thr_cents",
        "tp",
        (F.col("pred_pos") - F.col("tp")).alias("fp"),
        "p",
        (F.col("big_n") - F.col("p")).alias("nn"),
        (
            F.col("tp") * (F.col("big_n") - F.col("p"))
            - (F.col("pred_pos") - F.col("tp")) * F.col("p")
        ).alias("j_scaled"),
    )
    sign = F.when(F.col("j_scaled") < 0, F.lit(-1)).otherwise(
        F.lit(1)
    ).cast("bigint")
    return j.select(
        (F.col("decile_0") + 1).cast("bigint").alias("decile"),
        "thr_cents",
        "tp",
        "fp",
        (
            sign
            * q_div(
                F.abs(F.col("j_scaled")).cast("decimal(38,0)"),
                (F.col("p") * F.col("nn")).cast("decimal(38,0)"),
                6,
            )
        ).alias("j_q6"),
    )


# ------------------------------------------------------------------
# maintenance-history-audit


@query(
    "maintenance-history-audit",
    # the 5-commit life is fully pinned: repartition(2) seeds exactly
    # 2 files at any SF, the append is 1, the DELETE DVs all 3 files
    # (event_id <= 100 rows exist in each), OPTIMIZE compacts 3 -> 1,
    # RESTORE re-adds v1's 3 files and removes the compacted one
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'WRITE',    CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(1 AS BIGINT), 'WRITE',    CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(2 AS BIGINT), 'DELETE',   CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(3 AS BIGINT), 'OPTIMIZE', CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(4 AS BIGINT), 'RESTORE',  CAST(3 AS BIGINT), CAST(1 AS BIGINT))
    ) t(version, operation, n_add_files, n_remove_files)
    """,
)
def maintenance_history_audit_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """maintenance / DESCRIBE HISTORY — the audit view
    (sources/delta_log.py:table_history, the log engine's answer to
    DeltaTable.history()) over a pinned five-commit life: overwrite
    seed, append, DELETE-by-deletion-vector, OPTIMIZE bin-pack,
    RESTORE to the append version. Every (version, operation,
    add/remove action count) is pinned — proving commitInfo
    operations, DV add/remove pairing (a DV'd file re-adds itself),
    OPTIMIZE's 3→1 compaction, and RESTORE's re-add of a prior
    snapshot, at ANY scale factor (file counts are forced by
    repartition/coalesce, not data volume)."""
    from medallion_delta_lake_spark.sources import delta_log as dl

    p = scratch(sf_dir, "hist_life")
    _shutil.rmtree(p, ignore_errors=True)
    sub = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    dl.write_delta(spark, sub.repartition(2), p, mode="overwrite")
    dl.write_delta(
        spark,
        sub.filter(F.col("event_id") % 10 == 0).coalesce(1),
        p,
        mode="append",
    )
    dl.delete_delta_log(spark, p, [("event_id", "<=", 100)])
    dl.optimize_delta_log(spark, p)
    dl.restore_delta_log(p, 1)
    hist = dl.table_history(p)
    rows = [
        (
            h["version"],
            h["operation"] or "WRITE",
            h["numAddedFiles"],
            h["numRemovedFiles"],
        )
        for h in hist
    ]
    return spark.createDataFrame(
        rows,
        "version bigint, operation string, n_add_files bigint,"
        " n_remove_files bigint",
    )


# ------------------------------------------------------------------
# stats-mcc-multiclass

_MCC_TYPES = "('click', 'error', 'purchase', 'signup', 'view')"


@query(
    "stats-mcc-multiclass",
    oracle=f"""
    WITH base AS (
      SELECT CASE event_type
               WHEN 'click' THEN 0 WHEN 'error' THEN 1
               WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
               ELSE 4 END AS act,
             CAST(least(4, floor(value / 100)) AS BIGINT) AS pred
      FROM events WHERE value IS NOT NULL
    ),
    conf AS (
      SELECT pred, act, CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY pred, act
    ),
    pk AS (SELECT pred AS k, CAST(SUM(n) AS BIGINT) AS p FROM conf
           GROUP BY pred),
    tk AS (SELECT act AS k, CAST(SUM(n) AS BIGINT) AS t FROM conf
           GROUP BY act),
    pt AS (
      SELECT CAST(COALESCE(SUM(pk.p * tk.t), 0) AS BIGINT) AS spt,
             CAST(COALESCE(SUM(pk.p * pk.p), 0) AS BIGINT) AS sp2
      FROM pk LEFT JOIN tk ON pk.k = tk.k
    ),
    t2 AS (SELECT CAST(SUM(t * t) AS BIGINT) AS st2 FROM tk),
    cs AS (
      SELECT CAST(SUM(CASE WHEN pred = act THEN n ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(n) AS BIGINT) AS s
      FROM conf
    )
    SELECT cs.c, cs.s,
           CASE WHEN (cs.s * cs.s - pt.sp2) > 0
                 AND (cs.s * cs.s - t2.st2) > 0 THEN
             CAST(cs.c * cs.s - pt.spt AS DOUBLE)
               / (sqrt(CAST(cs.s * cs.s - pt.sp2 AS DOUBLE))
                  * sqrt(CAST(cs.s * cs.s - t2.st2 AS DOUBLE)))
           END AS mcc
    FROM cs, pt, t2
    """,
)
def stats_mcc_multiclass_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stats / multiclass Matthews correlation — the K-class
    generalization R_K of ml-matthews-corr's binary MCC, scoring the
    deterministic value-band pseudo-classifier (100-wide bands)
    against the event type: MCC = (c·s − Σp_k t_k) /
    (√(s²−Σp²)·√(s²−Σt²)), every term an exact BIGINT from the 5×5
    integer confusion matrix, closed by two IEEE-exact sqrts and one
    division. Plan: one grouped count to the ≤25-row confusion
    frame; everything after is constant-size."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    act = (
        F.when(F.col("event_type") == "click", 0)
        .when(F.col("event_type") == "error", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 3)
        .otherwise(4)
    )
    pred = F.least(
        F.lit(4), F.floor(F.col("value") / 100)
    ).cast("bigint")
    conf = ev.select(pred.alias("pred"), act.alias("act")).groupBy(
        "pred", "act"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pk = conf.groupBy(F.col("pred").alias("k")).agg(
        F.sum("n").cast("bigint").alias("p")
    )
    tk = conf.groupBy(F.col("act").alias("k")).agg(
        F.sum("n").cast("bigint").alias("t")
    )
    pt = (
        pk.join(tk, "k", "left")
        .agg(
            F.coalesce(F.sum(F.col("p") * F.col("t")), F.lit(0))
            .cast("bigint")
            .alias("spt"),
            F.coalesce(F.sum(F.col("p") * F.col("p")), F.lit(0))
            .cast("bigint")
            .alias("sp2"),
        )
    )
    t2 = tk.agg(
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("st2")
    )
    cs = conf.agg(
        F.sum(F.when(F.col("pred") == F.col("act"), F.col("n"))
              .otherwise(0)).cast("bigint").alias("c"),
        F.sum("n").cast("bigint").alias("s"),
    )
    one = cs.crossJoin(F.broadcast(pt)).crossJoin(F.broadcast(t2))
    dp = (F.col("s") * F.col("s") - F.col("sp2")).cast("double")
    dt = (F.col("s") * F.col("s") - F.col("st2")).cast("double")
    num = (F.col("c") * F.col("s") - F.col("spt")).cast("double")
    return one.select(
        "c",
        "s",
        F.when(
            (dp > 0) & (dt > 0), num / (F.sqrt(dp) * F.sqrt(dt))
        ).alias("mcc"),
    )


# ------------------------------------------------------------------
# ml-regression-metrics


@query(
    "ml-regression-metrics",
    oracle="""
    WITH x AS (
      SELECT user_id,
             CAST(floor(value * 100) AS BIGINT) AS c
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
        AND user_id IS NOT NULL
    ),
    u AS (
      SELECT user_id, c,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n,
             CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS s
      FROM x
    ),
    e AS (
      SELECT n * c - s AS e_num, n - 1 AS den
      FROM u WHERE n >= 2
    ),
    q AS (
      SELECT
        CAST(CASE WHEN e_num < 0 THEN -1 ELSE 1 END AS BIGINT)
          * CAST((CAST(abs(e_num) AS HUGEINT) * 10000) // den
                 AS BIGINT) AS e_q4,
        CAST((CAST(abs(e_num) AS HUGEINT) * 10000) // den AS BIGINT)
          AS ae_q4,
        CAST((CAST(e_num AS HUGEINT) * e_num * 10000) // (den * den)
             AS BIGINT) AS se_q4
      FROM e
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(ae_q4) AS HUGEINT) // COUNT(*) AS BIGINT)
             AS mae_q4,
           CAST(CASE WHEN SUM(e_q4) < 0 THEN -1 ELSE 1 END AS BIGINT)
             * CAST(CAST(abs(SUM(e_q4)) AS HUGEINT) // COUNT(*)
                    AS BIGINT) AS me_q4,
           sqrt(CAST(CAST(CAST(SUM(se_q4) AS HUGEINT) // COUNT(*)
                          AS BIGINT) AS DOUBLE) / 10000.0)
             AS rmse_cents
    FROM q
    """,
)
def ml_regression_metrics_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ml eval / regression metrics — MAE, mean error (bias), RMSE
    for the leave-one-out user-mean predictor of purchase value: the
    ml family's first REGRESSION scorecard (everything else is
    classification/ranking). The LOO error carries the exact integer
    form e = (n·x − S)/(n−1) (no per-row float mean), is quantized
    per row (cents·q4), and the metric sums are then order-free
    integer folds; the only doubles are RMSE's final /10⁴ and sqrt —
    IEEE-exact. Plan: one user-partitioned window pair + one global
    fold; no unpartitioned window, no join."""
    ev = table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    x = ev.select(
        "user_id", F.floor(F.col("value") * 100).cast("bigint").alias("c")
    )
    wu = Window.partitionBy("user_id")
    u = x.select(
        "c",
        F.count(F.lit(1)).over(wu).cast("bigint").alias("n"),
        F.sum("c").over(wu).cast("bigint").alias("s"),
    ).filter(F.col("n") >= 2)
    e = u.select(
        (F.col("n") * F.col("c") - F.col("s")).alias("e_num"),
        (F.col("n") - 1).alias("den"),
    )
    sgn = F.when(F.col("e_num") < 0, F.lit(-1)).otherwise(
        F.lit(1)
    ).cast("bigint")
    ae = q_div(
        F.abs(F.col("e_num")).cast("decimal(38,0)"),
        F.col("den").cast("decimal(38,0)"),
        4,
    )
    se = q_div(
        (F.col("e_num") * F.col("e_num")).cast("decimal(38,0)"),
        (F.col("den") * F.col("den")).cast("decimal(38,0)"),
        4,
    )
    q = e.select(
        (sgn * ae).alias("e_q4"), ae.alias("ae_q4"), se.alias("se_q4")
    )
    a = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("ae_q4").alias("sae"),
        F.sum("e_q4").alias("se_sum"),
        F.sum("se_q4").alias("sse"),
    )
    msgn = F.when(F.col("se_sum") < 0, F.lit(-1)).otherwise(
        F.lit(1)
    ).cast("bigint")
    return a.select(
        "n_rows",
        q_div(
            F.col("sae").cast("decimal(38,0)"),
            F.col("n_rows").cast("decimal(38,0)"),
            0,
        ).alias("mae_q4"),
        (
            msgn
            * q_div(
                F.abs(F.col("se_sum")).cast("decimal(38,0)"),
                F.col("n_rows").cast("decimal(38,0)"),
                0,
            )
        ).alias("me_q4"),
        F.sqrt(
            q_div(
                F.col("sse").cast("decimal(38,0)"),
                F.col("n_rows").cast("decimal(38,0)"),
                0,
            ).cast("double")
            / 10000.0
        ).alias("rmse_cents"),
    )


# ------------------------------------------------------------------
# text-chi2-keyness

_KEY_MIN_A = 5
_KEY_TOPK = 5


@query(
    "text-chi2-keyness",
    oracle=f"""
    WITH d AS (
      SELECT source, string_split({_LM_NORM_SQL}, ' ') AS toks
      FROM documents
    ),
    t AS (SELECT source, unnest(toks) AS token FROM d),
    a_ AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS a
      FROM t GROUP BY source, token
    ),
    rowsum AS (
      SELECT token, CAST(SUM(a) AS BIGINT) AS rs FROM a_
      GROUP BY token
    ),
    colsum AS (
      SELECT source, CAST(SUM(a) AS BIGINT) AS cs FROM a_
      GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS nn FROM a_),
    cells AS (
      SELECT a_.source, a_.token, a_.a,
             rowsum.rs - a_.a AS b,
             colsum.cs - a_.a AS c0,
             tot.nn - rowsum.rs - colsum.cs + a_.a AS d0
      FROM a_ JOIN rowsum USING (token)
      JOIN colsum USING (source), tot
    ),
    chi AS (
      SELECT source, token, a,
        CAST((CAST(a + b + c0 + d0 AS HUGEINT)
              * (a * d0 - b * c0) * (a * d0 - b * c0) * 1000000)
             // (CAST(a + b AS HUGEINT) * (c0 + d0)
                 * (a + c0) * (b + d0)) AS BIGINT) AS chi2_q6
      FROM cells
      WHERE a >= {_KEY_MIN_A} AND a * d0 > b * c0
        AND (a + b) > 0 AND (c0 + d0) > 0 AND (a + c0) > 0
        AND (b + d0) > 0
    ),
    r AS (
      SELECT source, token, a, chi2_q6,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY chi2_q6 DESC, token) AS rnk
      FROM chi
    )
    SELECT source, token, a AS n_in_source, chi2_q6
    FROM r WHERE rnk <= {_KEY_TOPK}
    """,
)
def text_chi2_keyness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text / χ² keyness — the top-5 tokens most over-represented in
    each source vs the rest of the corpus, by the exact 2×2 χ²
    N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) on integer counts (quantized
    q6; positive association only, min count 5): the
    corpus-comparison lens that says WHAT distinguishes a source,
    where tf-idf only says what's locally frequent. All arithmetic is
    integer until the single quantized division (DECIMAL(38,0) /
    HUGEINT — the products reach ~10²⁸); the rank window partitions
    on source over the filtered vocabulary frame. Shuffles ride the
    token key — vocabulary-bounded, not corpus-bounded."""
    from medallion_delta_lake_spark.functions.texts import (
        normalize_text,
    )

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.explode(F.split(normalize_text("text"), " ")).alias(
            "token"
        ),
    )
    a_ = t.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    rowsum = a_.groupBy("token").agg(
        F.sum("a").cast("bigint").alias("rs")
    )
    colsum = a_.groupBy("source").agg(
        F.sum("a").cast("bigint").alias("cs")
    )
    tot = a_.agg(F.sum("a").cast("bigint").alias("nn"))
    cells = (
        a_.join(rowsum, "token")
        .join(F.broadcast(colsum), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "token",
            "a",
            (F.col("rs") - F.col("a")).alias("b"),
            (F.col("cs") - F.col("a")).alias("c0"),
            (
                F.col("nn") - F.col("rs") - F.col("cs") + F.col("a")
            ).alias("d0"),
        )
    )
    ad_bc = F.col("a") * F.col("d0") - F.col("b") * F.col("c0")
    chi = cells.filter(
        (F.col("a") >= _KEY_MIN_A)
        & (ad_bc > 0)
        & (F.col("a") + F.col("b") > 0)
        & (F.col("c0") + F.col("d0") > 0)
        & (F.col("a") + F.col("c0") > 0)
        & (F.col("b") + F.col("d0") > 0)
    ).select(
        "source",
        "token",
        "a",
        q_div(
            (
                F.col("a") + F.col("b") + F.col("c0") + F.col("d0")
            ).cast("decimal(38,0)")
            * ad_bc.cast("decimal(38,0)")
            * ad_bc.cast("decimal(38,0)"),
            (F.col("a") + F.col("b")).cast("decimal(38,0)")
            * (F.col("c0") + F.col("d0")).cast("decimal(38,0)")
            * (F.col("a") + F.col("c0")).cast("decimal(38,0)")
            * (F.col("b") + F.col("d0")).cast("decimal(38,0)"),
            6,
        ).alias("chi2_q6"),
    )
    wr = Window.partitionBy("source").orderBy(
        F.col("chi2_q6").desc(), "token"
    )
    return (
        chi.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _KEY_TOPK)
        .select(
            "source",
            "token",
            F.col("a").alias("n_in_source"),
            "chi2_q6",
        )
    )


# ------------------------------------------------------------------
# graph-bfs-distance


def _bfs_oracle(rounds: int = 3) -> str:
    """Unrolled BFS frontier expansion (same symmetrized + self-loop
    weighted edge set as the Spark face)."""
    parts = [
        """
    WITH e0 AS (
      SELECT DISTINCT l_partkey * 2 AS s, l_suppkey * 2 + 1 AS d
      FROM lineitem
    ),
    e AS (
      SELECT s, d, 1 AS w FROM e0
      UNION SELECT d, s, 1 FROM e0
      UNION SELECT s, s, 0 FROM e0
      UNION SELECT d, d, 0 FROM e0
    ),
    d0 AS (
      SELECT DISTINCT s_suppkey * 2 + 1 AS id, 0 AS dist
      FROM supplier WHERE s_nationkey = 0
    )"""
    ]
    prev = "d0"
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    d{i} AS (
      SELECT e.d AS id, MIN(l.dist + e.w) AS dist
      FROM e JOIN {prev} l ON e.s = l.id GROUP BY e.d
    )"""
        )
        prev = f"d{i}"
    parts.append(
        f"""
    SELECT CAST(dist AS BIGINT) AS distance,
           CAST(SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppliers
    FROM {prev} GROUP BY dist"""
    )
    return "".join(parts)


@query("graph-bfs-distance", oracle=_bfs_oracle())
def graph_bfs_distance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph / 3-hop BFS distance histogram from the nation-0
    supplier seed set over the part↔supplier graph — 'how much of the
    catalog is within k hops of these suppliers' (the blast-radius /
    reachability question). Rounds ride the label-propagation shape
    (operators/graph.py — ONE edges⋈frontier join + MIN per round,
    self-loops at weight 0 carry settled distances, so the lineage
    stays linear); distance = min over paths, ties impossible by
    construction. Output: nodes per (distance, side)."""
    from medallion_delta_lake_spark.operators.caching import (
        tracked_cache,
    )

    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
    )
    nodes = (
        li.select(F.col("s").alias("id"))
        .unionByName(li.select(F.col("d").alias("id")))
        .distinct()
    )
    # r15 optimization (guide §2.2): cache the edge frame at 16 even,
    # key-clustered partitions instead of the ~3×32 thin union-width
    # partitions it would otherwise materialize at — each of the 3
    # frontier rounds then reads 16 full tasks instead of ~100
    # near-empty ones and emits far fewer shuffle blocks (same change
    # as graph-kcore-peel / label_propagation; this face measured
    # 3.2 → 2.0 s). The per-round exchange itself remains — the outer
    # planner cannot see a cached AdaptiveSparkPlan's partitioning.
    # partition count size-derived (r16, ADVICE r15): floor 16 keeps
    # the benched sf0.1 shape; larger inputs scale it automatically.
    from medallion_delta_lake_spark.operators.graph import (
        edge_cache_partitions,
    )

    e_frame = (
        li.select("s", "d", F.lit(1).alias("w"))
        .unionByName(
            li.select(
                F.col("d").alias("s"),
                F.col("s").alias("d"),
                F.lit(1).alias("w"),
            )
        )
        .unionByName(
            nodes.select(
                F.col("id").alias("s"),
                F.col("id").alias("d"),
                F.lit(0).alias("w"),
            )
        )
    )
    e = tracked_cache(
        e_frame.repartition(edge_cache_partitions(e_frame), "s")
    )
    seeds = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select(
            (F.col("s_suppkey") * 2 + 1).alias("id"),
            F.lit(0).alias("dist"),
        )
        .distinct()
    )
    dist = seeds
    for _ in range(3):
        dist = (
            e.join(dist, e["s"] == dist["id"])
            .groupBy(F.col("d").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
        )
    return dist.groupBy(
        F.col("dist").cast("bigint").alias("distance")
    ).agg(
        F.sum(F.when(F.col("id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_parts"),
        F.sum(F.when(F.col("id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppliers"),
    )


# ------------------------------------------------------------------
# window-rolling-mad


@query(
    "window-rolling-mad",
    # exact 21-point rolling MAD: center and deviations are element
    # selections from sorted lists — zero float arithmetic beyond the
    # exact |x - med| subtraction
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER w AS rn,
             list(value) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS l
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    m AS (
      SELECT user_id, event_id, value, rn,
             list_sort(l)[11] AS med, l
      FROM o WHERE rn >= 21
    )
    SELECT user_id, event_id, value, med AS rolling_median,
           list_sort(list_transform(l, e -> abs(e - med)))[11]
             AS rolling_mad
    FROM m
    """,
)
def window_rolling_mad_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / exact rolling MAD — median absolute deviation over
    the trailing 21-point frame per user: the robust volatility scale
    (outlier-immune where rolling stddev is not; MAD·1.4826 ≈ σ for
    Gaussian data), completing window-rolling-median's robust pair.
    Both the center and the deviation quantile are ELEMENT SELECTIONS
    from the sorted 21-element frame — the only arithmetic is the
    exact |x − med| subtraction, so the face is engine-exact with no
    quantization at all. Frame-bounded per row; the only shuffle is
    the per-key window sort."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    wbase = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w21 = wbase.rowsBetween(-20, 0)
    o = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(wbase).alias("rn"),
        F.collect_list("value").over(w21).alias("l"),
    ).filter(F.col("rn") >= 21)
    med = F.element_at(F.sort_array(F.col("l")), 11)
    m = o.select(
        "user_id", "event_id", "value", med.alias("med"), "l"
    )
    mad = F.element_at(
        F.sort_array(
            F.transform(
                F.col("l"), lambda e: F.abs(e - F.col("med"))
            )
        ),
        11,
    )
    return m.select(
        "user_id",
        "event_id",
        "value",
        F.col("med").alias("rolling_median"),
        mad.alias("rolling_mad"),
    )
