"""Round-13 query faces — REGISTERED as of round 13 (drafted +
oracle-proven at two SFs in round 12 while the registry was frozen
at 319; the registration is the mechanical draft→@query move that
made the r10→r11 and r11→r12 hand-offs zero-risk; SURVEY.md §7
Phase 9, VERDICT r12 #1). The r13 driver window leads with these 10
plus the 10 r14-cohort faces, then drains 30 of the 38 r6-stale ids.

The cohort answers VERDICT r11 #6 plus the remaining coverage seams:

- sketch-hll-churn-epoch — ``sketch_epoch_rebuild`` under CONCURRENT
  delete + update + append hitting ONE epoch in one refresh span;
- agg-cdf-incremental-refresh — CDF-driven incremental maintenance
  of a grouped additive rollup through the EXISTING
  operators/incremental.py:apply_changes_to_agg machinery (the r10
  CDC consumer — pytest-proven in tests/test_cdc_write.py, now given
  a driver-graded face), pinned equal to a from-scratch rollup of
  the churned final state;
- scan-delta-skipping — partitioned write_delta + filtered log-replay
  read (partition pruning AND min/max file skipping) as a
  CORRECTNESS row;
- scan-parquet-partition-prune — the plain hive-layout round trip
  (write.partitionBy + pruned read-back);
- stats-wilcoxon-signed-rank — the paired nonparametric test the
  stats family lacked, midranks WITHOUT any row-cardinality
  unpartitioned window (bucketed rank + grouped tie fold);
- text-hapax-ratio — hapax-legomena vocabulary health per language;
- dedup-lsh-recall-audit — measured recall of the banded-MinHash
  pipeline against exact n-gram-Jaccard ground truth on the audit
  corpus (the number that justifies a band/perm config to users);
- join-cdf-maintained — the r10 maintain_join_from_changes machinery
  (materialized two-table join maintained from BOTH sides' feeds)
  driven end to end through the log engine as a driver-graded face;
- maintenance-optimize-zorder — DELETE-by-DV then OPTIMIZE ZORDER:
  DV materialization (PURGE), dataChange:false commit, content
  preservation, and post-rewrite stats skipping in one face;
- maintenance-restore-version — churn then RESTORE to the seed
  version; the read-back must equal the original subset exactly.

tests/test_registered_faces.py proves every face here oracle-green at two
SFs, and tests/test_oracle_dtype_lint.py lints these oracles' OUTPUT
dtypes (no HUGEINT) with the rest.
"""

from __future__ import annotations

import shutil as _shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medallion_delta_lake_spark.functions.hashing import h64_sql
from medallion_delta_lake_spark.plans.queries_r12 import _HLL_SQL_TAIL
from medallion_delta_lake_spark.plans.queries_text import _LSH_SCORED_CTE
from medallion_delta_lake_spark.plans.registry import query, scratch, table


# ------------------------------------------------------------------
# epoch rebuild under CONCURRENT churn in one epoch (VERDICT r11 #6)


@query(
    "sketch-hll-churn-epoch",
    # one refresh span throws a DELETE, an UPDATE, and an APPEND at
    # the SAME epoch (day 2) while days 0/1/3 stay untouched; the
    # refreshed epoch-partitioned HLL store must estimate exactly
    # like a from-scratch sketch of the final state — a rebuild that
    # misses the appended file, double-counts the update pair, or
    # rescans from a stale snapshot breaks the hash
    oracle=f"""
    WITH base AS (
      SELECT event_id % 4 AS day,
             CAST(user_id AS VARCHAR) AS uid,
             event_id AS k
      FROM events WHERE user_id IS NOT NULL
    ),
    survivors AS (
      SELECT day,
             CASE WHEN day = 2 AND k >= 5000 AND k < 6000
                  THEN uid || '_z' ELSE uid END AS uid
      FROM base WHERE NOT (day = 2 AND k < 2000)
    ),
    appended AS (
      SELECT 2 AS day, uid || '_a' AS uid
      FROM base WHERE k % 10 = 7
    ),
    fin AS (
      SELECT day, uid FROM survivors
      UNION ALL
      SELECT day, uid FROM appended
    ),
    h AS (
      SELECT day, {h64_sql("uid")} AS h FROM fin
    ),{_HLL_SQL_TAIL}
    """,
)
def sketch_hll_churn_epoch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch / HLL epoch rebuild under CONCURRENT churn — the edge
    the r11/r12 rebuild faces left open (VERDICT r11 #6): one refresh
    span where a single epoch (day 2) takes a DELETE (k < 2000), an
    UPDATE (uid rewrite on 5000 ≤ k < 6000, CDF preimage/postimage
    pairs), AND an APPEND (new '_a' uids) — three commit types whose
    change rows must all collapse into ONE touched-epoch rescan,
    while days 0/1/3's stored partials are reused verbatim. Oracle =
    from-scratch HLL over the churned final state
    (operators/sketches.py:sketch_epoch_rebuild)."""
    from medallion_delta_lake_spark.operators import sketches as sk
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "hll_churn")
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
        spark, p, [("day", "=", 2), ("k", "<", 2000)]
    )
    delta_log.update_delta_log(
        spark,
        p,
        [("day", "=", 2), ("k", ">=", 5000), ("k", "<", 6000)],
        {"uid": "concat(uid, '_z')"},
    )
    appended = base.filter(F.col("k") % 10 == 7).select(
        F.lit(2).cast(base.schema["day"].dataType).alias("day"),
        F.concat(F.col("uid"), F.lit("_a")).alias("uid"),
        (F.col("k") + 1000000).alias("k"),
    )
    delta_log.write_delta(spark, appended.coalesce(1), p)
    changes = delta_log.table_changes(spark, p, v0 + 1)
    cur = delta_log.read_delta(spark, p)
    refreshed = sk.sketch_epoch_rebuild(cur, stored, changes, "day", part)
    return sk.hll_estimate(refreshed, ["day"], p=10)


# ------------------------------------------------------------------
# CDF-driven incremental refresh of a grouped rollup (VERDICT r11 #6)


@query(
    "agg-cdf-incremental-refresh",
    # the maintained rollup must equal a from-scratch GROUP BY of the
    # churned final state: delete (k < 3000), update (+50 cents on
    # 3000 ≤ k < 5000), append (k % 6 = 1 re-keyed) all fold through
    # one change feed into (n, sum_cents) per event_type
    oracle="""
    WITH base AS (
      SELECT event_id AS k, event_type AS et,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    survivors AS (
      SELECT et,
             CASE WHEN k >= 3000 AND k < 5000 THEN cents + 50
                  ELSE cents END AS cents
      FROM base WHERE k >= 3000
    ),
    appended AS (
      SELECT et, cents FROM base WHERE k % 6 = 1
    ),
    fin AS (
      SELECT et, cents FROM survivors
      UNION ALL
      SELECT et, cents FROM appended
    )
    SELECT et AS event_type,
           COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM fin GROUP BY et
    """,
)
def agg_cdf_incremental_refresh_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """aggregation / CDF-driven incremental refresh — maintain a
    materialized grouped rollup (n, sum_cents per event_type) from
    the change feed instead of rescanning the table
    (operators/incremental.py:apply_changes_to_agg — the r10 CDC
    consumer, here driven END TO END through the log engine as a
    driver-graded face): seed a log-backed table with CDF on,
    bootstrap the rollup with aggregate_table, churn the table
    through the log engine (DELETE below a key cut, UPDATE +50 cents
    on a band — preimage/postimage pairs land as one feed — and an
    APPEND), fold table_changes into the stored state, and return the
    MAINTAINED rollup. Oracle recomputes the rollup from the churned
    final state — a missed preimage or double-counted insert breaks
    the hash. At 100 TB this is the maintained-gold-table upgrade of
    the reference's recompute-every-run gold path
    (ref gold_table_creation.py): O(changed rows), not O(table), per
    refresh."""
    from medallion_delta_lake_spark.operators.incremental import (
        aggregate_table,
        apply_changes_to_agg,
    )
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "cdf_rollup")
    _shutil.rmtree(p, ignore_errors=True)
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_id").alias("k"),
            F.col("event_type").alias("et"),
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    delta_log.write_delta(spark, base.coalesce(2), p)
    delta_log.set_table_properties(
        p, {"delta.enableChangeDataFeed": "true"}
    )
    v0 = delta_log.resolve_snapshot(p)["version"]
    stored = aggregate_table(
        delta_log.read_delta(spark, p), ["et"], ["cents"]
    )
    delta_log.delete_delta_log(spark, p, [("k", "<", 3000)])
    delta_log.update_delta_log(
        spark,
        p,
        [("k", ">=", 3000), ("k", "<", 5000)],
        {"cents": "cents + 50"},
    )
    appended = base.filter(F.col("k") % 6 == 1).withColumn(
        "k", F.col("k") + 1000000
    )
    delta_log.write_delta(spark, appended.coalesce(1), p)
    changes = delta_log.table_changes(spark, p, v0 + 1)
    refreshed = apply_changes_to_agg(stored, changes, ["et"], ["cents"])
    return refreshed.select(
        F.col("et").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        # the maintained sum rides DECIMAL(38,6); integer cents cast
        # back exactly
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    )


# ------------------------------------------------------------------
# scan/sink coverage: pruned reads as CORRECTNESS rows


@query(
    "scan-delta-skipping",
    # partitioned write_delta + filtered log-replay read: partition
    # pruning (pt = 2) plus min/max file skipping (event_id cut) must
    # return exactly the declarative filter's rows
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    WHERE event_id % 4 = 2 AND event_id >= 1000
    GROUP BY event_type
    """,
)
def scan_delta_skipping_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source / Delta pruned read — write a hive-partitioned Delta
    table through the log engine (partition_by=['pt']) and read it
    back with a filters= conjunction: the pt predicate prunes whole
    partitions from the file list (partitionValues), the event_id
    predicate skips files by their logged min/max stats, and the
    surviving rows must equal the declarative filter exactly
    (sources/delta_log.py:read_delta data-skipping contract — the r12
    write-path faces prove commits; this face proves the READ side's
    pruning returns correct results, the lever that turns a 100 TB
    scan into a partition's worth of I/O)."""
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "delta_skip")
    _shutil.rmtree(p, ignore_errors=True)
    base = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 4).alias("pt"),
        "event_id",
        "event_type",
    )
    # several files per partition so the event_id stats cut actually
    # skips files inside the surviving partition
    delta_log.write_delta(
        spark,
        base.repartitionByRange(6, "event_id"),
        p,
        partition_by=["pt"],
    )
    back = delta_log.read_delta(
        spark, p, filters=[("pt", "=", 2), ("event_id", ">=", 1000)]
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
    )


@query(
    "scan-parquet-partition-prune",
    # plain hive-layout round trip: write.partitionBy + a pruned
    # read-back (partition column type survives reattachment); the
    # oracle recomputes off the base parquet
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE event_id % 8 = 3
    GROUP BY event_type
    """,
)
def scan_parquet_partition_prune_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """source / hive-partitioned parquet round trip — write events
    partitioned by an integer bucket column, read back with a
    partition predicate (planning-time file-index pruning — the scan
    never lists the other partitions' files), aggregate. The pruning
    plan shape is already pinned by
    tests/test_scale_plans.py:test_partition_pruning_on_batch_column;
    this face adds the driver-graded VALUE contract (partition-column
    values survive the directory-name round trip and reattach with
    the right type)."""
    p = scratch(sf_dir, "pq_prune")
    _shutil.rmtree(p, ignore_errors=True)
    src = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("event_id") % 8).alias("pt"),
    )
    src.write.mode("overwrite").partitionBy("pt").parquet(p)
    back = spark.read.parquet(p).filter(F.col("pt") == 3)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
    )


# ------------------------------------------------------------------
# stats: Wilcoxon signed-rank (paired), scale-safe midranks


@query(
    "stats-wilcoxon-signed-rank",
    # paired pre/post per user (even- vs odd-event spend), midranks
    # of |d| DOUBLED so ties stay integral: d2 = 2·(RANK−1) + ties + 1
    # = 2·midrank; W⁺/W⁻ are integer sums of d2 over the sign split
    oracle="""
    WITH base AS (
      SELECT user_id, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    pairs AS (
      SELECT user_id,
             SUM(CASE WHEN event_id % 2 = 0 THEN cents ELSE 0 END)
             - SUM(CASE WHEN event_id % 2 = 1 THEN cents ELSE 0 END)
               AS d
      FROM base GROUP BY user_id
    ),
    nz AS (SELECT d, abs(d) AS ad FROM pairs WHERE d <> 0),
    r AS (
      SELECT d,
             2 * (RANK() OVER (ORDER BY ad) - 1)
             + COUNT(*) OVER (PARTITION BY ad) + 1 AS d2
      FROM nz
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN d > 0 THEN d2 END), 0)
                AS BIGINT) AS w_plus_x2,
           CAST(COALESCE(SUM(CASE WHEN d < 0 THEN d2 END), 0)
                AS BIGINT) AS w_minus_x2
    FROM r
    """,
)
def stats_wilcoxon_signed_rank_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stats / Wilcoxon signed-rank — the paired nonparametric test
    the family lacked (sign-test ignores magnitudes; Mann-Whitney is
    unpaired): per user, d = even-event spend − odd-event spend
    (cents), zero diffs dropped, |d| midranked with ties averaged,
    W⁺ = Σ midranks of positive d. Doubled midranks keep everything
    integral (d2 = 2·midrank is always an integer), so the face is
    engine-exact with no doubles; the z close is the caller's one
    IEEE line off (n, W⁺).

    Scale posture: |d| is a per-user SUM — user-cardinality, so the
    rank comes from mleval.bucketed_global_rank (≤16k-bucket offsets
    frame, distributed within-bucket row_number), and the tie fold is
    a grouped min-rank/count + hash join back — NO unpartitioned
    window anywhere (the r12 global-window allowlist holds)."""
    from medallion_delta_lake_spark.operators.mleval import (
        bucketed_global_rank,
    )

    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    pairs = base.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_id") % 2 == 0, F.col("cents"))
                  .otherwise(0))
            - F.sum(F.when(F.col("event_id") % 2 == 1, F.col("cents"))
                    .otherwise(0))
        ).alias("d")
    )
    nz = pairs.filter(F.col("d") != 0).select(
        "user_id", "d", F.abs(F.col("d")).alias("ad")
    )
    ranked = bucketed_global_rank(nz, "ad", True, "r", "user_id")
    ties = ranked.groupBy("ad").agg(
        F.min("r").alias("_rmin"), F.count(F.lit(1)).alias("_c")
    )
    d2 = ranked.join(ties, "ad").select(
        "d",
        (2 * (F.col("_rmin") - 1) + F.col("_c") + 1).alias("d2"),
    )
    return d2.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("d") > 0, F.col("d2"))),
            F.lit(0).cast("bigint"),
        ).alias("w_plus_x2"),
        F.coalesce(
            F.sum(F.when(F.col("d") < 0, F.col("d2"))),
            F.lit(0).cast("bigint"),
        ).alias("w_minus_x2"),
    )


# ------------------------------------------------------------------
# text: hapax-legomena vocabulary health


@query(
    "text-hapax-ratio",
    # per-language: token mass, vocabulary size, hapax count (tokens
    # seen exactly once) and the q6-quantized hapax share of the
    # vocabulary — all integers
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT lang, token, COUNT(*) AS c
      FROM tok WHERE token <> '' GROUP BY lang, token
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
             AS hapax_share_q6
    FROM tf GROUP BY lang
    """,
)
def text_hapax_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text / hapax-legomena ratio — per language: token mass,
    vocabulary size, hapax count (types occurring exactly once) and
    the hapax share of the vocabulary (exact integer rational at
    10⁶). The corpus-health dial next to text-zipf-profile: a
    crashing hapax share flags template/boilerplate flooding, a
    spiking one flags OCR noise or tokenizer breakage — both the
    first thing a 100 TB pretraining-corpus intake checks per shard.
    One explode + two grouped integer passes (map-side combined);
    the token long tail never leaves the aggregates."""
    from medallion_delta_lake_spark.operators.agg import q_div

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(
            F.split(F.lower(F.col("text")), " ")
        ).alias("token"),
    ).filter(F.col("token") != "")
    tf = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    return tf.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        q_div(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)),
            F.count(F.lit(1)),
            6,
        ).alias("hapax_share_q6"),
    )


# ------------------------------------------------------------------
# dedup QA: measured LSH recall against exact ground truth


_LSH_RECALL_AUDIT_ORACLE = f"""
    WITH {_LSH_SCORED_CTE},
    lsh AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5),
    posts AS (SELECT doc_id, unnest(sh) AS h FROM sets),
    tp AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM posts a JOIN posts b
        ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    tscored AS (
      SELECT p.id_a, p.id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / CAST(len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               AS jaccard
      FROM tp p
      JOIN sets sa ON sa.doc_id = p.id_a
      JOIN sets sb ON sb.doc_id = p.id_b
    ),
    true_p AS (SELECT * FROM tscored WHERE jaccard >= 0.5),
    missed AS (
      SELECT t.* FROM true_p t
      LEFT JOIN lsh ON lsh.id_a = t.id_a AND lsh.id_b = t.id_b
      WHERE lsh.id_a IS NULL
    )
    SELECT (SELECT COUNT(*) FROM true_p) AS n_true,
           (SELECT COUNT(*) FROM lsh) AS n_lsh,
           CAST(COUNT(*) AS BIGINT) AS n_missed,
           CAST(CASE WHEN (SELECT COUNT(*) FROM true_p) > 0
                THEN CAST((SELECT COUNT(*) FROM lsh) AS HUGEINT)
                     * 1000000 // (SELECT COUNT(*) FROM true_p)
                END AS BIGINT) AS recall_q6,
           CAST(MAX(floor(jaccard * 1e6)) AS BIGINT)
             AS worst_missed_j_q6
    FROM missed
"""


@query(
    "dedup-lsh-recall-audit",
    # the audit every LSH deployment owes its users: exact n-gram
    # Jaccard ground truth (inverted-index self-join, uncapped on the
    # bounded audit corpus) vs the banded-MinHash candidate pipeline's
    # verified pairs; since candidates are exact-verified, hits = the
    # LSH pair count and missed = truth − hits. Counts + q6 recall +
    # the worst missed pair's similarity — all integers
    oracle=_LSH_RECALL_AUDIT_ORACLE,
)
def dedup_lsh_recall_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup / LSH recall audit — measure what the banded-MinHash
    pipeline MISSES against exact ground truth on an audit corpus:
    true pairs = exact 3-gram Jaccard ≥ 0.5 via the inverted-index
    self-join (max_df=None — uncapped truth), candidates = the
    production dedup-minhash-lsh pipeline (16 perms × 4 bands, exact
    verification keeps precision 1.0 so every surviving candidate IS
    a true pair). Face: n_true, n_lsh (= hits), n_missed, recall at
    10⁶, and the worst missed pair's Jaccard at 10⁶ (floor of the
    identical IEEE division — engine-exact). At 100 TB the exact
    truth is computed on a SAMPLED audit shard exactly like this
    bounded corpus; the recall number is what justifies the band/perm
    configuration to users (operators/dedup.py:ngram_jaccard_pairs,
    minhash_lsh_pairs)."""
    from medallion_delta_lake_spark.operators import dedup
    from medallion_delta_lake_spark.operators.agg import q_div
    from medallion_delta_lake_spark.plans.queries_text import _dup_corpus

    corpus = _dup_corpus(spark, sf_dir)
    fan = spark.sparkContext.defaultParallelism
    truth = dedup.ngram_jaccard_pairs(
        corpus, n=3, threshold=0.5, max_df=None, fan_out=fan
    ).select("id_a", "id_b", "jaccard")
    lsh = dedup.minhash_lsh_pairs(
        corpus, n=3, num_perm=16, bands=4, threshold=0.5, fan_out=fan
    ).select("id_a", "id_b")
    # r15 optimization (guide §1.2 "don't compute things twice"): the
    # old three-aggregate close (truth.count × lsh.count × anti-join
    # agg, crossJoined) re-executed the whole truth pair pipeline AND
    # the whole lsh pair pipeline twice each — only the shingle/sig
    # frames are cached inside the operators, not the pair joins. One
    # full-outer join computes each pipeline exactly once and one
    # aggregate reads off all four counts: n_true = pairs with a
    # jaccard (truth side), n_lsh = pairs with a hit marker (lsh
    # side, counted independently so lsh-only pairs — impossible by
    # precision-1.0 construction, but never assumed — still count),
    # missed = truth rows with no hit. Oracle-identical output
    # (re-proven at sf0.001/sf0.01); warm-session sf0.1 reruns
    # measured 9.0 → 4.2 s (each pair pipeline now runs once).
    j = truth.join(
        lsh.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    g = j.agg(
        F.count("jaccard").alias("n_true"),
        F.count("_hit").alias("n_lsh"),
        F.count(
            F.when(F.col("_hit").isNull(), F.col("jaccard"))
        ).alias("n_missed"),
        F.max(
            F.when(
                F.col("_hit").isNull(),
                F.floor(F.col("jaccard") * 1e6).cast("bigint"),
            )
        ).alias("worst_missed_j_q6"),
    )
    return g.select(
        "n_true",
        "n_lsh",
        "n_missed",
        F.when(
            F.col("n_true") > 0,
            q_div(F.col("n_lsh"), F.col("n_true"), 6),
        ).alias("recall_q6"),
        "worst_missed_j_q6",
    )


# ------------------------------------------------------------------
# maintained JOIN from both sides' change feeds (r10 machinery,
# pytest-only until now — driver-graded face)


@query(
    "join-cdf-maintained",
    # a materialized orders⋈customer join maintained from BOTH sides'
    # change feeds (left: delete + update; right: update + delete)
    # must equal the join of the two churned final states; the rollup
    # face makes any stale, duplicated, or orphaned joined row break
    # the hash
    oracle="""
    WITH l AS (
      SELECT o_orderkey AS ok, o_custkey AS cust,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    lf AS (
      SELECT ok, cust,
             CASE WHEN ok >= 50000 THEN cents + 7 ELSE cents END
               AS cents
      FROM l WHERE ok >= 20000
    ),
    r AS (
      SELECT c_custkey AS cust, c_mktsegment AS seg FROM customer
    ),
    rf AS (
      SELECT cust,
             CASE WHEN cust <= 300 THEN 'VIP' ELSE seg END AS seg
      FROM r WHERE cust < 1200
    )
    SELECT seg,
           COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM lf JOIN rf USING (cust)
    GROUP BY seg
    """,
)
def join_cdf_maintained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / CDF-maintained materialized join — the r10
    affected-key-refresh machinery
    (operators/incremental.py:maintain_join_from_changes,
    pytest-proven in tests/test_cdc_write.py) driven end to end
    through the log engine as a driver-graded face: seed two
    log-backed tables with CDF on (an orders fact keyed by cust, a
    customer dim), bootstrap the materialized inner join, churn BOTH
    sides (fact: DELETE below an order-key cut + UPDATE a cents band;
    dim: UPDATE a segment band to 'VIP' + DELETE a key range — the
    dim delete must evict its joined fact rows), fold both change
    feeds in, and roll up the MAINTAINED join per segment. Oracle
    joins the two churned final states declaratively. Per refresh the
    maintained table is touched only by an anti-join on the touched
    keys — O(changed keys), never a two-table rescan."""
    from medallion_delta_lake_spark.operators.incremental import (
        maintain_join_from_changes,
    )
    from medallion_delta_lake_spark.sources import delta_log

    pl = scratch(sf_dir, "ivm_join_l")
    pr = scratch(sf_dir, "ivm_join_r")
    _shutil.rmtree(pl, ignore_errors=True)
    _shutil.rmtree(pr, ignore_errors=True)
    left = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_orderkey").alias("ok"),
            F.col("o_custkey").alias("cust"),
            F.floor(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    right = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"),
        F.col("c_mktsegment").alias("seg"),
    )
    delta_log.write_delta(spark, left.coalesce(2), pl)
    delta_log.write_delta(spark, right.coalesce(2), pr)
    for p in (pl, pr):
        delta_log.set_table_properties(
            p, {"delta.enableChangeDataFeed": "true"}
        )
    v0l = delta_log.resolve_snapshot(pl)["version"]
    v0r = delta_log.resolve_snapshot(pr)["version"]
    joined0 = delta_log.read_delta(spark, pl).join(
        delta_log.read_delta(spark, pr), "cust"
    )
    # churn the fact side
    delta_log.delete_delta_log(spark, pl, [("ok", "<", 20000)])
    delta_log.update_delta_log(
        spark, pl, [("ok", ">=", 50000)], {"cents": "cents + 7"}
    )
    # churn the dim side — the delete must evict joined fact rows
    delta_log.update_delta_log(
        spark, pr, [("cust", "<=", 300)], {"seg": "'VIP'"}
    )
    delta_log.delete_delta_log(spark, pr, [("cust", ">=", 1200)])
    maintained = maintain_join_from_changes(
        joined0,
        delta_log.read_delta(spark, pl),
        delta_log.read_delta(spark, pr),
        delta_log.table_changes(spark, pl, v0l + 1),
        delta_log.table_changes(spark, pr, v0r + 1),
        keys=["cust"],
    )
    return maintained.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
    )


# ------------------------------------------------------------------
# table-maintenance paths as driver faces: OPTIMIZE Z-ORDER, RESTORE


@query(
    "maintenance-optimize-zorder",
    # DELETE a band by deletion vector, then OPTIMIZE ZORDER — the
    # rewrite must MATERIALIZE the DV (spec PURGE behavior), commit
    # dataChange:false, and preserve table contents exactly; the
    # filtered read-back after the rewrite proves both content and
    # the re-clustered files' stats still answer predicates right
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           CAST(MIN(event_id) AS BIGINT) AS min_id
    FROM events
    WHERE event_id % 2 = 0 AND event_id >= 1000
      AND NOT (event_id >= 2000 AND event_id < 3000)
    GROUP BY event_type
    """,
)
def maintenance_optimize_zorder_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maintenance / OPTIMIZE Z-ORDER round trip — the compaction
    path (sources/delta_log.py:optimize_delta_log, pytest-proven in
    tests/test_zorder_skipping.py / test_log_compaction.py) as a
    driver-graded face: write a deliberately fragmented table (8
    small files), DELETE a band (lands as deletion vectors), OPTIMIZE
    with zorder_by=event_id — which must materialize the DVs into the
    rewrite (Delta's PURGE), commit remove+add with dataChange:false,
    and leave CONTENTS bit-identical — then read back through log
    replay with an event_id predicate (the re-clustered files' min/max
    stats drive the skipping). Oracle = the declarative filter off the
    base parquet; a lost row, a resurrected deleted row, or a stats
    mis-write that skips a live file all break the hash."""
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "opt_zorder")
    _shutil.rmtree(p, ignore_errors=True)
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .select("event_id", "event_type")
    )
    delta_log.write_delta(spark, base.repartition(8), p)
    delta_log.delete_delta_log(
        spark, p, [("event_id", ">=", 2000), ("event_id", "<", 3000)]
    )
    delta_log.optimize_delta_log(spark, p, zorder_by=["event_id"])
    back = delta_log.read_delta(
        spark, p, filters=[("event_id", ">=", 1000)]
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
        F.min("event_id").alias("min_id"),
    )


@query(
    "maintenance-restore-version",
    # churn (delete + append) then RESTORE to the seed version: the
    # read-back must equal the ORIGINAL subset exactly — restore is a
    # new commit that resurrects the old file set, never a history
    # rewrite
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events WHERE event_id % 5 = 0
    GROUP BY event_type
    """,
)
def maintenance_restore_version_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maintenance / RESTORE round trip — time travel as a WRITE
    operation (sources/delta_log.py:restore_delta_log, pytest-proven
    in tests/test_delta_lifecycle_e2e.py) as a driver-graded face:
    seed a table, churn it (DELETE a key range + APPEND extra rows),
    RESTORE to the seed version — a NEW commit that re-adds the old
    files and removes the churn, history intact — and read the
    restored state back by log replay. Oracle = the seed subset off
    the base parquet; any churn row surviving the restore, or any
    seed row lost, breaks the hash."""
    from medallion_delta_lake_spark.sources import delta_log

    p = scratch(sf_dir, "restore_v0")
    _shutil.rmtree(p, ignore_errors=True)
    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select("event_id", "event_type")
    )
    v0 = delta_log.write_delta(spark, base.coalesce(2), p)
    delta_log.delete_delta_log(spark, p, [("event_id", "<", 50000)])
    extra = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 1)
        .select("event_id", "event_type")
    )
    delta_log.write_delta(spark, extra.coalesce(1), p)
    delta_log.restore_delta_log(p, v0)
    back = delta_log.read_delta(spark, p)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
    )
