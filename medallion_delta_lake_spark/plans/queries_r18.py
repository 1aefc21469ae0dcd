"""Round-18 cohort query faces — REGISTERED in round 15 alongside the
r17 cohort (drafted and two-SF oracle-proven in round 12, per the
corrected backlog schedule in __spark_entry__). Same proof protocol
as every cohort since r10: tests/test_r18_drafts.py pins the cohort
registered with byte-identical oracle strings and proves each face
compare_query-green at two SFs.

- stream-cdf-tail — the STREAMING change-data-feed source built this
  round (sources/python_datasource.py:_CdfStreamReader,
  ``format("mdls_delta").option("readChangeFeed", "true")``): a
  scratch table lives through overwrite → CDF-on → append →
  DELETE-by-DV → UPDATE (cdc files), and one availableNow run of the
  feed must reproduce every commit's inserts/deletes/pre/postimages
  — aggregated per (_commit_version, _change_type) with exact cents
  sums the oracle recomputes from the raw events. This is the
  incremental-consumer API: downstream state maintenance reads ONLY
  the changes, never a snapshot.
- stream-cdf-replica — the full consumer: a foreachBatch fold of the
  feed into a replica Delta table
  (operators/incremental.py:replicate_from_changes), whose final
  state must equal the source's even though no source snapshot was
  ever read — streaming replication driven end to end.
- scan-parquet-schema-merge — mergeSchema over a raw parquet landing
  zone whose later batch grew a column (the footer-merge twin of the
  log-carried sink-delta-append-evolve);
- ml-brier-decomposition — Murphy reliability/resolution/uncertainty
  over 10 fixed forecast bins, per-bin exact integer quantizations
  (the diagnosis ml-brier-score's single number can't give);
- udtf-split-sentences — the second Python-UDTF face
  (operators/pandas_ops.py:split_sentences_udtf): LATERAL sentence
  explosion folded to per-doc stats;
- events-segment-migration — fixed-band monetary segment transition
  matrix (first vs second half of month), ≤36 cells at any scale;
- stats-cochran-armitage — the ordered-groups trend-in-proportions
  test (integer T/V cores, one fixed IEEE close);
- text-crossdoc-ngram-coverage — fraction of each doc's distinct
  5-grams occurring in ≥2 docs: corpus-level memorization risk with
  gram-keyed shuffles, nothing pairwise;
- split-group-kfold — grouped 5-fold assignment by portable user
  hash (leak-free BY CONSTRUCTION) with fold-balance audit;
- stats-ratio-delta-method — cluster-robust SE of a ratio metric
  (revenue per event, unit = user) via the delta method on exact
  integer moments.
"""

from __future__ import annotations

import hashlib as _hashlib
import os as _os
import shutil as _shutil
import tempfile as _tempfile
import uuid as _uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medallion_delta_lake_spark.operators.agg import q_div
from medallion_delta_lake_spark.plans.registry import query, table

R18_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
R18_ORACLES: dict[str, str] = {}


def draft(name: str, oracle: str):
    """r15 registration: every former draft face registers via the
    standard ``@query`` decorator AND stays in the module-local maps
    so tests/test_r18_drafts.py can pin the cohort independently of
    the full registry sweep (the same wiring r11–r16 used)."""

    def deco(fn):
        R18_QUERIES[name] = fn
        R18_ORACLES[name] = oracle
        return query(name, oracle=oracle)(fn)

    return deco


def _scratch(sf_dir: str, name: str) -> str:
    tag = _hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return _os.path.join(
        _tempfile.gettempdir(), f"mdls_r18_{tag}_{_os.getpid()}", name
    )


@draft(
    "stream-cdf-tail",
    # the staged life: v0 overwrite (%4==1), v1 props (silent),
    # v2 append (%4==2), v3 DELETE cents<=5000 (DV), v4 UPDATE
    # cents>20000 -> 0 (cdc pre/postimage); the oracle rebuilds each
    # commit's change set from the raw events
    oracle="""
    WITH sub AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             event_id % 4 AS m
      FROM events WHERE value IS NOT NULL
    ),
    v0 AS (
      SELECT CAST(0 AS BIGINT) AS _commit_version,
             'insert' AS _change_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents_sum
      FROM sub WHERE m = 1
    ),
    v2 AS (
      SELECT CAST(2 AS BIGINT), 'insert',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(cents) AS BIGINT)
      FROM sub WHERE m = 2
    ),
    v3 AS (
      SELECT CAST(3 AS BIGINT), 'delete',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(cents) AS BIGINT)
      FROM sub WHERE m IN (1, 2) AND cents <= 5000
    ),
    v4pre AS (
      SELECT CAST(4 AS BIGINT), 'update_preimage',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(cents) AS BIGINT)
      FROM sub WHERE m IN (1, 2) AND cents > 20000
    ),
    v4post AS (
      SELECT CAST(4 AS BIGINT), 'update_postimage',
             CAST(COUNT(*) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM sub WHERE m IN (1, 2) AND cents > 20000
    )
    SELECT * FROM v0 UNION ALL SELECT * FROM v2
    UNION ALL SELECT * FROM v3 UNION ALL SELECT * FROM v4pre
    UNION ALL SELECT * FROM v4post
    """,
)
def stream_cdf_tail_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming / change-data-feed tail — the incremental-consumer
    path: a downstream job subscribes to a table's CHANGES
    (``readStream.format("mdls_delta").option("readChangeFeed",
    "true")``) instead of re-reading snapshots, so maintaining a
    replica/aggregate costs O(changed rows) per batch at any table
    size. The staged table lives through overwrite, CDF-enable
    (dataChange:false — provably SILENT in the feed), append,
    DELETE-by-deletion-vector (the feed emits exactly the
    newly-flagged rows with their PRE-delete values), and UPDATE on a
    CDF-enabled table (read from the commit's ``_change_data`` files
    — paired update_preimage/update_postimage rows). One availableNow
    pass aggregates the whole feed per (_commit_version,
    _change_type) with exact cents sums
    (sources/python_datasource.py:_CdfStreamReader;
    tests/test_cdf_stream.py adds checkpointed-resume coverage)."""
    from medallion_delta_lake_spark.sources import (
        delta_log as dl,
        python_datasource as pds,
    )

    pds.register(spark)
    p = _scratch(sf_dir, "cdf_tail")
    _shutil.rmtree(p, ignore_errors=True)
    sub = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            (F.col("event_id") % 4).alias("m"),
        )
    )
    dl.write_delta(
        spark,
        sub.filter(F.col("m") == 1).drop("m").coalesce(2),
        p,
        mode="overwrite",
    )
    dl.set_table_properties(
        p, {"delta.enableChangeDataFeed": "true"}
    )
    dl.write_delta(
        spark,
        sub.filter(F.col("m") == 2).drop("m").coalesce(1),
        p,
        mode="append",
    )
    dl.delete_delta_log(spark, p, [("cents", "<=", 5000)])
    dl.update_delta_log(
        spark, p, [("cents", ">", 20000)], {"cents": "0"}
    )
    name = f"mdls_cdf_{_uuid.uuid4().hex[:12]}"
    q = (
        spark.readStream.format(pds.FORMAT_NAME)
        .option("path", p)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).groupBy(
        "_commit_version", "_change_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents_sum"),
    )


# ------------------------------------------------------------------
# stream-cdf-replica


def fold_changes(
    spark: SparkSession,
    batch: DataFrame,
    replica: str,
    key: str,
    data_cols: list[str],
) -> None:
    """Fold one change-feed batch into the log-backed ``replica``
    through the file-scoped MERGE: the last action per ``key`` wins —
    a delete removes the key, anything else replaces or inserts it.

    Preimages are dropped and the newest ``_commit_version`` wins.
    Within one version the added row (insert or postimage) is the state
    after the commit, so it beats a delete; two added rows of one key
    in one version are ordered by their data columns. The replica is
    thus a function of the feed, not of how its rows are partitioned."""
    from medallion_delta_lake_spark.sources import delta_log as dl

    w = Window.partitionBy(key).orderBy(
        F.col("_commit_version").desc(),
        (F.col("_change_type") != "delete").desc(),
        *[F.col(c).desc() for c in data_cols if c != key],
    )
    latest = (
        batch.filter(F.col("_change_type") != "update_preimage")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*data_cols, "_change_type")
    )
    dl.merge_delta_log(
        spark,
        latest,
        replica,
        [key],
        [
            {
                "when": "matched",
                "action": "delete",
                "condition": "s._change_type = 'delete'",
            },
            {
                "when": "matched",
                "action": "update",
                "set": {c: f"s.`{c}`" for c in data_cols if c != key},
            },
            {
                "when": "not_matched",
                "action": "insert",
                "condition": "s._change_type <> 'delete'",
                "values": {c: f"s.`{c}`" for c in data_cols},
            },
        ],
    )


@draft(
    "stream-cdf-replica",
    # the replica's final state must equal the source's: m in (1,2),
    # minus the DV-deleted cents<=5000 rows, updated rows at 0
    oracle="""
    WITH sub AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE value IS NOT NULL AND event_id % 4 IN (1, 2)
    ),
    state AS (
      SELECT event_id, event_type,
             CASE WHEN cents > 20000 THEN 0 ELSE cents END AS cents
      FROM sub WHERE cents > 5000
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM state GROUP BY event_type
    """,
)
def stream_cdf_replica_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming / change-feed REPLICATION — the full downstream
    pattern the CDF source exists for: a foreachBatch consumer folds
    each microbatch of changes into a replica Delta table via the
    file-scoped MERGE (sources/delta_log.py:merge_delta_log — latest
    non-preimage action per key wins; only replica files a clause
    fired on are rewritten: O(changed files) per batch, never
    O(table)), so after the availableNow run the REPLICA must
    equal the SOURCE's final state even though no snapshot of the
    source was ever read. The staged source lives through overwrite,
    CDF-enable, append, DELETE-by-DV, and a cdc UPDATE — the replica
    sees them only as feed rows. The face aggregates the replica;
    the oracle rebuilds the expected end state from raw events."""
    from medallion_delta_lake_spark.sources import (
        delta_log as dl,
        python_datasource as pds,
    )

    pds.register(spark)
    src = _scratch(sf_dir, "cdf_rep_src")
    rep = _scratch(sf_dir, "cdf_rep_dst")
    ckpt = _scratch(sf_dir, "cdf_rep_ckpt")
    for d in (src, rep, ckpt):
        _shutil.rmtree(d, ignore_errors=True)
    sub = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            (F.col("event_id") % 4).alias("m"),
        )
    )
    dl.write_delta(
        spark,
        sub.filter(F.col("m") == 1).drop("m").coalesce(2),
        src,
        mode="overwrite",
    )
    dl.set_table_properties(
        src, {"delta.enableChangeDataFeed": "true"}
    )
    dl.write_delta(
        spark,
        sub.filter(F.col("m") == 2).drop("m").coalesce(1),
        src,
        mode="append",
    )
    dl.delete_delta_log(spark, src, [("cents", "<=", 5000)])
    dl.update_delta_log(
        spark, src, [("cents", ">", 20000)], {"cents": "0"}
    )
    # seed an EMPTY replica with the source's data schema
    dl.write_delta(
        spark,
        sub.drop("m").limit(0).coalesce(1),
        rep,
        mode="overwrite",
    )

    # r16 optimization (guide §3/§6, VERDICT r15 #2): the fold used to
    # read the WHOLE replica and overwrite it per batch (O(table) per
    # microbatch — replicate_from_changes + full rewrite). Now each
    # batch folds through the file-scoped MERGE: latest non-preimage
    # action per key wins (the exact replicate_from_changes contract —
    # delete removes the key, anything else replaces/inserts), and
    # only replica files where a clause actually fired are rewritten,
    # so untouched files ride through the commit. O(changed files)
    # per batch, the right cost model at scale.
    data_cols = ["event_id", "event_type", "cents"]

    def fold(batch: DataFrame, batch_id: int) -> None:
        fold_changes(spark, batch, rep, "event_id", data_cols)

    q = (
        spark.readStream.format(pds.FORMAT_NAME)
        .option("path", src)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        dl.read_delta(spark, rep)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
        )
    )


# ------------------------------------------------------------------
# scan-parquet-schema-merge


@draft(
    "scan-parquet-schema-merge",
    # batch 1 lacks user_id; batch 2 carries it — the merged scan
    # must null-fill batch 1 and keep batch 2's values intact
    oracle="""
    WITH sub AS (
      SELECT event_id, event_type, user_id,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             event_id % 2 AS m
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_user,
           CAST(SUM(cents) AS BIGINT) AS cents_sum,
           CAST(SUM(CASE WHEN m = 1 THEN user_id END) AS BIGINT)
             AS user_id_sum
    FROM sub GROUP BY event_type
    """,
)
def scan_parquet_schema_merge_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """scan / parquet schema-merge read — the schema-evolution scan
    path for a RAW parquet landing zone (no Delta log to carry the
    schema): an early batch written WITHOUT ``user_id`` and a later
    batch WITH it land in one directory, and
    ``option("mergeSchema", "true")`` must union the footers — old
    files null-fill the new column, new files keep their values, and
    nothing else shifts (counts and cents sums stay exact). This is
    the footer-merge twin of sink-delta-append-evolve's log-carried
    evolution. Plan: one merged scan + one grouped aggregate."""
    p = _scratch(sf_dir, "pq_merge")
    _shutil.rmtree(p, ignore_errors=True)
    sub = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "user_id",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            (F.col("event_id") % 2).alias("m"),
        )
    )
    sub.filter(F.col("m") == 0).select(
        "event_id", "event_type", "cents"
    ).coalesce(2).write.mode("overwrite").parquet(p)
    sub.filter(F.col("m") == 1).select(
        "event_id", "event_type", "cents", "user_id"
    ).coalesce(2).write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("user_id").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_with_user"),
        F.sum("cents").cast("bigint").alias("cents_sum"),
        F.sum("user_id").cast("bigint").alias("user_id_sum"),
    )


# ------------------------------------------------------------------
# ml-brier-decomposition

_BD_BASE = """
      SELECT CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
               AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
"""


@draft(
    "ml-brier-decomposition",
    # Murphy decomposition over 10 fixed forecast bins; REL/RES fold
    # per-bin quantized integers (two-step trunc, identical in both
    # engines), UNC is one exact rational
    oracle=f"""
    WITH base AS ({_BD_BASE}),
    f AS (
      SELECT least(v * 20, 1000000) AS fq,         -- forecast q6
             least(CAST(v * 20 // 100000 AS BIGINT), 9) AS bin,
             y
      FROM base
    ),
    g AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS o,
             CAST(SUM(fq) AS BIGINT) AS sf
      FROM f GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(SUM(o) AS BIGINT) AS big_o
      FROM g
    ),
    per AS (
      SELECT g.bin, g.n, g.o, g.sf, tot.big_n, tot.big_o,
        CAST((CAST(sf - o * 1000000 AS HUGEINT)
              * (sf - o * 1000000)) // n AS BIGINT) AS rel_c,
        CAST((CAST(o * tot.big_n - tot.big_o * n AS HUGEINT)
              * (o * tot.big_n - tot.big_o * n) * 1000000000000)
             // (CAST(n AS HUGEINT) * tot.big_n * tot.big_n)
             AS BIGINT) AS res_c
      FROM g, tot
    ),
    fold AS (
      SELECT MAX(big_n) AS big_n, MAX(big_o) AS big_o,
             CAST(SUM(rel_c) AS BIGINT) AS rel_s,
             CAST(SUM(res_c) AS BIGINT) AS res_s
      FROM per
    )
    SELECT big_n AS n, big_o AS n_pos,
      CAST(CAST(rel_s AS HUGEINT) // big_n AS BIGINT)
        AS reliability_q12,
      CAST(CAST(res_s AS HUGEINT) // big_n AS BIGINT)
        AS resolution_q12,
      CAST((CAST(big_o AS HUGEINT) * (big_n - big_o) * 1000000000000)
           // (CAST(big_n AS HUGEINT) * big_n) AS BIGINT)
        AS uncertainty_q12
    FROM fold
    """,
)
def ml_brier_decomposition_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ml eval / Murphy decomposition of the Brier score —
    reliability (calibration error), resolution (how much the
    forecast separates outcomes), uncertainty (the base-rate floor)
    over 10 fixed forecast bins (forecast = clamped cents/50,000):
    the diagnosis ml-brier-score's single number can't give (a bad
    Brier from miscalibration is fixable by recalibration; one from
    no resolution is not). Every per-bin contribution is an exact
    integer quantization ((Σf − o·10⁶)²/n and the N-scaled
    resolution term; q12 units) folded by order-free integer sums —
    the two-step truncation is the documented semantics, identical
    in both engines. One grouped pass + a ≤10-row fold."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = F.round(F.col("value").cast("double") * 100, 0).cast("bigint")
    base = ev.select(
        v.alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    f = base.select(
        F.least(F.col("v") * 20, F.lit(1000000)).alias("fq"),
        F.least(
            (F.col("v") * 20 / 100000).cast("bigint"), F.lit(9)
        ).alias("bin"),
        "y",
    )
    g = f.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("o"),
        F.sum("fq").cast("bigint").alias("sf"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum("o").cast("bigint").alias("big_o"),
    )
    per = g.crossJoin(F.broadcast(tot)).select(
        "n",
        "o",
        "sf",
        "big_n",
        "big_o",
        q_div(
            (F.col("sf") - F.col("o") * 1000000).cast("decimal(38,0)")
            * (F.col("sf") - F.col("o") * 1000000).cast(
                "decimal(38,0)"
            ),
            F.col("n").cast("decimal(38,0)"),
            0,
        ).alias("rel_c"),
        q_div(
            (
                F.col("o") * F.col("big_n")
                - F.col("big_o") * F.col("n")
            ).cast("decimal(38,0)")
            * (
                F.col("o") * F.col("big_n")
                - F.col("big_o") * F.col("n")
            ).cast("decimal(38,0)")
            * F.lit(10**12).cast("decimal(38,0)"),
            F.col("n").cast("decimal(38,0)")
            * F.col("big_n").cast("decimal(38,0)")
            * F.col("big_n").cast("decimal(38,0)"),
            0,
        ).alias("res_c"),
    )
    fold = per.agg(
        F.max("big_n").alias("big_n"),
        F.max("big_o").alias("big_o"),
        F.sum("rel_c").cast("bigint").alias("rel_s"),
        F.sum("res_c").cast("bigint").alias("res_s"),
    )
    return fold.select(
        F.col("big_n").alias("n"),
        F.col("big_o").alias("n_pos"),
        q_div(
            F.col("rel_s").cast("decimal(38,0)"),
            F.col("big_n").cast("decimal(38,0)"),
            0,
        ).alias("reliability_q12"),
        q_div(
            F.col("res_s").cast("decimal(38,0)"),
            F.col("big_n").cast("decimal(38,0)"),
            0,
        ).alias("resolution_q12"),
        q_div(
            F.col("big_o").cast("decimal(38,0)")
            * (F.col("big_n") - F.col("big_o")).cast("decimal(38,0)")
            * F.lit(10**12).cast("decimal(38,0)"),
            F.col("big_n").cast("decimal(38,0)")
            * F.col("big_n").cast("decimal(38,0)"),
            0,
        ).alias("uncertainty_q12"),
    )


# ------------------------------------------------------------------
# udtf-split-sentences


@draft(
    "udtf-split-sentences",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, '. ') AS sents
      FROM documents
    ),
    s AS (
      SELECT doc_id, unnest(sents) AS sentence FROM d
    ),
    c AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(sentence, ' '),
                                  t -> t <> '')) AS BIGINT)
               AS n_tokens
      FROM s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(MAX(n_tokens) AS BIGINT) AS max_sent_tokens,
           CAST((CAST(SUM(n_tokens) AS HUGEINT) * 1000000)
                // COUNT(*) AS BIGINT) AS mean_sent_tokens_q6
    FROM c GROUP BY doc_id
    """,
)
def udtf_split_sentences_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """udtf / sentence splitting — each document exploded into
    sentences by an Arrow-optimized Python UDTF in a LATERAL join
    (operators/pandas_ops.py:split_sentences_udtf), folded to
    per-document sentence-length stats: the second UDTF face next to
    udtf-chunk-windows, covering the one-row→variable-rows surface
    with a boundary rule (sentence segmentation) that REAL splitters
    grow imperative state for. The UDTF explosion runs inside the
    scan stage; the only shuffle is the per-doc fold."""
    from medallion_delta_lake_spark.operators.pandas_ops import (
        split_sentences_udtf,
    )

    spark.udtf.register("split_sentences", split_sentences_udtf())
    table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_docs_for_sentences"
    )
    out = spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.n_tokens "
        "FROM _docs_for_sentences d, LATERAL split_sentences(d.text) s"
    )
    return out.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        F.max("n_tokens").cast("bigint").alias("max_sent_tokens"),
        q_div(
            F.sum("n_tokens").cast("decimal(38,0)"),
            F.count(F.lit(1)).cast("decimal(38,0)"),
            6,
        ).alias("mean_sent_tokens_q6"),
    )


# ------------------------------------------------------------------
# events-segment-migration

_SEG_SQL = (
    "CASE WHEN s < 10000 THEN 1 WHEN s < 50000 THEN 2"
    " WHEN s < 200000 THEN 3 WHEN s < 1000000 THEN 4 ELSE 5 END"
)


@draft(
    "events-segment-migration",
    oracle=f"""
    WITH sub AS (
      SELECT user_id,
             CASE WHEN EXTRACT(DAY FROM ts) <= 15 THEN 'a' ELSE 'b'
             END AS period,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    m AS (
      SELECT user_id, period, CAST(SUM(cents) AS BIGINT) AS s
      FROM sub GROUP BY user_id, period
    ),
    seg AS (
      SELECT user_id, period, {_SEG_SQL} AS seg FROM m
    ),
    a AS (SELECT user_id, seg FROM seg WHERE period = 'a'),
    b AS (SELECT user_id, seg FROM seg WHERE period = 'b'),
    mig AS (
      SELECT COALESCE(a.seg, 0) AS seg_a, COALESCE(b.seg, 0) AS seg_b,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT seg_a, CAST(SUM(n_users) AS BIGINT) AS t FROM mig
      GROUP BY seg_a
    )
    SELECT mig.seg_a, mig.seg_b, mig.n_users,
           CAST((CAST(mig.n_users AS HUGEINT) * 1000000) // tot.t
                AS BIGINT) AS share_q6
    FROM mig JOIN tot ON mig.seg_a = tot.seg_a
    """,
)
def events_segment_migration_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events / value-segment migration matrix — each user's monetary
    band (five fixed cents thresholds; 0 = absent) in the first half
    of the month vs the second, with the within-origin share: the
    upgrade/downgrade/churn report CRM reads off RFM-style segments.
    Fixed bands keep the segment key BOUNDED by construction (no rank
    machinery needed — the r12 lesson's cheapest form); the matrix is
    ≤36 cells whatever the user count, and the only row-scale work is
    one (user, period) aggregate + one full-outer join on user_id."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    m = ev.groupBy(
        "user_id",
        F.when(F.dayofmonth("ts") <= 15, "a").otherwise("b").alias(
            "period"
        ),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("s")
    )
    seg = m.select("user_id", "period", F.expr(_SEG_SQL).alias("seg"))
    a = seg.filter(F.col("period") == "a").select(
        "user_id", F.col("seg").alias("seg_a_raw")
    )
    b = seg.filter(F.col("period") == "b").select(
        "user_id", F.col("seg").alias("seg_b_raw")
    )
    mig = (
        a.join(b, "user_id", "full_outer")
        .groupBy(
            F.coalesce("seg_a_raw", F.lit(0)).alias("seg_a"),
            F.coalesce("seg_b_raw", F.lit(0)).alias("seg_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    tot = mig.groupBy("seg_a").agg(
        F.sum("n_users").cast("bigint").alias("t")
    )
    return mig.join(F.broadcast(tot), "seg_a").select(
        "seg_a",
        "seg_b",
        "n_users",
        q_div(
            F.col("n_users").cast("decimal(38,0)"),
            F.col("t").cast("decimal(38,0)"),
            6,
        ).alias("share_q6"),
    )


# ------------------------------------------------------------------
# stats-cochran-armitage


@draft(
    "stats-cochran-armitage",
    oracle="""
    WITH base AS (
      SELECT CAST(least(4, floor(value / 100)) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS o
      FROM base GROUP BY s
    ),
    t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(SUM(o) AS BIGINT) AS big_o,
             CAST(SUM(s * n) AS BIGINT) AS sn,
             CAST(SUM(s * o) AS BIGINT) AS so,
             CAST(SUM(s * s * n) AS BIGINT) AS s2n
      FROM g
    ),
    c AS (
      SELECT big_n, big_o,
             big_n * so - big_o * sn AS t_num,
             big_n * s2n - sn * sn AS v_num
      FROM t
    )
    SELECT big_n AS n, big_o AS n_pos, t_num, v_num,
           CASE WHEN v_num > 0 AND big_o > 0 AND big_o < big_n THEN
             CAST(t_num AS DOUBLE) * sqrt(CAST(big_n AS DOUBLE))
               / sqrt(CAST(big_o AS DOUBLE)
                      * CAST(big_n - big_o AS DOUBLE)
                      * CAST(v_num AS DOUBLE))
           END AS z
    FROM c
    """,
)
def stats_cochran_armitage_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stats / Cochran-Armitage trend test — is the purchase
    proportion MONOTONE in the ordered value band (scores 0..4)?
    The dose-response test the chi-square independence face can't
    give (chi² ignores order). T = N·Σs·o − O·Σs·n and
    V = N·Σs²n − (Σs·n)² stay exact BIGINTs; the close
    z = T·√N / √(O·(N−O)·V) is a fixed IEEE chain (bigint→double
    casts are correctly rounded in both engines). One grouped pass to
    the ≤5-row band frame; everything after is constant-size."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        F.least(F.lit(4), F.floor(F.col("value") / 100))
        .cast("bigint")
        .alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    g = base.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("o"),
    )
    t = g.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum("o").cast("bigint").alias("big_o"),
        F.sum(F.col("s") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("o")).cast("bigint").alias("so"),
        F.sum(F.col("s") * F.col("s") * F.col("n"))
        .cast("bigint")
        .alias("s2n"),
    )
    c = t.select(
        "big_n",
        "big_o",
        (
            F.col("big_n") * F.col("so") - F.col("big_o") * F.col("sn")
        ).alias("t_num"),
        (
            F.col("big_n") * F.col("s2n") - F.col("sn") * F.col("sn")
        ).alias("v_num"),
    )
    z = (
        F.col("t_num").cast("double")
        * F.sqrt(F.col("big_n").cast("double"))
        / F.sqrt(
            F.col("big_o").cast("double")
            * (F.col("big_n") - F.col("big_o")).cast("double")
            * F.col("v_num").cast("double")
        )
    )
    return c.select(
        F.col("big_n").alias("n"),
        F.col("big_o").alias("n_pos"),
        "t_num",
        "v_num",
        F.when(
            (F.col("v_num") > 0)
            & (F.col("big_o") > 0)
            & (F.col("big_o") < F.col("big_n")),
            z,
        ).alias("z"),
    )


# ------------------------------------------------------------------
# text-crossdoc-ngram-coverage

_COV_N = 5
_COV_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


@draft(
    "text-crossdoc-ngram-coverage",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({_COV_NORM_SQL}, ' ') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[i : i + {_COV_N - 1}], ' ') AS gram
      FROM d, unnest(range(1, len(toks) - {_COV_N - 2})) AS r(i)
    ),
    dfq AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM g
      GROUP BY gram
    ),
    j AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM g JOIN dfq USING (gram) GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_shared,
           CAST((CAST(n_shared AS HUGEINT) * 1000000) // n_grams
                AS BIGINT) AS shared_q6
    FROM j WHERE n_grams > 0
    """,
)
def text_crossdoc_ngram_coverage_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """text / cross-document 5-gram coverage — for each document, the
    fraction of its DISTINCT word 5-grams that also occur in at least
    one OTHER document (df ≥ 2 over distinct (doc, gram) postings):
    the corpus-level memorization/boilerplate risk score — high
    coverage means the doc is assembled from corpus-common spans —
    that the PAIRWISE dedup faces (containment, MinHash) don't give
    without quadratic pair enumeration. Plan: one distinct posting
    build, one gram-keyed document-frequency aggregate, one join back
    — every shuffle rides the gram key (vocabulary-of-grams bounded,
    map-side combined), nothing pairwise."""
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
    gram = F.concat_ws(
        " ",
        F.col("tok"),
        *[F.lead("tok", k).over(w) for k in range(1, _COV_N)],
    )
    g = (
        t.select(
            "doc_id",
            gram.alias("gram"),
            F.lead("tok", _COV_N - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("doc_id", "gram")
        .distinct()
    )
    dfq = g.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    j = g.join(dfq, "gram").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_shared"),
    )
    return j.filter(F.col("n_grams") > 0).select(
        "doc_id",
        "n_grams",
        "n_shared",
        q_div(
            F.col("n_shared").cast("decimal(38,0)"),
            F.col("n_grams").cast("decimal(38,0)"),
            6,
        ).alias("shared_q6"),
    )


# ------------------------------------------------------------------
# split-group-kfold

_KFOLD = 5


@draft(
    "split-group-kfold",
    oracle=f"""
    WITH f AS (
      SELECT user_id, event_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % {_KFOLD}
               AS fold
      FROM events WHERE user_id IS NOT NULL
    ),
    g AS (
      SELECT fold,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM f GROUP BY fold
    ),
    tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS t FROM g)
    SELECT CAST(g.fold AS BIGINT) AS fold, g.n_users, g.n_rows,
           CAST((CAST(g.n_rows AS HUGEINT) * 1000000) // tot.t
                AS BIGINT) AS rows_share_q6
    FROM g, tot
    """,
)
def split_group_kfold_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split / GROUPED k-fold assignment — every row of a user lands
    in the same fold (fold = portable-hash(user) mod 5), the split
    design that prevents the same-user train/test leakage
    split-leakage-audit measures after the fact. Deterministic across
    engines, runs, and retries (h64, no RNG state); the face reports
    per-fold user/row counts and row shares so fold balance is
    auditable. One grouped pass; BY CONSTRUCTION leak-free, so the
    audit face's score on this split is exactly zero."""
    from medallion_delta_lake_spark.functions.hashing import h64

    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    f = ev.select(
        "user_id",
        F.pmod(
            h64(F.col("user_id").cast("string")), F.lit(_KFOLD)
        ).alias("fold"),
    )
    g = f.groupBy("fold").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    tot = g.agg(F.sum("n_rows").cast("bigint").alias("t"))
    return g.crossJoin(F.broadcast(tot)).select(
        F.col("fold").cast("bigint").alias("fold"),
        "n_users",
        "n_rows",
        q_div(
            F.col("n_rows").cast("decimal(38,0)"),
            F.col("t").cast("decimal(38,0)"),
            6,
        ).alias("rows_share_q6"),
    )


# ------------------------------------------------------------------
# stats-ratio-delta-method


@draft(
    "stats-ratio-delta-method",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY user_id
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM u
    ),
    c AS (
      SELECT n, sx, sy,
        CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vx,
        (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vy,
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cxy,
        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ym
      FROM t
    )
    SELECT n AS n_units, sx AS sum_x, sy AS sum_y, r AS ratio,
      CASE WHEN n > 1 AND sy > 0 THEN
        sqrt(greatest(
          (vx - 2.0 * r * cxy + r * r * vy)
            / (CAST(n AS DOUBLE) * ym * ym),
          CAST(0.0 AS DOUBLE)))
      END AS se_ratio
    FROM c
    """,
)
def stats_ratio_delta_method_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stats / delta-method standard error of a RATIO metric —
    revenue per event, unit = user (the A/B-testing shape where the
    naive per-row variance is WRONG because numerator and denominator
    co-vary within a unit): se²(X̄/Ȳ) ≈ (s_x² − 2R·s_xy + R²·s_y²) /
    (n·ȳ²). Every moment is an exact BIGINT sum over the user frame
    (bigint→double casts are correctly rounded in both engines), and
    the close is one fixed IEEE chain of ×,÷,−,sqrt. One per-user
    aggregate + one 1-row fold — the cluster-robust SE without any
    resampling (agg-bootstrap-poisson-ci is the resampling twin)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100).cast("bigint"),
            ).otherwise(0)
        ).cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    t = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    r = sxd / syd
    vx = (nd * F.col("sxx").cast("double") - sxd * sxd) / (
        nd * (nd - 1.0)
    )
    vy = (nd * F.col("syy").cast("double") - syd * syd) / (
        nd * (nd - 1.0)
    )
    cxy = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        nd * (nd - 1.0)
    )
    ym = syd / nd
    se = F.sqrt(
        F.greatest(
            (vx - 2.0 * r * cxy + r * r * vy) / (nd * ym * ym),
            F.lit(0.0),
        )
    )
    return t.select(
        F.col("n").alias("n_units"),
        F.col("sx").alias("sum_x"),
        F.col("sy").alias("sum_y"),
        r.alias("ratio"),
        F.when(
            (F.col("n") > 1) & (F.col("sy") > 0), se
        ).alias("se_ratio"),
    )
