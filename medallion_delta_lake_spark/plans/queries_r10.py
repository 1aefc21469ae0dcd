"""Round-10 registered queries: the Delta identity-column write/read
round-trip and the streaming general-MERGE (CDC) sink — the two write
paths the verdict asked to put under driver evidence.

Both build their tables under a per-process tmp dir (the driver and a
concurrent local sweep must not race on the same path), keep every
driver-face column integer/string (the round-10 determinism posture),
and oracle against plain SQL over the same source parquet — proving
the committed table state equals the declarative equivalent.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medallion_delta_lake_spark.plans.registry import query, scratch, table


@query(
    "scan-delta-identity",
    # identity values are oracle-expressible because the two appends
    # write ONE sorted partition each: batch 1 (event_id % 11 = 0)
    # takes ids 1000, 1003, ... in event_id order; batch 2
    # (% 11 = 5) CONTINUES past batch 1's high-water mark — the
    # restart-monotonicity contract on the driver-checked face
    oracle="""
    WITH b1 AS (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (ORDER BY event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM events WHERE event_id % 11 = 0
    ),
    b2 AS (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (ORDER BY event_id) AS rn
      FROM events WHERE event_id % 11 = 5
    )
    SELECT 1000 + 3 * (rn - 1) AS row_id, event_id, event_type
    FROM b1
    UNION ALL
    SELECT 1000 + 3 * (n + rn - 1) AS row_id, b2.event_id,
           b2.event_type
    FROM b2, (SELECT ANY_VALUE(n) AS n FROM b1)
    """,
)
def scan_delta_identity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lifecycle / identity-column round-trip — create a GENERATED
    ALWAYS AS IDENTITY table (start 1000, step 3), append two
    deterministic event batches (each written as one sorted
    partition so the allocation order is ROW_NUMBER-expressible),
    and read the committed state back through the log engine. The
    oracle recomputes the identical ids from the source parquet:
    batch 2's ids prove the high-water mark persisted in metaData
    and generation resumed past it (sources/identity.py). All-integer
    face."""
    from medallion_delta_lake_spark.sources import identity as idm
    from medallion_delta_lake_spark.sources.delta_log import read_delta

    p = scratch(sf_dir, "identity_events")
    shutil.rmtree(p, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    idm.create_identity_table(
        spark, p, ev.schema, "row_id", start=1000, step=3
    )
    for m in (0, 5):
        batch = (
            ev.filter(F.col("event_id") % 11 == m)
            .repartition(1)
            .sortWithinPartitions("event_id")
        )
        idm.append_with_identity(spark, batch, p)
    return read_delta(spark, p).select(
        "row_id", "event_id", "event_type"
    )


@query(
    "stream-merge-clauses",
    # the streamed CDC MERGE's final table state == the declarative
    # join: VIP bump (first-true beats the generic update), ACTIVE
    # refresh, NEW insert for keys outside the base; integer cents
    # everywhere, so the face is engine-exact by construction
    oracle="""
    WITH base AS (
      SELECT c_custkey,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents,
             CAST(0 AS BIGINT) AS n_orders,
             'BASE' AS status
      FROM customer WHERE c_custkey % 17 = 0
    ),
    feed AS (
      SELECT o_custkey AS c_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS total_cents,
             COUNT(*) AS n_orders
      FROM orders WHERE o_custkey % 17 IN (0, 1)
      GROUP BY o_custkey
    )
    SELECT b.c_custkey,
           CASE WHEN f.c_custkey IS NOT NULL
                     AND f.total_cents > 40000000
                THEN b.bal_cents + 1000 ELSE b.bal_cents END
             AS bal_cents,
           CASE WHEN f.c_custkey IS NOT NULL THEN f.n_orders
                ELSE b.n_orders END AS n_orders,
           CASE WHEN f.c_custkey IS NOT NULL
                     AND f.total_cents > 40000000 THEN 'VIP'
                WHEN f.c_custkey IS NOT NULL THEN 'ACTIVE'
                ELSE b.status END AS status
    FROM base b LEFT JOIN feed f ON b.c_custkey = f.c_custkey
    UNION ALL
    SELECT f.c_custkey, f.total_cents AS bal_cents, f.n_orders,
           'NEW' AS status
    FROM feed f LEFT JOIN base b ON b.c_custkey = f.c_custkey
    WHERE b.c_custkey IS NULL
    """,
)
def stream_merge_clauses_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming / CDC MERGE sink — seed a log-backed customer-state
    table, stream a per-customer order rollup at it through
    ``stream_merge_clauses`` (foreachBatch → the log engine's general
    MERGE, availableNow), and return the committed final state. The
    feed is staged as three parquet files DISJOINT BY KEY HASH and
    consumed one file per microbatch (maxFilesPerTrigger=1), so the
    final state is independent of batch order — three real
    merge commits land in the log. Ordered first-true clause
    semantics on the checked face: conditional VIP update beats the
    generic ACTIVE refresh; unmatched feed keys insert as NEW
    (streaming/sink.py:stream_merge_clauses,
    sources/delta_log.py:merge_delta_log)."""
    from medallion_delta_lake_spark.sources.delta_log import (
        read_delta,
        write_delta,
    )
    from medallion_delta_lake_spark.streaming.sink import (
        stream_merge_clauses,
    )

    root = scratch(sf_dir, "stream_merge")
    shutil.rmtree(root, ignore_errors=True)
    target = os.path.join(root, "cust_state")
    feed_dir = os.path.join(root, "merge_feed")

    base = table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 17 == 0
    ).select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100)
        .cast("long")
        .alias("bal_cents"),
        F.lit(0).cast("long").alias("n_orders"),
        F.lit("BASE").alias("status"),
    )
    write_delta(spark, base.coalesce(2), target, mode="append")

    feed = (
        table(spark, sf_dir, "orders")
        .filter((F.col("o_custkey") % 17).isin(0, 1))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).alias("total_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    # three files disjoint by key hash → any microbatch order commits
    # the same final state (each key merges exactly once)
    feed.repartition(3, F.col("c_custkey") % 3).write.mode(
        "overwrite"
    ).parquet(feed_dir)

    sdf = (
        spark.readStream.schema(
            "c_custkey long, total_cents long, n_orders long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    clauses = [
        {
            "when": "matched",
            "action": "update",
            "condition": "s.total_cents > 40000000",
            "set": {
                "bal_cents": "d.bal_cents + 1000",
                "n_orders": "s.n_orders",
                "status": "'VIP'",
            },
        },
        {
            "when": "matched",
            "action": "update",
            "set": {"n_orders": "s.n_orders", "status": "'ACTIVE'"},
        },
        {
            "when": "not_matched",
            "action": "insert",
            "values": {
                "c_custkey": "s.c_custkey",
                "bal_cents": "s.total_cents",
                "n_orders": "s.n_orders",
                "status": "'NEW'",
            },
        },
    ]
    stream_merge_clauses(
        sdf, spark, target, ["c_custkey"], clauses
    )
    return read_delta(spark, target).select(
        "c_custkey", "bal_cents", "n_orders", "status"
    )


# ------------------------------------------------- sketch / robust


@query(
    "sample-bottomk-quantiles",
    # bottom-k by portable hash IS a mergeable uniform sample (the
    # union of shard bottom-k's re-truncates to the global bottom-k),
    # so per-group quantiles read off the 64-row sample: nearest-rank
    # positions over micros-quantized values — all-integer face
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(floor(value * 1e6) AS BIGINT) AS vq,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY CAST(('0x' || substr(md5('qs'
                 || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT),
                 event_id
             ) AS hr,
             COUNT(*) OVER (PARTITION BY event_type) AS n_total
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type, vq, n_total,
             LEAST(n_total, 64) AS k_used,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY vq, hr
             ) AS vr
      FROM h WHERE hr <= 64
    )
    SELECT event_type, ANY_VALUE(n_total) AS n_total,
           ANY_VALUE(k_used) AS k_used,
           MAX(CASE WHEN vr = CAST(ceil(0.5 * k_used) AS BIGINT)
                    THEN vq END) AS q50_q6,
           MAX(CASE WHEN vr = CAST(ceil(0.9 * k_used) AS BIGINT)
                    THEN vq END) AS q90_q6
    FROM s GROUP BY event_type
    """,
)
def sample_bottomk_quantiles_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sketch / mergeable bottom-k quantile estimate — per event
    type, keep the 64 rows with the SMALLEST portable hash (a
    deterministic uniform sample; bottom-k by hash is the mergeable
    sketch: shards keep their own bottom-64 and union re-truncates,
    so at 100 TB the shuffle carries 64 rows per group per shard, not
    the data) and read nearest-rank p50/p90 off the sample's
    micros-quantized values. O(1/√k) error vs the exact positional
    quantile at 1/N of the pass cost — the scale substitute
    documented for the exact-rank ops. One grouped hash top-k (no
    global sort) + one ≤64-row per-group window. All-integer face."""
    from medallion_delta_lake_spark.functions.hashing import h64
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    h = ev.select(
        "event_type",
        F.floor(F.col("value") * 1e6).alias("vq"),
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(
                h64(F.concat(F.lit("qs"), F.col("event_id"))),
                F.col("event_id"),
            )
        )
        .alias("hr"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .alias("n_total"),
    )
    s = h.filter(F.col("hr") <= 64).select(
        "event_type",
        "vq",
        "n_total",
        F.least(F.col("n_total"), F.lit(64).cast("bigint")).alias(
            "k_used"
        ),
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(
                F.col("vq"), F.col("hr")
            )
        )
        .alias("vr"),
    )
    return s.groupBy("event_type").agg(
        F.first("n_total").alias("n_total"),
        F.first("k_used").alias("k_used"),
        F.max(
            F.when(
                F.col("vr")
                == F.ceil(F.lit(0.5) * F.col("k_used")),
                F.col("vq"),
            )
        ).alias("q50_q6"),
        F.max(
            F.when(
                F.col("vr")
                == F.ceil(F.lit(0.9) * F.col("k_used")),
                F.col("vq"),
            )
        ).alias("q90_q6"),
    )


@query(
    "stats-hodges-lehmann",
    # Walsh averages (all pair means, i ≤ j) carried at 2× as integer
    # pair SUMS; their median at 2× again (lo+hi of middle ranks) →
    # hl_x4_q6 = 4·HL in micros — the robust location estimator with
    # a 29% breakdown point, float-free end to end
    oracle="""
    WITH pts AS (
      SELECT event_type, event_id,
             CAST(floor(value * 1e6) AS BIGINT) AS vq
      FROM events
      WHERE value IS NOT NULL AND event_id % 101 = 0
    ),
    walsh AS (
      SELECT a.event_type, a.vq + b.vq AS s2
      FROM pts a JOIN pts b
        ON a.event_type = b.event_type AND a.event_id <= b.event_id
    ),
    r AS (
      SELECT event_type, s2,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY s2
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM walsh
    ),
    np AS (
      SELECT event_type, COUNT(*) AS n_points FROM pts
      GROUP BY event_type
    )
    SELECT r.event_type, ANY_VALUE(np.n_points) AS n_points,
           ANY_VALUE(r.m) AS n_pairs,
           CAST(CASE WHEN COUNT(*) = 1 THEN 2 * SUM(s2)
                ELSE SUM(s2) END AS BIGINT) AS hl_x4_q6
    FROM r JOIN np ON r.event_type = np.event_type
    WHERE rn >= floor((m + 1) / 2) AND rn <= floor((m + 2) / 2)
    GROUP BY r.event_type
    """,
)
def stats_hodges_lehmann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Hodges–Lehmann pseudomedian — the median of all Walsh
    averages (pair means, i ≤ j) per event type: the rank-based
    location estimator between the mean (efficient, fragile) and the
    median (robust, inefficient) — 29% breakdown AND ~96% Gaussian
    efficiency, the right 'typical value' for skewed metrics.
    Completes the robust family (theil-sen trend, MAD scale, this
    location). Every-101st-event sample keeps the O(n²) Walsh set
    bounded (same probe posture as theil_sen); pair sums carry the
    mean at 2× and the median rides at 2× again — integer micros end
    to end, no double anywhere."""
    pts = (
        table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & (F.col("event_id") % 101 == 0)
        )
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 1e6).alias("vq"),
        )
    )
    a, b = pts.alias("a"), pts.alias("b")
    walsh = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.event_id") <= F.col("b.event_id")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("a.vq") + F.col("b.vq")).alias("s2"),
    )
    from pyspark.sql import Window as W

    r = walsh.select(
        "event_type",
        "s2",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("s2"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .alias("m"),
    )
    np_ = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_points")
    )
    mid = r.filter(
        (F.col("rn") >= F.floor((F.col("m") + 1) / 2))
        & (F.col("rn") <= F.floor((F.col("m") + 2) / 2))
    )
    return (
        mid.join(F.broadcast(np_), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_points").alias("n_points"),
            F.first("m").alias("n_pairs"),
            F.when(F.count(F.lit(1)) == 1, 2 * F.sum("s2"))
            .otherwise(F.sum("s2"))
            .alias("hl_x4_q6"),
        )
    )
