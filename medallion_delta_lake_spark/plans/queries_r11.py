"""Round-11 query faces — REGISTERED as of round 11 (they were
drafted + oracle-proven in round 10 while the registry was frozen at
291; see SURVEY.md §7 Phase 7). Each face pairs a Spark query over
the r10 pre-built operators with its DuckDB oracle;
tests/test_registered_faces.py runs every face registered here through
tests/oracle.compare_query at two SFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medallion_delta_lake_spark.functions.hashing import (
    h64_sql,
    minhash_params,
    perm_hash_sql,
)
from medallion_delta_lake_spark.operators import sketches as sk
from medallion_delta_lake_spark.operators import similarity as sim
from medallion_delta_lake_spark.operators import text_analysis as ta
from medallion_delta_lake_spark.operators import variant_ops as vo
from medallion_delta_lake_spark.plans.registry import query, scratch, table


_UID = "CAST(user_id AS VARCHAR)"


@query(
    "sketch-hll-users",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
        {h64_sql(_UID)} AS h
      FROM events WHERE user_id IS NOT NULL
    ), regs AS (
      SELECT event_type, h & 1023 AS reg,
        CASE WHEN (h >> 10) = 0 THEN 51
             ELSE 51 - length(bin(h >> 10)) END AS r
      FROM h
    ), reg_max AS (
      SELECT event_type, reg, MAX(r) AS r
      FROM regs GROUP BY event_type, reg
    ), agg AS (
      SELECT event_type, COUNT(*) AS n_present,
        SUM((CAST(1 AS BIGINT) << (51 - r))) AS s_present
      FROM reg_max GROUP BY event_type
    )
    SELECT event_type, 1024 AS m,
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
    """,
)
def sketch_hll_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch / HLL distinct-user estimate per event type — the
    register table (operators/sketches.py) folded to the all-integer
    (m, v_zero, s_pow, est_q6) face; at 100 TB the register partials
    are stored per day and max-merged, never recomputed."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    parts = sk.hll_partials(ev, ["event_type"], "user_id", p=10)
    return sk.hll_estimate(parts, ["event_type"], p=10)


@query(
    "sketch-kmv-distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {h64_sql(_UID)} AS h
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT event_type, h,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h
    ), kept AS (SELECT event_type, h FROM r WHERE rn <= 256)
    SELECT event_type,
      COUNT(*) AS n_kept,
      MAX(h) AS h_k,
      CASE WHEN COUNT(*) < 256
           THEN COUNT(*) * 1000000
           ELSE CAST((CAST(255 AS HUGEINT)
                      * (CAST(1 AS HUGEINT) << 60) * 1000000)
                     // MAX(h) AS BIGINT)
      END AS est_q6
    FROM kept GROUP BY event_type
    """,
)
def sketch_kmv_distinct_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sketch / KMV bottom-k distinct-user estimate per event type —
    exact below k=256 (small SFs), the (k−1)·2^60/h_k integer
    estimator above (sf0.1 has ~1500 users)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    parts = sk.kmv_partials(ev, ["event_type"], "user_id", k=256)
    return sk.kmv_estimate(parts, ["event_type"], k=256)


@query(
    "sketch-kmv-overlap",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {h64_sql(_UID)} AS h
      FROM events
      WHERE user_id IS NOT NULL
        AND event_type IN ('click', 'purchase')
    ), r AS (
      SELECT event_type, h,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h
    ),
    a AS (SELECT h FROM r WHERE event_type = 'click' AND rn <= 256),
    b AS (SELECT h FROM r WHERE event_type = 'purchase' AND rn <= 256),
    x AS (
      SELECT COALESCE(a.h, b.h) AS h,
             CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
             CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
      FROM a FULL OUTER JOIN b ON a.h = b.h
      ORDER BY 1 LIMIT 256
    ), agg AS (
      SELECT COUNT(*) AS x_n, MAX(h) AS h_k,
        SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
          AS x_both
      FROM x
    )
    SELECT CAST(x_n AS BIGINT) AS x_n,
      CAST(x_both AS BIGINT) AS x_both, h_k,
      CASE WHEN x_n < 256 THEN x_n * 1000000
           ELSE CAST((CAST(255 AS HUGEINT)
                      * (CAST(1 AS HUGEINT) << 60) * 1000000)
                     // h_k AS BIGINT)
      END AS union_est_q6,
      CAST((CAST(x_both AS HUGEINT) * 1000000) // x_n AS BIGINT)
        AS jaccard_q6,
      CAST((CAST(x_both AS HUGEINT)
            * (CASE WHEN x_n < 256 THEN x_n * 1000000
                    ELSE CAST((CAST(255 AS HUGEINT)
                               * (CAST(1 AS HUGEINT) << 60) * 1000000)
                              // h_k AS BIGINT) END)
            * 1000000)
           // (CAST(x_n AS HUGEINT) * 1000000) AS BIGINT)
        AS inter_est_q6
    FROM agg
    """,
)
def sketch_kmv_overlap_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sketch / audience-overlap estimate between the click and
    purchase user sets from their KMV sketches alone: union, Jaccard,
    intersection — all exact integer quantizations over two ≤k-row
    frames (the sketches bounded the work regardless of source
    scale)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    parts = sk.kmv_partials(ev, ["event_type"], "user_id", k=256)
    a = parts.filter(F.col("event_type") == "click").select("h")
    b = parts.filter(F.col("event_type") == "purchase").select("h")
    return sk.kmv_set_ops(a, b, k=256)


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
    "sketch-cms-probe",
    oracle=f"""
    WITH it AS (
      SELECT {_UID} AS item FROM events WHERE user_id IS NOT NULL
    ),
    counters AS ({_cms_counters_sql("it")}),
    probes AS (
      SELECT DISTINCT {_UID} AS probe FROM events
      WHERE user_id IS NOT NULL AND user_id % 5 = 0
    ),
    pb AS ({_cms_probe_sql()})
    SELECT probe,
      MIN(COALESCE(cnt, 0)) AS est_cnt
    FROM pb LEFT JOIN counters USING (row_i, bucket)
    GROUP BY probe
    """,
)
def sketch_cms_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch / Count-Min frequency estimates — events-per-user for
    the user_id % 5 probe set, answered from the d×w counter table
    (never the raw events): the broadcast point-query path."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    sketch = sk.cms_partials(ev, [], "user_id", d=_CMS_D, w=_CMS_W)
    probes = (
        ev.filter(F.col("user_id") % 5 == 0)
        .select(F.col("user_id").cast("string").alias("user_id"))
        .distinct()
    )
    return sk.cms_query(sketch, probes, "user_id", d=_CMS_D, w=_CMS_W)


@query(
    "text-bm25-core",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                     'g')), ' ') AS toks
      FROM documents
    ),
    toks AS (SELECT doc_id, unnest(toks) AS token FROM d),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf
           FROM toks GROUP BY doc_id, token),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    tot AS (SELECT COUNT(*) AS t, COUNT(DISTINCT doc_id) AS n
            FROM toks)
    SELECT f.doc_id, f.token, f.tf, l.dl, dfreq.df,
      CAST(n AS BIGINT) AS n_docs, CAST(t AS BIGINT) AS total_tokens,
      CAST((CAST(44 AS HUGEINT) * t * tf * 1000000)
           // (CAST(20 AS HUGEINT) * t * tf + 6 * t
               + 18 * l.dl * n) AS BIGINT) AS sat_q6,
      CAST((CAST(2 * n - 2 * df + 1 AS HUGEINT) * 1000000)
           // (2 * df + 1) AS BIGINT) AS pidf_q6,
      CAST((CAST(44 AS HUGEINT) * t * tf
            * (2 * n - 2 * df + 1) * 1000000)
           // ((CAST(20 AS HUGEINT) * t * tf + 6 * t
                + 18 * l.dl * n) * (2 * df + 1))
           AS BIGINT) AS bm25_core_q6
    FROM tf f
    JOIN dl l ON l.doc_id = f.doc_id
    JOIN dfreq ON dfreq.token = f.token, tot
    """,
)
def text_bm25_core_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text / Okapi BM25 core per (doc, token) — saturation and
    probabilistic-IDF rationals quantized through exact DECIMAL
    division (operators/text_analysis.py:bm25_stats); ln stays out of
    the face (cross-engine libm)."""
    return ta.bm25_stats(table(spark, sf_dir, "documents"))


@query(
    "variant-shred-orders",
    oracle="""
    SELECT o_orderstatus AS status,
      COUNT(*) AS n,
      CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM orders GROUP BY o_orderstatus
    """,
)
def variant_shred_orders_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """semi-structured / VARIANT round-trip proof — orders rows pass
    through to_json → parse_json (VARIANT) → shred_variant back to
    typed columns, then aggregate; the oracle computes straight off
    the base columns, so any value the variant path loses or invents
    breaks the hash."""
    o = table(spark, sf_dir, "orders").select(
        F.parse_json(
            F.to_json(
                F.struct("o_orderkey", "o_orderstatus", "o_custkey")
            )
        ).alias("payload")
    )
    sh = vo.shred_variant(
        o,
        "payload",
        {
            "okey": ("$.o_orderkey", "long"),
            "status": ("$.o_orderstatus", "string"),
            "cust": ("$.o_custkey", "long"),
        },
    )
    return sh.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("okey").alias("sum_key"),
        F.sum("cust").alias("sum_cust"),
    )


_JL_DIMS, _JL_OUT = 64, 8


def _jl_dot_sql(wlit: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(list_zip(embedding, {wlit}),"
        f" z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),"
        f" (s, y) -> s + y)"
    )


def _jl_components_sql() -> str:
    cols = []
    for j in range(_JL_OUT):
        w = sim.jl_weights(j, _JL_DIMS)
        wlit = "[" + ", ".join(f"{x}.0" for x in w) + "]"
        cols.append(f"{_jl_dot_sql(wlit)} AS c{j}")
    return ", ".join(cols)


@query(
    "sim-jl-components",
    oracle=f"""
    SELECT vec_id, {_jl_components_sql()}
    FROM embeddings
    """,
)
def sim_jl_components_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """similarity / JL projection components — per-row sequential-fold
    dots against md5-derived literal weights; DOUBLE face is safe
    because both engines execute the identical IEEE op sequence
    (the repo's verified list_reduce mirror), no cross-row
    accumulation anywhere."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    out = sim.project_embeddings(
        emb, out_dims=_JL_OUT, dims=_JL_DIMS
    )
    return out.select(
        "vec_id",
        *[
            F.col("proj")[j].alias(f"c{j}")
            for j in range(_JL_OUT)
        ],
    )


@query(
    "ts-croston-rate",
    # recursive-CTE oracle spelling croston's literal recurrence
    # (α = ½ exact binary scaling — same determinism contract as the
    # driver-green ts-holt-linear / stream-holt-monitor pair)
    oracle="""
    WITH RECURSIVE h AS (
      SELECT user_id, CAST(COALESCE(value, 0) AS DOUBLE) AS x,
        CAST(ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS BIGINT) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, rn,
        CASE WHEN x > 0 THEN x END AS z,
        CASE WHEN x > 0 THEN CAST(1.0 AS DOUBLE) END AS p,
        CASE WHEN x > 0 THEN 0 ELSE 1 END AS q,
        CASE WHEN x > 0 THEN 1 ELSE 0 END AS started
      FROM h WHERE rn = 1
      UNION ALL
      SELECT h.user_id, h.rn,
        CASE WHEN h.x > 0 THEN
          CASE WHEN rec.started = 1
               THEN 0.5 * h.x + 0.5 * rec.z ELSE h.x END
        ELSE rec.z END,
        CASE WHEN h.x > 0 THEN
          CASE WHEN rec.started = 1
               THEN 0.5 * (rec.q + 1) + 0.5 * rec.p
               ELSE CAST(rec.q + 1 AS DOUBLE) END
        ELSE rec.p END,
        CASE WHEN h.x > 0 THEN 0 ELSE rec.q + 1 END,
        CASE WHEN h.x > 0 THEN 1 ELSE rec.started END
      FROM rec JOIN h
        ON h.user_id = rec.user_id AND h.rn = rec.rn + 1
    ),
    last AS (SELECT user_id, MAX(rn) AS n_obs FROM h GROUP BY user_id)
    SELECT r.user_id, l.n_obs, r.z, r.p,
      CASE WHEN r.p IS NOT NULL THEN r.z / r.p END AS demand_rate
    FROM rec r JOIN last l
      ON r.user_id = l.user_id AND r.rn = l.n_obs
    """,
)
def ts_croston_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time series / Croston intermittent-demand state per user over
    the per-event value series (NULL/zero = no-demand steps) — the
    final (z, p, z/p) after the whole series, batch partition-stream
    mapInPandas (operators/pandas_ops.py:croston)."""
    from pyspark.sql import Window

    from medallion_delta_lake_spark.operators.pandas_ops import (
        croston,
    )

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("step"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("x"),
    )
    out = croston(series, "user_id", "step", "x")
    from pyspark.sql import Window as W2

    wlast = W2.partitionBy("user_id")
    return (
        out.withColumn("n_obs", F.max("step").over(wlast))
        .filter(F.col("step") == F.col("n_obs"))
        .select("user_id", "n_obs", "z", "p", "demand_rate")
    )


def _stage_stream(spark, df, p):
    """Materialize a frame as a single-file parquet stream source at
    scratch path ``p``."""
    df.coalesce(1).write.mode("overwrite").parquet(p)
    return spark.readStream.schema(df.schema).parquet(p)


def _cms_group_counters_sql() -> str:
    rows = []
    for i, (a, b) in enumerate(_CMS_PARAMS):
        ph = perm_hash_sql(h64_sql("item"), a, b)
        rows.append(
            f"SELECT event_type, {i} AS row_i,"
            f" ({ph}) % 256 AS bucket, COUNT(*) AS cnt"
            f" FROM it GROUP BY 1, 3"
        )
    return " UNION ALL ".join(rows)


def _cms_group_probe_sql() -> str:
    rows = []
    for i, (a, b) in enumerate(_CMS_PARAMS):
        ph = perm_hash_sql(h64_sql("item"), a, b)
        rows.append(
            f"SELECT event_type, item, {i} AS row_i,"
            f" ({ph}) % 256 AS bucket FROM di"
        )
    return " UNION ALL ".join(rows)


@query(
    "stream-cms-topk",
    # single-file source -> one availableNow microbatch -> the
    # emission is the final top-k; the oracle rebuilds the identical
    # counter matrix and ranks by (est DESC, item ASC)
    oracle=f"""
    WITH it AS (
      SELECT event_type, {_UID} AS item
      FROM events WHERE user_id IS NOT NULL
    ),
    counters AS ({_cms_group_counters_sql()}),
    di AS (SELECT DISTINCT event_type, item FROM it),
    pb AS ({_cms_group_probe_sql()}),
    est AS (
      SELECT pb.event_type, pb.item,
        MIN(COALESCE(c.cnt, 0)) AS est_cnt
      FROM pb LEFT JOIN counters c
        ON c.event_type = pb.event_type
        AND c.row_i = pb.row_i AND c.bucket = pb.bucket
      GROUP BY pb.event_type, pb.item
    ), ranked AS (
      SELECT event_type, item, est_cnt,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY est_cnt DESC, item) AS rnk
      FROM est
    )
    SELECT event_type, item, est_cnt FROM ranked WHERE rnk <= 5
    """,
)
def stream_cms_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming / Count-Min heavy hitters per event type — the
    applyInPandasWithState monitor (streaming/stateful.py:
    cms_topk_monitor) over a one-batch availableNow run; the counter
    matrix equals the batch sketch exactly, so the oracle rebuilds it
    in SQL and ranks identically."""
    from medallion_delta_lake_spark.streaming import (
        events as se,
        stateful,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    src = ev.select(
        "event_type", F.col("user_id").cast("string").alias("item")
    )
    sdf = _stage_stream(spark, src, scratch(sf_dir, "cms_topk"))
    return se.run_available_now(
        stateful.cms_topk_monitor(sdf, d=4, w=256, k=5),
        "update",
        spark,
        num_state_partitions=8,
    )


@query(
    "stream-kmv-distinct",
    # same face as sketch-kmv-distinct, reached through the streaming
    # monitor: bottom-k folding is the merge law, so the maintained
    # state equals the batch sketch no matter how batches split
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {h64_sql(_UID)} AS h
      FROM events WHERE user_id IS NOT NULL
    ), r AS (
      SELECT event_type, h,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h
    ), kept AS (SELECT event_type, h FROM r WHERE rn <= 256)
    SELECT event_type,
      COUNT(*) AS n_kept,
      MAX(h) AS h_k,
      CASE WHEN COUNT(*) < 256
           THEN COUNT(*) * 1000000
           ELSE CAST((CAST(255 AS HUGEINT)
                      * (CAST(1 AS HUGEINT) << 60) * 1000000)
                     // MAX(h) AS BIGINT)
      END AS est_q6
    FROM kept GROUP BY event_type
    """,
)
def stream_kmv_distinct_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """streaming / KMV distinct-users per event type — the
    applyInPandasWithState monitor (streaming/stateful.py:
    kmv_distinct_monitor) over an availableNow run; the bottom-k
    state equals the batch sketch bit-for-bit."""
    from medallion_delta_lake_spark.streaming import (
        events as se,
        stateful,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    src = ev.select(
        "event_type", F.col("user_id").cast("string").alias("item")
    )
    sdf = _stage_stream(spark, src, scratch(sf_dir, "kmv_distinct"))
    return se.run_available_now(
        stateful.kmv_distinct_monitor(sdf, k=256),
        "update",
        spark,
        num_state_partitions=8,
    )


@query(
    "ml-target-encode-oof",
    oracle=f"""
    WITH b AS (
      SELECT event_type AS cat,
        CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT) AS t,
        CAST({h64_sql("'f0' || CAST(event_id AS VARCHAR)")} % 5
             AS INT) AS fold
      FROM events WHERE value IS NOT NULL
    ),
    cf AS (SELECT cat, fold, COUNT(*) AS n_cf, SUM(t) AS sum_cf
           FROM b GROUP BY 1, 2),
    c AS (SELECT cat, COUNT(*) AS n_c, SUM(t) AS sum_c
          FROM b GROUP BY 1),
    f AS (SELECT CAST(unnest(range(5)) AS INT) AS fold),
    grid AS (SELECT c.cat, c.n_c, c.sum_c, f.fold
             FROM c CROSS JOIN f),
    j AS (
      SELECT g.cat, g.fold,
        g.n_c - COALESCE(cf.n_cf, 0) AS n_out,
        g.sum_c - COALESCE(cf.sum_cf, 0) AS sum_out
      FROM grid g
      LEFT JOIN cf ON cf.cat = g.cat AND cf.fold = g.fold
    )
    SELECT cat, fold,
      CAST(n_out AS BIGINT) AS n_out,
      CAST(sum_out AS BIGINT) AS sum_out,
      CASE WHEN n_out >= 1 THEN
        CAST((CASE WHEN sum_out < 0 THEN -1 ELSE 1 END)
             * ((abs(CAST(sum_out AS HUGEINT)) * 1000000) // n_out)
             AS BIGINT)
      END AS enc_q6
    FROM j
    """,
)
def ml_target_encode_oof_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """feature engineering / out-of-fold mean-target encoding table
    per (event_type, fold) over cent-quantized event values — the
    leakage-safe categorical encoder (operators/encoding.py); exact
    integer sums + one DECIMAL division, fold by portable hash."""
    from medallion_delta_lake_spark.operators import encoding as en

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.floor(F.col("value").cast("double") * 100)
            .cast("bigint")
            .alias("t_cents"),
        )
    )
    return en.target_encode_oof(
        ev, "event_type", "t_cents", "event_id", folds=5, salt="f0"
    )


_BLOOM_M, _BLOOM_K = 1 << 15, 4
_BLOOM_PARAMS = minhash_params(_BLOOM_K)


def _bloom_blocks_sql(src: str) -> str:
    probes = " UNION ALL ".join(
        f"SELECT ({perm_hash_sql(h64_sql('v'), a, b)}) % {_BLOOM_M}"
        f" AS pos FROM {src}"
        for a, b in _BLOOM_PARAMS
    )
    return (
        f"SELECT pos >> 5 AS block,"
        f" BIT_OR(CAST(1 AS BIGINT) << CAST(pos & 31 AS INT)) AS bits"
        f" FROM ({probes}) GROUP BY 1"
    )


def _bloom_probe_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT event_type, v,"
        f" (({perm_hash_sql(h64_sql('v'), a, b)}) % {_BLOOM_M}) >> 5"
        f" AS block,"
        f" CAST(1 AS BIGINT) <<"
        f" CAST((({perm_hash_sql(h64_sql('v'), a, b)}) % {_BLOOM_M})"
        f" & 31 AS INT) AS mask"
        f" FROM probe_rows"
        for a, b in _BLOOM_PARAMS
    )


@query(
    "sketch-bloom-semijoin",
    # the bloom-accelerated semi-join census: per event type, how
    # many event rows survive the purchase-users bloom (members all
    # survive -- no false negatives -- plus a bounded fp tail the
    # oracle reproduces exactly, bit for bit)
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
      WHERE user_id IS NOT NULL AND event_type = 'purchase'
    ),
    blocks AS ({_bloom_blocks_sql("members")}),
    probe_rows AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
      FROM events WHERE user_id IS NOT NULL
    ),
    pb AS ({_bloom_probe_sql()}),
    hits AS (
      SELECT pb.event_type, pb.v,
        SUM(CASE WHEN blocks.bits IS NOT NULL
                 AND (blocks.bits & pb.mask) = pb.mask
            THEN 1 ELSE 0 END) AS n_hit
      FROM pb LEFT JOIN blocks ON blocks.block = pb.block
      GROUP BY pb.event_type, pb.v
    )
    SELECT event_type,
      COUNT(*) AS n_probed,
      CAST(SUM(CASE WHEN n_hit = {_BLOOM_K} THEN 1 ELSE 0 END)
        AS BIGINT) AS n_survived
    FROM hits GROUP BY event_type
    """,
)
def sketch_bloom_semijoin_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sketch / bloom-accelerated semi-join census — per event type,
    distinct users probed vs users surviving the purchase-users bloom
    (operators/sketches.py:bloom_semi_join): the no-shuffle
    pre-filter a 100 TB stream applies before an exact join touches
    only survivors."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    members = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").cast("string").alias("v"))
        .distinct()
    )
    sketch = sk.bloom_partials(
        members, "v", m_bits=_BLOOM_M, k=_BLOOM_K
    )
    probes = ev.select(
        "event_type", F.col("user_id").cast("string").alias("v")
    ).distinct()
    kept = sk.bloom_semi_join(
        probes, sketch, "v", m_bits=_BLOOM_M, k=_BLOOM_K
    )
    return probes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_probed")
    ).join(
        kept.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_survived")
        ),
        "event_type",
        "left",
    ).select(
        "event_type",
        "n_probed",
        F.coalesce("n_survived", F.lit(0).cast("bigint")).alias(
            "n_survived"
        ),
    )


@query(
    "sketch-hdr-quantiles",
    oracle="""
    WITH v AS (
      SELECT event_type,
        CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    bins AS (
      SELECT event_type,
        CAST(greatest(length(bin(v)) - 5, 0) AS INT) AS b,
        v >> CAST(greatest(length(bin(v)) - 5, 0) AS INT) AS sub,
        COUNT(*) AS n
      FROM v GROUP BY 1, 2, 3
    ),
    lows AS (
      SELECT event_type, (sub << b) AS lower, n FROM bins
    ),
    cum AS (
      SELECT event_type, lower,
        SUM(n) OVER (PARTITION BY event_type ORDER BY lower) AS cum,
        SUM(n) OVER (PARTITION BY event_type) AS total
      FROM lows
    ),
    qs AS (SELECT unnest([500, 900, 990]) AS q_permille)
    SELECT c.event_type,
      CAST(q.q_permille AS INT) AS q_permille,
      MIN(c.lower) AS est
    FROM cum c CROSS JOIN qs q
    WHERE c.cum >= (c.total * q.q_permille + 999) // 1000
    GROUP BY c.event_type, q.q_permille
    """,
)
def sketch_hdr_quantiles_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sketch / HDR-histogram quantile estimates — p50/p90/p99 of
    micro-quantized event values per type, answered from the bounded
    mergeable bin table (operators/sketches.py:hdr_partials), never a
    sort of the data; all-integer face (bin lower bounds)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") >= 0))
        .select(
            "event_type",
            F.floor(F.col("value").cast("double") * 1000000)
            .cast("bigint")
            .alias("v_micros"),
        )
    )
    parts = sk.hdr_partials(ev, ["event_type"], "v_micros", sub_bits=5)
    return sk.hdr_quantiles(
        parts, ["event_type"], qs=(0.5, 0.9, 0.99)
    )


@query(
    "stream-croston-monitor",
    # single-file availableNow run -> final smoothing state per user;
    # the same recursive-CTE recurrence as ts-croston-rate, filtered
    # to users that saw at least one demand (the monitor emits
    # nothing before the first non-zero observation)
    oracle="""
    WITH RECURSIVE h AS (
      SELECT user_id, CAST(COALESCE(value, 0) AS DOUBLE) AS x,
        CAST(ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts, event_id) AS BIGINT) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, rn,
        CASE WHEN x > 0 THEN x END AS z,
        CASE WHEN x > 0 THEN CAST(1.0 AS DOUBLE) END AS p,
        CASE WHEN x > 0 THEN 0 ELSE 1 END AS q,
        CASE WHEN x > 0 THEN 1 ELSE 0 END AS started
      FROM h WHERE rn = 1
      UNION ALL
      SELECT h.user_id, h.rn,
        CASE WHEN h.x > 0 THEN
          CASE WHEN rec.started = 1
               THEN 0.5 * h.x + 0.5 * rec.z ELSE h.x END
        ELSE rec.z END,
        CASE WHEN h.x > 0 THEN
          CASE WHEN rec.started = 1
               THEN 0.5 * (rec.q + 1) + 0.5 * rec.p
               ELSE CAST(rec.q + 1 AS DOUBLE) END
        ELSE rec.p END,
        CASE WHEN h.x > 0 THEN 0 ELSE rec.q + 1 END,
        CASE WHEN h.x > 0 THEN 1 ELSE rec.started END
      FROM rec JOIN h
        ON h.user_id = rec.user_id AND h.rn = rec.rn + 1
    ),
    last AS (SELECT user_id, MAX(rn) AS n_obs FROM h GROUP BY user_id)
    SELECT r.user_id, l.n_obs, r.z, r.p, r.z / r.p AS demand_rate
    FROM rec r JOIN last l
      ON r.user_id = l.user_id AND r.rn = l.n_obs
    WHERE r.z IS NOT NULL
    """,
)
def stream_croston_monitor_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """streaming / Croston intermittent-demand state per user — the
    applyInPandasWithState monitor (streaming/stateful.py:
    croston_monitor) over an availableNow run of the events stream;
    after ordered arrival the maintained (z, p, z/p) equals the batch
    recursion bit-for-bit (same contract as the driver-green
    stream-holt-monitor)."""
    from medallion_delta_lake_spark.streaming import (
        events as se,
        stateful,
    )

    sdf = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        stateful.croston_monitor(sdf), "update", spark,
        num_state_partitions=8,
    )
