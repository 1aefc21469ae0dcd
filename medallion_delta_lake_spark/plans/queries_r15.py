"""Round-15-cohort query faces — REGISTERED as of round 14 (drafted
+ oracle-proven at two SFs in round 12 while the registry was frozen
at 319; the registration is the mechanical draft→@query move that
made every hand-off since r10 zero-risk; SURVEY.md §7 Phase 9,
VERDICT r13 #1). The r14 driver window leads with these 10 plus the
10 r16-cohort faces, then drains the 8 r6-stale remnants and 22 of
the 48 r7-stale ids.

The cohort adds capabilities no existing family covers:

- agg-bitmap-exact-distinct — EXACT mergeable distinct counts via
  Spark's bitmap aggregate family (32k-bit chunk per (key, bucket),
  bitmap_construct_agg → bitmap_count): the complement of the HLL/KMV
  estimators when the answer must be exact but a COUNT(DISTINCT)
  shuffle of raw ids is too wide — shuffle width collapses to one
  ≤4 KB chunk per (key, id-range) instead of one row per id;
- graph-label-propagation — fixed-round synchronous min-label
  propagation (operators/graph.py:label_propagation) over the
  part↔supplier co-sourcing graph; the k-hop community primitive
  whose oracle unrolls as a CTE chain (pagerank's contract), with
  dedup.neardup_clusters_star remaining the to-convergence path;
- stats-ljung-box — portmanteau white-noise test on the daily event
  series: autocorrelations r₁..r₅ and Q = n(n+2)·Σ r_k²/(n−k), the
  numerators/denominators kept in scaled INTEGER arithmetic
  (n²-multiplied central moments) so the only doubles are two exact
  divisions and a fixed-order closing polynomial;
- ts-classical-decompose — additive classical decomposition of daily
  revenue: centered 7-observed-day moving-average trend (integer
  7·s−Σ₇ detrend) folded into day-of-week seasonal indices — exact
  integer arithmetic end to end, quantized at the close;
- drift-wasserstein-binned — 1-D earth-mover (W₁) distance between
  the first- and second-half value distributions over 256 fixed-width
  bins: cross-multiplied integer CDF gaps Σ|cumA·nB − cumB·nA| so no
  double forms until the final quantized division (the drift family's
  transcendental-free alternative to PSI, whose ln() is not
  bit-portable across engines — see queries_rel.py:4925);
- window-vwap-anchored — month-anchored running VWAP per supplier in
  integer cents (Σ price·qty / Σ qty cumulated within (supplier,
  month)) — the anchored-cumulative window shape finance pipelines
  use, distinct from the trailing-frame family;
- sample-systematic-everyk — deterministic systematic sampling:
  every 7th document per source stratum along the portable-hash
  order (h64 ⇒ reproducible across engines AND runs, no RNG state);
- sketch-theta-diff — theta-sketch-style A-not-B set difference from
  two KMV bottom-k sketches (operators/sketches.py:kmv_diff_ops):
  click-not-purchase / purchase-not-click audience estimates from
  two ≤256-row frames, exact integer quantization;
- events-burstiness — per-user interarrival burstiness
  B = (σ−μ)/(σ+μ) from exact integer gap sums (Fano-style bot/cron
  discriminator; σ via IEEE-exact sqrt, divisions bit-identical);
- text-ttr-windowed — windowed type-token ratio (40-token windows,
  full windows only): the standardized lexical-diversity score that
  raw TTR's length sensitivity breaks; complements r13's hapax ratio.

Every face registers through ``@query``; tests/test_r15_drafts.py
proves each oracle-green at two SFs and tests/test_oracle_dtype_lint.py
lints these oracles' OUTPUT dtypes (no HUGEINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medallion_delta_lake_spark.functions.hashing import h64, h64_sql
from medallion_delta_lake_spark.operators.agg import q_div
from medallion_delta_lake_spark.plans.registry import query, table


_UID = "CAST(user_id AS VARCHAR)"

# ------------------------------------------------------------------
# agg-bitmap-exact-distinct

_ID_SPACE = 1 << 20  # 32 bitmap buckets of 32,768 bits each


@query(
    "agg-bitmap-exact-distinct",
    oracle=f"""
    WITH m AS (
      SELECT event_type,
             ({h64_sql(_UID)} % {_ID_SPACE}) + 1 AS mid
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT event_type,
           COUNT(DISTINCT mid) AS n_ids_exact,
           COUNT(DISTINCT (mid - 1) // 32768) AS n_chunks
    FROM m GROUP BY event_type
    """,
)
def agg_bitmap_exact_distinct_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """agg / EXACT mergeable distinct count via bitmap chunks — the
    complement of the HLL/KMV estimators when the count must be exact:
    ids are mapped into a fixed space (portable h64 mod 2^20 — the
    oracle replicates the mapping, so collisions cancel), each
    (event_type, 32k-id-range) group folds into ONE 4 KB bitmap via
    ``bitmap_construct_agg``, and the final count is the SUM of
    ``bitmap_count`` over chunks. Shuffle width is one bitmap per
    (key, bucket) — bounded by the id SPACE, not the row count — and
    chunks OR-merge associatively (``bitmap_or_agg``), so partial
    aggregation, retries, and incremental refresh all compose; this is
    the exact-distinct plan that survives 100 TB where
    COUNT(DISTINCT id)'s one-row-per-id shuffle dies."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    mid = (
        F.pmod(h64(F.col("user_id").cast("string")), F.lit(_ID_SPACE))
        + F.lit(1)
    )
    chunks = (
        ev.select(
            "event_type",
            F.floor((mid - 1) / F.lit(32768)).cast("bigint").alias(
                "bucket"
            ),
            F.bitmap_bit_position(mid).alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return chunks.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_ids_exact"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
    )


# ------------------------------------------------------------------
# graph-label-propagation


def _lprop_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration min-label propagation (the SQL twin of
    operators/graph.py:label_propagation — same symmetrized+self-loop
    distinct edge set, same one-join-one-MIN round)."""
    parts = [
        """
    WITH e0 AS (
      SELECT DISTINCT l_partkey * 2 AS s, l_suppkey * 2 + 1 AS d
      FROM lineitem
    ),
    e AS (
      SELECT s, d FROM e0
      UNION SELECT d, s FROM e0
      UNION SELECT s, s FROM e0
      UNION SELECT d, d FROM e0
    ),
    l0 AS (SELECT DISTINCT s AS id, s AS lbl FROM e)"""
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        parts.append(
            f""",
    l{i} AS (
      SELECT e.d AS id, MIN(l.lbl) AS lbl
      FROM e JOIN {prev} l ON e.s = l.id GROUP BY e.d
    )"""
        )
        prev = f"l{i}"
    parts.append(
        f"""
    SELECT lbl AS component_label, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM {prev} GROUP BY lbl"""
    )
    return "".join(parts)


@query("graph-label-propagation", oracle=_lprop_oracle())
def graph_label_propagation_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """graph / 3-round synchronous min-label propagation over the
    part↔supplier co-sourcing graph (bipartite, node ids disjoint by
    parity) — 'which parts/suppliers are reachable within 3 hops of a
    common minimum'. Each round is one edges⋈labels equi-join + a
    map-side-combined MIN (operators/graph.py:label_propagation);
    output is the label histogram after exactly 3 rounds, which the
    oracle unrolls as a CTE chain. The to-convergence path at 100 TB
    is dedup.neardup_clusters_star (O(log n) alternating stars) —
    this face is the bounded k-hop form whose cost is round-count ×
    one shuffle."""
    from medallion_delta_lake_spark.operators.graph import (
        label_propagation,
    )

    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    lbl = label_propagation(li, "a", "b", iters=3)
    return lbl.groupBy(F.col("lbl").alias("component_label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


# ------------------------------------------------------------------
# stats-ljung-box

_LB_LAGS = 5


def _lb_q_sql(n: str) -> str:
    """Fixed-association closing polynomial — identical text in both
    engines so the IEEE operation order is identical."""
    terms = " + ".join(
        f"(r{k} * r{k} / (CAST({n} AS DOUBLE) - {float(k)}))"
        for k in range(1, _LB_LAGS + 1)
    )
    return (
        f"CAST({n} AS DOUBLE) * (CAST({n} AS DOUBLE) + 2.0)"
        f" * ((((({terms})))))"
    )


@query(
    "stats-ljung-box",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, x,
        {", ".join(
            f"LEAD(x, {k}) OVER (PARTITION BY event_type ORDER BY d)"
            f" AS x{k}"
            for k in range(1, _LB_LAGS + 1)
        )}
      FROM d
    ),
    a AS (
      SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        SUM(x) AS s, SUM(x * x) AS s2,
        {", ".join(
            f"COALESCE(SUM(x * x{k}), 0) AS p{k},"
            f" COALESCE(SUM(CASE WHEN x{k} IS NOT NULL THEN x END), 0)"
            f" AS hd{k},"
            f" COALESCE(SUM(x{k}), 0) AS tl{k}"
            for k in range(1, _LB_LAGS + 1)
        )}
      FROM l GROUP BY event_type
    ),
    r AS (
      SELECT event_type, n,
        (n * n * s2 - n * s * s) AS den,
        {", ".join(
            f"(n * n * p{k} - n * s * (hd{k} + tl{k})"
            f" + (n - {k}) * s * s) AS num{k}"
            for k in range(1, _LB_LAGS + 1)
        )}
      FROM a WHERE n > {_LB_LAGS}
    ),
    rr AS (
      SELECT event_type, n,
        {", ".join(
            f"CASE WHEN den > 0 THEN CAST(num{k} AS DOUBLE)"
            f" / CAST(den AS DOUBLE) END AS r{k}"
            for k in range(1, _LB_LAGS + 1)
        )}
      FROM r
    )
    SELECT event_type, n AS n_days,
           r1, r2, r3, r4, r5,
           {_lb_q_sql("n")} AS q_stat
    FROM rr
    """,
)
def stats_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Ljung-Box portmanteau white-noise test on the daily
    event-count series per event type: lag-1..5 autocorrelations and
    Q = n(n+2)·Σ r_k²/(n−k) (reject ⇒ the series is autocorrelated,
    e.g. seasonality or trending load). Engine-exactness: the central
    moments are n²-scaled INTEGER identities
    n²·Σ(x_t−μ)(x_{t+k}−μ) = n²·Σx_t·x_{t+k} − n·S·(head+tail)
    + (n−k)·S², so r_k is one exact double division and Q a
    fixed-association polynomial — no order-dependent double SUM ever
    forms. Shapes: one (type, day) count aggregate, lead-k over a
    calendar-bounded ≤|days| window per type, one partial-agg close —
    the day frame, not the event frame, is the window input."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("d")
    lead = d.select(
        "event_type",
        "x",
        *[
            F.lead("x", k).over(w).alias(f"x{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    ]
    for k in range(1, _LB_LAGS + 1):
        xk = F.col(f"x{k}")
        aggs += [
            F.coalesce(F.sum(F.col("x") * xk), F.lit(0)).alias(f"p{k}"),
            F.coalesce(
                F.sum(F.when(xk.isNotNull(), F.col("x"))), F.lit(0)
            ).alias(f"hd{k}"),
            F.coalesce(F.sum(xk), F.lit(0)).alias(f"tl{k}"),
        ]
    a = lead.groupBy("event_type").agg(*aggs).filter(
        F.col("n") > _LB_LAGS
    )
    n, s = F.col("n"), F.col("s")
    r = a.select(
        "event_type",
        "n",
        (n * n * F.col("s2") - n * s * s).alias("den"),
        *[
            (
                n * n * F.col(f"p{k}")
                - n * s * (F.col(f"hd{k}") + F.col(f"tl{k}"))
                + (n - k) * s * s
            ).alias(f"num{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    rr = r.select(
        "event_type",
        "n",
        *[
            F.when(
                F.col("den") > 0,
                F.col(f"num{k}").cast("double")
                / F.col("den").cast("double"),
            ).alias(f"r{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    return rr.select(
        "event_type",
        F.col("n").alias("n_days"),
        "r1",
        "r2",
        "r3",
        "r4",
        "r5",
        F.expr(_lb_q_sql("n")).alias("q_stat"),
    )


# ------------------------------------------------------------------
# ts-classical-decompose


@query(
    "ts-classical-decompose",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, d, cents,
             SUM(cents) OVER w AS t7,
             COUNT(*) OVER w AS c7
      FROM s
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT event_type,
             (d - DATE '1970-01-01') % 7 AS dow,
             7 * cents - t7 AS det7
      FROM t WHERE c7 = 7
    ),
    f AS (
      SELECT event_type, dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(det7) AS sum7
      FROM det GROUP BY 1, 2
    )
    SELECT event_type, CAST(dow AS INT) AS dow, n_days,
           CAST(CASE WHEN sum7 < 0 THEN -1 ELSE 1 END AS BIGINT)
             * CAST((CAST(abs(sum7) AS HUGEINT) * 1000000)
                    // (7 * n_days) AS BIGINT) AS seasonal_q6
    FROM f
    """,
)
def ts_classical_decompose_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ts / additive classical decomposition of daily revenue per
    event type: trend = centered moving average over 7 consecutive
    OBSERVED days (integer numerator 7·s_d − Σ₇ so no division
    happens), seasonal index = mean detrended value per day-of-week
    (epoch-day mod 7 — engine-neutral, no locale DOW). Output is the
    (type, dow) seasonal profile, quantized through one exact DECIMAL
    division at the close. Scale shape: the window rides the DAY
    frame (calendar-bounded per type), never the event frame; the
    event-level work is one partial-aggregated (type, day) SUM."""
    ev = table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    t = s.select(
        "event_type",
        "d",
        "cents",
        F.sum("cents").over(w).alias("t7"),
        F.count(F.lit(1)).over(w).alias("c7"),
    ).filter(F.col("c7") == 7)
    det = t.select(
        "event_type",
        F.pmod(
            F.datediff(F.col("d"), F.lit("1970-01-01")), F.lit(7)
        ).alias("dow"),
        (F.lit(7) * F.col("cents") - F.col("t7")).alias("det7"),
    )
    f = det.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("det7").alias("sum7"),
    )
    sign = F.when(F.col("sum7") < 0, F.lit(-1)).otherwise(
        F.lit(1)
    ).cast("bigint")
    return f.select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        "n_days",
        (
            sign
            * q_div(
                F.abs(F.col("sum7")).cast("decimal(38,0)"),
                (F.lit(7) * F.col("n_days")).cast("decimal(38,0)"),
                6,
            )
        ).alias("seasonal_q6"),
    )


# ------------------------------------------------------------------
# drift-wasserstein-binned

_W1_BINS = 256
_W1_WIDTH = 2.0  # covers value ∈ [0, 512); clamp into the last bin


@query(
    "drift-wasserstein-binned",
    oracle=f"""
    WITH b AS (
      SELECT least({_W1_BINS - 1},
                   CAST(floor(value / {_W1_WIDTH}) AS BIGINT)) AS bin,
             CASE WHEN EXTRACT(DAY FROM ts) <= 15 THEN 1 ELSE 0 END
               AS in_a
      FROM events WHERE value IS NOT NULL
    ),
    c AS (
      SELECT bin,
             SUM(in_a) AS a_cnt,
             SUM(1 - in_a) AS b_cnt
      FROM b GROUP BY bin
    ),
    tot AS (
      SELECT SUM(a_cnt) AS na, SUM(b_cnt) AS nb FROM c
    ),
    cum AS (
      SELECT bin,
             SUM(a_cnt) OVER (ORDER BY bin) AS cum_a,
             SUM(b_cnt) OVER (ORDER BY bin) AS cum_b
      FROM c
    ),
    g AS (
      SELECT bin, abs(cum_a * nb - cum_b * na) AS gap
      FROM cum, tot
    )
    SELECT CAST(tot.na AS BIGINT) AS n_a, CAST(tot.nb AS BIGINT) AS n_b,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used,
           CAST((CAST(SUM(gap) AS HUGEINT) * 1000000)
                // (tot.na * tot.nb) AS BIGINT) AS w1_q6,
           CAST((CAST(MAX(gap) AS HUGEINT) * 1000000)
                // (tot.na * tot.nb) AS BIGINT) AS max_gap_q6
    FROM g, tot GROUP BY tot.na, tot.nb
    """,
)
def drift_wasserstein_binned_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """drift / 1-D earth-mover (W₁) distance between the first-half
    (day ≤ 15) and second-half value distributions over 256 fixed
    2.0-wide bins — the metric-aware drift score the drift family
    lacked (Hellinger/TV ignore how FAR mass moved; PSI's ln() is not
    bit-portable — queries_rel.py:4925). W₁ = Σ_bins |CDF_a − CDF_b|
    computed as cross-multiplied integer counts |cumA·nB − cumB·nA|,
    so no double forms until the final quantized division; the
    bin-width unit makes w1_q6 directly comparable across runs.
    Scale: the event-level pass is one partial-aggregated bin count;
    the cumulative window rides the ≤256-row bin frame (bounded BY
    CONSTRUCTION — allowlisted), and the 1-row totals frame joins by
    broadcast-able cross of one row."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    b = ev.select(
        F.least(
            F.lit(_W1_BINS - 1),
            F.floor(F.col("value") / F.lit(_W1_WIDTH)).cast("bigint"),
        ).alias("bin"),
        F.when(F.dayofmonth("ts") <= 15, F.lit(1))
        .otherwise(F.lit(0))
        .alias("in_a"),
    )
    c = b.groupBy("bin").agg(
        F.sum("in_a").alias("a_cnt"),
        F.sum(F.lit(1) - F.col("in_a")).alias("b_cnt"),
    )
    tot = c.agg(
        F.sum("a_cnt").alias("na"), F.sum("b_cnt").alias("nb")
    )
    # ≤256-row bin frame BY CONSTRUCTION — reviewed global-window site
    wcum = Window.orderBy("bin")
    cum = c.select(
        "bin",
        F.sum("a_cnt").over(wcum).alias("cum_a"),
        F.sum("b_cnt").over(wcum).alias("cum_b"),
    )
    g = cum.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        F.abs(
            F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
        ).alias("gap"),
    )
    return g.groupBy("na", "nb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        q_div(
            F.sum("gap").cast("decimal(38,0)"),
            (F.col("na") * F.col("nb")).cast("decimal(38,0)"),
            6,
        ).alias("w1_q6"),
        q_div(
            F.max("gap").cast("decimal(38,0)"),
            (F.col("na") * F.col("nb")).cast("decimal(38,0)"),
            6,
        ).alias("max_gap_q6"),
    ).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        "n_bins_used",
        "w1_q6",
        "max_gap_q6",
    )


# ------------------------------------------------------------------
# window-vwap-anchored


@query(
    "window-vwap-anchored",
    oracle="""
    WITH li AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             date_trunc('month', l_shipdate) AS month,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(floor(l_quantity) AS BIGINT) AS qi
      FROM lineitem WHERE l_suppkey % 10 = 0
    ),
    w AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, month,
             SUM(pc * qi) OVER win AS num,
             SUM(qi) OVER win AS den
      FROM li
      WINDOW win AS (
        PARTITION BY l_suppkey, month
        ORDER BY l_shipdate, l_orderkey, l_linenumber
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(month AS DATE) AS month,
           CAST((CAST(num AS HUGEINT) * 1000000) // den AS BIGINT)
             AS vwap_q6
    FROM w
    """,
)
def window_vwap_anchored_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """window / month-anchored running VWAP per supplier (every tenth
    supplier — the predicate pushes to the parquet scan): cumulative
    Σ price·qty / Σ qty in integer cents within each (supplier,
    ship-month), re-anchoring at month boundaries — the anchored-
    cumulative shape execution-quality monitoring uses, distinct from
    the repo's trailing-frame family (bollinger/rsi/ewma). The window
    partitions on (supplier, month) so no partition outgrows one
    month of one supplier's lines; exact DECIMAL quantization closes
    each row."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey") % 10 == 0
    )
    src = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.date_trunc("month", "l_shipdate").alias("month"),
        F.floor(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("pc"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("qi"),
    )
    w = (
        Window.partitionBy("l_suppkey", "month")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = src.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("month").cast("date").alias("month"),
        F.sum(F.col("pc") * F.col("qi")).over(w).alias("num"),
        F.sum("qi").over(w).alias("den"),
    )
    return out.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "month",
        q_div(
            F.col("num").cast("decimal(38,0)"),
            F.col("den").cast("decimal(38,0)"),
            6,
        ).alias("vwap_q6"),
    )


# ------------------------------------------------------------------
# sample-systematic-everyk

_SYS_K = 7


@query(
    "sample-systematic-everyk",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             {h64_sql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY h, doc_id) AS rn
      FROM h
    )
    SELECT doc_id, source, rn FROM r WHERE rn % {_SYS_K} = 1
    """,
)
def sample_systematic_everyk_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """sample / deterministic systematic sampling — every 7th
    document per source stratum along the portable-hash order: h64
    randomizes the order reproducibly (no RNG state, identical across
    engines, runs, and retries — the property seeded `rand()` cannot
    give across engines), and the stride guarantees the exact 1/7
    per-stratum rate the quota designs need. The window partitions on
    the stratum, so the sort is per-source — data-parallel, never
    global."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        h64(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id", "source", F.row_number().over(w).alias("rn")
        )
        .filter(F.pmod(F.col("rn"), F.lit(_SYS_K)) == 1)
    )


# ------------------------------------------------------------------
# sketch-theta-diff


@query(
    "sketch-theta-diff",
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
        SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS d_ab,
        SUM(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS d_ba
      FROM x
    ), u AS (
      SELECT x_n, h_k, d_ab, d_ba,
        CASE WHEN x_n < 256 THEN x_n * 1000000
             ELSE CAST((CAST(255 AS HUGEINT)
                        * (CAST(1 AS HUGEINT) << 60) * 1000000)
                       // h_k AS BIGINT)
        END AS union_est_q6
      FROM agg
    )
    SELECT CAST(x_n AS BIGINT) AS x_n, h_k,
      CAST(d_ab AS BIGINT) AS d_ab, CAST(d_ba AS BIGINT) AS d_ba,
      union_est_q6,
      CAST((CAST(d_ab AS HUGEINT) * union_est_q6 * 1000000)
           // (CAST(x_n AS HUGEINT) * 1000000) AS BIGINT)
        AS diff_ab_est_q6,
      CAST((CAST(d_ba AS HUGEINT) * union_est_q6 * 1000000)
           // (CAST(x_n AS HUGEINT) * 1000000) AS BIGINT)
        AS diff_ba_est_q6
    FROM u
    """,
)
def sketch_theta_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch / theta-style A-not-B audience difference from two KMV
    bottom-k sketches alone (operators/sketches.py:kmv_diff_ops):
    clicked-but-never-purchased and purchased-without-click set-size
    estimates — the retargeting/suppression-list numbers — computed
    from two ≤256-row sketch frames, never the raw id sets. Exact
    integer quantization end to end; exact below k by construction
    (the same estimator contract as sketch-kmv-overlap, r11)."""
    from medallion_delta_lake_spark.operators import sketches as sk

    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    parts = sk.kmv_partials(ev, ["event_type"], "user_id", k=256)
    a = parts.filter(F.col("event_type") == "click").select("h")
    b = parts.filter(F.col("event_type") == "purchase").select("h")
    return sk.kmv_diff_ops(a, b, k=256)


# ------------------------------------------------------------------
# events-burstiness

_BURST_MIN_GAPS = 10


@query(
    "events-burstiness",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             LAG(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_sec
      FROM events WHERE user_id IS NOT NULL
    ),
    g AS (
      SELECT user_id, sec - prev_sec AS gap
      FROM e WHERE prev_sec IS NOT NULL
    ),
    a AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             SUM(gap) AS sg, SUM(gap * gap) AS sg2
      FROM g GROUP BY user_id
      HAVING COUNT(*) >= {_BURST_MIN_GAPS}
    ),
    m AS (
      SELECT user_id, n_gaps,
             CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
             sqrt(greatest(
               CAST(sg2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
               - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                 * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
               CAST(0.0 AS DOUBLE))) AS sigma
      FROM a
    )
    SELECT user_id, n_gaps, mu AS mean_gap_s,
           CASE WHEN sigma + mu > 0
                THEN (sigma - mu) / (sigma + mu) END AS burstiness
    FROM m
    """,
)
def events_burstiness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events / interarrival burstiness B = (σ−μ)/(σ+μ) per user
    (Goh-Barabási): B→−1 is a metronome (cron/bot), B≈0 Poisson,
    B→+1 heavy-tailed human bursts — the traffic-shape discriminator
    feeding bot filtering and capacity planning. Exactness: gaps are
    integer seconds, Σg/Σg² exact BIGINTs, and μ/σ are closed by one
    fixed expression (divisions and sqrt are IEEE-correctly-rounded,
    hence bit-identical across engines). The lag window partitions on
    user_id; everything after is one map-side-combined aggregate."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts").cast("bigint")
    g = (
        ev.select(
            "user_id",
            sec.alias("sec"),
            F.lag(sec).over(w).alias("prev_sec"),
        )
        .filter(F.col("prev_sec").isNotNull())
        .select(
            "user_id", (F.col("sec") - F.col("prev_sec")).alias("gap")
        )
    )
    a = (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("gap").alias("sg"),
            F.sum(F.col("gap") * F.col("gap")).alias("sg2"),
        )
        .filter(F.col("n_gaps") >= _BURST_MIN_GAPS)
    )
    mu = F.col("sg").cast("double") / F.col("n_gaps").cast("double")
    sigma = F.sqrt(
        F.greatest(
            F.col("sg2").cast("double") / F.col("n_gaps").cast("double")
            - mu * mu,
            F.lit(0.0),
        )
    )
    m = a.select("user_id", "n_gaps", mu.alias("mu"), sigma.alias("sigma"))
    return m.select(
        "user_id",
        "n_gaps",
        F.col("mu").alias("mean_gap_s"),
        F.when(
            F.col("sigma") + F.col("mu") > 0,
            (F.col("sigma") - F.col("mu"))
            / (F.col("sigma") + F.col("mu")),
        ).alias("burstiness"),
    )


# ------------------------------------------------------------------
# text-ttr-windowed

_TTR_WIN = 40

_TTR_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


@query(
    "text-ttr-windowed",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             string_split({_TTR_NORM_SQL}, ' ') AS toks
      FROM documents
    ),
    t AS (
      SELECT doc_id, toks[i] AS tok,
             CAST((i - 1) // {_TTR_WIN} AS BIGINT) AS win
      FROM d, unnest(range(1, len(toks) + 1)) AS r(i)
    ),
    w AS (
      SELECT doc_id, win,
             COUNT(*) AS c,
             COUNT(DISTINCT tok) AS dst
      FROM t GROUP BY doc_id, win
    ),
    f AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             SUM(dst) AS sd
      FROM w WHERE c = {_TTR_WIN} GROUP BY doc_id
    )
    SELECT doc_id, n_windows,
           CAST((CAST(sd AS HUGEINT) * 1000000)
                // ({_TTR_WIN} * n_windows) AS BIGINT) AS mean_ttr_q6
    FROM f
    """,
)
def text_ttr_windowed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text / windowed type-token ratio — mean distinct/40 over
    full 40-token windows per document (MSTTR): the
    length-invariant lexical-diversity score raw TTR can't give
    (longer docs repeat more, so raw TTR confounds length with
    vocabulary); low MSTTR flags template/boilerplate docs the
    repetition-score face misses when the repeat period exceeds its
    n-gram span. Tokenization is the family's shared
    normalize+whitespace split (engine-parity pinned since
    text-token-stats); per-(doc, window) distinct counts are integer,
    closed by one exact DECIMAL division. Everything shuffles on
    doc_id — embarrassingly parallel."""
    from medallion_delta_lake_spark.functions.texts import (
        normalize_text,
    )

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.posexplode(F.split(normalize_text("text"), " ")).alias(
            "pos", "tok"
        ),
    ).select(
        "doc_id",
        F.floor(F.col("pos") / F.lit(_TTR_WIN))
        .cast("bigint")
        .alias("win"),
        "tok",
    )
    w = t.groupBy("doc_id", "win").agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct("tok").alias("dst"),
    )
    f = (
        w.filter(F.col("c") == _TTR_WIN)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("dst").alias("sd"),
        )
    )
    return f.select(
        "doc_id",
        "n_windows",
        q_div(
            F.col("sd").cast("decimal(38,0)"),
            (F.lit(_TTR_WIN) * F.col("n_windows")).cast(
                "decimal(38,0)"
            ),
            6,
        ).alias("mean_ttr_q6"),
    )
