"""Driver-harness query registry: Spark DataFrame implementations paired with
ANSI-SQL DuckDB oracles (SURVEY.md §5.2 item 2).

Each entry exercises one operator family from SURVEY.md §2 over the driver's
read-only parquet tables. Column names/aliases are identical between the
Spark plan and the oracle SQL (the driver hashes values under sorted column
names). Double-typed aggregates are rounded to a fixed precision on BOTH
sides so cross-engine summation order cannot flip the hash.

Conventions: every query function takes (spark, sf_dir) and returns a
DataFrame; ORACLES[name] is the equivalent DuckDB SQL over pre-registered
views (region nation customer supplier part orders lineitem events documents
embeddings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import histogram as oh
from ..operators import otsu as oo

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ensure_parallelism(df: DataFrame, spark: SparkSession,
                        min_parts: int | None = None,
                        min_bytes: int = 0) -> DataFrame:
    """Scan-parallelism bootstrap for CPU-dense map stages (guide §2.4/§6).

    The driver's tables are single parquet files with one row group, so a
    scan yields ONE task no matter how many cores the session has — and a
    mapInArrow kernel downstream then runs single-threaded. When (and only
    when) the scan's split count is below the session's core count, pay one
    tiny round-robin exchange of the projected input to fan the kernel out.
    At real scale the scan has >= cores splits and this is the identity —
    the map-only plans stay shuffle-free exactly when the input is already
    parallel (asserted in tests/test_plan_hygiene.py).

    `min_bytes`: skip the exchange when the optimizer's size estimate for
    the input is below this — measured on this box the round-robin
    exchange costs ~0.3-0.4 s, so a kernel that clears a single small
    input in less than that is faster serial (q13/q29/q30 at sf1, A/B in
    OPTIMIZATION_r06.md). Callers set it by downstream cost per byte:
    0 for O(Q x N) or multi-pass kernels (q24/q40 — always worth fanning
    out), ~2 MB (estimate scale) for the minhash fold, ~16 MB for single-pass bincounts."""
    if min_bytes:
        try:
            est = int(df._jdf.queryExecution().optimizedPlan().stats()
                      .sizeInBytes())
        except Exception:
            est = None
        if est is not None and est < min_bytes:
            return df
    n = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


# ===========================================================================
# Relational core (A6, T1, J*, W*, X1-as-batch, F13, sessionization)
# ===========================================================================

@q("q01_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4)                                   AS sum_qty,
       ROUND(SUM(l_extendedprice), 4)                              AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)           AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                   AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                              AS avg_price,
       ROUND(AVG(l_discount), 4)                                   AS avg_disc,
       COUNT(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q01(spark, sf_dir):
    """TPC-H-Q1-flavor scan+agg (A6/A8 family): predicate pushdown + hash agg."""
    li = t(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                  .alias("sum_disc_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                               * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order")))


@q("q02_topk_per_brand", """
SELECT p_brand, p_partkey, p_name, p_retailprice, rnk FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
  FROM part) s
WHERE rnk <= 3
""")
def q02(spark, sf_dir):
    """T1/W1: top-k per group via window row_number (TakeOrdered analogue)."""
    p = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"),
                                              F.asc("p_partkey"))
    return (p.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rnk"))


@q("q03_revenue_by_nation", """
SELECT n.n_name AS nation, COUNT(*) AS orders_cnt,
       ROUND(SUM(o.o_totalprice), 4) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""")
def q03(spark, sf_dir):
    """J1-as-batch: two equi-joins (fact-dim) + agg; nation broadcast."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("orders_cnt"),
                 F.round(F.sum("o_totalprice"), 4).alias("revenue")))


@q("q04_region_customer_rollup", """
SELECT r.r_name AS region, COUNT(*) AS customers,
       ROUND(SUM(c.c_acctbal), 4) AS acctbal_sum
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""")
def q04(spark, sf_dir):
    """J2: broadcast-join chain over tiny dims (doc_profile analogue)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("r_name").alias("region"))
            .agg(F.count("*").alias("customers"),
                 F.round(F.sum("c_acctbal"), 4).alias("acctbal_sum")))


@q("q05_customer_order_activity", """
SELECT c_custkey, c_name, TRUE AS has_orders FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, c_name, FALSE AS has_orders FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def q05(spark, sf_dir):
    """Left-semi AND left-anti join in one ledger entry (the driver checks
    at most 50 queries, so paired complements share a slot): customers with
    orders flagged true, customers without flagged false. Both join
    strategies stay visible in the physical plan (test_plan_hygiene)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    semi = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name", F.lit(True).alias("has_orders")))
    anti = (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name", F.lit(False).alias("has_orders")))
    return semi.unionAll(anti)


@q("q07_order_share_per_customer", """
SELECT o_orderkey, o_custkey,
       ROUND(o_totalprice / SUM(o_totalprice) OVER (PARTITION BY o_custkey), 6)
         AS price_share,
       ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
FROM orders
""")
def q07(spark, sf_dir):
    """W2: windowed share + rank (coverage-share analogue,
    watermark_detector.py:170-175)."""
    o = t(spark, sf_dir, "orders")
    # both windows share ONE sort: the share sum is over the whole
    # partition, so giving it the rank window's ordering with an explicit
    # unbounded frame changes nothing about its value but lets Catalyst
    # plan Exchange -> Sort -> Window -> Window instead of sorting the
    # partition twice (round 6; plan diff in plans/r06/)
    rank_w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                     F.asc("o_orderkey"))
    share_w = rank_w.rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing)
    return (o.select("o_orderkey", "o_custkey",
                     F.round(F.col("o_totalprice")
                             / F.sum("o_totalprice").over(share_w), 6)
                      .alias("price_share"),
                     F.row_number().over(rank_w).alias("rnk")))


@q("q08_events_hourly", """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2
""")
def q08(spark, sf_dir):
    """X1-as-batch: tumbling event-time window aggregation."""
    e = t(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"),
                      "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


@q("q09_events_json_props", """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
       COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
FROM events GROUP BY 1
""")
def q09(spark, sf_dir):
    """F13: JSON prop extraction + agg."""
    e = t(spark, sf_dir, "events")
    return (e.groupBy((F.get_json_object("props", "$.k").cast("int") % 10)
                      .alias("k_mod"))
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("value"), 4).alias("avg_value")))


@q("q10_sessionize_events", """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > 1800000000 OR
              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       COUNT(*) AS events_in_session,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions GROUP BY user_id, session_no
""")
def q10(spark, sf_dir):
    """X3-as-batch: sessionization via gaps-and-islands (30-min gap)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ-native gap comparison: timestamp subtraction yields a day-time
    # interval independent of the session time zone (the driver's session
    # may not be UTC-pinned like ours)
    gap = F.col("ts") - F.lag("ts").over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | (gap > F.expr("INTERVAL 30 MINUTES")), 1).otherwise(0))
    cum = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (flagged.withColumn("session_no", F.sum("new_session").over(cum))
            .groupBy("user_id", "session_no")
            .agg(F.count("*").alias("events_in_session"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


# ===========================================================================
# Token-domain analytics over `embeddings` (A1-A5, A10, R1, W1/W2)
# ===========================================================================

def _quantize(col):
    """embedding float -> 0..255 token class (the P1 bucketing applied to the
    driver's float arrays): clip(floor(v*128+128), 0, 255)."""
    return (F.least(F.lit(255.0), F.greatest(F.lit(0.0),
            F.floor(col.cast("double") * 128 + 128)))).cast("int")


_Q_SQL = "CAST(LEAST(255, GREATEST(0, FLOOR(CAST({v} AS DOUBLE)*128+128))) AS INT)"


def _emb_tokens(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label",
                    F.transform("embedding", _quantize).alias("tokens"))


@q("q11_token_histogram", f"""
SELECT {_Q_SQL.format(v='v')} AS tok, COUNT(*) AS cnt
FROM (SELECT UNNEST(embedding) AS v FROM embeddings)
GROUP BY 1
""")
def q11(spark, sf_dir):
    """A1: 256-bin value histogram (cv2.calcHist analogue) over quantized
    embedding values — explode + partial hash agg."""
    e = t(spark, sf_dir, "embeddings")
    return (e.select(F.explode("embedding").alias("v"))
            .select(_quantize(F.col("v")).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("cnt")))


@q("q12_top_modes", f"""
WITH hist AS (
  SELECT {_Q_SQL.format(v='v')} AS tok, COUNT(*) AS cnt
  FROM (SELECT UNNEST(embedding) AS v FROM embeddings) GROUP BY 1)
SELECT tok, cnt, rnk FROM (
  SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok DESC) AS rnk
  FROM hist) s
WHERE rnk <= 10
""")
def q12(spark, sf_dir):
    """A2/T1: top-10 histogram modes (watermark_detector.py:168-172); ties
    break toward the higher token value (engine spec)."""
    hist = QUERIES["q11_token_histogram"](spark, sf_dir)
    w = Window.orderBy(F.desc("cnt"), F.desc("tok"))
    return (hist.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 10).select("tok", "cnt", "rnk"))


@q("q13_dominant_token", f"""
WITH hist AS (
  SELECT label, {_Q_SQL.format(v='v')} AS tok, COUNT(*) AS cnt
  FROM (SELECT label, UNNEST(embedding) AS v FROM embeddings) GROUP BY 1, 2),
ranked AS (
  SELECT label, tok, cnt,
         cnt * 100.0 / SUM(cnt) OVER (PARTITION BY label) AS coverage_pct,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY cnt DESC, tok DESC) AS rnk
  FROM hist),
qual AS (
  SELECT label, tok, coverage_pct, rnk,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY rnk) AS pick
  FROM ranked
  WHERE rnk <= 10 AND tok BETWEEN 100 AND 250
    AND coverage_pct BETWEEN 1 AND 20)
SELECT label, tok AS wm_token, ROUND(coverage_pct, 6) AS coverage_pct
FROM qual WHERE pick = 1
""")
def q13(spark, sf_dir):
    """A3: dominant-watermark-token selection per label
    (detect_watermark_color, watermark_detector.py:147-191) through the
    engine's dominant_token operator."""
    e = _ensure_parallelism(
        t(spark, sf_dir, "embeddings").select("label", "embedding"), spark,
        min_bytes=16 << 20)
    hist = oh.token_histogram_bincount_floats(e, ["label"])
    dom = oh.dominant_token(hist, ["label"], from_hist=True)
    return dom.select("label", "wm_token",
                      F.round("coverage_pct", 6).alias("coverage_pct"))


@q("q14_classify_bins", f"""
WITH hist AS (
  SELECT label, {_Q_SQL.format(v='v')} AS tok, COUNT(*) AS cnt
  FROM (SELECT label, UNNEST(embedding) AS v FROM embeddings) GROUP BY 1, 2),
share AS (
  SELECT label, tok, cnt,
         cnt * 100.0 / SUM(cnt) OVER (PARTITION BY label) AS cov
  FROM hist),
scored AS (
  SELECT label, tok, cov,
    CASE WHEN tok BETWEEN 240 AND 255 AND cov > 60 THEN 'background'
         WHEN tok BETWEEN 180 AND 240 AND cov BETWEEN 2 AND 15 THEN 'watermark'
         WHEN tok BETWEEN 0 AND 80 AND cov < 5 THEN 'text'
         ELSE 'noise' END AS color_type,
    ((1 - ABS(tok - 210) / 40.0) * 0.5 + (1 - ABS(cov - 8) / 8.0) * 0.5) * 100
      AS base_conf
  FROM share)
SELECT label, tok, color_type,
  ROUND(CASE WHEN color_type = 'watermark' THEN
    GREATEST(20.0, LEAST(100.0,
      CASE WHEN cov BETWEEN 3 AND 10 THEN LEAST(100.0, base_conf + 30)
           ELSE base_conf END))
  ELSE 0.0 END, 4) AS confidence
FROM scored
""")
def q14(spark, sf_dir):
    """A4: color-type classification + piecewise-linear confidence
    (_classify_color, color_analyzer.py:30-63)."""
    hist = oh.token_histogram(_emb_tokens(spark, sf_dir), ["label"])
    share = hist.withColumn(
        "cov", F.col("cnt") * 100.0
        / F.sum("cnt").over(Window.partitionBy("label")))
    color_type = (
        F.when((F.col("tok").between(240, 255)) & (F.col("cov") > 60), "background")
        .when((F.col("tok").between(180, 240)) & (F.col("cov").between(2, 15)),
              "watermark")
        .when((F.col("tok").between(0, 80)) & (F.col("cov") < 5), "text")
        .otherwise("noise"))
    base = ((1 - F.abs(F.col("tok") - 210) / 40.0) * 0.5
            + (1 - F.abs(F.col("cov") - 8) / 8.0) * 0.5) * 100
    boosted = F.when(F.col("cov").between(3, 10),
                     F.least(F.lit(100.0), base + 30)).otherwise(base)
    conf = F.when(F.col("color_type") == "watermark",
                  F.greatest(F.lit(20.0), F.least(F.lit(100.0), boosted))
                  ).otherwise(F.lit(0.0))
    return (share.withColumn("color_type", color_type)
            .withColumn("confidence", F.round(conf, 4))
            .select("label", "tok", "color_type", "confidence"))


#  (q15_wm_coverage retired: the driver checks at most 50 ledger entries and
#   A5/P2 coverage is value-checked by q41_detect_char_masks' oracle, which
#   exercises the same mask_exprs.coverage expression end-to-end.)
@q("q16_mask_runs", """
WITH pos AS (
  SELECT vec_id, i AS pos, embedding[i + 1] AS v
  FROM embeddings CROSS JOIN range(64) t(i)),
masked AS (
  SELECT vec_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY pos) AS island
  FROM pos WHERE v > 0)
SELECT vec_id, MIN(pos) AS run_start, COUNT(*) AS run_len
FROM masked GROUP BY vec_id, island
HAVING COUNT(*) >= 4
""")
def q16(spark, sf_dir):
    """R1 relational flavor: gaps-and-islands run filter (the
    connected-component area filter, watermark_detector.py:772-789)."""
    e = t(spark, sf_dir, "embeddings")
    pos = e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
    w = Window.partitionBy("vec_id").orderBy("pos")
    masked = (pos.where(F.col("v") > 0)
              .withColumn("island", F.col("pos") - F.row_number().over(w)))
    return (masked.groupBy("vec_id", "island")
            .agg(F.min("pos").alias("run_start"),
                 F.count("*").alias("run_len"))
            .where(F.col("run_len") >= 4)
            .select("vec_id", "run_start", "run_len"))


@q("q17_color_discreteness", f"""
WITH quant AS (
  SELECT label, ({_Q_SQL.format(v='v')} // 8) * 8 AS qtok
  FROM (SELECT label, UNNEST(embedding) AS v FROM embeddings))
SELECT label, COUNT(DISTINCT qtok) AS n_quant,
       ROUND(LEAST(100.0, GREATEST(0.0, 100.0 - COUNT(DISTINCT qtok) / 2.0)), 4)
         AS discreteness
FROM quant GROUP BY label
""")
def q17(spark, sf_dir):
    """A10: color-discreteness score (_analyze_color_discreteness,
    document_classifier.py:77-97): distinct count of 8-quantized values."""
    e = t(spark, sf_dir, "embeddings")
    quant = e.select("label", F.explode("embedding").alias("v")).select(
        "label", (F.floor(_quantize(F.col("v")) / 8) * 8).alias("qtok"))
    return (quant.groupBy("label")
            .agg(F.countDistinct("qtok").alias("n_quant"),
                 F.round(F.least(F.lit(100.0), F.greatest(
                     F.lit(0.0),
                     100.0 - F.countDistinct("qtok") / 2.0)), 4)
                 .alias("discreteness")))


# ===========================================================================
# Text analysis / training-data ops over `documents` (F5/F6, dedup, quality)
# ===========================================================================

@q("q18_content_classify", """
WITH typed AS (
  SELECT doc_id, text,
    CASE WHEN text LIKE 'http://%' OR text LIKE 'https://%'
              OR text LIKE 'www.%' THEN 'url'
         WHEN text LIKE 'WIFI:%' THEN 'wifi'
         WHEN text LIKE 'BEGIN:VCARD%' OR upper(text) LIKE '%VCARD%'
           THEN 'contact'
         WHEN text LIKE 'mailto:%' OR text LIKE '%@%' THEN 'email'
         WHEN text LIKE 'tel:%' OR
              (length(regexp_replace(text, '[^0-9]', '', 'g')) BETWEEN 7 AND 15
               AND regexp_matches(text, '[0-9]')) THEN 'phone'
         WHEN text LIKE 'sms:%' OR text LIKE 'SMSTO:%' THEN 'sms'
         WHEN text LIKE 'geo:%' OR
              regexp_matches(text, '-?\\d+\\.\\d+\\s*,\\s*-?\\d+\\.\\d+')
           THEN 'location'
         WHEN text LIKE 'BEGIN:VEVENT%' OR upper(text) LIKE '%VEVENT%'
           THEN 'calendar'
         ELSE 'text' END AS qr_type
  FROM documents),
cat AS (
  SELECT doc_id, qr_type,
    CASE qr_type
      WHEN 'url' THEN 'website'
      WHEN 'contact' THEN 'contact'
      WHEN 'email' THEN 'email'
      WHEN 'phone' THEN 'phone'
      WHEN 'sms' THEN 'sms'
      WHEN 'location' THEN 'location'
      WHEN 'calendar' THEN 'calendar'
      ELSE CASE
        WHEN lower((SELECT text FROM documents d2 WHERE d2.doc_id = cat0.doc_id))
             SIMILAR TO '%(promo|discount|sale|offer|deal|coupon|advertisement|ad)%'
          THEN 'advertisement'
        WHEN lower((SELECT text FROM documents d2 WHERE d2.doc_id = cat0.doc_id))
             SIMILAR TO '%(help|support|manual|guide|documentation|info|about)%'
          THEN 'documentation'
        ELSE 'general' END
    END AS category
  FROM typed cat0)
SELECT qr_type, category, COUNT(*) AS n
FROM cat GROUP BY qr_type, category
""")
def q18(spark, sf_dir):
    """F5/F6: QR-content classification (_classify_qr_content,
    qr_detector.py:309-350; keyword heuristics :57-89) applied to
    documents.text; category histogram (A7)."""
    d = t(spark, sf_dir, "documents")
    digits = F.regexp_replace("text", "[^0-9]", "")
    qr_type = (
        F.when(F.col("text").startswith("http://")
               | F.col("text").startswith("https://")
               | F.col("text").startswith("www."), "url")
        .when(F.col("text").startswith("WIFI:"), "wifi")
        .when(F.col("text").startswith("BEGIN:VCARD")
              | F.upper("text").contains("VCARD"), "contact")
        .when(F.col("text").startswith("mailto:")
              | F.col("text").contains("@"), "email")
        .when(F.col("text").startswith("tel:")
              | (F.length(digits).between(7, 15)
                 & F.col("text").rlike("[0-9]")), "phone")
        .when(F.col("text").startswith("sms:")
              | F.col("text").startswith("SMSTO:"), "sms")
        .when(F.col("text").startswith("geo:")
              | F.col("text").rlike(r"-?\d+\.\d+\s*,\s*-?\d+\.\d+"), "location")
        .when(F.col("text").startswith("BEGIN:VEVENT")
              | F.upper("text").contains("VEVENT"), "calendar")
        .otherwise("text"))
    lower = F.lower("text")
    text_cat = (
        F.when(lower.rlike("(promo|discount|sale|offer|deal|coupon|"
                           "advertisement|ad)"), "advertisement")
        .when(lower.rlike("(help|support|manual|guide|documentation|info|"
                          "about)"), "documentation")
        .otherwise("general"))
    category = (
        F.when(F.col("qr_type") == "url", "website")
        .when(F.col("qr_type").isin("contact", "email", "phone", "sms",
                                    "location", "calendar"), F.col("qr_type"))
        .when(F.col("qr_type") == "wifi", text_cat)
        .otherwise(text_cat))
    return (d.withColumn("qr_type", qr_type)
            .withColumn("category", category)
            .groupBy("qr_type", "category").agg(F.count("*").alias("n")))


@q("q19_digit_stats", """
SELECT length(regexp_replace(props, '[^0-9]', '', 'g')) AS n_digits,
       COUNT(*) AS n
FROM events GROUP BY 1
""")
def q19(spark, sf_dir):
    """F6: digit extraction + length histogram (_is_phone_number,
    qr_detector.py:38-45)."""
    e = t(spark, sf_dir, "events")
    return (e.groupBy(F.length(F.regexp_replace("props", "[^0-9]", ""))
                      .alias("n_digits"))
            .agg(F.count("*").alias("n")))


@q("q20_exact_dedup", """
SELECT md5(substring(text, 1, 40)) AS text_key,
       COUNT(*) AS copies, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
""")
def q20(spark, sf_dir):
    """Exact near-prefix dedup: hash-groupBy, keep lowest doc_id
    (training-data dedup op #1)."""
    d = t(spark, sf_dir, "documents")
    return (d.groupBy(F.md5(F.substring("text", 1, 40)).alias("text_key"))
            .agg(F.count("*").alias("copies"),
                 F.min("doc_id").alias("keep_id")))


# polynomial word hash shared by the MinHash/SimHash family (defined here,
# above its first use in q21's oracle)
_WORDHASH = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
             "list_transform(string_split({w}, ''), "
             "c -> CAST(ascii(c) AS BIGINT))), "
             "(acc, x) -> (acc * 31 + x) % 1000000007)")


@q("q21_jaccard_pairs", f"""
WITH words AS (
  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
  FROM documents),
hashed AS (SELECT doc_id, {_WORDHASH.format(w='word')} AS wh FROM words),
params AS (SELECT i, [3,5,7,11,13,17,19,23][i+1] AS a, i + 1 AS b
           FROM range(8) t(i)),
sig AS (
  SELECT h.doc_id, p.i, MIN((p.a * h.wh + p.b) % 1000000007) AS mh
  FROM hashed h CROSS JOIN params p GROUP BY h.doc_id, p.i),
sigk AS (  -- q26's LSH hot-bucket ceiling, applied to the candidate stage
           -- here too: the cap is measured over the FULL signature table,
           -- the doc_id % 2 probe slice then restricts the left side only
  SELECT doc_id, i, mh FROM (
    SELECT doc_id, i, mh, COUNT(*) OVER (PARTITION BY i, mh) AS bw
    FROM sig) s WHERE bw <= 64),
cand AS (
  SELECT s1.doc_id AS a_id, s2.doc_id AS b_id
  FROM sigk s1 JOIN sigk s2 ON s1.i = s2.i AND s1.mh = s2.mh
                            AND s1.doc_id < s2.doc_id
  WHERE s1.doc_id % 2 = 0
  GROUP BY 1, 2 HAVING COUNT(*) >= 4),
sizes AS (SELECT doc_id, COUNT(*) AS nw FROM words GROUP BY doc_id),
inter AS (
  SELECT c.a_id, c.b_id, COUNT(*) AS both_cnt
  FROM cand c
  JOIN words a ON a.doc_id = c.a_id
  JOIN words b ON b.doc_id = c.b_id AND b.word = a.word
  GROUP BY c.a_id, c.b_id)
SELECT i.a_id, i.b_id,
       ROUND(CAST(i.both_cnt AS DOUBLE)
             / (sa.nw + sb.nw - i.both_cnt), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a_id
JOIN sizes sb ON sb.doc_id = i.b_id
WHERE CAST(i.both_cnt AS DOUBLE) / (sa.nw + sb.nw - i.both_cnt) >= 0.5
""")
def q21(spark, sf_dir):
    """Word-set Jaccard near-dup pairs, candidate-prefiltered (training-data
    dedup op): MinHash band candidates (q25/q26 signatures, >=4/8 matching
    components ~ estimated Jaccard >= 0.5) bound the pair set FIRST, then
    exact Jaccard runs only on candidates. No join keys on raw words across
    unbounded documents — the word join is on (candidate doc pair, word), so
    a stopword can no longer fan a hot key across all doc pairs (the round-1
    scale-killer). At 100 TB the candidate count tracks the true-duplicate
    count, not |docs|^2. Word-set dedup happens IN-ROW (array_distinct
    before the explode) — no distinct() shuffle. Candidate generation goes
    through dedup.lsh_candidate_pairs so the LSH hot-bucket ceiling applies
    here exactly as in q26/q52 — without it, one degenerate bucket keeps
    the signature self-join quadratic (the doc_id % 2 probe slice only
    divides ONE side); the slice rides in as the s1-side prefilter, applied
    after the cap, mirrored 1:1 in the oracle's sigk CTE."""
    from ..operators.dedup import lsh_candidate_pairs
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("word"))
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("nw"))
    sig = QUERIES["q25_minhash_signatures"](spark, sf_dir) \
        .withColumnRenamed("hash_i", "i").withColumnRenamed("minhash", "mh")
    cand = lsh_candidate_pairs(
        sig, min_matches=4, max_bucket=64,
        s1_filter=F.col("doc_id") % 2 == 0).select("a_id", "b_id")
    wa, wb = words.alias("wa"), words.alias("wb")
    inter = (cand.join(wa, F.col("wa.doc_id") == F.col("a_id"))
             .join(wb, (F.col("wb.doc_id") == F.col("b_id"))
                   & (F.col("wb.word") == F.col("wa.word")))
             .groupBy("a_id", "b_id")
             .agg(F.count("*").alias("both_cnt")))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (F.col("both_cnt").cast("double")
           / (F.col("sa.nw") + F.col("sb.nw") - F.col("both_cnt")))
    return (inter.join(sa, F.col("sa.doc_id") == F.col("a_id"))
            .join(sb, F.col("sb.doc_id") == F.col("b_id"))
            .where(jac >= 0.5)
            .select("a_id", "b_id", F.round(jac, 6).alias("jaccard")))


@q("q22_token_stats", """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
         AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
            AS BIGINT) AS bpe_tokens,
       ROUND(AVG(n_chars), 4) AS avg_chars
FROM documents GROUP BY source
""")
def q22(spark, sf_dir):
    """Token counting per source (training-data text-analysis op), both
    flavors in one ledger entry: whitespace word count and the BPE-ish
    regex count (word / number / punctuation pieces)."""
    d = t(spark, sf_dir, "documents")
    bpe = F.size(F.expr(
        "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.size(F.split("text", r"\s+"))).alias("ws_tokens"),
                 F.sum(bpe).alias("bpe_tokens"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars")))


def _marker_cnt_sql(marker):
    return (f"(length(text) - length(replace(text, '{marker}', '')))"
            f" / {len(marker)}")


@q("q23_doc_quality", f"""
WITH w AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
m AS (
  SELECT doc_id, COUNT(*) AS word_cnt,
         COUNT(DISTINCT word) AS distinct_words,
         AVG(CASE WHEN word IN ('the', 'a') THEN 1.0 ELSE 0.0 END)
           AS stop_ratio
  FROM w GROUP BY doc_id),
scored AS (
  SELECT doc_id, lang,
         {_marker_cnt_sql('th')} + {_marker_cnt_sql(' a ')} AS s_en,
         {_marker_cnt_sql('qu')} + {_marker_cnt_sql('rt')}  AS s_es,
         {_marker_cnt_sql('ow')} + {_marker_cnt_sql('oi')}  AS s_fr,
         {_marker_cnt_sql('sc')} + {_marker_cnt_sql('ch')}  AS s_de
  FROM documents),
guessed AS (
  SELECT doc_id, lang,
    CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
         WHEN s_fr >= s_de THEN 'fr'
         ELSE 'de' END AS lang_guess
  FROM scored)
SELECT m.doc_id, word_cnt, distinct_words, ROUND(stop_ratio, 6) AS stop_ratio,
       CASE WHEN word_cnt >= 100 AND stop_ratio < 0.15 THEN 'high'
            WHEN word_cnt >= 30 THEN 'medium'
            ELSE 'low' END AS quality_bucket,
       g.lang, g.lang_guess
FROM m JOIN guessed g ON g.doc_id = m.doc_id
""")
def q23(spark, sf_dir):
    """Quality scoring (length/stopword heuristics) + language-ID via
    marker-n-gram argmax, one ledger entry (training-data text-analysis
    ops) — fully in-row (size/array_distinct/filter over the split array
    plus fixed marker counts; no explode+groupBy shuffle; a pure map at
    100 TB). The synthetic corpus shares one vocabulary across langs, so
    lang-ID accuracy is ~chance — the operator shape is what scales."""
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    word_cnt = F.size(words)
    stops = F.size(F.filter(words, lambda w: w.isin("the", "a")))

    def cnt(m):
        return (F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(m)))) / len(m)

    m = d.select(
        "doc_id", "lang",
        word_cnt.cast("long").alias("word_cnt"),
        F.size(F.array_distinct(words)).cast("long").alias("distinct_words"),
        (stops / word_cnt).alias("stop_ratio"),
        (cnt("th") + cnt(" a ")).alias("s_en"),
        (cnt("qu") + cnt("rt")).alias("s_es"),
        (cnt("ow") + cnt("oi")).alias("s_fr"),
        (cnt("sc") + cnt("ch")).alias("s_de"))
    bucket = (F.when((F.col("word_cnt") >= 100) & (F.col("stop_ratio") < 0.15),
                     "high")
              .when(F.col("word_cnt") >= 30, "medium").otherwise("low"))
    guess = (F.when((F.col("s_en") >= F.col("s_es"))
                    & (F.col("s_en") >= F.col("s_fr"))
                    & (F.col("s_en") >= F.col("s_de")), "en")
             .when((F.col("s_es") >= F.col("s_fr"))
                   & (F.col("s_es") >= F.col("s_de")), "es")
             .when(F.col("s_fr") >= F.col("s_de"), "fr")
             .otherwise("de"))
    return m.select("doc_id", "word_cnt", "distinct_words",
                    F.round("stop_ratio", 6).alias("stop_ratio"),
                    bucket.alias("quality_bucket"),
                    "lang", guess.alias("lang_guess"))


# ===========================================================================
# Similarity search over `embeddings` (ANN baseline + LSH scale path)
# ===========================================================================

_DOT = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)")


def _make_cos_topk_partial(sf_dir: str, topk: int = 3, modulus: int = 50):
    """mapInArrow factory for q24's scored+partial-top-k stage.

    Round-6 restructure (guide §4.2/§8): the old plan broadcast the query
    rows and crossJoined them against the candidate table, so Q x N pairs —
    each carrying BOTH full embedding arrays — crossed the Arrow boundary
    into a pandas UDF (at sf1 that is 8M pairs x 2 x 64 floats, ~8 GB of
    Arrow traffic; 48 s measured). Now only the N candidate rows cross, the
    Q x d query matrix is loaded once per task straight from the parquet
    source (the guide §8 "co-locate instead of join" shape: the task reads
    its side input from storage), and the whole Q x batch cosine block is
    computed as NumPy matrix arithmetic with the per-pair top-k done in one
    lexsort — emitting only topk rows per query per batch.

    Bit-exactness vs the DuckDB oracle is preserved: the dot products
    accumulate dimension-by-dimension in float64 (acc = p0; acc += p_k),
    which is EXACTLY np.cumsum's / list_reduce's sequential left-fold
    ((0+p1)+p2)+... order, and cos = dot/na/nb keeps the same two-division
    order. The zero-norm convention cos = 0.0 (NOT NaN) is pinned as
    before: pandas NaN crosses Arrow as SQL NULL, which Spark's DESC ranks
    LAST while DuckDB's NaN ranks FIRST. NaN cos (impossible after the
    pin) would sort last in the partial top-k, matching the final window's
    NULLS LAST — same convention as the old na_position="last".
    """
    import numpy as np
    import pyarrow as pa

    def _load_queries():
        import pyarrow.parquet as pq
        qt = pq.read_table(f"{sf_dir}/embeddings.parquet",
                           columns=["vec_id", "embedding"])
        qid = qt.column("vec_id").to_numpy()
        keep = (qid % modulus) == 0
        emb = qt.column("embedding").combine_chunks()
        offs = emb.offsets.to_numpy().astype(np.int64)
        d = int(offs[1] - offs[0]) if len(offs) > 1 else 0
        assert (np.diff(offs) == d).all(), "ragged embedding dims"
        vals = emb.values.to_numpy(zero_copy_only=False)
        Qm = vals[offs[0]:offs[-1]].reshape(-1, d)[keep].astype(np.float64)
        qids = qid[keep].astype(np.int64)
        na = np.sqrt(np.cumsum(Qm * Qm, axis=1)[:, -1]) if d else \
            np.zeros(len(qids))
        return qids, Qm, na, d

    def fn(batches):
        qids, Qm, na, d = _load_queries()
        Q = qids.size
        for b in batches:
            if Q == 0 or b.num_rows == 0:
                continue
            cand = b.column(b.schema.get_field_index("vec_id")) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            lst = b.column(b.schema.get_field_index("embedding"))
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            offs = lst.offsets.to_numpy().astype(np.int64)
            base = offs[0]
            vals = lst.values.to_numpy(zero_copy_only=False)
            flat = vals[base:offs[-1]]
            assert (np.diff(offs) == d).all(), "ragged embedding dims"
            E = flat.reshape(-1, d).astype(np.float64)
            nb = np.sqrt(np.cumsum(E * E, axis=1)[:, -1])
            # sequential left-fold dot, vectorized over the Q x nb block:
            # identical IEEE op order to cumsum(A*B, axis=1)[:, -1]
            acc = Qm[:, 0, None] * E[None, :, 0]
            for k in range(1, d):
                acc += Qm[:, k, None] * E[None, :, k]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where((na[:, None] * nb[None, :]) == 0.0, 0.0,
                               acc / na[:, None] / nb[None, :])
            n = cand.size
            # per-query top-(k+1) under (cos DESC, cand_id ASC), NaN last —
            # one stable lexsort keyed (row, -cos, cand); +1 absorbs the
            # excluded self-pair (vec_ids are unique, so at most one/row)
            order = np.lexsort((np.tile(cand, Q), -cos.ravel(),
                                np.repeat(np.arange(Q), n)))
            m = min(topk + 1, n)
            top = order.reshape(Q, n)[:, :m] % n
            tq = np.repeat(qids, m)
            tc = cand[top].ravel()
            ts = np.take_along_axis(cos, top, axis=1).ravel()
            valid = tc != tq
            rank = (np.cumsum(valid.reshape(Q, m), axis=1)
                    .ravel() * valid)
            keep = valid & (rank <= topk)
            yield pa.RecordBatch.from_arrays(
                [pa.array(tq[keep], type=pa.int64()),
                 pa.array(tc[keep], type=pa.int64()),
                 pa.array(ts[keep], type=pa.float64())],
                ["q_id", "cand_id", "cos"])

    return fn



@q("q24_cosine_topk", f"""
WITH qv AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
            WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.q_id, e.vec_id AS cand_id,
         CASE WHEN {_DOT.format(a='q.qe', b='q.qe')} = 0
                OR {_DOT.format(a='e.embedding', b='e.embedding')} = 0
              THEN 0.0
         ELSE {_DOT.format(a='q.qe', b='e.embedding')}
              / sqrt({_DOT.format(a='q.qe', b='q.qe')})
              / sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
         END AS cos
  FROM qv q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id)
SELECT q_id, cand_id, ROUND(cos, 6) AS cos_sim, rnk FROM (
  SELECT q_id, cand_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, cand_id ASC) AS rnk
  FROM scored) s
WHERE rnk <= 3
""")
def q24(spark, sf_dir):
    """Brute-force cosine top-k (ANN baseline, the labeled O(Q x N)
    yardstick — q28/q31/q46 are the scale paths): one mapInArrow pass over
    the candidate table computes the whole Q x batch cosine block as NumPy
    matrix arithmetic (sequential-fold order, bit-exact vs the oracle) and
    keeps only the per-batch top-3 per query, so Q x 3 x batches rows reach
    the final window instead of the Q x N scored cross product — and, new
    in round 6, the Q x N pair rows never exist at all: the old broadcast
    crossJoin shipped every pair (with both embedding arrays) through
    Arrow into Python, which was ~98% of the query's wall time."""
    e = _ensure_parallelism(
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding"), spark)
    scored = e.mapInArrow(_make_cos_topk_partial(sf_dir),
                          "q_id long, cand_id long, cos double")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("q_id", "cand_id", F.round("cos", 6).alias("cos_sim"),
                    "rnk"))


@q("q25_minhash_signatures", f"""
WITH words AS (
  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
  FROM documents),
hashed AS (SELECT doc_id, {_WORDHASH.format(w='word')} AS wh FROM words),
params AS (SELECT i, [3,5,7,11,13,17,19,23][i+1] AS a, i + 1 AS b
           FROM range(8) t(i))
SELECT h.doc_id, p.i AS hash_i,
       MIN((p.a * h.wh + p.b) % 1000000007) AS minhash
FROM hashed h CROSS JOIN params p
GROUP BY h.doc_id, p.i
""")
def q25(spark, sf_dir):
    """MinHash signatures (dedup op #2): polynomial word hash + k=8
    universal-hash min — still a pure map (partial batches, no shuffle
    beyond the scan-parallelism bootstrap), but since round 6 the whole
    per-word fold runs as vectorized NumPy off the raw UTF-8 buffer
    (operators/dedup.minhash_signatures_text) instead of an interpreted
    per-char Catalyst aggregate HOF evaluated once per character — same
    values, ~10x less per-row work. At 100 TB the signature stage remains
    a pure map."""
    from ..operators.dedup import minhash_signatures_text
    d = _ensure_parallelism(
        t(spark, sf_dir, "documents").select("doc_id", "text"), spark,
        min_bytes=2 << 20)
    return minhash_signatures_text(d)


@q("q26_minhash_dup_pairs", f"""
WITH words AS (
  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
  FROM documents),
hashed AS (SELECT doc_id, {_WORDHASH.format(w='word')} AS wh FROM words),
params AS (SELECT i, [3,5,7,11,13,17,19,23][i+1] AS a, i + 1 AS b
           FROM range(8) t(i)),
sig AS (
  SELECT h.doc_id, p.i, MIN((p.a * h.wh + p.b) % 1000000007) AS mh
  FROM hashed h CROSS JOIN params p GROUP BY h.doc_id, p.i),
sigk AS (  -- LSH hot-bucket ceiling: components shared by > 64 docs carry
           -- no near-dup signal and would make the self-join quadratic
  SELECT doc_id, i, mh FROM (
    SELECT doc_id, i, mh, COUNT(*) OVER (PARTITION BY i, mh) AS bw
    FROM sig) s WHERE bw <= 64)
SELECT s1.doc_id AS a_id, s2.doc_id AS b_id, COUNT(*) AS matches
FROM sigk s1 JOIN sigk s2 ON s1.i = s2.i AND s1.mh = s2.mh
                          AND s1.doc_id < s2.doc_id
GROUP BY s1.doc_id, s2.doc_id
HAVING COUNT(*) >= 4
""")
def q26(spark, sf_dir):
    """MinHash-LSH candidate pairs: signature band join, >=4/8 matching
    components (estimated Jaccard >= 0.5), with the standard LSH
    hot-bucket ceiling (operators/dedup.lsh_candidate_pairs): a degenerate
    bucket cannot make the self-join quadratic by construction."""
    from ..operators.dedup import lsh_candidate_pairs
    sig = QUERIES["q25_minhash_signatures"](spark, sf_dir) \
        .withColumnRenamed("hash_i", "i").withColumnRenamed("minhash", "mh")
    return lsh_candidate_pairs(sig, min_matches=4, max_bucket=64)


@q("q27_simhash", f"""
WITH words AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents),
hashed AS (SELECT doc_id, {_WORDHASH.format(w='word')} AS wh FROM words),
bits AS (
  SELECT h.doc_id, j.j,
         CASE WHEN SUM(CASE WHEN (h.wh >> j.j) & 1 = 1 THEN 1 ELSE -1 END) > 0
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
  FROM hashed h CROSS JOIN range(16) j(j)
  GROUP BY h.doc_id, j.j)
SELECT doc_id, CAST(SUM(bit << j) AS BIGINT) AS simhash16 FROM bits GROUP BY doc_id
""")
def q27(spark, sf_dir):
    """SimHash fingerprint (dedup op #3): 16-bit sign-of-weighted-bits over
    frequency-weighted word hashes — still a pure map (no shuffle beyond
    the scan-parallelism bootstrap; plan-asserted), but since round 6 the
    word hashing and all 16 signed bit-sums run as vectorized NumPy off
    the raw UTF-8 buffer (operators/dedup.simhash_text) instead of 16
    interpreted per-word Catalyst folds per document — same values.
    (Round 2 exploded words and crossJoined 16 bit-planes before a
    groupBy: a 16x word-row shuffle for the same result.)"""
    from ..operators.dedup import simhash_text
    d = _ensure_parallelism(
        t(spark, sf_dir, "documents").select("doc_id", "text"), spark,
        min_bytes=2 << 20)
    return simhash_text(d)


@q("q28_lsh_buckets", """
WITH planes AS (SELECT j FROM range(4) t(j)),
dots AS (
  SELECT e.vec_id, p.j,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_zip(e.embedding, range(64)),
             q -> CAST(q[1] AS DOUBLE) * (((q[2] * p.j + 7) % 13) - 6))),
           (x, y) -> x + y) AS dot
  FROM embeddings e CROSS JOIN planes p)
SELECT vec_id,
       CAST(SUM(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
FROM dots GROUP BY vec_id
""")
def q28(spark, sf_dir):
    """Random-hyperplane LSH bucket assignment (ANN scale path): 4
    deterministic integer hyperplanes -> 16 buckets; sequential-fold dots
    are bit-exact vs the oracle."""
    e = t(spark, sf_dir, "embeddings")
    js = spark.range(4).select(F.col("id").cast("int").alias("j"))
    dot = F.aggregate(
        F.zip_with("embedding", F.sequence(F.lit(0), F.lit(63)),
                   lambda v, i: v.cast("double")
                   * (((i * F.col("j") + 7) % 13) - 6).cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    dots = e.crossJoin(F.broadcast(js)).select("vec_id", "j", dot.alias("dot"))
    return (dots.groupBy("vec_id")
            .agg(F.sum(F.when(F.col("dot") > 0,
                              F.expr("1 << j")).otherwise(0)).alias("bucket")))


# ===========================================================================
# Flagship: the detection pipeline on char-token arrays from real text
# ===========================================================================

def _char_tokens(spark, sf_dir, *cols):
    """documents -> (doc_id, source, *cols, tokens:array<int>) via per-char
    ascii — the deterministic token table derived from driver data."""
    d = t(spark, sf_dir, "documents")
    toks = F.transform(F.split("text", ""), lambda c: F.ascii(c))
    return d.select("doc_id", "source", *cols, toks.alias("tokens"))


@q("q29_dominant_char_token", """
WITH toks AS (
  SELECT source,
         UNNEST(list_transform(string_split(text, ''), c -> ascii(c))) AS tok
  FROM documents),
hist AS (SELECT source, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT source, tok, cnt,
         cnt * 100.0 / SUM(cnt) OVER (PARTITION BY source) AS coverage_pct,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY cnt DESC, tok DESC) AS rnk
  FROM hist),
qual AS (
  SELECT source, tok, coverage_pct, rnk,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY rnk) AS pick
  FROM ranked
  WHERE rnk <= 10 AND tok BETWEEN 100 AND 250
    AND coverage_pct BETWEEN 1 AND 20)
SELECT source, tok AS wm_token, ROUND(coverage_pct, 6) AS coverage_pct
FROM qual WHERE pick = 1
""")
def q29(spark, sf_dir):
    """Flagship A1+A2+A3: dominant-token detection per source over real
    char-token arrays (detect_watermark_color, watermark_detector.py:147-191,
    generalized across a corpus). The histogram kernel counts the same
    ascii() code points as the oracle."""
    docs = _ensure_parallelism(
        t(spark, sf_dir, "documents").select("source", "text"), spark,
        min_bytes=16 << 20)
    hist = oh.token_histogram_bincount_text(docs, ["source"])
    dom = oh.dominant_token(hist, ["source"], from_hist=True)
    return dom.select("source", "wm_token",
                      F.round("coverage_pct", 6).alias("coverage_pct"))


@q("q30_otsu_per_source", """
WITH toks AS (
  SELECT source,
         UNNEST(list_transform(string_split(text, ''), c -> ascii(c))) AS tok
  FROM documents),
hist AS (SELECT source, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
cum AS (
  SELECT source, tok, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY tok
                        ROWS UNBOUNDED PRECEDING) AS w0,
         SUM(cnt * tok) OVER (PARTITION BY source ORDER BY tok
                              ROWS UNBOUNDED PRECEDING) AS m0,
         SUM(cnt) OVER (PARTITION BY source) AS total,
         SUM(cnt * tok) OVER (PARTITION BY source) AS mu_t
  FROM hist),
scored AS (
  SELECT source, tok,
         POW(CAST(m0 AS DOUBLE) * total - CAST(mu_t AS DOUBLE) * w0, 2.0) / (w0 * (total - w0)) AS between_var
  FROM cum WHERE w0 > 0 AND total - w0 > 0)
SELECT source, tok AS otsu_threshold FROM (
  SELECT source, tok,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY between_var DESC, tok ASC) AS rn
  FROM scored) s
WHERE rn = 1
""")
def q30(spark, sf_dir):
    """Otsu threshold per source over char-token histograms — the pure-SQL
    window formulation (SURVEY §4.3) through the engine's otsu_sql, fed by
    the A1b bincount histogram (same result as the explode path, ~1.7x
    faster at sf0.1)."""
    docs = _ensure_parallelism(
        t(spark, sf_dir, "documents").select("source", "text"), spark,
        min_bytes=16 << 20)
    hist = oh.token_histogram_bincount_text(docs, ["source"])
    return oo.otsu_sql(hist, ["source"])


# ===========================================================================
# Kernel-UDF queries. Most carry cross-paradigm SQL oracles (q40/q41/q42/
# q48/q49/q50: detection, morphology and the multi-pass inpaint re-derived
# relationally in DuckDB); the remaining rows-only entries (q37/q47 — the
# profiled/status compositions) are exact-parity-tested in pytest instead.
# ===========================================================================

# DuckDB form of _char_tokens, one row per token: split(text, '') + ascii
# gives the code points `v`, an empty text one token 0 and a NULL text none.
# The kernels classify (histogram, masks) on `g` = v mod 256 and inpaint
# with the full values.
_CHAR_POS_SQL = """pos AS (
  SELECT doc_id, source, CAST(t.i - 1 AS BIGINT) AS p,
         ascii(substring(text, CAST(t.i AS INT), 1)) AS v,
         ascii(substring(text, CAST(t.i AS INT), 1)) % 256 AS g,
         CAST(length(text) + CAST(text = '' AS INT) AS BIGINT) AS n
  FROM documents,
       UNNEST(generate_series(1, length(text) + CAST(text = '' AS INT)))
         AS t(i))"""


@q("q40_repair_char_tokens", f"""
WITH {_CHAR_POS_SQL},
hist AS (SELECT doc_id, g AS tok, MAX(n) AS n, COUNT(*) AS cnt
         FROM pos GROUP BY doc_id, g),
ranked AS (  -- top-10 modes, ties toward higher token (engine spec)
  SELECT doc_id, tok, cnt, n,
         cnt * 100.0 / n AS coverage_pct,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, tok DESC) AS rnk
  FROM hist),
wm AS (  -- first qualifying mode (value 100..250, coverage 1..20%)
  SELECT doc_id, tok AS wm_token FROM (
    SELECT doc_id, tok, rnk,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rnk) AS pick
    FROM ranked
    WHERE rnk <= 10 AND tok BETWEEN 100 AND 250
      AND coverage_pct BETWEEN 1 AND 20) s
  WHERE pick = 1),
-- ============================ PASS 1 =====================================
raw1 AS (  -- |g - wm| < 30, background-protected; no text protection,
           -- exact while wm is text-like (100..150), as every ASCII wm is
  SELECT p.doc_id, p.p, p.n FROM pos p JOIN wm ON wm.doc_id = p.doc_id
  WHERE ABS(p.g - wm.wm_token) < 30 AND p.g <= 250),
p1m1_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM raw1) x GROUP BY doc_id, isl),
p1m1_e AS (  -- open x1: erode k=3 (border-aware) ...
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+1 END AS s,
         CASE WHEN e=n THEN n ELSE e-1 END AS e
  FROM p1m1_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+1 END)
      < (CASE WHEN e=n THEN n ELSE e-1 END)),
p1m1 AS (  -- ... then dilate k=3
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,n)-1)) AS p
  FROM p1m1_e),
p1m2_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p1m1) x GROUP BY doc_id, isl),
p1m2_d AS (  -- close x2: dilate by 2 ...
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-2,0), LEAST(e+2,n)-1)) AS p
  FROM p1m2_sp),
p1m3_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p1m2_d) x GROUP BY doc_id, isl),
p1m3_e AS (  -- ... then erode by 2 (border-aware)
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+2 END AS s,
         CASE WHEN e=n THEN n ELSE e-2 END AS e
  FROM p1m3_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+2 END)
      < (CASE WHEN e=n THEN n ELSE e-2 END)),
p1m3 AS (SELECT DISTINCT doc_id, n,
                UNNEST(generate_series(s, e-1)) AS p FROM p1m3_e),
p1runs AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p1m3) x GROUP BY doc_id, isl),
kept1 AS (  -- R1 run filter, pass-1 final mask spans
  SELECT doc_id, n, s, e FROM p1runs WHERE (e - s) BETWEEN 5 AND 5000),
cov1 AS (
  SELECT doc_id, MAX(n) AS n, SUM(e - s) AS masked
  FROM kept1 GROUP BY doc_id),
rad1 AS (  -- dynamic radius: max(2, floor(2 + cov*10*strength))
  SELECT doc_id,
         GREATEST(2, CAST(FLOOR(2 + (CAST(masked AS DOUBLE)/n)*10*1.0)
                          AS BIGINT)) AS radius
  FROM cov1),
fills1 AS (
  SELECT k.doc_id, u.p,
    (SELECT v FROM pos WHERE pos.doc_id = k.doc_id AND pos.p = k.s - 1) AS L,
    (SELECT v FROM pos WHERE pos.doc_id = k.doc_id AND pos.p = k.e) AS R,
    k.s, k.e, r.radius
  FROM kept1 k
  JOIN rad1 r ON r.doc_id = k.doc_id
  CROSS JOIN UNNEST(generate_series(k.s, k.e - 1)) AS u(p)),
vals1 AS (  -- distance-weighted interp within radius, plateau outside
  SELECT doc_id, p,
    CASE
      WHEN L IS NULL AND R IS NULL THEN NULL
      WHEN L IS NULL THEN R
      WHEN R IS NULL THEN L
      WHEN LEAST(p - (s - 1), e - p) <= radius
        THEN (L * (e - p) + R * (p - (s - 1))) // ((p - (s - 1)) + (e - p))
      WHEN (p - (s - 1)) < (e - p) THEN L
      WHEN (e - p) < (p - (s - 1)) THEN R
      ELSE (L + R) // 2
    END AS fill
  FROM fills1),
rep1 AS (  -- token stream state after pass 1 (full values)
  SELECT pos.doc_id, pos.p, pos.n, COALESCE(f.fill, pos.v) AS val
  FROM pos LEFT JOIN vals1 f ON f.doc_id = pos.doc_id AND f.p = pos.p),
-- ============================ PASS 2 =====================================
raw2 AS (  -- re-detect on the repaired stream, same cached wm per doc;
           -- only docs whose pass-1 mask was non-empty stay active
  SELECT r.doc_id, r.p, r.n FROM rep1 r
  JOIN wm ON wm.doc_id = r.doc_id
  JOIN cov1 a ON a.doc_id = r.doc_id
  WHERE ABS(r.val % 256 - wm.wm_token) < 30 AND r.val % 256 <= 250),
p2m1_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM raw2) x GROUP BY doc_id, isl),
p2m1_e AS (
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+1 END AS s,
         CASE WHEN e=n THEN n ELSE e-1 END AS e
  FROM p2m1_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+1 END)
      < (CASE WHEN e=n THEN n ELSE e-1 END)),
p2m1 AS (
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,n)-1)) AS p
  FROM p2m1_e),
p2m2_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p2m1) x GROUP BY doc_id, isl),
p2m2_d AS (
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-2,0), LEAST(e+2,n)-1)) AS p
  FROM p2m2_sp),
p2m3_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p2m2_d) x GROUP BY doc_id, isl),
p2m3_e AS (
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+2 END AS s,
         CASE WHEN e=n THEN n ELSE e-2 END AS e
  FROM p2m3_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+2 END)
      < (CASE WHEN e=n THEN n ELSE e-2 END)),
p2m3 AS (SELECT DISTINCT doc_id, n,
                UNNEST(generate_series(s, e-1)) AS p FROM p2m3_e),
p2runs AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p2m3) x GROUP BY doc_id, isl),
kept2 AS (
  SELECT doc_id, n, s, e FROM p2runs WHERE (e - s) BETWEEN 5 AND 5000),
dil2 AS (  -- multi-pass k=3 dilate between passes (wm_remover spec)
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,n)-1)) AS p
  FROM kept2),
spans2 AS (  -- merged dilated spans, pass-2 inpaint input
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM dil2) x GROUP BY doc_id, isl),
cov2 AS (
  SELECT doc_id, MAX(n) AS n, SUM(e - s) AS masked
  FROM spans2 GROUP BY doc_id),
rad2 AS (
  SELECT doc_id,
         GREATEST(2, CAST(FLOOR(2 + (CAST(masked AS DOUBLE)/n)*10*1.0)
                          AS BIGINT)) AS radius
  FROM cov2),
fills2 AS (  -- boundaries read from the PASS-1 repaired stream
  SELECT k.doc_id, u.p,
    (SELECT val FROM rep1 WHERE rep1.doc_id = k.doc_id
                            AND rep1.p = k.s - 1) AS L,
    (SELECT val FROM rep1 WHERE rep1.doc_id = k.doc_id
                            AND rep1.p = k.e) AS R,
    k.s, k.e, r.radius
  FROM spans2 k
  JOIN rad2 r ON r.doc_id = k.doc_id
  CROSS JOIN UNNEST(generate_series(k.s, k.e - 1)) AS u(p)),
vals2 AS (
  SELECT doc_id, p,
    CASE
      WHEN L IS NULL AND R IS NULL THEN NULL
      WHEN L IS NULL THEN R
      WHEN R IS NULL THEN L
      WHEN LEAST(p - (s - 1), e - p) <= radius
        THEN (L * (e - p) + R * (p - (s - 1))) // ((p - (s - 1)) + (e - p))
      WHEN (p - (s - 1)) < (e - p) THEN L
      WHEN (e - p) < (p - (s - 1)) THEN R
      ELSE (L + R) // 2
    END AS fill
  FROM fills2),
final AS (
  SELECT r.doc_id, r.p, COALESCE(v.fill, r.val) AS val
  FROM rep1 r LEFT JOIN vals2 v ON v.doc_id = r.doc_id AND v.p = r.p),
sums AS (
  SELECT doc_id, CAST(SUM(val) AS BIGINT) AS token_sum
  FROM final GROUP BY doc_id),
act2 AS (SELECT DISTINCT doc_id FROM kept2)
SELECT d.doc_id, d.source,
       CAST(COALESCE(length(d.text) + CAST(d.text = '' AS INT), 0) AS BIGINT)
         AS n_out,
       ROUND(COALESCE(CAST(c.masked AS DOUBLE) / c.n, 0.0), 6) AS coverage,
       CAST(wm.wm_token AS INT) AS wm_token,
       CAST((CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN a2.doc_id IS NULL THEN 0 ELSE 1 END) AS INT)
         AS pass_count,
       CAST(COALESCE(s.token_sum, 0) AS BIGINT) AS token_sum
FROM documents d
LEFT JOIN wm ON wm.doc_id = d.doc_id
LEFT JOIN cov1 c ON c.doc_id = d.doc_id
LEFT JOIN act2 a2 ON a2.doc_id = d.doc_id
LEFT JOIN sums s ON s.doc_id = d.doc_id
""")
def q40(spark, sf_dir):
    """Full fused tokenize+detect+repair pipeline (K1+K2 MULTI-PASS) over
    documents.text via the batch-vectorized mapInArrow kernel (the text
    decodes straight into the char-token array, zero-copy when a batch is
    ASCII). The DuckDB
    oracle UNROLLS both kernel passes in pure SQL: pass 1 = q41's detection
    CTEs + q49's distance-weighted integer fills; pass 2 = re-detection
    over the repaired stream with the cached wm token, the k=3 inter-pass
    dilate (watermark_remover.py:249), and a second fill whose boundaries
    read from the pass-1 output. `token_sum` (per-doc sum of the FINAL
    repaired tokens) is the value-level check of the multi-pass inpaint;
    exact per-token parity vs reference_kernels remains covered by
    tests/test_repair_vectorized.py."""
    from ..operators.repair_vectorized import repair_text_arrow
    from ..params import DEFAULT_PARAMS
    docs = _ensure_parallelism(
        t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        spark)
    out = repair_text_arrow(docs, DEFAULT_PARAMS.with_(passes=2, min_run=5))
    return out.select("doc_id", "source", "n_out",
                      F.round("coverage", 6).alias("coverage"), "wm_token",
                      "pass_count", "token_sum")


@q("q41_detect_char_masks", f"""
WITH {_CHAR_POS_SQL},
hist AS (SELECT doc_id, g AS tok, MAX(n) AS n, COUNT(*) AS cnt
         FROM pos GROUP BY doc_id, g),
ranked AS (  -- top-10 modes, ties toward higher token (engine spec)
  SELECT doc_id, tok, cnt, n,
         cnt * 100.0 / n AS coverage_pct,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, tok DESC) AS rnk
  FROM hist),
wm AS (  -- first qualifying mode (value 100..250, coverage 1..20%)
  SELECT doc_id, tok AS wm_token FROM (
    SELECT doc_id, tok, rnk,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rnk) AS pick
    FROM ranked
    WHERE rnk <= 10 AND tok BETWEEN 100 AND 250
      AND coverage_pct BETWEEN 1 AND 20) s
  WHERE pick = 1),
raw AS (  -- |g - wm| < 30, background-protected; ASCII wm is always in the
          -- text-like band 100..150, so the text-protect guard skips
  SELECT p.doc_id, p.p, p.n FROM pos p JOIN wm ON wm.doc_id = p.doc_id
  WHERE ABS(p.g - wm.wm_token) < 30 AND p.g <= 250),
m1_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM raw) x GROUP BY doc_id, isl),
m1_e AS (
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+1 END AS s,
         CASE WHEN e=n THEN n ELSE e-1 END AS e
  FROM m1_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+1 END)
      < (CASE WHEN e=n THEN n ELSE e-1 END)),
m1 AS (
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,n)-1)) AS p
  FROM m1_e),
m2_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m1) x GROUP BY doc_id, isl),
m2_d AS (
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-2,0), LEAST(e+2,n)-1)) AS p
  FROM m2_sp),
m3_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m2_d) x GROUP BY doc_id, isl),
m3_e AS (
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+2 END AS s,
         CASE WHEN e=n THEN n ELSE e-2 END AS e
  FROM m3_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+2 END)
      < (CASE WHEN e=n THEN n ELSE e-2 END)),
m3 AS (SELECT DISTINCT doc_id, n,
              UNNEST(generate_series(s, e-1)) AS p FROM m3_e),
runs AS (
  SELECT doc_id, MAX(n) AS n, COUNT(*) AS ln FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m3) x GROUP BY doc_id, isl),
agg AS (
  SELECT doc_id, MAX(n) AS n, SUM(ln) AS masked
  FROM runs WHERE ln BETWEEN 5 AND 5000 GROUP BY doc_id)
SELECT d.doc_id, d.source, CAST(wm.wm_token AS INT) AS wm_token,
       ROUND(COALESCE(CAST(a.masked AS DOUBLE) / a.n, 0.0), 6) AS coverage,
       CAST(CASE WHEN d.text IS NOT NULL THEN COALESCE(a.masked, 0) END
            AS INT) AS masked_positions
FROM documents d
LEFT JOIN wm ON wm.doc_id = d.doc_id
LEFT JOIN agg a ON a.doc_id = d.doc_id
""")
def q41(spark, sf_dir):
    """Detection-only kernel (detect_masks intermediate): per-doc mask stats,
    now with a cross-paradigm SQL oracle — dominant-token selection (q29
    logic per doc) feeding the q48-style gaps-and-islands morphology over
    variable-length rows. On an ASCII corpus every qualifying wm token lies
    in the text-like band (100..126 ⊂ 100..150), so the protect-text guard
    skips on both sides (watermark_detector.py:463)."""
    from ..functions import mask_exprs as mxx
    from ..operators.repair import detect_masks
    from ..params import DEFAULT_PARAMS
    df = _char_tokens(spark, sf_dir).withColumn("seq_no", F.lit(0).cast("long"))
    out = detect_masks(df.select("doc_id", "seq_no", "source", "tokens"),
                       DEFAULT_PARAMS.with_(min_run=5))
    return out.select("doc_id", "source", "wm_token",
                      F.round("coverage", 6).alias("coverage"),
                      mxx.mask_count(F.col("mask")).alias("masked_positions"))


@q("q42_doc_profiles", """
WITH first_doc AS (
  SELECT source, MIN(doc_id) AS doc_id FROM documents GROUP BY source),
toks AS (  -- _char_tokens classes: code points mod 256, '' is one token 0
  SELECT d.source, CAST(t.i - 1 AS BIGINT) AS p,
         ascii(substring(d.text, CAST(t.i AS INT), 1)) % 256 AS g
  FROM documents d JOIN first_doc f ON d.doc_id = f.doc_id,
       UNNEST(generate_series(1, length(d.text) + CAST(d.text = '' AS INT)))
         AS t(i)),
a10 AS (  -- color discreteness: distinct 8-quantized values
  SELECT source, LEAST(100.0, GREATEST(0.0,
         100.0 - COUNT(DISTINCT (g // 8) * 8) / 2.0)) AS disc
  FROM toks GROUP BY source),
dark AS (SELECT source, g FROM toks WHERE g < 100),
darkcnt AS (SELECT source, COUNT(*) AS nd FROM dark GROUP BY source),
hist AS (SELECT source, g // 5 AS bin, COUNT(*) AS c FROM dark GROUP BY 1, 2),
pk AS (  -- np.argmax tie order: first (smallest) bin
  SELECT source, bin FROM (
    SELECT source, bin,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, bin ASC) AS rn
    FROM hist) s WHERE rn = 1),
peak AS (  -- population std of the dominant dark peak (E[x^2]-E[x]^2 form)
  SELECT d.source,
         CASE WHEN COUNT(*) > 10
              THEN sqrt(AVG(CAST(d.g AS DOUBLE) * d.g)
                        - AVG(CAST(d.g AS DOUBLE)) * AVG(CAST(d.g AS DOUBLE)))
              ELSE 255.0 END AS sd
  FROM dark d JOIN pk ON pk.source = d.source AND d.g // 5 = pk.bin
  GROUP BY d.source),
a11 AS (  -- text concentration; neutral 50 under 100 dark tokens
  SELECT s.source,
         CASE WHEN COALESCE(dc.nd, 0) < 100 THEN 50.0
              ELSE GREATEST(0.0, 100.0 - COALESCE(pe.sd, 255.0) * 2.5) END AS conc
  FROM (SELECT DISTINCT source FROM toks) s
  LEFT JOIN darkcnt dc USING (source) LEFT JOIN peak pe USING (source)),
lap AS (  -- 1-D Laplacian: second-order difference
  SELECT source,
         CAST(LEAD(g, 2) OVER w - 2 * LEAD(g, 1) OVER w + g AS DOUBLE) AS l2
  FROM toks WINDOW w AS (PARTITION BY source ORDER BY p)),
a12 AS (  -- edge sharpness: population variance / 10, capped
  SELECT source, LEAST(100.0, (AVG(l2 * l2) - AVG(l2) * AVG(l2)) / 10.0) AS sharp
  FROM lap WHERE l2 IS NOT NULL GROUP BY source),
med AS (  -- width-3 median residual: med3(a,b,c) = a+b+c - max - min
  SELECT source, g,
         (prev + g + nxt - GREATEST(prev, g, nxt) - LEAST(prev, g, nxt)) AS m3
  FROM (SELECT source, p, g, LAG(g) OVER w AS prev, LEAD(g) OVER w AS nxt
        FROM toks WINDOW w AS (PARTITION BY source ORDER BY p)) s
  WHERE prev IS NOT NULL AND nxt IS NOT NULL),
a13 AS (
  SELECT source, GREATEST(0.0,
         100.0 - (AVG(ABS(CAST(g - m3 AS DOUBLE))) / 255.0) * 1000.0) AS clean
  FROM med GROUP BY source),
scored AS (  -- under 3 tokens: sharp 0 and clean 100, as in the kernel
  SELECT a10.source,
         a10.disc * 0.3 + a11.conc * 0.3 + COALESCE(a12.sharp, 0.0) * 0.2
         + COALESCE(a13.clean, 100.0) * 0.2 AS e
  FROM a10 JOIN a11 USING (source) LEFT JOIN a12 USING (source)
  LEFT JOIN a13 USING (source)),
typed AS (
  SELECT source,
         CASE WHEN e > 70 AND (100.0 - e) < 30 THEN 'electronic'
              WHEN (100.0 - e) > 70 AND e < 30 THEN 'scanned'
              ELSE 'mixed' END AS doc_type,
         CASE WHEN e > 70 AND (100.0 - e) < 30 THEN e
              WHEN (100.0 - e) > 70 AND e < 30 THEN 100.0 - e
              ELSE GREATEST(e, 100.0 - e) / 2.0 END AS confidence
  FROM scored),
dim AS (
  SELECT * FROM (VALUES
    ('electronic', 18, 3, 1.0, 1),
    ('scanned',    32, 5, 1.3, 2),
    ('mixed',      25, 3, 1.1, 2))
    AS v(doc_type, color_tolerance, kernel_size, inpaint_strength, passes))
SELECT t.source, t.doc_type, ROUND(t.confidence, 4) AS confidence,
       CAST(d.color_tolerance AS BIGINT) AS color_tolerance,
       CAST(d.kernel_size AS BIGINT) AS kernel_size,
       CAST(d.inpaint_strength AS DOUBLE) AS inpaint_strength,
       CAST(d.passes AS BIGINT) AS passes
FROM typed t JOIN dim d USING (doc_type)
""")
def q42(spark, sf_dir):
    """A10-A14 classifier + J2 broadcast param join (doc_profile dim).

    The oracle re-derives classify_metrics + decide_type
    (document_classifier.py:33-177 semantics, reference_kernels
    classify_metrics/decide_type) in pure SQL over the first document per
    source: discreteness via COUNT(DISTINCT quantized), dark-peak std via
    the E[x^2]-E[x]^2 population form, Laplacian variance via window
    lead/lag, median-3 residual via a+b+c-max-min, then the weighted
    electronic/scanned/mixed decision and the inlined PROFILE_PARAMS dim."""
    from ..operators.classify import classify_sources
    df = _char_tokens(spark, sf_dir).withColumn("seq_no", F.lit(0).cast("long"))
    prof = classify_sources(df)
    return prof.select("source", "doc_type", F.round("confidence", 4)
                       .alias("confidence"), "color_tolerance", "kernel_size",
                       "inpaint_strength", "passes")


@q("q43_multimodal_features", """
WITH chars AS (
  SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS i,
         CAST(ascii(substring(text, CAST(t.i AS INT), 1)) AS DOUBLE) AS b,
         CAST(length(text) AS BIGINT) AS n
  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)),
feats AS (
  SELECT doc_id, (i * 8) // n AS bucket, AVG(b) AS f
  FROM chars GROUP BY doc_id, (i * 8) // n),
buckets AS (  -- every doc with a text; an empty bucket's mean is 0
  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n, k.bucket,
         COALESCE(f.f, 0.0) AS f
  FROM documents d CROSS JOIN range(8) AS k(bucket)
  LEFT JOIN feats f ON f.doc_id = d.doc_id AND f.bucket = k.bucket
  WHERE d.text IS NOT NULL)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 3 = 0 THEN 'image'
            WHEN d.doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       MAX(b.n) AS byte_len,
       CAST(CEIL(MAX(b.n) / 100.0) AS INT) AS frames,
       ROUND(MAX(CASE WHEN b.bucket = 0 THEN b.f END), 6) AS f0,
       ROUND(MAX(CASE WHEN b.bucket = 1 THEN b.f END), 6) AS f1,
       ROUND(MAX(CASE WHEN b.bucket = 2 THEN b.f END), 6) AS f2,
       ROUND(MAX(CASE WHEN b.bucket = 3 THEN b.f END), 6) AS f3,
       ROUND(MAX(CASE WHEN b.bucket = 4 THEN b.f END), 6) AS f4,
       ROUND(MAX(CASE WHEN b.bucket = 5 THEN b.f END), 6) AS f5,
       ROUND(MAX(CASE WHEN b.bucket = 6 THEN b.f END), 6) AS f6,
       ROUND(MAX(CASE WHEN b.bucket = 7 THEN b.f END), 6) AS f7
FROM documents d LEFT JOIN buckets b ON b.doc_id = d.doc_id
GROUP BY d.doc_id
""")
def q43(spark, sf_dir):
    """Multimodal plumbing: binary payload + metadata struct -> mapInPandas
    feature extraction (decode stubbed deterministically as byte-bucket
    means). The registered query projects the feature vector to scalar
    per-bucket columns so the result is canonicalizer-hashable; the DuckDB
    oracle re-derives the same bucket means relationally. Bucket sums are
    integer-valued doubles (< 2^53), so means are bit-identical across
    engines and ROUND (HALF_UP on both) agrees. An empty bucket (a text
    shorter than 8 bytes, or empty) has mean 0, and a NULL text keeps its
    row with NULL byte_len, frames and features. Non-ASCII text is outside
    the oracle's scope: the payload is the text's UTF-8 bytes, while the
    oracle reads code points, so the two agree only where every character
    is one byte."""
    from ..sources.multimodal import extract_features, to_media_df
    docs = t(spark, sf_dir, "documents")
    feat = extract_features(to_media_df(docs))
    return feat.select(
        "doc_id", "kind", "byte_len", "frames",
        *[F.round(F.col("feature")[i], 6).alias(f"f{i}") for i in range(8)])


_PLANE_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({e}, range(64)), "
    "q -> CAST(q[1] AS DOUBLE) * (((q[2] * {j} + 7) % 13) - 6))), "
    "(x, y) -> x + y)")


@q("q31_cosine_near_dups", f"""
WITH bits AS (
  SELECT vec_id, label, embedding,
         CASE WHEN {_PLANE_DOT_SQL.format(e='embedding', j=0)} > 0
              THEN 1 ELSE 0 END AS b0,
         CASE WHEN {_PLANE_DOT_SQL.format(e='embedding', j=1)} > 0
              THEN 1 ELSE 0 END AS b1,
         CASE WHEN {_PLANE_DOT_SQL.format(e='embedding', j=2)} > 0
              THEN 1 ELSE 0 END AS b2,
         CASE WHEN {_PLANE_DOT_SQL.format(e='embedding', j=3)} > 0
              THEN 1 ELSE 0 END AS b3
  FROM embeddings),
banded AS (
  SELECT vec_id, label, t.band,
         CASE t.band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2
              ELSE b3 END AS k1,
         CASE t.band WHEN 0 THEN b1 WHEN 1 THEN b2 WHEN 2 THEN b3
              ELSE b0 END AS k2
  FROM bits CROSS JOIN range(4) t(band)),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM banded a JOIN banded b
    ON a.label = b.label AND a.band = b.band
   AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.vec_id < b.vec_id),
pairs AS (
  SELECT c.a_id, c.b_id,
         {_DOT.format(a='ea.embedding', b='eb.embedding')}
         / sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')})
         / sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')}) AS cos
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.a_id
  JOIN embeddings eb ON eb.vec_id = c.b_id)
SELECT a_id, b_id, ROUND(cos, 6) AS cos_sim
FROM pairs WHERE cos >= 0.4
""")
def q31(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, LSH-prefiltered (dedup op #4):
    4 overlapping 2-plane LSH bands (the q28 deterministic hyperplanes) key
    the candidate self-join on (label, band, bit-pair); exact cosine runs
    only on the candidate pairs. The round-1 all-pairs-within-label join is
    gone — at 100 TB the join key space is |labels|x|bands|x4 buckets, and
    recall is tuned by band count/width (4x2 here recovers 4/5 of the true
    cos>=0.4 pairs on this corpus; more, narrower bands raise recall).
    Sequential-fold cosine is bit-exact vs the oracle."""
    e = t(spark, sf_dir, "embeddings")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, r: p.cast("double") * r.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)

    def plane_dot(j):
        return F.aggregate(
            F.zip_with("embedding", F.sequence(F.lit(0), F.lit(63)),
                       lambda v, i: v.cast("double")
                       * (((i * j + 7) % 13) - 6).cast("double")),
            F.lit(0.0), lambda acc, x: acc + x)

    bits = e.select(
        "vec_id", "label",
        *[(plane_dot(j) > 0).cast("int").alias(f"b{j}") for j in range(4)])
    band_arr = F.array(*[
        F.struct(F.lit(k).alias("band"),
                 F.col(f"b{k}").alias("k1"),
                 F.col(f"b{(k + 1) % 4}").alias("k2"))
        for k in range(4)])
    banded = (bits.select("vec_id", "label", F.explode(band_arr).alias("bd"))
              .select("vec_id", "label", "bd.band", "bd.k1", "bd.k2"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.k1") == F.col("b.k1"))
                   & (F.col("a.k2") == F.col("b.k2"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("a_id"),
                    F.col("b.vec_id").alias("b_id"))
            .distinct())
    ea, eb = e.alias("ea"), e.alias("eb")
    cos = (dot(F.col("ea.embedding"), F.col("eb.embedding"))
           / F.sqrt(dot(F.col("ea.embedding"), F.col("ea.embedding")))
           / F.sqrt(dot(F.col("eb.embedding"), F.col("eb.embedding"))))
    return (cand.join(ea, F.col("ea.vec_id") == F.col("a_id"))
            .join(eb, F.col("eb.vec_id") == F.col("b_id"))
            .select("a_id", "b_id", cos.alias("cos"))
            .where(F.col("cos") >= 0.4)
            .select("a_id", "b_id", F.round("cos", 6).alias("cos_sim")))


@q("q32_key_fingerprints", """
SELECT o_orderpriority,
       lpad(hex(MAX(o_orderkey * 2654435761 % 4294967296)), 8, '0') AS max_fp,
       COUNT(DISTINCT o_custkey) AS distinct_customers
FROM orders GROUP BY o_orderpriority
""")
def q32(spark, sf_dir):
    """F7 (hex/format) + Knuth multiplicative fingerprint (rolling-hash
    document fingerprinting flavor, stats.py:280 format analogue)."""
    o = t(spark, sf_dir, "orders")
    fp = (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296)
    return (o.groupBy("o_orderpriority")
            .agg(F.lpad(F.hex(F.max(fp)), 8, "0").alias("max_fp"),
                 F.countDistinct("o_custkey").alias("distinct_customers")))


@q("q33_sliding_windows", """
WITH offs AS (SELECT o FROM range(2) t(o)),
assigned AS (
  SELECT date_trunc('hour', ts - o * INTERVAL 30 MINUTE)
           + o * INTERVAL 30 MINUTE AS window_start,
         event_type, value
  FROM events CROSS JOIN offs)
SELECT window_start, event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM assigned GROUP BY 1, 2
""")
def q33(spark, sf_dir):
    """X2-as-batch: sliding windows (1h size, 30m slide) — each event lands
    in size/slide = 2 windows; expressed via explicit offset explosion so the
    DuckDB oracle matches Spark's window() assignment."""
    e = t(spark, sf_dir, "events")
    offs = spark.range(2).select(F.col("id").cast("int").alias("o"))
    ts_shift = F.col("ts") - F.col("o") * F.expr("INTERVAL 30 MINUTE")
    win = (F.date_trunc("hour", ts_shift)
           + F.col("o") * F.expr("INTERVAL 30 MINUTE"))
    return (e.crossJoin(F.broadcast(offs))
            .select(win.alias("window_start"), "event_type", "value")
            .groupBy("window_start", "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


@q("q34_page_range_selection", """
WITH parts AS (
  SELECT UNNEST(string_split('1,3,5-7,3', ',')) AS part),
pages AS (
  SELECT DISTINCT UNNEST(CASE WHEN contains(part, '-')
    THEN generate_series(CAST(string_split(part, '-')[1] AS INT),
                         CAST(string_split(part, '-')[2] AS INT))
    ELSE [CAST(part AS INT)] END) AS page
  FROM parts)
SELECT l.l_linenumber AS page, COUNT(*) AS n_items,
       ROUND(SUM(l.l_quantity), 4) AS qty
FROM lineitem l JOIN pages p ON l.l_linenumber = p.page
GROUP BY l.l_linenumber
""")
def q34(spark, sf_dir):
    """S4/T3/U2: page-range spec parsing ('1,3,5-7,3' -> sorted distinct
    pages; parse_pages, cli.py:151-171) joined as a selection predicate."""
    li = t(spark, sf_dir, "lineitem")
    parts = spark.createDataFrame([("1,3,5-7,3",)], "spec string") \
        .select(F.explode(F.split("spec", ",")).alias("part"))
    pages = (parts.select(
        F.explode(F.when(F.col("part").contains("-"),
                         F.sequence(F.split("part", "-")[0].cast("int"),
                                    F.split("part", "-")[1].cast("int")))
                  .otherwise(F.array(F.col("part").cast("int"))))
        .alias("page")).distinct())
    return (li.join(F.broadcast(pages), li.l_linenumber == pages.page)
            .groupBy(F.col("l_linenumber").alias("page"))
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_quantity"), 4).alias("qty")))


@q("q35_adaptive_threshold", f"""
WITH pos AS (
  SELECT vec_id, i AS p, {_Q_SQL.format(v='embedding[i + 1]')} AS tok
  FROM embeddings CROSS JOIN range(64) t(i)),
loc AS (
  SELECT vec_id, p, tok,
         AVG(CAST(tok AS DOUBLE)) OVER (PARTITION BY vec_id ORDER BY p
             ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS local_mean
  FROM pos)
SELECT vec_id,
       CAST(SUM(CASE WHEN tok > local_mean - 2 THEN 1 ELSE 0 END) AS BIGINT) AS above_local
FROM loc GROUP BY vec_id
""")
def q35(spark, sf_dir):
    """P6 relational flavor: adaptive threshold = sliding local mean
    (block 11, C=2; cv2.adaptiveThreshold, watermark_detector.py:497-499)
    as a SQL window frame — the same shrinking-window definition as
    reference_kernels.local_mean_1d."""
    e = t(spark, sf_dir, "embeddings")
    pos = e.select("vec_id", F.posexplode("embedding").alias("p", "v")) \
        .select("vec_id", "p", _quantize(F.col("v")).alias("tok"))
    w = Window.partitionBy("vec_id").orderBy("p").rowsBetween(-5, 5)
    loc = pos.withColumn("local_mean",
                         F.avg(F.col("tok").cast("double")).over(w))
    return (loc.groupBy("vec_id")
            .agg(F.sum(F.when(F.col("tok") > F.col("local_mean") - 2, 1)
                       .otherwise(0)).alias("above_local")))


@q("q36_auto_detect_masks", f"""
WITH {_CHAR_POS_SQL},
loc AS (  -- P6 adaptive local mean (block 11, shrinking window) + row mean
  SELECT doc_id, p, g, n,
         AVG(CAST(g AS DOUBLE)) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS lm,
         AVG(CAST(g AS DOUBLE)) OVER (PARTITION BY doc_id) AS gmean
  FROM pos),
raw AS (  -- P6 OR P7, background-protected (P8/P3)
  SELECT doc_id, p, n FROM loc
  WHERE (CAST(g AS DOUBLE) > lm - 2
         OR CAST(g AS DOUBLE) < GREATEST(30.0, gmean * 0.6))
    AND g <= 250),
m1_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM raw) x GROUP BY doc_id, isl),
m1_e AS (  -- open x1: erode k=3 (border-aware) ...
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+1 END AS s,
         CASE WHEN e=n THEN n ELSE e-1 END AS e
  FROM m1_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+1 END)
      < (CASE WHEN e=n THEN n ELSE e-1 END)),
m1 AS (  -- ... then dilate k=3
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,n)-1)) AS p
  FROM m1_e),
m2_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m1) x GROUP BY doc_id, isl),
m2_d AS (  -- close x2: dilate by 2 ...
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-2,0), LEAST(e+2,n)-1)) AS p
  FROM m2_sp),
m3_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m2_d) x GROUP BY doc_id, isl),
m3_e AS (  -- ... then erode by 2 (border-aware)
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+2 END AS s,
         CASE WHEN e=n THEN n ELSE e-2 END AS e
  FROM m3_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+2 END)
      < (CASE WHEN e=n THEN n ELSE e-2 END)),
m3 AS (SELECT DISTINCT doc_id, n,
              UNNEST(generate_series(s, e-1)) AS p FROM m3_e),
runs AS (  -- R1: run-length filter 5..5000
  SELECT doc_id, MAX(n) AS n, COUNT(*) AS ln FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m3) x GROUP BY doc_id, isl),
agg AS (
  SELECT doc_id, MAX(n) AS n, SUM(ln) AS masked
  FROM runs WHERE ln BETWEEN 5 AND 5000 GROUP BY doc_id)
SELECT d.doc_id, d.source,
       ROUND(COALESCE(CAST(a.masked AS DOUBLE) / a.n, 0.0), 6) AS coverage,
       CAST(CASE WHEN d.text IS NOT NULL THEN COALESCE(a.masked, 0) END
            AS INT) AS masked_positions
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
""")
def q36(spark, sf_dir):
    """P6/P7 automatic detection mode over char-token arrays, now with a
    cross-paradigm SQL oracle (q48-style gaps-and-islands morphology over
    variable-length rows): adaptive local-mean threshold (window AVG, the
    same shrinking-window definition as reference_kernels.local_mean_1d) OR
    saturation predicate, background protect, open x1 / close x2, run filter
    5..5000. protect_text=False: the raster text-protect heuristic covers
    every position of an all-ASCII corpus (g<140 everywhere) and would blank
    the mask — automatic mode on text runs unprotected (documented)."""
    from ..functions import mask_exprs as mxx
    from ..operators.repair import detect_masks_auto
    from ..params import DEFAULT_PARAMS
    out = detect_masks_auto(
        _char_tokens(spark, sf_dir),
        DEFAULT_PARAMS.with_(min_run=5, protect_text=False))
    return out.select("doc_id", "source",
                      F.round("coverage", 6).alias("coverage"),
                      mxx.mask_count(F.col("mask")).alias("masked_positions"))


@q("q37_profiled_repair", f"""
WITH {_CHAR_POS_SQL},
first_doc AS (
  SELECT source, MIN(doc_id) AS doc_id FROM documents GROUP BY source),
ctoks AS (SELECT pos.source, pos.p, pos.g
          FROM pos JOIN first_doc f ON pos.doc_id = f.doc_id),
a10 AS (
  SELECT source, LEAST(100.0, GREATEST(0.0,
         100.0 - COUNT(DISTINCT (g // 8) * 8) / 2.0)) AS disc
  FROM ctoks GROUP BY source),
cdark AS (SELECT source, g FROM ctoks WHERE g < 100),
darkcnt AS (SELECT source, COUNT(*) AS nd FROM cdark GROUP BY source),
chist AS (SELECT source, g // 5 AS bin, COUNT(*) AS c
          FROM cdark GROUP BY 1, 2),
cpk AS (
  SELECT source, bin FROM (
    SELECT source, bin,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY c DESC, bin ASC) AS rn
    FROM chist) s WHERE rn = 1),
cpeak AS (
  SELECT d.source,
         CASE WHEN COUNT(*) > 10
              THEN sqrt(AVG(CAST(d.g AS DOUBLE) * d.g)
                        - AVG(CAST(d.g AS DOUBLE)) * AVG(CAST(d.g AS DOUBLE)))
              ELSE 255.0 END AS sd
  FROM cdark d JOIN cpk ON cpk.source = d.source AND d.g // 5 = cpk.bin
  GROUP BY d.source),
a11 AS (  -- anchored on the documents' sources (not ctoks) so a source
          -- whose first doc has no tokens (NULL text) still classifies: the
          -- COALESCE defaults below mirror the kernel's empty/short-input
          -- paths (nq=0 -> disc 100; no dark -> conc 50; n<3 -> sharp 0,
          -- clean 100 -> e=65 -> mixed). An empty text is one token 0, so
          -- its source gets disc 99.5 from ctoks and e=64.85 -> mixed
  SELECT s.source,
         CASE WHEN COALESCE(dc.nd, 0) < 100 THEN 50.0
              ELSE GREATEST(0.0, 100.0 - COALESCE(pe.sd, 255.0) * 2.5)
         END AS conc
  FROM (SELECT DISTINCT source FROM documents) s
  LEFT JOIN darkcnt dc USING (source) LEFT JOIN cpeak pe USING (source)),
clap AS (
  SELECT source,
         CAST(LEAD(g, 2) OVER w - 2 * LEAD(g, 1) OVER w + g AS DOUBLE) AS l2
  FROM ctoks WINDOW w AS (PARTITION BY source ORDER BY p)),
a12 AS (
  SELECT source,
         LEAST(100.0, (AVG(l2 * l2) - AVG(l2) * AVG(l2)) / 10.0) AS sharp
  FROM clap WHERE l2 IS NOT NULL GROUP BY source),
cmed AS (
  SELECT source, g,
         (prev + g + nxt - GREATEST(prev, g, nxt)
                         - LEAST(prev, g, nxt)) AS m3
  FROM (SELECT source, p, g, LAG(g) OVER w AS prev, LEAD(g) OVER w AS nxt
        FROM ctoks WINDOW w AS (PARTITION BY source ORDER BY p)) s
  WHERE prev IS NOT NULL AND nxt IS NOT NULL),
a13 AS (
  SELECT source, GREATEST(0.0,
         100.0 - (AVG(ABS(CAST(g - m3 AS DOUBLE))) / 255.0) * 1000.0) AS clean
  FROM cmed GROUP BY source),
cscored AS (
  SELECT a11.source,
         COALESCE(a10.disc, 100.0) * 0.3 + a11.conc * 0.3
         + COALESCE(a12.sharp, 0.0) * 0.2
         + COALESCE(a13.clean, 100.0) * 0.2 AS e
  FROM a11 LEFT JOIN a10 USING (source) LEFT JOIN a12 USING (source)
  LEFT JOIN a13 USING (source)),
typed AS (
  SELECT source,
         CASE WHEN e > 70 AND (100.0 - e) < 30 THEN 'electronic'
              WHEN (100.0 - e) > 70 AND e < 30 THEN 'scanned'
              ELSE 'mixed' END AS doc_type
  FROM cscored),
prm AS (  -- per-source tuned params; kl/kr = erode/dilate half-kernels
  SELECT t.source, t.doc_type, pd.tol,
         CAST((pd.kk - 1) // 2 AS BIGINT) AS kl,
         CAST(pd.kk // 2 AS BIGINT) AS kr,
         pd.st, pd.ps
  FROM typed t JOIN (VALUES
    ('electronic', 18, 3, CAST(1.0 AS DOUBLE), 1),
    ('scanned',    32, 5, CAST(1.3 AS DOUBLE), 2),
    ('mixed',      25, 3, CAST(1.1 AS DOUBLE), 2))
    AS pd(doc_type, tol, kk, st, ps) USING (doc_type)),
dprm AS (
  SELECT d.doc_id, d.source, p.doc_type, p.tol, p.kl, p.kr, p.st, p.ps
  FROM (SELECT DISTINCT doc_id, source FROM documents) d
  JOIN prm p USING (source)),
whist AS (SELECT doc_id, g AS tok, MAX(n) AS n, COUNT(*) AS cnt
          FROM pos GROUP BY doc_id, g),
wranked AS (
  SELECT doc_id, tok, cnt, n, cnt * 100.0 / n AS coverage_pct,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, tok DESC) AS rnk
  FROM whist),
wm AS (
  SELECT doc_id, tok AS wm_token FROM (
    SELECT doc_id, tok, rnk,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rnk) AS pick
    FROM wranked
    WHERE rnk <= 10 AND tok BETWEEN 100 AND 250
      AND coverage_pct BETWEEN 1 AND 20) s
  WHERE pick = 1),
-- ============================ PASS 1 =====================================
raw1 AS (
  SELECT p.doc_id, p.p, p.n FROM pos p
  JOIN wm ON wm.doc_id = p.doc_id
  JOIN dprm dp ON dp.doc_id = p.doc_id
  WHERE ABS(p.g - wm.wm_token) < dp.tol AND p.g <= 250),
p1m1_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM raw1) x GROUP BY doc_id, isl),
p1m1_e AS (  -- open x1: erode(k,1), border-aware
  SELECT m.doc_id, m.n,
         CASE WHEN m.s=0 THEN 0 ELSE m.s + d.kl END AS s,
         CASE WHEN m.e=m.n THEN m.n ELSE m.e - d.kr END AS e
  FROM p1m1_sp m JOIN dprm d USING (doc_id)
  WHERE (CASE WHEN m.s=0 THEN 0 ELSE m.s + d.kl END)
      < (CASE WHEN m.e=m.n THEN m.n ELSE m.e - d.kr END)),
p1m1 AS (  -- ... then dilate(k,1)
  SELECT DISTINCT m.doc_id, m.n,
         UNNEST(generate_series(GREATEST(m.s - d.kr, 0),
                                LEAST(m.e + d.kl, m.n) - 1)) AS p
  FROM p1m1_e m JOIN dprm d USING (doc_id)),
p1m2_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p1m1) x GROUP BY doc_id, isl),
p1m2_d AS (  -- close x2: dilate(k,2) ...
  SELECT DISTINCT m.doc_id, m.n,
         UNNEST(generate_series(GREATEST(m.s - 2*d.kr, 0),
                                LEAST(m.e + 2*d.kl, m.n) - 1)) AS p
  FROM p1m2_sp m JOIN dprm d USING (doc_id)),
p1m3_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p1m2_d) x GROUP BY doc_id, isl),
p1m3_e AS (  -- ... then erode(k,2), border-aware
  SELECT m.doc_id, m.n,
         CASE WHEN m.s=0 THEN 0 ELSE m.s + 2*d.kl END AS s,
         CASE WHEN m.e=m.n THEN m.n ELSE m.e - 2*d.kr END AS e
  FROM p1m3_sp m JOIN dprm d USING (doc_id)
  WHERE (CASE WHEN m.s=0 THEN 0 ELSE m.s + 2*d.kl END)
      < (CASE WHEN m.e=m.n THEN m.n ELSE m.e - 2*d.kr END)),
p1m3 AS (SELECT DISTINCT doc_id, n,
                UNNEST(generate_series(s, e-1)) AS p FROM p1m3_e),
p1runs AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p1m3) x GROUP BY doc_id, isl),
kept1 AS (
  SELECT doc_id, n, s, e FROM p1runs WHERE (e - s) BETWEEN 5 AND 5000),
cov1 AS (
  SELECT doc_id, MAX(n) AS n, SUM(e - s) AS masked
  FROM kept1 GROUP BY doc_id),
-- ==== pass-1 repair state, needed only for passes=2 docs ====
rad1 AS (
  SELECT c.doc_id,
         GREATEST(2, CAST(FLOOR(2 + (CAST(c.masked AS DOUBLE)/c.n)*10*d.st)
                          AS BIGINT)) AS radius
  FROM cov1 c JOIN dprm d USING (doc_id) WHERE d.ps = 2),
fills1 AS (
  SELECT k.doc_id, u.p,
    (SELECT v FROM pos WHERE pos.doc_id = k.doc_id AND pos.p = k.s - 1) AS L,
    (SELECT v FROM pos WHERE pos.doc_id = k.doc_id AND pos.p = k.e) AS R,
    k.s, k.e, r.radius
  FROM kept1 k
  JOIN rad1 r ON r.doc_id = k.doc_id
  CROSS JOIN UNNEST(generate_series(k.s, k.e - 1)) AS u(p)),
vals1 AS (
  SELECT doc_id, p,
    CASE
      WHEN L IS NULL AND R IS NULL THEN NULL
      WHEN L IS NULL THEN R
      WHEN R IS NULL THEN L
      WHEN LEAST(p - (s - 1), e - p) <= radius
        THEN (L * (e - p) + R * (p - (s - 1))) // ((p - (s - 1)) + (e - p))
      WHEN (p - (s - 1)) < (e - p) THEN L
      WHEN (e - p) < (p - (s - 1)) THEN R
      ELSE (L + R) // 2
    END AS fill
  FROM fills1),
rep1 AS (  -- blended pass-1 state over the full values (float32
           -- step-rounded, TRUNC toward 0 — DuckDB FLOAT arithmetic is
           -- per-step float32, matching the kernel's np.float32 blend)
  SELECT pos.doc_id, pos.p, pos.n,
    CASE
      WHEN f.doc_id IS NULL THEN pos.v
      WHEN d.st = 1.0 THEN COALESCE(f.fill, pos.v)
      ELSE CAST(TRUNC(
             CAST(pos.v AS FLOAT)
               * (CAST(1.0 AS FLOAT) - CAST(d.st AS FLOAT))
             + CAST(COALESCE(f.fill, pos.v) AS FLOAT)
               * CAST(d.st AS FLOAT)) AS BIGINT)
    END AS val
  FROM pos
  JOIN dprm d ON d.doc_id = pos.doc_id AND d.ps = 2
  JOIN cov1 a ON a.doc_id = pos.doc_id
  LEFT JOIN vals1 f ON f.doc_id = pos.doc_id AND f.p = pos.p),
-- ============================ PASS 2 (passes=2 docs) =====================
raw2 AS (
  SELECT r.doc_id, r.p, r.n FROM rep1 r
  JOIN wm ON wm.doc_id = r.doc_id
  JOIN dprm dp ON dp.doc_id = r.doc_id
  WHERE ABS(r.val % 256 - wm.wm_token) < dp.tol AND r.val % 256 <= 250),
p2m1_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM raw2) x GROUP BY doc_id, isl),
p2m1_e AS (
  SELECT m.doc_id, m.n,
         CASE WHEN m.s=0 THEN 0 ELSE m.s + d.kl END AS s,
         CASE WHEN m.e=m.n THEN m.n ELSE m.e - d.kr END AS e
  FROM p2m1_sp m JOIN dprm d USING (doc_id)
  WHERE (CASE WHEN m.s=0 THEN 0 ELSE m.s + d.kl END)
      < (CASE WHEN m.e=m.n THEN m.n ELSE m.e - d.kr END)),
p2m1 AS (
  SELECT DISTINCT m.doc_id, m.n,
         UNNEST(generate_series(GREATEST(m.s - d.kr, 0),
                                LEAST(m.e + d.kl, m.n) - 1)) AS p
  FROM p2m1_e m JOIN dprm d USING (doc_id)),
p2m2_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p2m1) x GROUP BY doc_id, isl),
p2m2_d AS (
  SELECT DISTINCT m.doc_id, m.n,
         UNNEST(generate_series(GREATEST(m.s - 2*d.kr, 0),
                                LEAST(m.e + 2*d.kl, m.n) - 1)) AS p
  FROM p2m2_sp m JOIN dprm d USING (doc_id)),
p2m3_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p2m2_d) x GROUP BY doc_id, isl),
p2m3_e AS (
  SELECT m.doc_id, m.n,
         CASE WHEN m.s=0 THEN 0 ELSE m.s + 2*d.kl END AS s,
         CASE WHEN m.e=m.n THEN m.n ELSE m.e - 2*d.kr END AS e
  FROM p2m3_sp m JOIN dprm d USING (doc_id)
  WHERE (CASE WHEN m.s=0 THEN 0 ELSE m.s + 2*d.kl END)
      < (CASE WHEN m.e=m.n THEN m.n ELSE m.e - 2*d.kr END)),
p2m3 AS (SELECT DISTINCT doc_id, n,
                UNNEST(generate_series(s, e-1)) AS p FROM p2m3_e),
p2runs AS (
  SELECT doc_id, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM p2m3) x GROUP BY doc_id, isl),
act2 AS (SELECT DISTINCT doc_id FROM p2runs
         WHERE (e - s) BETWEEN 5 AND 5000)
SELECT d.doc_id, d.source, dp.doc_type,
       ROUND(COALESCE(CAST(c.masked AS DOUBLE) / c.n, 0.0), 6) AS coverage,
       CAST(CASE WHEN c.doc_id IS NULL THEN 0
                 WHEN dp.ps = 2 AND a2.doc_id IS NOT NULL THEN 2
                 ELSE 1 END AS INT) AS pass_count
FROM documents d
JOIN dprm dp ON dp.doc_id = d.doc_id
LEFT JOIN cov1 c ON c.doc_id = d.doc_id
LEFT JOIN act2 a2 ON a2.doc_id = d.doc_id
""")
def q37(spark, sf_dir):
    """J2 + A10-A14 end-to-end: per-source classified parameters broadcast
    onto the rows, kernel runs with per-row params — now FULLY driver-hashed
    (the last rows-only entry upgraded). The oracle composes q42's
    classification CTEs (per-source doc_type), the tuned-param dim, and a
    PARAMETRIZED unroll of the 2-pass repair: morphology offsets (kl, kr)
    come from each source's kernel_size, the raw mask uses its
    color_tolerance, and the pass-1 state is the float32 STEP-ROUNDED BLEND
    (watermark_remover.py:168-176) — expressible because DuckDB FLOAT
    arithmetic is per-step float32 exactly like np.float32 (probed: 70/70
    blend cases bit-equal, incl. negative truncation). pass_count needs
    only pass-2 DETECTION over the blended state, so no second fill is
    unrolled. The 'scanned' profile (kernel_size 5) is provably
    unreachable on printable-ASCII text (color discreteness >= 94 forces
    e >= 28.2 while clean = 0 needs Laplacian variance >> the sharp < 9
    bound), but the SQL stays generic in (kl, kr) regardless; kernel-side
    k=5 parity is covered by the parameter-sweep kernel tests."""
    from ..operators.repair import repair_with_profiles
    from ..params import DEFAULT_PARAMS
    df = _char_tokens(spark, sf_dir).withColumn("seq_no", F.lit(0).cast("long"))
    out = repair_with_profiles(df, DEFAULT_PARAMS.with_(min_run=5))
    return out.select("doc_id", "source", "doc_type",
                      F.round("coverage", 6).alias("coverage"), "pass_count")


@q("q38_otsu_repair", f"""
WITH {_CHAR_POS_SQL},
cpos AS (  -- char tokens with a deterministic contamination span:
           -- positions 10..29 carry watermark token 200 (min doc length
           -- is 48, so every row is contaminated)
  SELECT doc_id, source, p, n,
         CASE WHEN p BETWEEN 10 AND 29 THEN 200 ELSE g END AS g
  FROM pos),
hist AS (SELECT source, g AS tok, COUNT(*) AS cnt FROM cpos GROUP BY 1, 2),
cum AS (
  SELECT source, tok, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY tok
                        ROWS UNBOUNDED PRECEDING) AS w0,
         SUM(cnt * tok) OVER (PARTITION BY source ORDER BY tok
                              ROWS UNBOUNDED PRECEDING) AS m0,
         SUM(cnt) OVER (PARTITION BY source) AS total,
         SUM(cnt * tok) OVER (PARTITION BY source) AS mu_t
  FROM hist),
thr AS (
  SELECT source, tok AS thr FROM (
    SELECT source, tok,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY
             POW(CAST(m0 AS DOUBLE) * total - CAST(mu_t AS DOUBLE) * w0, 2.0) / (w0 * (total - w0)) DESC,
             tok ASC) AS rn
    FROM cum WHERE w0 > 0 AND total - w0 > 0) s
  WHERE rn = 1),
raw AS (  -- g > otsu threshold, background-protected; protect_text=False
  SELECT p.doc_id, p.p, p.n FROM cpos p JOIN thr ON thr.source = p.source
  WHERE p.g > thr.thr AND p.g <= 250),
m1_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM raw) x GROUP BY doc_id, isl),
m1_e AS (
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+1 END AS s,
         CASE WHEN e=n THEN n ELSE e-1 END AS e
  FROM m1_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+1 END)
      < (CASE WHEN e=n THEN n ELSE e-1 END)),
m1 AS (
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,n)-1)) AS p
  FROM m1_e),
m2_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m1) x GROUP BY doc_id, isl),
m2_d AS (
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-2,0), LEAST(e+2,n)-1)) AS p
  FROM m2_sp),
m3_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m2_d) x GROUP BY doc_id, isl),
m3_e AS (
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+2 END AS s,
         CASE WHEN e=n THEN n ELSE e-2 END AS e
  FROM m3_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+2 END)
      < (CASE WHEN e=n THEN n ELSE e-2 END)),
m3 AS (SELECT DISTINCT doc_id, n,
              UNNEST(generate_series(s, e-1)) AS p FROM m3_e),
runs AS (
  SELECT doc_id, MAX(n) AS n, COUNT(*) AS ln FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m3) x GROUP BY doc_id, isl),
agg AS (
  SELECT doc_id, MAX(n) AS n, SUM(ln) AS masked
  FROM runs WHERE ln BETWEEN 5 AND 5000 GROUP BY doc_id)
SELECT d.doc_id, d.source, CAST(t.thr AS INT) AS otsu_threshold,
       ROUND(COALESCE(CAST(a.masked AS DOUBLE) / a.n, 0.0), 6) AS coverage,
       CAST(length(d.text) + CAST(d.text = '' AS INT) AS INT) AS n_out
FROM documents d
JOIN thr t ON t.source = d.source
LEFT JOIN agg a ON a.doc_id = d.doc_id
""")
def q38(spark, sf_dir):
    """north_star composition: per-source histogram -> window-SQL Otsu ->
    threshold-flagged spans -> K2 repair — with a cross-paradigm SQL oracle
    for the detection half (threshold mask -> morphology -> run filter ->
    per-doc coverage; the repaired token VALUES stay pinned by the kernel
    fixtures and q49). Every row carries a deterministic contamination span
    (positions 10..29 = token 200) so Otsu has two real classes and the
    detection is non-vacuous: the threshold lands between the text band and
    the watermark spike, the mask recovers exactly the injected span.
    protect_text=False, as in q36 (raster heuristic blanks ASCII)."""
    from ..operators.otsu import otsu_repair
    from ..params import DEFAULT_PARAMS
    df = _char_tokens(spark, sf_dir).withColumn("seq_no", F.lit(0).cast("long"))
    contaminated = df.withColumn(
        "tokens", F.transform(
            "tokens", lambda t, i: F.when((i >= 10) & (i < 30),
                                          F.lit(200)).otherwise(t)))
    out = otsu_repair(contaminated, ["source"],
                      DEFAULT_PARAMS.with_(min_run=5, protect_text=False))
    return out.select("doc_id", "source", "otsu_threshold",
                      F.round("coverage", 6).alias("coverage"),
                      F.size("tokens").alias("n_out"))


@q("q45_rolling_fingerprint", f"""
SELECT doc_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(string_split(text, ' '),
      w -> {_WORDHASH.format(w='w')})),
    (acc, h) -> (acc * 131 + h) % 1000000007) AS fingerprint
FROM documents
""")
def q45(spark, sf_dir):
    """Order-sensitive rolling document fingerprint (training-data op):
    polynomial fold over per-word polynomial hashes — unlike MinHash (q25),
    permuted documents get different fingerprints."""
    d = t(spark, sf_dir, "documents")
    fp = F.expr(
        "aggregate(split(text, ' '), 0L, (acc, w) -> "
        "(acc * 131 + aggregate(split(w, ''), 0L, "
        "(a, c) -> (a * 31 + ascii(c)) % 1000000007)) % 1000000007)")
    return d.select("doc_id", fp.alias("fingerprint"))


@q("q46_ivf_search", """
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
  WHERE vec_id % 97 = 0),
pairs AS (
  SELECT e.vec_id, c.cent_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e.embedding, c.ce), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y) / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)) / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(c.ce, c.ce), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)) AS cos
  FROM embeddings e CROSS JOIN cents c),
assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cent_id ASC) AS rn
    FROM pairs) p WHERE rn = 1),
emb AS (
  SELECT a.vec_id, a.cent_id, e.embedding
  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id),
qv AS (SELECT vec_id AS q_id, embedding AS qe, cent_id AS q_cell
       FROM emb WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.q_id, a.vec_id AS cand_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(q.qe, a.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y) / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(q.qe, q.qe), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)) / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(a.embedding, a.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)) AS cos
  FROM qv q JOIN emb a ON a.cent_id = q.q_cell AND a.vec_id <> q.q_id)
SELECT q_id, cand_id, ROUND(cos, 6) AS cos_sim, rnk FROM (
  SELECT q_id, cand_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, cand_id ASC) AS rnk
  FROM scored) s WHERE rnk <= 2
""")
def q46(spark, sf_dir):
    """IVF-style ANN (the scale path next to LSH q28): deterministic
    centroid subset (vec_id % 97), nearest-centroid cell assignment, then
    top-k cosine restricted to the query's cell — the candidate set shrinks
    by ~|cells|x vs brute force (q24)."""
    e = t(spark, sf_dir, "embeddings")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a_, b_: a_.cast("double") * b_.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)

    def cos(x, y):
        return dot(x, y) / F.sqrt(dot(x, x)) / F.sqrt(dot(y, y))

    cents = (e.where(F.col("vec_id") % 97 == 0)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("embedding").alias("ce")))
    pairs = e.crossJoin(F.broadcast(cents)) \
        .select("vec_id", "embedding", "cent_id",
                cos(F.col("embedding"), F.col("ce")).alias("cos"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cent_id"))
    assign = (pairs.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") == 1)
              .select("vec_id", "embedding", "cent_id"))
    qv = (assign.where(F.col("vec_id") % 50 == 0)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("qe"),
                  F.col("cent_id").alias("q_cell")))
    scored = (qv.join(assign, (F.col("cent_id") == F.col("q_cell"))
                      & (F.col("vec_id") != F.col("q_id")))
              .select("q_id", F.col("vec_id").alias("cand_id"),
                      cos(F.col("qe"), F.col("embedding")).alias("cos")))
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (scored.withColumn("rnk", F.row_number().over(w2))
            .where(F.col("rnk") <= 2)
            .select("q_id", "cand_id", F.round("cos", 6).alias("cos_sim"),
                    "rnk"))


def _q47_oracle() -> str:
    """q47's oracle reuses q40's full unrolled 2-pass SQL as a CTE and
    aggregates the reference's per-page status rule over it. Evaluated AT
    DECORATION TIME, so this block must stay below q40's registration (a
    KeyError at import is the failure mode if reordered)."""
    return f"""
WITH q40 AS ({ORACLES['q40_repair_char_tokens']})
SELECT source,
       CASE WHEN pass_count = 0 THEN 'skipped'
            WHEN pass_count < 2 THEN 'success'
            ELSE 'partial' END AS status,
       COUNT(*) AS n,
       ROUND(AVG(coverage), 6) AS avg_coverage
FROM q40
GROUP BY 1, 2
"""


@q("q47_repair_status_summary", _q47_oracle())
def q47(spark, sf_dir):
    """A6: per-status accounting of the repair pipeline (reference per-page
    success/partial/skipped records, stats.py:59-65, :205-245). Oracled
    since round 4: the status CASE + groupBy aggregates over q40's unrolled
    2-pass oracle, so the whole composition is driver-hashed."""
    from ..functions.mask_exprs import repair_status
    out = QUERIES["q40_repair_char_tokens"](spark, sf_dir)
    status = repair_status(F.col("coverage"), F.col("pass_count"), F.lit(2))
    return (out.withColumn("status", status)
            .groupBy("source", "status").agg(
                F.count("*").alias("n"),
                F.round(F.avg("coverage"), 6).alias("avg_coverage")))


@q("q50_marker_merged_repair", f"""
WITH {_CHAR_POS_SQL},
hist AS (SELECT doc_id, g AS tok, MAX(n) AS n, COUNT(*) AS cnt
         FROM pos GROUP BY doc_id, g),
ranked AS (
  SELECT doc_id, tok, cnt, n, cnt * 100.0 / n AS coverage_pct,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, tok DESC) AS rnk
  FROM hist),
wm AS (
  SELECT doc_id, tok AS wm_token FROM (
    SELECT doc_id, tok, rnk,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rnk) AS pick
    FROM ranked
    WHERE rnk <= 10 AND tok BETWEEN 100 AND 250
      AND coverage_pct BETWEEN 1 AND 20) s
  WHERE pick = 1),
raw AS (
  SELECT p.doc_id, p.p, p.n FROM pos p JOIN wm ON wm.doc_id = p.doc_id
  WHERE ABS(p.g - wm.wm_token) < 30 AND p.g <= 250),
m1_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM raw) x GROUP BY doc_id, isl),
m1_e AS (
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+1 END AS s,
         CASE WHEN e=n THEN n ELSE e-1 END AS e
  FROM m1_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+1 END)
      < (CASE WHEN e=n THEN n ELSE e-1 END)),
m1 AS (
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,n)-1)) AS p
  FROM m1_e),
m2_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m1) x GROUP BY doc_id, isl),
m2_d AS (
  SELECT DISTINCT doc_id, n,
         UNNEST(generate_series(GREATEST(s-2,0), LEAST(e+2,n)-1)) AS p
  FROM m2_sp),
m3_sp AS (
  SELECT doc_id, MAX(n) AS n, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m2_d) x GROUP BY doc_id, isl),
m3_e AS (
  SELECT doc_id, n,
         CASE WHEN s=0 THEN 0 ELSE s+2 END AS s,
         CASE WHEN e=n THEN n ELSE e-2 END AS e
  FROM m3_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+2 END)
      < (CASE WHEN e=n THEN n ELSE e-2 END)),
m3 AS (SELECT DISTINCT doc_id, n,
              UNNEST(generate_series(s, e-1)) AS p FROM m3_e),
runs AS (
  SELECT doc_id, MIN(p) AS s, MAX(p)+1 AS e, COUNT(*) AS ln FROM (
    SELECT doc_id, p, n,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
    FROM m3) x GROUP BY doc_id, isl),
det_pos AS (
  SELECT DISTINCT doc_id, UNNEST(generate_series(s, e-1)) AS p
  FROM runs WHERE ln BETWEEN 5 AND 5000),
marker AS (  -- marker-span stand-in: first 'hash' keyword occurrence + 24
  SELECT doc_id, strpos(text, 'hash') AS sp, CAST(length(text) AS BIGINT) AS n
  FROM documents),
span_pos AS (
  SELECT doc_id, UNNEST(generate_series(sp - 1, LEAST(sp - 1 + 24, n) - 1)) AS p
  FROM marker WHERE sp > 0),
merged AS (
  SELECT doc_id, p FROM det_pos UNION SELECT doc_id, p FROM span_pos),
counts AS (
  SELECT d.doc_id,
         (SELECT COUNT(*) FROM det_pos dp WHERE dp.doc_id = d.doc_id) AS dc,
         (SELECT COUNT(*) FROM span_pos sp WHERE sp.doc_id = d.doc_id) AS sc,
         (SELECT COUNT(*) FROM merged m WHERE m.doc_id = d.doc_id) AS mc
  FROM documents d)
SELECT c.doc_id, d.source,  -- a NULL text has NULL counts (NULL mask)
       CAST(CASE WHEN d.text IS NOT NULL THEN c.dc END AS INT) AS detect_cnt,
       CAST(CASE WHEN d.text IS NOT NULL THEN c.sc END AS INT) AS span_cnt,
       CAST(CASE WHEN d.text IS NOT NULL THEN c.mc END AS INT) AS merged_cnt
FROM counts c JOIN documents d ON d.doc_id = c.doc_id
""")
def q50(spark, sf_dir):
    """J3 composed: marker-span mask merged into the watermark detect mask,
    repaired once (qr_detector.py:373-400 span construction;
    watermark_detector.py:689-694 wm_mask |= qr_mask). The marker region is
    a deterministic keyword stand-in (first 'hash' occurrence + 24 chars —
    the QR decoder isn't in scope, the MERGE semantics are). The oracle
    re-derives detect positions relationally (q41 chain) and unions the
    span; per-row merged-mask counts must match. Merged-repair token values
    are pinned by tests/test_engine_parity.py property tests."""
    from ..operators.repair import repair_with_marker_spans
    from ..params import DEFAULT_PARAMS
    loc = F.locate("hash", F.col("text"))
    n = F.length("text")
    df = _char_tokens(spark, sf_dir, "text").select(
        "doc_id", "source", "tokens",
        F.when(loc > 0, loc - 1).alias("marker_lo"),
        F.when(loc > 0, F.least(loc - 1 + 24, n)).alias("marker_hi"))
    out = repair_with_marker_spans(df, DEFAULT_PARAMS.with_(min_run=5))
    return out.select("doc_id", "source", "detect_cnt", "span_cnt",
                      "merged_cnt")


@q("q54_value_percentiles", """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99,
       ROUND(AVG(value), 6) AS mean_value,
       COUNT(*) AS n
FROM events GROUP BY event_type
""")
def q54(spark, sf_dir):
    """Exact percentile aggregation (the reference's per-run stats report,
    stats.py:205-245 percentile/mean summaries): Spark's exact
    `percentile()` and DuckDB's quantile_cont share the linear-interpolation
    definition on sorted values, so values hash-match. At 100 TB swap in
    approx_percentile (t-digest) — same query shape, bounded memory."""
    e = t(spark, sf_dir, "events")
    return (e.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
                 F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
                 F.round(F.avg("value"), 6).alias("mean_value"),
                 F.count("*").alias("n")))


_SHINGLE_SQL = (
    "list_transform(range(1, len(string_split(text, ' ')) - 1), "
    "i -> string_split(text, ' ')[i] || ' ' || "
    "string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2])")


@q("q53_shingle_lsh_bands", f"""
WITH sh AS (
  SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS shingles FROM documents),
hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> {_WORDHASH.format(w='s')}) AS hs
  FROM sh WHERE len(shingles) > 0),
sig AS (
  SELECT doc_id, b.b AS band,
         list_min(list_transform(hs,
           h -> ([3,5,7,11,13,17,19,23][2*b.b+1] * h + (2*b.b+1))
                % 1000000007)) AS mh1,
         list_min(list_transform(hs,
           h -> ([3,5,7,11,13,17,19,23][2*b.b+2] * h + (2*b.b+2))
                % 1000000007)) AS mh2
  FROM hashed CROSS JOIN range(4) b(b)),
cand AS (
  SELECT DISTINCT s1.doc_id AS a_id, s2.doc_id AS b_id
  FROM sig s1 JOIN sig s2
    ON s1.band = s2.band AND s1.mh1 = s2.mh1 AND s1.mh2 = s2.mh2
   AND s1.doc_id < s2.doc_id)
SELECT a_id, b_id FROM cand
""")
def q53(spark, sf_dir):
    """Shingle-MinHash-LSH banding (the canonical dedup shape: shingle ->
    minhash -> band -> bucket-join). Word 3-gram shingles and the 8-slot
    signature are built IN-ROW (zero shuffles until the band bucket-join);
    4 bands x 2 rows, candidates = same (band, mh-pair) bucket — a bounded
    equi-join, never all-pairs. Band width/count are the 100 TB recall/cost
    dials (see q21/q26 for the verify-candidates stage)."""
    from ..operators.dedup import shingle_band_signatures_text
    d = _ensure_parallelism(
        t(spark, sf_dir, "documents").select("doc_id", "text"), spark,
        min_bytes=2 << 20)
    sig = shingle_band_signatures_text(d)
    s1, s2 = sig.alias("s1"), sig.alias("s2")
    return (s1.join(s2, (F.col("s1.band") == F.col("s2.band"))
                    & (F.col("s1.mh1") == F.col("s2.mh1"))
                    & (F.col("s1.mh2") == F.col("s2.mh2"))
                    & (F.col("s1.doc_id") < F.col("s2.doc_id")))
            .select(F.col("s1.doc_id").alias("a_id"),
                    F.col("s2.doc_id").alias("b_id"))
            .distinct())


@q("q52_dedup_clusters", f"""
WITH RECURSIVE
words AS (
  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
  FROM documents),
hashed AS (SELECT doc_id, {_WORDHASH.format(w='word')} AS wh FROM words),
params AS (SELECT i, [3,5,7,11,13,17,19,23][i+1] AS a, i + 1 AS b
           FROM range(8) t(i)),
sig AS (
  SELECT h.doc_id, p.i, MIN((p.a * h.wh + p.b) % 1000000007) AS mh
  FROM hashed h CROSS JOIN params p GROUP BY h.doc_id, p.i),
sigk AS (  -- q26's LSH hot-bucket ceiling, kept in sync
  SELECT doc_id, i, mh FROM (
    SELECT doc_id, i, mh, COUNT(*) OVER (PARTITION BY i, mh) AS bw
    FROM sig) s WHERE bw <= 64),
pairs AS (
  SELECT s1.doc_id AS a_id, s2.doc_id AS b_id
  FROM sigk s1 JOIN sigk s2 ON s1.i = s2.i AND s1.mh = s2.mh
                            AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 4),
edges AS (SELECT a_id AS u, b_id AS v FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs),
walk(u, lbl) AS (
  SELECT doc_id AS u, doc_id AS lbl FROM documents
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v)
SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY u
""")
def q52(spark, sf_dir):
    """Dedup-cluster resolution (training-data op): exact connected
    components over the MinHash candidate-pair graph (q26), via iterative
    min-label propagation (operators/dedup.connected_components — one
    equi-join + partial-agg groupBy per round, O(log n) rounds). Keep-rule =
    smallest doc_id per cluster. The oracle computes the same transitive
    closure with a recursive CTE, so the iterative fixpoint is value-checked
    end-to-end, not just shape-checked."""
    from ..operators.dedup import connected_components
    pairs = QUERIES["q26_minhash_dup_pairs"](spark, sf_dir)
    edges = pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    vertices = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"))
    cc = connected_components(vertices, edges)
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


@q("q51_instance_mask_union", """
WITH marks AS (
  SELECT doc_id, kw, strpos(text, kw) AS sp, CAST(length(text) AS BIGINT) AS n
  FROM documents CROSS JOIN (VALUES ('hash'), ('table'), ('spark')) k(kw)),
inst AS (
  SELECT doc_id,
         UNNEST(generate_series(sp - 1, LEAST(sp - 1 + 12, n) - 1)) AS p
  FROM marks WHERE sp > 0),
uni AS (
  SELECT doc_id, COUNT(DISTINCT p) AS combined_cnt FROM inst GROUP BY doc_id),
cnts AS (
  SELECT doc_id, COUNT(*) AS n_instances
  FROM marks WHERE sp > 0 GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(c.n_instances, 0) AS INT) AS n_instances,
       CAST(COALESCE(u.combined_cnt, 0) AS INT) AS combined_cnt
FROM documents d
LEFT JOIN cnts c ON c.doc_id = d.doc_id
LEFT JOIN uni u ON u.doc_id = d.doc_id
""")
def q51(spark, sf_dir):
    """U3: instance-mask max-combine (yolo_detector.py:224-230 —
    np.max(masks, axis=0) unions per-instance detection masks before the K1
    close). Instances are deterministic keyword spans (the YOLO inference
    itself is out of scope, SURVEY §2.1 S6 — the union operator is the
    Spark-side component); the oracle unions the span positions
    relationally. Pure Catalyst: span_mask constructors folded with
    aggregate(zip_with OR) — no Python in the plan."""
    from ..functions import mask_exprs as mxx
    d = t(spark, sf_dir, "documents")
    n = F.length("text")
    spans = []
    for kw in ("hash", "table", "spark"):
        loc = F.locate(kw, F.col("text"))
        spans.append(F.when(
            loc > 0, mxx.span_mask(n, loc - 1, F.least(loc - 1 + 12, n)))
            .otherwise(mxx.span_mask(n, F.lit(0), F.lit(0))))
        # presence flags for n_instances
    n_inst = sum([(F.locate(kw, F.col("text")) > 0).cast("int")
                  for kw in ("hash", "table", "spark")])
    combined = mxx.mask_max_combine(F.array(*spans), n)
    return d.select(
        "doc_id", n_inst.alias("n_instances"),
        mxx.mask_count(combined).alias("combined_cnt"))


@q("q48_relational_detect_mask", """
WITH pos AS (
  SELECT vec_id, i AS p,
         CAST(LEAST(255, GREATEST(0,
           FLOOR(CAST(embedding[i + 1] AS DOUBLE)*128+128))) AS INT) AS g
  FROM embeddings CROSS JOIN range(64) t(i)),
raw AS (  -- wm=128 is text-like (100..150): the guard skips text protection
  SELECT vec_id, p FROM pos WHERE ABS(g - 128) < 30 AND g <= 250),
m1_sp AS (
  SELECT vec_id, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT vec_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY p) AS isl
    FROM raw) x GROUP BY vec_id, isl),
m1_e AS (  -- open x1: erode k=3 (border-aware) ...
  SELECT vec_id,
         CASE WHEN s=0 THEN 0 ELSE s+1 END AS s,
         CASE WHEN e=64 THEN 64 ELSE e-1 END AS e
  FROM m1_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+1 END)
      < (CASE WHEN e=64 THEN 64 ELSE e-1 END)),
m1 AS (  -- ... then dilate k=3
  SELECT DISTINCT vec_id,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,64)-1)) AS p
  FROM m1_e),
m2_sp AS (
  SELECT vec_id, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT vec_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY p) AS isl
    FROM m1) x GROUP BY vec_id, isl),
m2_d AS (  -- close x2: dilate by 2 ...
  SELECT DISTINCT vec_id,
         UNNEST(generate_series(GREATEST(s-2,0), LEAST(e+2,64)-1)) AS p
  FROM m2_sp),
m3_sp AS (
  SELECT vec_id, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT vec_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY p) AS isl
    FROM m2_d) x GROUP BY vec_id, isl),
m3_e AS (  -- ... then erode by 2 (border-aware)
  SELECT vec_id,
         CASE WHEN s=0 THEN 0 ELSE s+2 END AS s,
         CASE WHEN e=64 THEN 64 ELSE e-2 END AS e
  FROM m3_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+2 END)
      < (CASE WHEN e=64 THEN 64 ELSE e-2 END)),
m3 AS (SELECT DISTINCT vec_id, UNNEST(generate_series(s, e-1)) AS p FROM m3_e),
runs AS (  -- R1: run-length filter 2..64
  SELECT vec_id, MIN(p) AS s, MAX(p)+1 AS e, COUNT(*) AS ln FROM (
    SELECT vec_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY p) AS isl
    FROM m3) x GROUP BY vec_id, isl)
SELECT vec_id, CAST(SUM(ln) AS BIGINT) AS masked_positions
FROM runs WHERE ln BETWEEN 2 AND 64 GROUP BY vec_id
""")
def q48(spark, sf_dir):
    """Cross-paradigm oracle for the FULL detection pipeline: the Spark side
    runs the NumPy kernel (mapInArrow: raw mask -> background protection ->
    open x1 / close x2 morphology -> run filter); the DuckDB side is a
    pure-SQL gaps-and-islands re-implementation of the same span arithmetic.
    wm=128 lies in the text-like band, so the guard skips text protection on
    BOTH sides (watermark_detector.py:463) and every row carries a
    non-empty mask at sf0.01. Equality of per-row masked-position counts
    pins the kernel's mask semantics against an independent relational
    formulation."""
    from ..functions import mask_exprs as mxx
    from ..operators.repair import _detect_operator
    from ..params import DEFAULT_PARAMS
    df = _emb_tokens(spark, sf_dir)
    params = DEFAULT_PARAMS.with_(min_run=2, max_run=64)
    d = _detect_operator(df, params, ["vec_id"], wm_token=F.lit(128))
    return (d.select("vec_id",
                     mxx.mask_count(F.col("mask")).alias("masked_positions"))
            .where(F.col("masked_positions") > 0))


@q("q49_relational_repair", """
WITH pos AS (
  SELECT vec_id, i AS p,
         CAST(LEAST(255, GREATEST(0,
           FLOOR(CAST(embedding[i + 1] AS DOUBLE)*128+128))) AS INT) AS g
  FROM embeddings CROSS JOIN range(64) t(i)),
raw AS (  -- wm=128 is text-like (100..150): the guard skips text protection
  SELECT vec_id, p FROM pos WHERE ABS(g - 128) < 30 AND g <= 250),
m1_sp AS (
  SELECT vec_id, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT vec_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY p) AS isl
    FROM raw) x GROUP BY vec_id, isl),
m1_e AS (  -- open x1: erode k=3 (border-aware) ...
  SELECT vec_id,
         CASE WHEN s=0 THEN 0 ELSE s+1 END AS s,
         CASE WHEN e=64 THEN 64 ELSE e-1 END AS e
  FROM m1_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+1 END)
      < (CASE WHEN e=64 THEN 64 ELSE e-1 END)),
m1 AS (  -- ... then dilate k=3
  SELECT DISTINCT vec_id,
         UNNEST(generate_series(GREATEST(s-1,0), LEAST(e+1,64)-1)) AS p
  FROM m1_e),
m2_sp AS (
  SELECT vec_id, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT vec_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY p) AS isl
    FROM m1) x GROUP BY vec_id, isl),
m2_d AS (  -- close x2: dilate by 2 ...
  SELECT DISTINCT vec_id,
         UNNEST(generate_series(GREATEST(s-2,0), LEAST(e+2,64)-1)) AS p
  FROM m2_sp),
m3_sp AS (
  SELECT vec_id, MIN(p) AS s, MAX(p)+1 AS e FROM (
    SELECT vec_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY p) AS isl
    FROM m2_d) x GROUP BY vec_id, isl),
m3_e AS (  -- ... then erode by 2 (border-aware)
  SELECT vec_id,
         CASE WHEN s=0 THEN 0 ELSE s+2 END AS s,
         CASE WHEN e=64 THEN 64 ELSE e-2 END AS e
  FROM m3_sp
  WHERE (CASE WHEN s=0 THEN 0 ELSE s+2 END)
      < (CASE WHEN e=64 THEN 64 ELSE e-2 END)),
m3 AS (SELECT DISTINCT vec_id, UNNEST(generate_series(s, e-1)) AS p FROM m3_e),
runs AS (  -- R1: run-length filter 2..64
  SELECT vec_id, MIN(p) AS s, MAX(p)+1 AS e, COUNT(*) AS ln FROM (
    SELECT vec_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY p) AS isl
    FROM m3) x GROUP BY vec_id, isl)
, kept AS (
  SELECT vec_id, s, e FROM runs WHERE ln BETWEEN 2 AND 64),
covs AS (
  SELECT vec_id, SUM(e - s) AS masked FROM kept GROUP BY vec_id),
rad AS (
  SELECT vec_id,
         GREATEST(2, CAST(FLOOR(2 + (CAST(masked AS DOUBLE)/64)*10*1.0)
                          AS BIGINT)) AS radius
  FROM covs),
fills AS (
  SELECT k.vec_id, u.p,
    (SELECT g FROM pos WHERE pos.vec_id = k.vec_id AND pos.p = k.s - 1) AS L,
    (SELECT g FROM pos WHERE pos.vec_id = k.vec_id AND pos.p = k.e) AS R,
    k.s, k.e, r.radius
  FROM kept k
  JOIN rad r ON r.vec_id = k.vec_id
  CROSS JOIN UNNEST(generate_series(k.s, k.e - 1)) AS u(p)),
vals AS (
  SELECT vec_id, p,
    CASE
      WHEN L IS NULL AND R IS NULL THEN NULL
      WHEN L IS NULL THEN R
      WHEN R IS NULL THEN L
      WHEN LEAST(p - (s - 1), e - p) <= radius
        THEN (L * (e - p) + R * (p - (s - 1))) // ((p - (s - 1)) + (e - p))
      WHEN (p - (s - 1)) < (e - p) THEN L
      WHEN (e - p) < (p - (s - 1)) THEN R
      ELSE (L + R) // 2
    END AS fill
  FROM fills),
repaired AS (
  SELECT pos.vec_id, pos.p, COALESCE(v.fill, pos.g) AS val
  FROM pos LEFT JOIN vals v ON v.vec_id = pos.vec_id AND v.p = pos.p)
SELECT vec_id, CAST(SUM(val) AS BIGINT) AS token_sum,
       CAST(SUM(val * (p + 1)) AS BIGINT) AS weighted_sum
FROM repaired GROUP BY vec_id
""")
def q49(spark, sf_dir):
    """Cross-paradigm oracle for the FULL single-pass repair: the Spark side
    runs the kernel chain (detect operator -> apply_masks K2 inpaint+blend); the
    DuckDB side re-derives the mask via gaps-and-islands morphology (q48) and
    computes the distance-weighted / plateau fill values with pure integer
    SQL. Per-row token sums and position-weighted sums must match — a
    value-level relational check of the inpaint kernel on non-empty masks
    for every row."""
    from ..operators.repair import _detect_operator
    from ..operators.repair_vectorized import apply_masks
    from ..params import DEFAULT_PARAMS
    df = _emb_tokens(spark, sf_dir)
    params = DEFAULT_PARAMS.with_(min_run=2, max_run=64)
    masked = _detect_operator(df, params, ["vec_id", "tokens"],
                              wm_token=F.lit(128)) \
        .select("vec_id", "tokens", "mask")
    weighted = F.aggregate(
        F.zip_with(F.col("tokens"),
                   F.sequence(F.lit(1), F.lit(64)),
                   lambda v, i: v.cast("long") * i.cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    total = F.aggregate(F.col("tokens"), F.lit(0).cast("long"),
                        lambda acc, x: acc + x.cast("long"))
    return apply_masks(masked, params).select(
        "vec_id", total.alias("token_sum"), weighted.alias("weighted_sum"))
