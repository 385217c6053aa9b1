package graft.operators

import graft.Tables
import graft.functions.TextSpecs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The fraud-detection pipeline re-expressed on Spark (SURVEY.md §2
  * rows 15–25). Semantics mirror the reference's market-stats +
  * composite-z risk engine (poller/regex_analyzer.py:849-1022,
  * poller/poller.py:333-495); the data mapping onto the test tables is
  * SURVEY.md §3 (part = listings, customer×orders = sellers).
  *
  * Scale notes: market stats are tiny (brands × types) and always
  * broadcast back to the fact side — the entire risk engine is one
  * shuffle (the stats groupBy) plus broadcast joins and codegen'd
  * column arithmetic. Variance/median use explicit order-independent
  * formulations (decimal sums, order statistics) so results are exact
  * on any cluster layout.
  */
object Fraud {
  import Relational.{dsum, davg}

  /** Exact per-group median via the two middle order statistics —
    * engine-portable (no interpolation ambiguity).
    *
    * Scale shape: rows are first reduced to (key, value, count) by a
    * partially-aggregated groupBy, and the window runs over DISTINCT
    * values per group (cumulative ranges locate the middle order
    * statistics). A direct row_number over raw rows would sort every
    * row inside as many tasks as there are groups — with 3 groups and
    * 100 TB that's 3 tasks; this formulation's heavy lifting is the
    * combiner-friendly count shuffle.
    */
  def groupMedian(df: DataFrame, keys: Seq[String], value: String, out: String): DataFrame = {
    val k = keys.map(col)
    val counts = df.select(k :+ col(value): _*)
      .groupBy(k :+ col(value): _*).agg(count(lit(1)).as("_c"))
    groupMedianFromCounts(counts, keys, value, out)
  }

  /** Median from a pre-aggregated value-counts frame (keys, value,
    * `_c`). A caller that also needs moments derives both from one
    * window pass instead (`IncrementalStats.statsFromCounts`). */
  def groupMedianFromCounts(counts: DataFrame, keys: Seq[String],
      value: String, out: String): DataFrame = {
    val k = keys.map(col)
    val w = Window.partitionBy(k: _*).orderBy(col(value).asc)
    val wc = Window.partitionBy(k: _*)
    counts
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(wc))
      // order statistics m1=(n+1)/2, m2=(n+2)/2 fall in this value's
      // cumulative range (_cum-_c, _cum]
      .withColumn("_m1", ((col("_n") + 1) / 2).cast("long"))
      .withColumn("_m2", ((col("_n") + 2) / 2).cast("long"))
      .filter((col("_m1") > col("_cum") - col("_c") && col("_m1") <= col("_cum")) ||
        (col("_m2") > col("_cum") - col("_c") && col("_m2") <= col("_cum")))
      .withColumn("_w",
        when(col("_m1") > col("_cum") - col("_c") && col("_m1") <= col("_cum"), 1).otherwise(0) +
          when(col("_m2") > col("_cum") - col("_c") && col("_m2") <= col("_cum"), 1).otherwise(0))
      .groupBy(k: _*)
      .agg((sum(col(value) * col("_w")) / 2.0).as(out))
  }

  /** Sample stddev from decimal-exact Σx and Σx² — deterministic under
    * any partial-aggregation order, unlike a parallel Welford merge.
    * The variance is clamped at 0: for a zero-variance group the two
    * independently-rounded doubles can differ by one ulp, and
    * sqrt(negative) = NaN would then PASS every `stdev > 0` validity
    * guard (Spark orders NaN above all values) where the Python
    * reference's exact 0.0 correctly fails it. Shared by the fraud
    * stats and the stats-generation engine. */
  private[operators] def stdevCols(sx: Column, sxx: Column, n: Column): Column =
    sqrt(greatest(sxx - sx * sx / n, lit(0.0)) / (n - 1))

  // ---------------------------------------------------------------
  // f01: market stats per (category, condition) — the analog of
  // market_stats.json generation (regex_analyzer.py:968-1000):
  // count / mean / median / stdev with min-support 2.
  // ---------------------------------------------------------------
  def f01(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(
      col("p_brand").as("category"), col("p_type").as("cond"),
      col("p_retailprice").as("price"))
    // one value-counts shuffle feeds moments AND median (weighted
    // decimal sums are exactly the row-level sums); the counts frame
    // doubles as the incremental-maintenance state (IncrementalStats)
    val keys = Seq("category", "cond")
    IncrementalStats.statsFromCounts(
      IncrementalStats.valueCounts(p, keys, "price"), keys, "price")
  }

  val f01Sql: String =
    """WITH p AS (SELECT p_brand AS category, p_type AS cond, p_retailprice AS price FROM part),
       a AS (SELECT category, cond, count(*) AS n,
               CAST(sum(CAST(price AS DECIMAL(25,4))) AS DOUBLE) AS sx,
               CAST(sum(CAST(price*price AS DECIMAL(25,4))) AS DOUBLE) AS sxx
             FROM p GROUP BY 1,2 HAVING count(*) >= 2),
       r AS (SELECT category, cond, price,
               row_number() OVER (PARTITION BY category, cond ORDER BY price) AS rn,
               count(*) OVER (PARTITION BY category, cond) AS cnt FROM p),
       m AS (SELECT category, cond, sum(price)/count(*) AS median_price
             FROM r WHERE rn = (cnt+1)//2 OR rn = (cnt+2)//2 GROUP BY 1,2)
       SELECT a.category, a.cond, n, sx/n AS mean_price, median_price,
              sqrt(greatest(sxx - sx*sx/n, 0)/(n-1)) AS stdev_price
       FROM a JOIN m USING (category, cond)"""

  // ---------------------------------------------------------------
  // f02: nested per-component stats (the "components" sub-tree of
  // market_stats.json; regex_analyzer.py:988-998) — one more grouping
  // level, same min-support rule.
  // ---------------------------------------------------------------
  def f02(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir)
      .groupBy(col("p_type").as("cond"), col("p_size").as("component"))
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sx"),
        dsum(col("p_retailprice") * col("p_retailprice")).as("sxx"))
      .filter(col("n") >= 2)
      .select(col("cond"), col("component"), col("n"),
        (col("sx") / col("n")).as("mean_price"),
        stdevCols(col("sx"), col("sxx"), col("n")).as("stdev_price"))
  }

  val f02Sql: String =
    """SELECT p_type AS cond, p_size AS component, count(*) AS n,
       CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)/count(*) AS mean_price,
       sqrt(greatest(CAST(sum(CAST(p_retailprice*p_retailprice AS DECIMAL(25,4))) AS DOUBLE)
             - CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)
               * CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)/count(*), 0)
            /(count(*)-1)) AS stdev_price
       FROM part GROUP BY 1,2 HAVING count(*) >= 2"""

  // ---------------------------------------------------------------
  // f03: z-score vs segment stats (poller.py:417-437): broadcast the
  // tiny stats table back onto every listing, pure column arithmetic.
  // ---------------------------------------------------------------
  def f03(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val stats = f01(s, dir).select(col("category"), col("cond"),
      col("mean_price"), col("stdev_price"))
    p.join(broadcast(stats),
        p("p_brand") === stats("category") && p("p_type") === stats("cond"))
      .filter(col("stdev_price") > 0)
      .select(col("p_partkey"), col("p_retailprice"),
        ((col("p_retailprice") - col("mean_price")) / col("stdev_price")).as("z_score"))
      .withColumn("is_cheap", (col("z_score") < -1.5).cast("int"))
  }

  val f03Sql: String =
    s"""WITH stats AS ($f01Sql)
       SELECT p_partkey, p_retailprice,
              (p_retailprice - mean_price)/stdev_price AS z_score,
              CAST((p_retailprice - mean_price)/stdev_price < -1.5 AS INT) AS is_cheap
       FROM part JOIN stats ON p_brand = category AND p_type = cond
       WHERE stdev_price > 0"""

  // ---------------------------------------------------------------
  // f04: composite weighted-z risk scoring — the full engine of
  // poller.calculate_risk_base (poller.py:333-495). Three price
  // signals (component-in-segment, brand-in-segment, segment) with
  // the reference's weights, heuristic factor points, 0-100 clamp.
  // ---------------------------------------------------------------

  /** Weights (poller.py:69-74): cpu .5 / gpu .3 / category .1 mapped
    * onto the test schema's component axes. */
  val W1 = 0.5; val W2 = 0.3; val W3 = 0.1

  private def signalStats(p: DataFrame, keys: Seq[String], pfx: String): DataFrame =
    p.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sx"),
        dsum(col("p_retailprice") * col("p_retailprice")).as("sxx"))
      .filter(col("n") >= 2)
      .select(keys.map(col) :+
        (col("sx") / col("n")).as(s"${pfx}_mean") :+
        stdevCols(col("sx"), col("sxx"), col("n")).as(s"${pfx}_stdev"): _*)

  def f04(s: SparkSession, dir: String): DataFrame =
    f04Named(s, dir).drop("p_name")

  /** f04's scored frame staged through the session CacheRegistry — the
    * shared input of every scored-corpus consumer (f05, f10 via
    * f04WithFactors, Histogram's f19/f20 dashboard panels). Two
    * reasons, both scale-critical:
    * (a) the scoring tree runs ONCE per session instead of once per
    *     consumer, and only the slim scored columns (5 numerics +
    *     p_name) are pinned — never the stats-join intermediates;
    * (b) the InMemoryRelation is a plan LEAF, so a consumer's trailing
    *     filter on a column computed from risk_score (f19/f20's
    *     null-bucket drop) substitutes down to the cached risk_score
    *     attribute and stops — predicate pushdown can no longer
    *     re-inline the whole composite-z scoring tree into a physical
    *     Filter (the alias-substitution hazard RiskEngine.routeItems
    *     documents; f19/f20 shipped with exactly that blowup in r7).
    */
  private[operators] def f04Cached(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.register(f04Named(s, dir))

  /** f04 with `p_name` threaded through from the same scan — lets
    * factor-building consumers (f04WithFactors/f10/FraudModel) avoid a
    * second `part` scan + re-join on p_partkey (two shuffles at scale). */
  private def f04Named(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val s1 = signalStats(p, Seq("p_type", "p_size"), "s1")   // component ~ cpu
    val s2 = signalStats(p, Seq("p_type", "p_brand"), "s2")  // component ~ gpu
    val s3 = signalStats(p, Seq("p_type"), "s3")             // category

    val j = p.join(broadcast(s1), Seq("p_type", "p_size"), "left")
      .join(broadcast(s2), Seq("p_type", "p_brand"), "left")
      .join(broadcast(s3), Seq("p_type"), "left")

    def valid(pfx: String): Column =
      col(s"${pfx}_stdev").isNotNull && col(s"${pfx}_stdev") > 0
    def z(pfx: String): Column =
      (col("p_retailprice") - col(s"${pfx}_mean")) / col(s"${pfx}_stdev")

    val wz = when(valid("s1"), z("s1") * W1).otherwise(0.0) +
      when(valid("s2"), z("s2") * W2).otherwise(0.0) +
      when(valid("s3"), z("s3") * W3).otherwise(0.0)
    val wm = when(valid("s1"), col("s1_mean") * W1).otherwise(0.0) +
      when(valid("s2"), col("s2_mean") * W2).otherwise(0.0) +
      when(valid("s3"), col("s3_mean") * W3).otherwise(0.0)
    val tw = when(valid("s1"), W1).otherwise(0.0) +
      when(valid("s2"), W2).otherwise(0.0) +
      when(valid("s3"), W3).otherwise(0.0)

    val finalZ = when(tw > 0, wz / tw).otherwise(0.0)
    val estVal = when(tw > 0, wm / tw).otherwise(0.0)

    val price = col("p_retailprice")
    // factor points (poller.py:461-482 + README risk table)
    val score =
      when(finalZ < -1.5, 30).otherwise(0) +
        when(finalZ < -2.5, 40).otherwise(0) +
        when(estVal > 0 && price < estVal * 0.4, 20).otherwise(0) +
        when(length(col("p_name")) < 9 && price > 1000, 15).otherwise(0) +
        when(col("p_name").rlike("red|hot"), 30).otherwise(0)
    // symbolic price short-circuit (poller.py:397-409)
    val risk = when(price < 5.0, 0)
      .otherwise(least(greatest(score, lit(0)), lit(100)))

    j.select(col("p_partkey"), price.as("price"),
      finalZ.as("composite_z"), estVal.as("estimated_value"),
      risk.as("risk_score"), col("p_name"))
  }

  /** Shared SQL CTE prologue computing the f04 signal table (also
    * reused by the Histogram panel oracles and the ml01b serving
    * twin). */
  private[graft] val f04Ctes: String =
    """WITH s1 AS (SELECT p_type, p_size,
           CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)/count(*) AS s1_mean,
           sqrt(greatest(CAST(sum(CAST(p_retailprice*p_retailprice AS DECIMAL(25,4))) AS DOUBLE)
                 - CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)
                   * CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)/count(*), 0)
                /(count(*)-1)) AS s1_stdev
         FROM part GROUP BY 1,2 HAVING count(*) >= 2),
       s2 AS (SELECT p_type, p_brand,
           CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)/count(*) AS s2_mean,
           sqrt(greatest(CAST(sum(CAST(p_retailprice*p_retailprice AS DECIMAL(25,4))) AS DOUBLE)
                 - CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)
                   * CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)/count(*), 0)
                /(count(*)-1)) AS s2_stdev
         FROM part GROUP BY 1,2 HAVING count(*) >= 2),
       s3 AS (SELECT p_type,
           CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)/count(*) AS s3_mean,
           sqrt(greatest(CAST(sum(CAST(p_retailprice*p_retailprice AS DECIMAL(25,4))) AS DOUBLE)
                 - CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)
                   * CAST(sum(CAST(p_retailprice AS DECIMAL(25,4))) AS DOUBLE)/count(*), 0)
                /(count(*)-1)) AS s3_stdev
         FROM part GROUP BY 1 HAVING count(*) >= 2),
       j AS (SELECT p.*,
               s1_mean, s1_stdev, s2_mean, s2_stdev, s3_mean, s3_stdev
             FROM part p
             LEFT JOIN s1 ON p.p_type = s1.p_type AND p.p_size = s1.p_size
             LEFT JOIN s2 ON p.p_type = s2.p_type AND p.p_brand = s2.p_brand
             LEFT JOIN s3 ON p.p_type = s3.p_type),
       risk AS (SELECT p_partkey, p_name, p_retailprice AS price,
           CASE WHEN (CASE WHEN s1_stdev IS NOT NULL AND s1_stdev > 0 THEN 0.5 ELSE 0.0 END
                    + CASE WHEN s2_stdev IS NOT NULL AND s2_stdev > 0 THEN 0.3 ELSE 0.0 END
                    + CASE WHEN s3_stdev IS NOT NULL AND s3_stdev > 0 THEN 0.1 ELSE 0.0 END) > 0
             THEN (CASE WHEN s1_stdev IS NOT NULL AND s1_stdev > 0 THEN (p_retailprice - s1_mean)/s1_stdev*0.5 ELSE 0.0 END
                 + CASE WHEN s2_stdev IS NOT NULL AND s2_stdev > 0 THEN (p_retailprice - s2_mean)/s2_stdev*0.3 ELSE 0.0 END
                 + CASE WHEN s3_stdev IS NOT NULL AND s3_stdev > 0 THEN (p_retailprice - s3_mean)/s3_stdev*0.1 ELSE 0.0 END)
                / (CASE WHEN s1_stdev IS NOT NULL AND s1_stdev > 0 THEN 0.5 ELSE 0.0 END
                 + CASE WHEN s2_stdev IS NOT NULL AND s2_stdev > 0 THEN 0.3 ELSE 0.0 END
                 + CASE WHEN s3_stdev IS NOT NULL AND s3_stdev > 0 THEN 0.1 ELSE 0.0 END)
             ELSE 0.0 END AS composite_z,
           CASE WHEN (CASE WHEN s1_stdev IS NOT NULL AND s1_stdev > 0 THEN 0.5 ELSE 0.0 END
                    + CASE WHEN s2_stdev IS NOT NULL AND s2_stdev > 0 THEN 0.3 ELSE 0.0 END
                    + CASE WHEN s3_stdev IS NOT NULL AND s3_stdev > 0 THEN 0.1 ELSE 0.0 END) > 0
             THEN (CASE WHEN s1_stdev IS NOT NULL AND s1_stdev > 0 THEN s1_mean*0.5 ELSE 0.0 END
                 + CASE WHEN s2_stdev IS NOT NULL AND s2_stdev > 0 THEN s2_mean*0.3 ELSE 0.0 END
                 + CASE WHEN s3_stdev IS NOT NULL AND s3_stdev > 0 THEN s3_mean*0.1 ELSE 0.0 END)
                / (CASE WHEN s1_stdev IS NOT NULL AND s1_stdev > 0 THEN 0.5 ELSE 0.0 END
                 + CASE WHEN s2_stdev IS NOT NULL AND s2_stdev > 0 THEN 0.3 ELSE 0.0 END
                 + CASE WHEN s3_stdev IS NOT NULL AND s3_stdev > 0 THEN 0.1 ELSE 0.0 END)
             ELSE 0.0 END AS estimated_value
         FROM j),
       scored AS (SELECT p_partkey, price, composite_z, estimated_value,
           CASE WHEN price < 5.0 THEN 0 ELSE
             least(greatest(
               CASE WHEN composite_z < -1.5 THEN 30 ELSE 0 END
             + CASE WHEN composite_z < -2.5 THEN 40 ELSE 0 END
             + CASE WHEN estimated_value > 0 AND price < estimated_value * 0.4 THEN 20 ELSE 0 END
             + CASE WHEN length(p_name) < 9 AND price > 1000 THEN 15 ELSE 0 END
             + CASE WHEN regexp_matches(p_name, 'red|hot') THEN 30 ELSE 0 END, 0), 100)
           END AS risk_score
         FROM risk)"""

  val f04Sql: String =
    s"""$f04Ctes
       SELECT p_partkey, price, composite_z, estimated_value, risk_score FROM scored"""

  // ---------------------------------------------------------------
  // f05: the ElastAlert rule as a query — high-risk detail table
  // (elastalert/rules/high_risk.yaml: risk_score >= threshold).
  // ---------------------------------------------------------------
  def f05(s: SparkSession, dir: String): DataFrame =
    f04Cached(s, dir).drop("p_name").filter(col("risk_score") >= 30)
      .orderBy(col("risk_score").desc, col("p_partkey").asc)
      .limit(100)

  val f05Sql: String =
    s"""$f04Ctes
       SELECT p_partkey, price, composite_z, estimated_value, risk_score
       FROM scored WHERE risk_score >= 30
       ORDER BY risk_score DESC, p_partkey LIMIT 100"""

  // ---------------------------------------------------------------
  // f06: hidden-price recovery (regex_analyzer.py:174-221) over a
  // deterministically constructed listing text (RE2-safe pattern; the
  // lookahead-faithful variant is TextSpecs.extractHiddenPrice).
  // ---------------------------------------------------------------
  private val hiddenPriceRe2 =
    """(?:precio|valor|vende|vendo|pido|oferta)[:\s]*(?:por)?\s*(\d{2,4})\s*(?:eur|euros)"""

  def f06(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val text = when(col("p_partkey") % 3 === 0,
      concat(col("p_name"), lit(" vendo por "),
        floor(col("p_retailprice") / 2).cast("int").cast("string"), lit(" euros")))
      .otherwise(concat(col("p_name"), lit(" sin precio")))
    p.select(col("p_partkey"), text.as("listing_text"))
      .withColumn("hidden_price",
        nullif(regexp_extract(col("listing_text"), hiddenPriceRe2, 1), lit("")).cast("int"))
      .withColumn("recovered", col("hidden_price").isNotNull.cast("int"))
  }

  val f06Sql: String =
    s"""WITH t AS (SELECT p_partkey,
         CASE WHEN p_partkey % 3 = 0
              THEN p_name || ' vendo por ' || CAST(CAST(floor(p_retailprice/2) AS INT) AS VARCHAR) || ' euros'
              ELSE p_name || ' sin precio' END AS listing_text
       FROM part)
       SELECT p_partkey, listing_text,
              CAST(nullif(regexp_extract(listing_text, '$hiddenPriceRe2', 1), '') AS INT) AS hidden_price,
              CAST(nullif(regexp_extract(listing_text, '$hiddenPriceRe2', 1), '') IS NOT NULL AS INT) AS recovered
       FROM t"""

  // ---------------------------------------------------------------
  // f07: keyword-rule classifier on real text (the reference's
  // SUB_CATEGORIES_RULES priority chain, regex_analyzer.py:137,670)
  // applied to the documents corpus.
  // ---------------------------------------------------------------
  def f07(s: SparkSession, dir: String): DataFrame = {
    val cat = when(col("text").rlike("\\bstream\\b"), "STREAMING")
      .when(col("text").rlike("\\bjoin\\b"), "JOINS")
      .when(col("text").rlike("\\bwindow\\b"), "WINDOWED")
      .when(col("text").rlike("\\bagg\\b|\\bgroup\\b"), "AGGREGATION")
      .otherwise("GENERIC")
    Tables.documents(s, dir)
      .withColumn("category", cat)
      .groupBy(col("lang"), col("category"))
      .agg(count(lit(1)).as("n"), dsum(col("n_chars")).as("total_chars"))
  }

  val f07Sql: String =
    """SELECT lang,
       CASE WHEN regexp_matches(text, '\bstream\b') THEN 'STREAMING'
            WHEN regexp_matches(text, '\bjoin\b') THEN 'JOINS'
            WHEN regexp_matches(text, '\bwindow\b') THEN 'WINDOWED'
            WHEN regexp_matches(text, '\bagg\b|\bgroup\b') THEN 'AGGREGATION'
            ELSE 'GENERIC' END AS category,
       count(*) AS n,
       CAST(sum(CAST(n_chars AS DECIMAL(25,4))) AS DOUBLE) AS total_chars
       FROM documents GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // f08: seller-trust enrichment (poller.py:652-702): sales history +
  // account signals → trust adjustments, clamped 0-100.
  // ---------------------------------------------------------------
  def f08(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val sales = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("sales"), dsum(col("o_totalprice")).as("sales_value"))
    val j = c.join(sales, c("c_custkey") === sales("o_custkey"), "left")
      .withColumn("sales", coalesce(col("sales"), lit(0L)))
      .withColumn("sales_value", coalesce(col("sales_value"), lit(0.0)))
    val score = lit(50) +
      when(col("sales") > 5, -30).otherwise(0) +      // Trusted Seller
      when(col("sales") === 0, 20).otherwise(0) +     // Dormant Account
      when(col("c_acctbal") < 0, 30).otherwise(0)     // negative standing
    j.select(col("c_custkey"), col("sales"), col("sales_value"),
      least(greatest(score, lit(0)), lit(100)).as("trust_risk"))
  }

  val f08Sql: String =
    """WITH s AS (SELECT o_custkey, count(*) AS sales,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS sales_value
       FROM orders GROUP BY 1)
       SELECT c_custkey, coalesce(sales, 0) AS sales,
              coalesce(sales_value, 0.0) AS sales_value,
              least(greatest(50
                + CASE WHEN coalesce(sales,0) > 5 THEN -30 ELSE 0 END
                + CASE WHEN coalesce(sales,0) = 0 THEN 20 ELSE 0 END
                + CASE WHEN c_acctbal < 0 THEN 30 ELSE 0 END, 0), 100) AS trust_risk
       FROM customer LEFT JOIN s ON c_custkey = o_custkey"""

  // ---------------------------------------------------------------
  // f16/f08b: seller review-stats aggregation (poller.py:181-216
  // get_user_reviews_stats) + trust scoring fed end-to-end from it.
  // The reference fetches each seller's reviews and averages
  // review.scoring (0-100) into 0-5 stars; here a reviews-shaped
  // table aggregates distributed (one partial-agg'd shuffle on
  // seller_id) and the SAME sellerTrustAdjust consumes the result —
  // at 100 TB the reviews table shuffles once and the per-seller
  // aggregate broadcast-joins back to items.
  // ---------------------------------------------------------------

  /** Per-seller review stats from a reviews-shaped frame (seller_id,
    * scoring 0-100): count + avg stars — ((total/count/100)*5 rounded
    * to 2, python-parity), exactly poller.py:206-212. */
  def reviewStats(reviews: DataFrame, sellerCol: String = "seller_id",
      scoringCol: String = "scoring"): DataFrame = {
    val s = reviews.sparkSession
    reviews.groupBy(col(sellerCol))
      .agg(count(lit(1)).as("review_count"),
        graft.plans.GraftFunctions.pyRound(s,
          sum(col(scoringCol)).cast("double") / count(lit(1)) / 100 * 5, 2)
          .as("avg_stars"))
  }

  /** Deterministic reviews-shaped frame synthesized from orders: each
    * order is one review of its customer-as-seller, scoring derived
    * from the order key. */
  def syntheticReviews(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_custkey").as("seller_id"),
      (col("o_orderkey") * 7 % 101).as("scoring"),
      col("o_orderdate").as("reviewed_at"))

  /** Oracle face of the review aggregation: identity rounding so raw
    * doubles compare exactly across engines (the pyRound face is
    * reviewStats; parity spec'd in FraudSpec). */
  def f16(s: SparkSession, dir: String): DataFrame =
    syntheticReviews(s, dir).groupBy(col("seller_id"))
      .agg(count(lit(1)).as("review_count"),
        (sum(col("scoring")).cast("double") / count(lit(1)) / 100 * 5)
          .as("avg_stars"))

  val f16Sql: String =
    """SELECT o_custkey AS seller_id, count(*) AS review_count,
       CAST(sum(o_orderkey * 7 % 101) AS DOUBLE) / count(*) / 100 * 5 AS avg_stars
       FROM orders GROUP BY 1"""

  /** Trust scoring fed entirely from aggregated review stats: the
    * reference's per-item enrichment loop (poller.py:652-702) as one
    * join + codegen'd arithmetic. Factors surface as a joined string
    * (arrays don't hash stably across engines in the driver gate). */
  def f08b(s: SparkSession, dir: String): DataFrame = {
    val rev = syntheticReviews(s, dir).groupBy(col("seller_id"))
      .agg(count(lit(1)).as("review_count"),
        (sum(col("scoring")).cast("double") / count(lit(1)) / 100 * 5)
          .as("avg_stars"),
        datediff(to_date(lit("1999-01-01")),
          to_date(min(col("reviewed_at")))).as("age_days"))
    val j = Tables.customer(s, dir)
      .join(rev, col("c_custkey") === col("seller_id"), "left")
      .select(col("c_custkey"),
        coalesce(col("review_count"), lit(0L)).as("review_count"),
        coalesce(col("avg_stars"), lit(0.0)).as("avg_stars"),
        coalesce(col("age_days"), lit(400)).as("age_days"),
        (col("c_acctbal") > 9900).as("is_top"),
        when(col("c_custkey") % 97 === 0, 1).otherwise(0).as("scams"))
    val (score, factors) = sellerTrustAdjust(lit(50), col("review_count"),
      col("avg_stars"), col("is_top"), col("age_days"), col("scams"))
    j.select(col("c_custkey"), col("review_count"), col("avg_stars"),
      score.as("trust_score"), array_join(factors, "|").as("factors_str"))
  }

  val f08bSql: String =
    """WITH rev AS (
         SELECT o_custkey AS seller_id, count(*) AS review_count,
           CAST(sum(o_orderkey * 7 % 101) AS DOUBLE) / count(*) / 100 * 5 AS avg_stars,
           date_diff('day', CAST(min(o_orderdate) AS DATE), DATE '1999-01-01') AS age_days
         FROM orders GROUP BY 1),
       j AS (
         SELECT c_custkey, coalesce(review_count, 0) AS review_count,
           coalesce(avg_stars, 0.0) AS avg_stars,
           coalesce(age_days, 400) AS age_days,
           (c_acctbal > 9900) AS is_top,
           CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END AS scams
         FROM customer LEFT JOIN rev ON c_custkey = seller_id)
       SELECT c_custkey, review_count, avg_stars,
         least(greatest(CASE WHEN scams > 0 THEN 100 ELSE
             50 + CASE WHEN review_count > 5 AND avg_stars >= 4.5 THEN -30 ELSE 0 END
                + CASE WHEN is_top THEN -50 ELSE 0 END
                + CASE WHEN age_days < 3 THEN 30 ELSE 0 END
                + CASE WHEN age_days > 365 AND review_count = 0 THEN 20 ELSE 0 END
           END, 0), 100) AS trust_score,
         coalesce(array_to_string(list_filter([
             CASE WHEN review_count > 5 AND avg_stars >= 4.5
                  THEN 'Trusted Seller (' || CAST(review_count AS VARCHAR) || '+ reviews)' END,
             CASE WHEN is_top THEN 'TOP SELLER' END,
             CASE WHEN age_days < 3 THEN 'New User' END,
             CASE WHEN age_days > 365 AND review_count = 0 THEN 'Dormant Account' END,
             CASE WHEN scams > 0 THEN 'REPORTED SCAMMER' END],
           x -> x IS NOT NULL), '|'), '') AS factors_str
       FROM j"""

  /** The reference's exact seller-reputation adjustments
    * (poller.py:669-702), as pure column arithmetic over enrichment
    * signals. Returns (adjusted score, factor list). The reference
    * enriches only already-suspicious items (poller.py:654-661) — at
    * scale that's a semi-join-pruned broadcast lookup, not a per-item
    * API call.
    */
  def sellerTrustAdjust(base: Column, sales: Column, stars: Column,
      isTop: Column, accountAgeDays: Column, scamReports: Column): (Column, Column) = {
    val trusted = sales > 5 && stars >= 4.5
    val newUser = accountAgeDays < 3
    val dormant = accountAgeDays > 365 && sales === 0
    val scammer = scamReports > 0
    val adjusted = base +
      when(trusted, -30).otherwise(0) +
      when(isTop, -50).otherwise(0) +
      when(newUser, 30).otherwise(0) +
      when(dormant, 20).otherwise(0)
    val score = least(greatest(when(scammer, 100).otherwise(adjusted), lit(0)), lit(100))
    val factors = filter(array(
      when(trusted, concat(lit("Trusted Seller ("), sales.cast("string"), lit("+ reviews)"))),
      when(isTop, "TOP SELLER"),
      when(newUser, "New User"),
      when(dormant, "Dormant Account"),
      when(scammer, "REPORTED SCAMMER")), _.isNotNull)
    (score, factors)
  }

  // ---------------------------------------------------------------
  // f09: the poller's rolling 24 h cutoff (poller.py:540,585-592):
  // keep only events within 24 h of the newest, count per type.
  // ---------------------------------------------------------------
  def f09(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val cutoff = e.agg(max(unix_micros(col("ts"))).as("max_us"))
    e.crossJoin(broadcast(cutoff))
      .filter(unix_micros(col("ts")) >= col("max_us") - lit(86400000000L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
  }

  val f09Sql: String =
    """SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
       FROM events
       WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) FROM events) - 86400000000
       GROUP BY 1"""

  // ---------------------------------------------------------------
  // f10: Kibana's "top risk factors" terms aggregation — factor
  // frequencies across the scored corpus.
  // ---------------------------------------------------------------
  def f10(s: SparkSession, dir: String): DataFrame = {
    val r = f04WithFactors(s, dir)
    r.select(explode(col("risk_factors")).as("factor"))
      .groupBy(col("factor"))
      .agg(count(lit(1)).as("n"))
  }

  /** f04 plus the reference's risk_factors array (built as a filtered
    * array of CASE strings — the Spark shape of ES's keyword list).
    */
  def f04WithFactors(s: SparkSession, dir: String): DataFrame = {
    // p_name rides along from f04's own scan — no second part scan,
    // no p_partkey re-join (which would cost two shuffles at scale).
    f04Cached(s, dir)
      .withColumn("risk_factors", filter(array(
        when(col("price") < 5.0, "Symbolic Price"),
        when(col("price") >= 5.0 && col("composite_z") < -1.5, "Statistically Cheap"),
        when(col("price") >= 5.0 && col("composite_z") < -2.5, "EXTREME Price Anomaly"),
        when(col("price") >= 5.0 && col("estimated_value") > 0 &&
          col("price") < col("estimated_value") * 0.4, "Price vs Estimate"),
        when(col("price") >= 5.0 && length(col("p_name")) < 9 && col("price") > 1000, "Short Desc"),
        when(col("price") >= 5.0 && col("p_name").rlike("red|hot"), "External Contact")),
        _.isNotNull))
  }

  val f10Sql: String =
    s"""$f04Ctes, f AS (
       SELECT 'Symbolic Price' AS factor, count(*) AS n FROM scored WHERE price < 5.0
       UNION ALL SELECT 'Statistically Cheap', count(*) FROM scored WHERE price >= 5.0 AND composite_z < -1.5
       UNION ALL SELECT 'EXTREME Price Anomaly', count(*) FROM scored WHERE price >= 5.0 AND composite_z < -2.5
       UNION ALL SELECT 'Price vs Estimate', count(*) FROM scored WHERE price >= 5.0 AND estimated_value > 0 AND price < estimated_value * 0.4
       UNION ALL SELECT 'Short Desc', count(*) FROM scored
         WHERE price >= 5.0 AND length((SELECT p_name FROM part WHERE part.p_partkey = scored.p_partkey)) < 9 AND price > 1000
       UNION ALL SELECT 'External Contact', count(*) FROM scored
         WHERE price >= 5.0 AND regexp_matches((SELECT p_name FROM part WHERE part.p_partkey = scored.p_partkey), 'red|hot'))
       SELECT factor, n FROM f WHERE n > 0"""

  // ---------------------------------------------------------------
  // f14: Kibana's risk_factor_normalized runtime field
  // (kibana/dashboard_export.ndjson runtimeFieldMap): per-factor
  // normalization — positive factors (Trusted Seller / TOP SELLER)
  // are skipped entirely, known factors map to canonical dashboard
  // labels via an ordered contains-chain, keyword factors explode
  // into one quoted emit per keyword, everything else passes through.
  // A narrow map + explode + one partial-agg'd groupBy — no extra
  // shuffle beyond the terms agg itself.
  // ---------------------------------------------------------------

  /** The ordered contains→label chain of the painless script (order
    * matters: an earlier match wins). */
  private val FactorLabelChain: Seq[(Seq[String], String)] = Seq(
    Seq("Price is <40%") -> "Critical Price Drop (<40% val.)",
    Seq("Statistically Cheap") -> "Statistically Cheap (Z-Score)",
    Seq("EXTREME Price Anomaly") -> "EXTREME Price Anomaly",
    Seq("External Contact") -> "External Contact Attempt",
    Seq("Very Short Description") -> "Low Quality Desc.",
    Seq("Low Image Count") -> "Missing Photos (0-1)",
    Seq("Aggressive Title") -> "Aggressive Title (CAPS)",
    Seq("Risky Payment") -> "Risky Payment Method",
    Seq("User registered", "New User") -> "New User (<48h)",
    Seq("User has Scam Reports") -> "User Reported as Scam",
    Seq("No Reviews", "Dormant Account") -> "No Reputation / Dormant")

  /** Per-factor emit list: [] for positives, [label] for mapped
    * factors, one quoted entry per keyword for keyword factors
    * (content between first '[' and last ']', else after the first
    * ':'; quotes stripped, comma-split, trimmed), [factor] fallback. */
  private def normalizedEmits(f: Column): Column = {
    val bracket = regexp_extract(f, "\\[(.*)\\]", 1)
    val content = when(bracket =!= "", bracket)
      .when(f.contains(":"), f.substr(instr(f, ":") + 1, length(f)))
      .otherwise(f)
    val kws = transform(
      filter(transform(split(translate(content, "'\"", ""), ","), k => trim(k)),
        k => length(k) > 0),
      k => concat(lit("\""), k, lit("\"")))
    val mapped = FactorLabelChain.foldLeft(
      when(f.contains("Trusted Seller") || f.contains("TOP SELLER"),
        array().cast("array<string>"))) { case (chain, (needles, label)) =>
      chain.when(needles.map(f.contains).reduce(_ || _), array(lit(label)))
    }
    mapped
      .when(f.contains("Suspicious keywords") || f.contains("Keyword found"), kws)
      .otherwise(array(f))
  }

  /** Normalize an array-of-factors column — the Spark face of the
    * runtime field (one emit list per factor, flattened). */
  def normalizeRiskFactors(factors: Column): Column =
    flatten(transform(factors, f => normalizedEmits(f)))

  /** Deterministic factor corpus exercising every script branch:
    * factor1 cycles through all 14 branches, factor2 plants a positive
    * factor (skipped by normalization) on every 5th row. */
  def f14(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val f1 = when(k % 14 === 0, "Price is <40% of estimated value")
      .when(k % 14 === 1, "Statistically Cheap (z=-1.8)")
      .when(k % 14 === 2, "EXTREME Price Anomaly detected")
      .when(k % 14 === 3, "External Contact: whatsapp detected")
      .when(k % 14 === 4, "Very Short Description")
      .when(k % 14 === 5, "Low Image Count (1)")
      .when(k % 14 === 6, "Aggressive Title (ALL CAPS)")
      .when(k % 14 === 7, "Risky Payment: bizum only")
      .when(k % 14 === 8, "New User (registered 3h ago)")
      .when(k % 14 === 9, "User has Scam Reports")
      .when(k % 14 === 10, "No Reviews on profile")
      .when(k % 14 === 11, "Suspicious keywords found: ['whatsapp', 'bizum']")
      .when(k % 14 === 12, "Keyword found: wallapay")
      .otherwise("Unmapped custom factor")
    val factors = when(k % 5 === 0,
        array(f1, lit("Trusted Seller (20+ reviews)")))
      .otherwise(array(f1))
    // explode-first shape: running normalizedEmits on the exploded
    // factor keeps the 14-branch contains-chain a top-level codegen'd
    // expression; the array face (normalizeRiskFactors) would run it
    // inside a transform() lambda — interpreted per element
    Tables.orders(s, dir)
      .select(explode(factors).as("_f"))
      .select(explode(normalizedEmits(col("_f"))).as("factor_normalized"))
      .groupBy(col("factor_normalized"))
      .agg(count(lit(1)).as("n"))
  }

  // NON-interpolated raw string: the regex backslashes must reach
  // DuckDB untouched (see the f12b escape incident)
  val f14Sql: String =
    """WITH base AS (SELECT o_orderkey AS k FROM orders),
       f1 AS (SELECT k,
         CASE k % 14
           WHEN 0 THEN 'Price is <40% of estimated value'
           WHEN 1 THEN 'Statistically Cheap (z=-1.8)'
           WHEN 2 THEN 'EXTREME Price Anomaly detected'
           WHEN 3 THEN 'External Contact: whatsapp detected'
           WHEN 4 THEN 'Very Short Description'
           WHEN 5 THEN 'Low Image Count (1)'
           WHEN 6 THEN 'Aggressive Title (ALL CAPS)'
           WHEN 7 THEN 'Risky Payment: bizum only'
           WHEN 8 THEN 'New User (registered 3h ago)'
           WHEN 9 THEN 'User has Scam Reports'
           WHEN 10 THEN 'No Reviews on profile'
           WHEN 11 THEN 'Suspicious keywords found: [''whatsapp'', ''bizum'']'
           WHEN 12 THEN 'Keyword found: wallapay'
           ELSE 'Unmapped custom factor' END AS factor FROM base),
       fac AS (SELECT factor FROM f1
               UNION ALL
               SELECT 'Trusted Seller (20+ reviews)' FROM base WHERE k % 5 = 0),
       emits AS (SELECT CASE
           WHEN contains(factor, 'Trusted Seller') OR contains(factor, 'TOP SELLER') THEN []::VARCHAR[]
           WHEN contains(factor, 'Price is <40%') THEN ['Critical Price Drop (<40% val.)']
           WHEN contains(factor, 'Statistically Cheap') THEN ['Statistically Cheap (Z-Score)']
           WHEN contains(factor, 'EXTREME Price Anomaly') THEN ['EXTREME Price Anomaly']
           WHEN contains(factor, 'External Contact') THEN ['External Contact Attempt']
           WHEN contains(factor, 'Very Short Description') THEN ['Low Quality Desc.']
           WHEN contains(factor, 'Low Image Count') THEN ['Missing Photos (0-1)']
           WHEN contains(factor, 'Aggressive Title') THEN ['Aggressive Title (CAPS)']
           WHEN contains(factor, 'Risky Payment') THEN ['Risky Payment Method']
           WHEN contains(factor, 'User registered') OR contains(factor, 'New User') THEN ['New User (<48h)']
           WHEN contains(factor, 'User has Scam Reports') THEN ['User Reported as Scam']
           WHEN contains(factor, 'No Reviews') OR contains(factor, 'Dormant Account') THEN ['No Reputation / Dormant']
           WHEN contains(factor, 'Suspicious keywords') OR contains(factor, 'Keyword found') THEN
             list_transform(
               list_filter(
                 list_transform(
                   string_split(replace(replace(
                     CASE WHEN regexp_extract(factor, '\[(.*)\]', 1) <> ''
                            THEN regexp_extract(factor, '\[(.*)\]', 1)
                          WHEN contains(factor, ':')
                            THEN substr(factor, instr(factor, ':') + 1)
                          ELSE factor END, '''', ''), '"', ''), ','),
                   x -> trim(x)),
                 x -> length(x) > 0),
               x -> '"' || x || '"')
           ELSE [factor] END AS e FROM fac)
       SELECT fn AS factor_normalized, count(*) AS n
       FROM (SELECT unnest(e) AS fn FROM emits)
       GROUP BY 1"""

  // ---------------------------------------------------------------
  // f15: Kibana's modified_after_one_day runtime field — boolean
  // (modified_at − created_at) > 24 h, histogrammed per created-day.
  // modified_at is synthesized deterministically from the event id.
  // ---------------------------------------------------------------
  def f15(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("modified_at",
        timestamp_add("HOUR", col("event_id") % 50, col("ts")))
    e.withColumn("modified_after_one_day",
        unix_micros(col("modified_at")) - unix_micros(col("ts")) > 86400000000L)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("modified_after_one_day"))
      .agg(count(lit(1)).as("n"))
  }

  val f15Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
       (epoch_us(ts + to_hours(event_id % 50)) - epoch_us(ts)) > 86400000000 AS modified_after_one_day,
       count(*) AS n
       FROM events GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // f11: full-fidelity spec extraction (Java-regex lookaheads) over a
  // deterministically synthesized hardware listing text. Rows-only
  // driver check; exact semantics covered by TextSpecsSpec.
  // ---------------------------------------------------------------
  private[graft] def f11Base(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val title = concat(col("p_name"),
      when(col("p_partkey") % 5 === 0, lit(" macbook pro m2 max 16gb"))
        .when(col("p_partkey") % 5 === 1,
          concat(lit(" gaming intel core i7 rtx 4070 "),
            (col("p_size") % 48 + 8).cast("string"), lit("gb ram")))
        .when(col("p_partkey") % 5 === 2, lit(" thinkpad amd ryzen 7 32gb 512 gb ssd"))
        .when(col("p_partkey") % 5 === 3, lit(" chromebook celeron 8gb nuevo precintado"))
        .otherwise(lit(" portatil para piezas no enciende")))
    val desc = when(col("p_partkey") % 2 === 0,
      lit("impecable con factura. ssd m.2 1tb"))
      .otherwise(lit("envio rapido\nrtx gtx amd intel ryzen i7 ps5 xbox iphone"))
    p.select(col("p_partkey"), title.as("title"), desc.as("description"))
  }

  def f11(s: SparkSession, dir: String): DataFrame =
    TextSpecs.withSpecs(f11Base(s, dir), col("title"), col("description"))
      .select(col("p_partkey"), col("cpu"), col("ram"), col("gpu"),
        col("category"), col("condition"))

  // ---------------------------------------------------------------
  // f11b: the RE2-safe extraction CORE twin (r17 verdict item 5) —
  // the d04b/f12b/f13b pattern applied to spec extraction. Same
  // synthesized corpus, same scan/cascade machinery (TextSpecs
  // .coreSpecs), the RAM lookahead replaced by the neutralize+scan
  // twin — every pattern RE2-expressible, so the DuckDB oracle
  // replays the whole extraction arithmetic hash-exact.
  // ---------------------------------------------------------------
  def f11b(s: SparkSession, dir: String): DataFrame =
    TextSpecs.coreSpecs(f11Base(s, dir), col("title"), col("description"))
      .select(col("p_partkey"), col("cpu"), col("ram"), col("gpu"),
        col("category"), col("condition"))

  // ---------------------------------------------------------------
  // f21: robust price anomalies — median/MAD outlier detection
  // (Iglewicz–Hoaglin modified z-score), the heavy-tail-safe upgrade
  // of f03's mean/stdev z: a handful of scam prices inflate a stdev
  // enough to hide themselves (masking), while the median and MAD
  // are 50%-breakdown estimators — the planted 6x markups and 0.1x
  // too-good-to-be-true prices can't perturb them. Two passes by
  // construction (MAD needs the median first), each the same
  // combiner-friendly value-counts median machinery f01 uses; the
  // per-category med/MAD tables are tiny and broadcast back.
  // ---------------------------------------------------------------

  /** Iglewicz–Hoaglin consistency constant (0.6745 ≈ Φ⁻¹(3/4): makes
    * MAD-based z comparable to a stdev z under normality). */
  val MadK = 0.6745
  val MadThreshold = 3.5

  /** Rows of `p` (item_id, category, price) whose modified z-score
    * MadK*|price − median|/MAD exceeds `k` within their category. */
  def madAnomalies(p: DataFrame, k: Double = MadThreshold): DataFrame = {
    val med = groupMedian(p.select(col("category"), col("price")),
      Seq("category"), "price", "med")
    val d = p.join(broadcast(med), "category")
      .withColumn("dev", abs(col("price") - col("med")))
      .transform(graft.CacheRegistry.register)
    val mad = groupMedian(d.select(col("category"), col("dev")),
      Seq("category"), "dev", "mad")
    val rz = lit(MadK) * col("dev") / col("mad")
    d.join(broadcast(mad), "category")
      .filter(col("mad") > 0 && rz > lit(k))
      .select(col("item_id"), col("category"), col("price"), col("med"),
        col("mad"), round(rz, 6).as("robust_z"))
  }

  /** Face: planted fraud-shaped outliers (6x scam markup on %97 keys,
    * 0.1x hidden-price bait on %89) over the formulaic TPC-H prices —
    * the detector must recover exactly the planted set (43 rows at
    * sf0.01, zero false positives). */
  def f21(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(
      col("p_partkey").as("item_id"), col("p_brand").as("category"),
      when(col("p_partkey") % 97 === 0,
        col("p_retailprice").cast("double") * lit(6.0))
        .when(col("p_partkey") % 89 === 0,
          col("p_retailprice").cast("double") * lit(0.1))
        .otherwise(col("p_retailprice").cast("double")).as("price"))
    madAnomalies(p)
  }

  val f21Sql: String =
    """WITH p AS (SELECT p_partkey AS item_id, p_brand AS category,
             CASE WHEN p_partkey % 97 = 0 THEN CAST(p_retailprice AS DOUBLE) * CAST('6.0' AS DOUBLE)
                  WHEN p_partkey % 89 = 0 THEN CAST(p_retailprice AS DOUBLE) * CAST('0.1' AS DOUBLE)
                  ELSE CAST(p_retailprice AS DOUBLE) END AS price FROM part),
       r AS (SELECT category, price, row_number() OVER (PARTITION BY category ORDER BY price) AS rn,
               count(*) OVER (PARTITION BY category) AS cnt FROM p),
       m AS (SELECT category, sum(price)/count(*) AS med FROM r
             WHERE rn = (cnt+1)//2 OR rn = (cnt+2)//2 GROUP BY 1),
       d AS (SELECT item_id, p.category, price, med, abs(price - med) AS dev
             FROM p JOIN m ON p.category = m.category),
       r2 AS (SELECT category, dev, row_number() OVER (PARTITION BY category ORDER BY dev) AS rn,
                count(*) OVER (PARTITION BY category) AS cnt FROM d),
       m2 AS (SELECT category, sum(dev)/count(*) AS mad FROM r2
              WHERE rn = (cnt+1)//2 OR rn = (cnt+2)//2 GROUP BY 1)
       SELECT item_id, d.category, price, med, mad,
         round(CAST('0.6745' AS DOUBLE)*dev/mad, 6) AS robust_z
       FROM d JOIN m2 ON d.category = m2.category
       WHERE mad > 0 AND CAST('0.6745' AS DOUBLE)*dev/mad > CAST('3.5' AS DOUBLE)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f21_price_anomaly" -> (f21 _),
    "f01_market_stats" -> (f01 _),
    "f02_component_stats" -> (f02 _),
    "f03_zscore" -> (f03 _),
    "f04_risk_score" -> (f04 _),
    "f05_high_risk_alerts" -> (f05 _),
    "f06_hidden_price" -> (f06 _),
    "f07_categorize" -> (f07 _),
    "f08_seller_trust" -> (f08 _),
    "f09_recent_window" -> (f09 _),
    "f10_top_risk_factors" -> (f10 _),
    "f11_extract_specs" -> (f11 _),
    "f11b_extract_core" -> (f11b _),
    "f14_factor_normalized" -> (f14 _),
    "f15_modified_after_1d" -> (f15 _),
    "f16_review_stats" -> (f16 _),
    "f08b_trust_from_reviews" -> (f08b _))


  /** The f11b oracle: the coreSpecs cascade replayed in DuckDB —
    * every scan/cascade stage as a CTE, RE2 throughout (global-flag
    * regexp_replace where Spark's is global by default; list lambdas
    * for the scan arithmetic). */
  val f11bSql: String =
    """WITH base AS (
  SELECT p_partkey,
    p_name || CASE
      WHEN p_partkey % 5 = 0 THEN ' macbook pro m2 max 16gb'
      WHEN p_partkey % 5 = 1 THEN ' gaming intel core i7 rtx 4070 ' || CAST(p_size % 48 + 8 AS VARCHAR) || 'gb ram'
      WHEN p_partkey % 5 = 2 THEN ' thinkpad amd ryzen 7 32gb 512 gb ssd'
      WHEN p_partkey % 5 = 3 THEN ' chromebook celeron 8gb nuevo precintado'
      ELSE ' portatil para piezas no enciende' END AS title,
    CASE WHEN p_partkey % 2 = 0 THEN 'impecable con factura. ssd m.2 1tb'
         ELSE 'envio rapido' || chr(10) || 'rtx gtx amd intel ryzen i7 ps5 xbox iphone' END AS description
  FROM part),
t0 AS (
  SELECT p_partkey,
    lower(regexp_replace(regexp_replace(title || ' ' || chr(10) || ' ' || description,
      '(?i)\b(ssd|disco|disk|drive|almacenamiento)\s+m\.?2\b', '\1_NVME', 'g'),
      '(?i)\bm\.?2\s+(ssd|nvme|sata)\b', 'NVME_\1', 'g')) AS t
  FROM base),
s1 AS (
  SELECT p_partkey, t,
    list_transform(list_filter(regexp_extract_all(t, '\b(?:core\s*-?)?(i[3579])\b', 0),
      m -> NOT starts_with(m, 'core')), m -> upper(regexp_extract(m, '(i[3579])', 1)))
      || list_transform(regexp_extract_all(t, '\bryzen\s*-?([3579])\b', 1), d -> 'RYZEN' || d)
      || list_transform(regexp_extract_all(t, '\b(celeron|pentium|atom|xeon|snapdragon|sq[123])\b', 1), m -> upper(m)) AS pc,
    list_transform(regexp_extract_all(t, '\b(m[123])(\s+(?:pro|max|ultra))?\b', 0),
      m -> upper(regexp_replace(trim(m), '\s+', ' ', 'g'))) AS ap,
    regexp_extract(t, '\b(intel|amd|apple|qualcomm|microsoft)\b', 1) AS cb,
    list_transform(regexp_extract_all(t, '\b((?:rtx|gtx|rx)\s*-?\d{3,4}[a-z]*)\b', 1), m -> upper(m)) AS gm,
    regexp_extract(t, '\b(nvidia|amd|radeon|geforce)\b', 1) AS gb,
    list_filter(list_transform(regexp_extract_all(
        regexp_replace(t, '\b\d+\s*(?:gb|gigas?)\b\s*(?:[\.,\-\/]\s*)?(?:de\s+)?(?:ssd|hdd|emmc|rom|almacenamiento|storage|disco|nvme|flash|interno|interna)\b', 'storage', 'g'),
        '\b(\d+)\s*(?:gb|gigas?)\b', 1), v -> CAST(v AS INT)),
      v -> list_contains([4,6,8,12,16,20,24,32,40,48,64], v) AND v <= 128) AS rv
  FROM t0),
s2 AS (
  SELECT *,
    (len(list_filter(pc, m -> regexp_matches(m, '^I\d$') OR contains(m, 'RYZEN'))) > 0
      OR cb IN ('intel', 'amd')) AS haspc
  FROM s1),
s3 AS (
  SELECT *, CASE WHEN len(ap) > 0 AND NOT haspc THEN ap ELSE pc END AS models,
    (len(ap) > 0 AND NOT haspc) AS isapple
  FROM s2),
s4 AS (
  SELECT *, list_max(models) AS best,
    CASE WHEN isapple OR regexp_matches(list_max(models), '^M[123]') THEN 'APPLE'
         WHEN contains(list_max(models), 'RYZEN') THEN 'AMD'
         WHEN regexp_matches(list_max(models), '^I\d') THEN 'INTEL'
         WHEN regexp_matches(list_max(models), 'CELERON|PENTIUM|ATOM|XEON') THEN 'INTEL'
         WHEN regexp_matches(list_max(models), 'SNAPDRAGON|SQ[123]') THEN 'QUALCOMM'
         ELSE CASE WHEN upper(cb) <> '' THEN upper(cb) END END AS cbrand
  FROM s3),
s5 AS (
  SELECT *,
    CASE WHEN len(models) > 0 THEN
      CASE WHEN cbrand = 'APPLE' THEN 'APPLE ' ||
             (CASE WHEN regexp_matches(best, '^RYZEN\d') THEN regexp_replace(best, 'RYZEN', 'RYZEN ') ELSE best END)
           WHEN cbrand IS NOT NULL THEN cbrand || ' ' ||
             (CASE WHEN regexp_matches(best, '^RYZEN\d') THEN regexp_replace(best, 'RYZEN', 'RYZEN ') ELSE best END)
           ELSE (CASE WHEN regexp_matches(best, '^RYZEN\d') THEN regexp_replace(best, 'RYZEN', 'RYZEN ') ELSE best END) END
    END AS cpu0,
    list_max(gm) AS gbest0
  FROM s4),
s6 AS (
  SELECT *,
    CASE WHEN NOT contains(gbest0, ' ') AND regexp_matches(gbest0, '^[A-Z]+\d')
         THEN regexp_replace(gbest0, '^([A-Z]+)(\d.*)$', '\1 \2') ELSE gbest0 END AS gbest
  FROM s5),
s7 AS (
  SELECT *,
    CASE WHEN regexp_matches(gbest, 'RTX|GTX|MX|QUADRO') THEN 'NVIDIA'
         WHEN regexp_matches(gbest, '\bRX\b|RADEON|FIREPRO') THEN 'AMD'
         ELSE CASE WHEN upper(gb) = 'GEFORCE' THEN 'NVIDIA'
                   WHEN upper(gb) <> '' THEN upper(gb) END END AS gbrand
  FROM s6),
s8 AS (
  SELECT *,
    CASE WHEN len(gm) > 0 THEN
      CASE WHEN gbrand IS NOT NULL THEN gbrand || ' ' || trim(regexp_replace(gbest, gbrand, '', 'g'))
           ELSE gbest END
    END AS gpu
  FROM s7),
s9 AS (
  SELECT *,
    CASE WHEN contains(t, 'chromebook') THEN 'CHROMEBOOK'
         WHEN regexp_matches(t, 'macbook|mac air|mac pro|imac') THEN 'APPLE'
         WHEN contains(t, 'surface') THEN 'SURFACE'
         WHEN contains(upper(coalesce(cpu0, '')), 'APPLE M') THEN 'APPLE'
         WHEN contains(lower(coalesce(gpu, '')), 'quadro') THEN 'WORKSTATION'
         WHEN gpu IS NOT NULL THEN 'GAMING'
         WHEN (contains(t, 'macbook') OR contains(t, 'macos'))
              AND NOT contains(upper(coalesce(cpu0, '')), 'AMD') THEN 'APPLE'
         ELSE coalesce(
           CASE WHEN regexp_matches(t, '\b(surface|microsoft surface)\b') THEN 'SURFACE' END,
           CASE WHEN regexp_matches(t, '\b(thinkpad|latitude|precision|zbook|quadro|elitebook|probook)\b') THEN 'WORKSTATION' END,
           CASE WHEN regexp_matches(t, '\b(xps|spectre|zenbook|gram|yoga|matebook)\b') THEN 'PREMIUM_ULTRABOOK' END,
           CASE WHEN regexp_matches(t, '\b(chromebook|chrome)\b') THEN 'CHROMEBOOK' END,
           CASE WHEN contains(t, 'gaming') THEN 'GAMING' END,
           'GENERICO') END AS category
  FROM s8),
s10 AS (
  SELECT *,
    CASE WHEN category = 'CHROMEBOOK' THEN 16 WHEN category = 'SURFACE' THEN 32
         WHEN category = 'PREMIUM_ULTRABOOK' THEN 64 WHEN category = 'GENERICO' THEN 64
         ELSE 128 END AS ramlimit
  FROM s9)
SELECT p_partkey,
  CASE WHEN category = 'CHROMEBOOK' AND contains(coalesce(cpu0, ''), 'I7')
       THEN CASE WHEN contains(t, 'celeron') THEN 'INTEL CELERON'
                 WHEN contains(t, 'pentium') THEN 'INTEL PENTIUM'
                 ELSE cpu0 END
       ELSE cpu0 END AS cpu,
  CASE WHEN len(list_filter(rv, v -> v <= ramlimit)) > 0
       THEN CAST(list_max(list_filter(rv, v -> v <= ramlimit)) AS VARCHAR) || 'GB' END AS ram,
  gpu, category,
  CASE WHEN regexp_matches(t, '(?i)\b(roto|averiado|fallo|bloqueado|icloud|bios|pantalla rota|no enciende|no funciona|para piezas|despiece|repuesto|tarada|golpe|mojado|water|broken|parts|read|leer|reparar)\b') THEN 'BROKEN'
       WHEN regexp_matches(t, '(?i)\b(nuevo|precintado|sin abrir|estrenar|sealed|new|garantia|factura)\b') THEN 'NEW'
       WHEN regexp_matches(t, '(?i)\b(como nuevo|impecable|perfecto estado|reacondicionado|refurbished|poquisimo uso|sin uso)\b') THEN 'LIKE_NEW'
       ELSE 'USED' END AS condition
FROM s10"""

  val oracles: Map[String, String] = Map(
    "f21_price_anomaly" -> f21Sql,
    "f11b_extract_core" -> f11bSql,
    "f01_market_stats" -> f01Sql,
    "f02_component_stats" -> f02Sql,
    "f03_zscore" -> f03Sql,
    "f04_risk_score" -> f04Sql,
    "f05_high_risk_alerts" -> f05Sql,
    "f06_hidden_price" -> f06Sql,
    "f07_categorize" -> f07Sql,
    "f08_seller_trust" -> f08Sql,
    "f09_recent_window" -> f09Sql,
    "f10_top_risk_factors" -> f10Sql,
    "f14_factor_normalized" -> f14Sql,
    "f15_modified_after_1d" -> f15Sql,
    "f16_review_stats" -> f16Sql,
    "f08b_trust_from_reviews" -> f08bSql)
}
