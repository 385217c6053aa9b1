package graft

import graft.operators.Fraud
import org.apache.spark.sql.functions._

/** Reference-exact seller-trust adjustment semantics
  * (poller.py:669-702) — not oracle-expressible because the test
  * tables carry no reputation columns; checked on synthetic rows. */
class FraudSpec extends SparkSpec {
  import spark.implicits._

  private def score(base: Int, sales: Int, stars: Double, isTop: Boolean,
      ageDays: Int, scamReports: Int): (Int, Seq[String]) = {
    val df = Seq((base, sales, stars, isTop, ageDays, scamReports))
      .toDF("base", "sales", "stars", "is_top", "age", "scams")
    val (s, f) = Fraud.sellerTrustAdjust(col("base"), col("sales"),
      col("stars"), col("is_top"), col("age"), col("scams"))
    val r = df.select(s.as("score"), f.as("factors")).head()
    (r.getInt(0), r.getSeq[String](1))
  }

  test("trusted seller: sales>5 and stars>=4.5 → −30") {
    val (s, f) = score(60, 10, 4.8, isTop = false, ageDays = 500, scamReports = 0)
    assert(s == 30)
    assert(f == Seq("Trusted Seller (10+ reviews)"))
  }

  test("TOP badge → −50, floors at 0") {
    val (s, f) = score(40, 2, 3.0, isTop = true, ageDays = 500, scamReports = 0)
    assert(s == 0)
    assert(f == Seq("TOP SELLER"))
  }

  test("new account < 3 days → +30; dormant (old, zero sales) → +20") {
    assert(score(50, 1, 4.0, isTop = false, ageDays = 1, scamReports = 0)._1 == 80)
    val (s, f) = score(50, 0, 0.0, isTop = false, ageDays = 400, scamReports = 0)
    assert(s == 70)
    assert(f == Seq("Dormant Account"))
  }

  test("scam reports force score 100 regardless of other signals") {
    val (s, f) = score(10, 100, 5.0, isTop = true, ageDays = 2000, scamReports = 1)
    assert(s == 100)
    assert(f.contains("REPORTED SCAMMER"))
  }

  test("cap at 100 after stacked penalties") {
    // base 90 + new-user 30 → clamps to 100 (age<3 can't also be dormant)
    assert(score(90, 0, 0.0, isTop = false, ageDays = 1, scamReports = 0)._1 == 100)
  }

  test("reviewStats: 0-100 scoring → 0-5 stars with python rounding") {
    val reviews = Seq(
      (1L, 80L), (1L, 90L), (1L, 100L), // avg 90 → 4.5 stars
      (2L, 80L), (2L, 85L), // avg 82.5 → 4.125 → banker's-rounds to 4.12
      (3L, 0L)) // 0.0 stars
      .toDF("seller_id", "scoring")
    val got = Fraud.reviewStats(reviews)
      .as[(Long, Long, Double)].collect()
      .map { case (s, c, a) => s -> ((c, a)) }.toMap
    assert(got(1L) == ((3L, 4.5)))
    assert(got(2L) == ((2L, 4.12))) // half-up would give 4.13
    assert(got(3L) == ((1L, 0.0)))
  }

  test("f21: MAD detection recovers exactly the planted price outliers") {
    try {
      // sf0.01: ~80 rows per category — small enough for a spec, large
      // enough that natural TPC-H price spread stays under the 3.5 cut
      // (at sf0.001's ~8-row groups the order statistics are too
      // coarse for a zero-false-positive claim)
      val got = Fraud.f21(spark, sf("sf0.01")).collect()
        .map(r => (r.getLong(0), r.getDouble(5))).toMap
      val planted = Tables.part(spark, sf("sf0.01"))
        .filter(col("p_partkey") % 97 === 0 || col("p_partkey") % 89 === 0)
        .select(col("p_partkey")).collect().map(_.getLong(0)).toSet
      assert(planted.nonEmpty, "vacuous: no planted keys at this sf")
      assert(got.keySet == planted,
        s"expected exactly the planted outliers; missed ${planted -- got.keySet}, " +
          s"false positives ${got.keySet -- planted}")
      assert(got.values.forall(_ > Fraud.MadThreshold))
    } finally CacheRegistry.unpersistAll()
  }

  test("f21 masking resistance: a stdev z at the same cut misses planted outliers") {
    // the reason MAD replaces mean/stdev under heavy tails: the
    // outliers inflate the stdev enough to pull some of themselves
    // under the same 3.5 cut that MAD clears for every planted row
    val priced = Tables.part(spark, sf()).select(
      col("p_partkey").as("item_id"), col("p_brand").as("category"),
      when(col("p_partkey") % 97 === 0, col("p_retailprice").cast("double") * lit(6.0))
        .when(col("p_partkey") % 89 === 0, col("p_retailprice").cast("double") * lit(0.1))
        .otherwise(col("p_retailprice").cast("double")).as("price"))
    try {
      val byStdev = priced
        .withColumn("mu", avg(col("price")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("category"))))
        .withColumn("sd", stddev_samp(col("price")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("category"))))
        .filter(abs(col("price") - col("mu")) / col("sd") > Fraud.MadThreshold)
        .select(col("item_id")).collect().map(_.getLong(0)).toSet
      val planted = Tables.part(spark, sf())
        .filter(col("p_partkey") % 97 === 0 || col("p_partkey") % 89 === 0)
        .select(col("p_partkey")).collect().map(_.getLong(0)).toSet
      assert((planted -- byStdev).nonEmpty,
        "expected the stdev z to mask at least one planted outlier")
    } finally CacheRegistry.unpersistAll()
  }

  test("normalizeRiskFactors mirrors the kibana runtime field branches") {
    val df = Seq(
      (1, Seq("Trusted Seller (5+ reviews)", "Statistically Cheap (z=-2)")),
      (2, Seq("TOP SELLER")),
      (3, Seq("Suspicious keywords found: ['whatsapp', 'bizum']")),
      (4, Seq("Keyword found: wallapay")),
      (5, Seq("User registered 3h ago", "Some novel factor")))
      .toDF("id", "risk_factors")
    val got = df.orderBy("id")
      .select(Fraud.normalizeRiskFactors(col("risk_factors")).as("n"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(
      List("Statistically Cheap (Z-Score)"), // positive factor skipped
      Nil, // only a positive factor → nothing emitted
      List("\"whatsapp\"", "\"bizum\""), // bracket content split+quoted
      List("\"wallapay\""), // colon content
      List("New User (<48h)", "Some novel factor"))) // mapped + fallback
  }

  test("a RAM mention too long for an int is dropped, not a failed query") {
    // the reference int()s the digits and then rejects sizes outside
    // ValidRamSizes; under ANSI a plain cast of "99999999999" aborted
    // the whole extraction (and with it a poll cycle)
    import graft.functions.TextSpecs
    import graft.operators.RiskEngine
    val items = Seq(
      (1L, "portatil 99999999999gb ram", "16gb", 300.0),
      (2L, "portatil 8gb", "99999999999 gb de ram", 250.0),
      (3L, "portatil 16gb", "buen estado", 400.0),
      (4L, "portatil 16gb", "buen estado", 420.0))
      .toDF("item_id", "title", "description", "price")
    def ram(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("item_id").select("ram").as[String].collect().toSeq
    assert(ram(TextSpecs.withSpecs(items, col("title"), col("description"))) ==
      Seq("16GB", "8GB", "16GB", "16GB"))
    assert(ram(TextSpecs.coreSpecs(items, col("title"), col("description"))) ==
      Seq("16GB", "8GB", "16GB", "16GB"))
    val re2 = items.select(TextSpecs.ramFromScan(TextSpecs.ramScanRe2(
      lower(col("title")), lit(128))).as("ram"))
    assert(re2.as[String].collect().toSeq == Seq(null, "8GB", "16GB", "16GB"))
    try {
      val stats = RiskEngine.generateMarketStats(items)
      assert(stats.count() > 0)
    } finally CacheRegistry.unpersistAll()
  }
}
