package graft

import graft.operators.{Fraud, FraudPipeline, RiskEngine}
import org.apache.spark.sql.functions._

/** The run_pipeline.sh composition contract (SURVEY §2 fp01/fp02):
  * the one-plan chain must equal its staged individual stages
  * row-for-row, and the oracle-checked fp02 subchain must be exactly
  * the f05 alert set under the enrichment joins. */
class FraudPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("fp01: composed pipeline == staged stages, row-for-row, with " +
      "the hidden-price correction stage live") {
    val dir = sf("sf0.001")
    // start from an empty cache: the hygiene check at the end measures
    // only what this test pinned, not what earlier suites left behind
    graft.CacheRegistry.unpersistAll()
    spark.catalog.clearCache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, String, String, Double, Double, Int, String, Boolean)]
        .collect().toSet
    val composed = rows(FraudPipeline.fp01(spark, dir))

    // staged: each stage run separately on the same corpus, NO NDJSON
    // hop — pins both the chain wiring AND the ingest round-trip
    val c = FraudPipeline.corpus(spark, dir)
    val statsRows = RiskEngine.generateMarketStats(c)
    val scored = RiskEngine.scorePipeline(c, statsRows)
      .transform(graft.CacheRegistry.register)
    val staged = rows(scored
      .filter(col("risk_score") >= FraudPipeline.AlertThreshold)
      .select(col("item_id"), col("price"), col("detected_category"),
        col("detected_condition"), col("composite_z"),
        col("estimated_value"), col("risk_score"),
        array_join(array_sort(col("risk_factors")), "|").as("risk_factors"),
        col("corrected")))
    assert(composed == staged)
    assert(composed.nonEmpty)
    // the symbolic-price stratum actually flowed through correction
    val corrected = scored.filter(col("corrected")).count()
    assert(corrected > 0, "hidden-price correction stage was dead")
    // the f10 FACTORS MART stage of the chain: the per-factor rollup
    // (the Kibana terms-agg shape) over the composed alert output ==
    // the same rollup over the staged stages. Computed from the
    // ALREADY-COLLECTED rows: an explode(split(...)) over the live
    // fp01 plan would inline the whole scoring tree into the
    // Generate node (the documented alias-substitution hazard — it
    // OOM'd this very spec with 199 MB task binaries), and the mart
    // arithmetic under test is the rollup, not the plan
    def mart(rows: Set[(Long, Double, String, String, Double, Double,
        Int, String, Boolean)]): Map[String, Int] =
      rows.toSeq.flatMap(_._8.split('|').filter(_.nonEmpty))
        .groupBy(identity).map { case (f, v) => (f, v.size) }
    val composedMart = mart(composed)
    assert(composedMart == mart(staged) && composedMart.nonEmpty,
      "factors mart drifted between composed and staged")
    graft.CacheRegistry.unpersistAll()
    // the chain's specced cache is registered, so the release above
    // leaves the session as the test found it
    assert(graft.CacheRegistry.registeredCount == 0)
    assert(spark.sharedState.cacheManager.isEmpty, "a cache outlived unpersistAll")
  }

  test("fp01 pins one cache, its specced frame") {
    graft.CacheRegistry.unpersistAll()
    FraudPipeline.fp01(spark, sf("sf0.001")).collect()
    try assert(graft.CacheRegistry.registeredCount == 1)
    finally graft.CacheRegistry.unpersistAll()
  }

  test("fp02: the enriched subchain is exactly the f05 alert set, " +
      "and the enrichment columns agree with f03/f01") {
    val dir = sf("sf0.001")
    val fp = FraudPipeline.fp02(spark, dir)
      .transform(graft.CacheRegistry.register)
    // projection back to f05's columns == f05 itself
    val alertCols = Seq("p_partkey", "price", "composite_z",
      "estimated_value", "risk_score")
    def s5(df: org.apache.spark.sql.DataFrame) =
      df.select(alertCols.map(col): _*)
        .as[(Long, Double, Double, Double, Int)].collect().toSet
    assert(s5(fp) == s5(Fraud.f05(spark, dir)))
    // z_score enrichment agrees with the f03 view wherever defined
    val z = Fraud.f03(spark, dir)
      .select(col("p_partkey"), col("z_score").as("z2"))
    val drift = fp.join(z, "p_partkey")
      .filter(col("z_score") =!= col("z2")).count()
    assert(drift == 0, "z enrichment drifted from f03")
    // median enrichment agrees with f01's segment median
    val seg = Fraud.f01(spark, dir).select(col("category"), col("cond"),
      col("median_price").as("m2"))
    val p = Tables.part(spark, dir).select(col("p_partkey"),
      col("p_brand"), col("p_type"))
    val mdrift = fp.join(p, "p_partkey")
      .join(seg, col("p_brand") === col("category") &&
        col("p_type") === col("cond"))
      .filter(col("median_price") =!= col("m2")).count()
    assert(mdrift == 0, "median enrichment drifted from f01")
    graft.CacheRegistry.unpersistAll()
  }
}
