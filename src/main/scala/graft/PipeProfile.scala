package graft

import org.apache.spark.sql.functions._

/** fp01 stage-split profiler (r18 verdict item 3): attributes the
  * end-to-end fraud-pipeline composition's cost to its stages —
  * NDJSON land, schema'd ingest read, market-stats generation,
  * scoring with hidden-price correction, alert filter — using Bench's
  * noop-sink methodology per stage, each stage consuming the cached
  * output of the previous one so a stage is charged its OWN work.
  * Prints ONE JSON line. Run with SPARK_GRAFT_SF_DIR at sf0.1 and at
  * the sf1 replica dir so composition growth is attributable
  * stage-by-stage (the numbers SURVEY §7 quotes).
  */
object PipeProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt).getOrCreate()
    // the Bench warmup convention, shortened (JIT + codegen infra)
    spark.range(1000000).selectExpr("sum(id * 2)").collect()

    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val root = PidScratch.fresh(spark, "graft-fraudpipe", "profile")
    val c = operators.FraudPipeline.corpus(spark, sfDir)
    val tLand = t { sources.Ingest.writeNdjson(c, root) }
    val items = sources.Ingest.readNdjson(spark, root, c.schema)
      .transform(CacheRegistry.register)
    val tIngest = t { consume(items) } // read + cache fill
    // one cached specced frame feeds both passes, as in
    // FraudPipeline.pipelineFrom: the stats stage fills it
    val specced = functions.TextSpecs
      .withSpecs(items, col("title"), col("description"))
      .transform(CacheRegistry.register)
    val statsRows = operators.RiskEngine.marketStatsOf(specced)
      .transform(CacheRegistry.register)
    val tStats = t { consume(statsRows) } // extraction + aggregation
    val scored = operators.RiskEngine.scoreSpecced(specced, statsRows)
      .transform(CacheRegistry.register)
    val tScore = t { consume(scored) }
    val alerts = scored
      .filter(col("risk_score") >= operators.FraudPipeline.AlertThreshold)
      .select(col("item_id"), col("risk_score"))
    val tAlert = t { consume(alerts) }
    val stages = Seq("land_ndjson" -> tLand, "ingest_read" -> tIngest,
      "stats_generation" -> tStats, "scoring" -> tScore,
      "alert_filter" -> tAlert)
    val qs = stages.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"fp01_stage_split","unit":"sec",""" +
      s""""value":${stages.map(_._2).sum},"stages":$qs,"sf":"$sfDir"}"""
    println(line)
    // persisted artifact (r19 verdict item 7): bench_guard --stages
    // gates the per-stage ceilings off this file, so a 2x stats-stage
    // regression can't hide inside a still-green fp01 composition bar
    try {
      val out = java.nio.file.Paths.get("target", "pipe_profile.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    } catch { case t: Throwable =>
      System.err.println(
        s"[pipeprofile] could not write target/pipe_profile.json: ${t.getMessage}")
    }
    CacheRegistry.unpersistAll()
    spark.stop()
  }
}
