package graft

import graft.operators.{Fraud, IncrementalStats => IS}
import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental stats maintenance: merging per-slice value-counts
  * states (and retracting expired slices) must reproduce a full
  * recompute EXACTLY — moments and the order-statistic median both.
  * This is the Spark analog of the reference's 10-minute full
  * regenerate (`analist_poller.py` cycle) without the history rescan.
  */
class IncrementalStatsSpec extends SparkSpec {

  private val Keys = Seq("category", "cond")

  private def listings(dir: String): DataFrame =
    Tables.part(spark, sf(dir)).select(col("p_partkey"),
      col("p_brand").as("category"), col("p_type").as("cond"),
      col("p_retailprice").as("price"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("merge of 3-way split state == direct value counts") {
    val p = listings("sf0.001")
    val slices = (0 until 3).map(i =>
      IS.valueCounts(p.filter(pmod(col("p_partkey"), lit(3)) === i),
        Keys, "price"))
    val merged = IS.merge(slices)
    val direct = IS.valueCounts(p, Keys, "price")
    assert(rows(merged) == rows(direct))
  }

  test("stats from merged state == stats from full recompute (f01 path)") {
    val f17 = IS.f17(spark, sf("sf0.001"))
    val f01 = Fraud.f01(spark, sf("sf0.001"))
    assert(rows(f17) == rows(f01))
    assert(f17.columns.sorted.sameElements(f01.columns.sorted))
  }

  test("sliding window: merge new day + retract expired day == recompute") {
    val p = listings("sf0.001").withColumn("day",
      pmod(col("p_partkey"), lit(4)))
    def slice(d: Int) =
      IS.valueCounts(p.filter(col("day") === d), Keys, "price")
    // state covered days 0..2; day 3 arrives, day 0 ages out
    val state012 = IS.merge(Seq(slice(0), slice(1), slice(2)))
    val rolled = IS.retract(IS.merge(Seq(state012, slice(3))), slice(0))
    val direct = IS.valueCounts(
      p.filter(col("day").between(1, 3)), Keys, "price")
    assert(rows(rolled) == rows(direct))
    // and the derived stats frames agree too
    assert(rows(IS.statsFromCounts(rolled, Keys, "price")) ==
      rows(IS.statsFromCounts(direct, Keys, "price")))
  }

  test("streaming maintenance: per-batch fold == full recompute; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = scratch("graft-incstats")
    val (stateDir, statsDir, ckpt) =
      (s"$tmp/state", s"$tmp/stats", s"$tmp/ckpt")

    val input = MemoryStream[(String, String, Double)]
    val stream = input.toDF().toDF("category", "cond", "price")
    val q = IS.maintainStats(stream, Keys, "price", stateDir, statsDir, ckpt)
    try {
      input.addData(("A", "new", 10.0), ("A", "new", 20.0), ("B", "used", 5.0))
      q.processAllAvailable()
      input.addData(("A", "new", 10.0), ("B", "used", 7.0), ("B", "used", 7.0))
      q.processAllAvailable()
    } finally q.stop()

    val all = Seq(("A", "new", 10.0), ("A", "new", 20.0), ("B", "used", 5.0),
      ("A", "new", 10.0), ("B", "used", 7.0), ("B", "used", 7.0))
      .toDF("category", "cond", "price")
    val expect = IS.statsFromCounts(IS.valueCounts(all, Keys, "price"),
      Keys, "price")
    assert(rows(spark.read.parquet(statsDir)) == rows(expect))

    // crash-replay: folding the LAST batch's delta again under the
    // same batch id must rebuild the identical state, not double-count
    val delta2 = IS.valueCounts(Seq(("A", "new", 10.0), ("B", "used", 7.0),
      ("B", "used", 7.0)).toDF("category", "cond", "price"), Keys, "price")
    val before = rows(spark.read.parquet(s"$stateDir/gen=1"))
    val replayed = IS.foldBatch(stateDir, delta2, 1L)
    assert(rows(replayed) == before)
  }

  test("retract drops zeroed rows and never keeps negative counts") {
    val p = listings("sf0.001")
    val all = IS.valueCounts(p, Keys, "price")
    val empty = IS.retract(all, all)
    assert(empty.count() == 0)
    // over-retraction (retracting twice) must not resurrect rows
    val over = IS.retract(IS.retract(all, all), all)
    assert(over.count() == 0)
  }
}
