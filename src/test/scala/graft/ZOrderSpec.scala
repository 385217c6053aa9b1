package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._

/** z01 Morton-curve semantics + the layout-locality promise. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue replays the sequential interleave reference row-for-row") {
    val pts = ZOrder.points(spark, sf("sf0.001"))
    val got = pts.select(col("x"), col("y"),
      ZOrder.zValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (x, y, z) =>
      assert(z == ZOrder.zValueRef(x, y), s"($x, $y)") }
  }

  test("zValue is injective on the bounded domain") {
    val pts = ZOrder.points(spark, sf("sf0.001")).distinct()
    val nPts = pts.count()
    val nZ = pts.select(ZOrder.zValue(col("x"), col("y"))).distinct().count()
    assert(nZ == nPts)
  }

  test("z-ordered files bound BOTH dimensions; x-sorted files do not") {
    val dir = scratch("zorder")
    val pts = ZOrder.points(spark, sf("sf0.001"))
    ZOrder.writeZOrdered(pts, col("x"), col("y"), s"$dir/z", files = 8)
    pts.repartitionByRange(8, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(s"$dir/x")
    def fileSpans(path: String): Seq[(Long, Long)] = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.toString).toSeq
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg(max(col("x")) - min(col("x")),
            max(col("y")) - min(col("y")))
          .as[(Long, Long)].head()
        r
      }
    }
    val zSpans = fileSpans(s"$dir/z")
    val xSpans = fileSpans(s"$dir/x")
    assert(zSpans.size == 8 && xSpans.size == 8)
    // x-sort prunes x perfectly (tiny per-file x-extent) but leaves
    // the y-extent near the full 36000 domain — a y-range predicate
    // hits every file. z-order bounds the y-extent of EVERY file
    // strictly below the loosest x-sorted file: y predicates prune.
    // (At sf0.001's 19 points/file the spans are sample-loose; the
    // ordering between the two layouts is the invariant.)
    assert(xSpans.forall(_._1 <= 18000 / 4), "x-sort should prune x")
    val worstZ = zSpans.map(_._2).max
    val bestX = xSpans.map(_._2).min
    assert(worstZ < bestX,
      s"every z file y-span ($worstZ) must beat the best x-sorted file ($bestX)")
    assert(zSpans.forall(_._2 <= 25000L), s"z y-spans: $zSpans")
  }

  test("2-D box predicate: z layout scans strictly fewer rows than x-sort") {
    // The number that justifies the write cost (r13 verdict item 6):
    // vanilla parquet prunes at ROW-GROUP granularity from footer
    // min/max stats; each small file here holds exactly one row
    // group, so rows surviving the scan IS the files-worth-of-bytes
    // actually read. A 2-D box predicate on the x-sorted layout
    // prunes x only (every surviving file spans all of y); the
    // z-ordered layout bounds both dimensions per file, so the same
    // predicate materializes strictly less.
    val dir = scratch("zprune")
    val n = 100000L
    val pts = spark.range(n).select(
      pmod(hash(col("id")), lit(16384)).cast("bigint").as("x"),
      pmod(hash(col("id") * 31 + 7), lit(16384)).cast("bigint").as("y"))
    ZOrder.writeZOrdered(pts, col("x"), col("y"), s"$dir/z", files = 64)
    pts.repartitionByRange(64, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(s"$dir/x")
    def boxed(path: String) = spark.read.parquet(path)
      .filter(col("x") >= 1000 && col("x") < 2000 &&
        col("y") >= 1000 && col("y") < 2000)
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // no exchange → non-adaptive plan; metrics land here
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    val zDf = boxed(s"$dir/z"); val xDf = boxed(s"$dir/x")
    // the box filters must actually be pushed to the readers
    assert(zDf.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull"))
    val zRows = scanRows(zDf); val xRows = scanRows(xDf)
    assert(zRows > 0 && xRows > 0)
    assert(zRows < xRows,
      s"z layout scanned $zRows rows vs x-sorted $xRows — no win")
    assert(xRows < n, "x-sort should at least prune the x dimension")
    // same answer from both layouts
    assert(zDf.count() == xDf.count())
  }

  test("z01 face: blocks cover all rows, bbox areas are tile-bounded") {
    val rows = ZOrder.z01(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length > 1)
    val total = Tables.customer(spark, sf("sf0.001")).count()
    assert(rows.map(_._2).sum == total)
    // a z-block is a 2^6 x 2^6 tile: the bbox can never exceed it
    rows.foreach { r => assert(r._7 <= 64L * 64L, s"block ${r._1}") }
  }
}
