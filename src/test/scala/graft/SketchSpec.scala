package graft

import graft.operators.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** f27 HyperLogLog register semantics: sequential-reference replay,
  * the exact merge law, and both estimator branches. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory reference registers: the same 60-bit md5 prefix,
    * bucket = top 8 bits, rho = nlz of the 52-bit remainder + 1. */
  private def refRegisters(items: Seq[(String, String)]): Map[(String, Long), Int] =
    items.foldLeft(Map.empty[(String, Long), Int]) { case (acc, (src, term)) =>
      val h = graft.plans.Md5Prefix60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(term))
      val bucket = h >>> Sketch.HllW
      val w = h & ((1L << Sketch.HllW) - 1)
      val rho =
        if (w == 0) Sketch.HllW + 1
        else Sketch.HllW + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      val k = (src, bucket)
      acc.updated(k, math.max(acc.getOrElse(k, 0), rho))
    }

  private def regMap(df: DataFrame): Map[(String, Long), Int] =
    df.as[(String, Long, Int)].collect()
      .map { case (s, b, r) => (s, b) -> r }.toMap

  test("fitRegisters replays the sequential reference register-for-register") {
    val items = (1 to 2000).map(i => (s"g${i % 3}", s"item_${i % 701}"))
    val got = regMap(Sketch.fitRegisters(items.toDF("source", "term")))
    assert(got == refRegisters(items))
  }

  test("merge law: max-union of half sketches == sketch of the union, exactly") {
    val a = (1 to 1500).map(i => ("g", s"a_$i"))
    val b = (1 to 1500).map(i => ("g", s"b_$i")) ++
      (1 to 500).map(i => ("g", s"a_$i")) // overlap
    val ra = Sketch.fitRegisters(a.toDF("source", "term"))
    val rb = Sketch.fitRegisters(b.toDF("source", "term"))
    val merged = regMap(ra.unionAll(rb)
      .groupBy(col("source"), col("bucket")).agg(max(col("r")).as("r")))
    val whole = regMap(Sketch.fitRegisters((a ++ b).toDF("source", "term")))
    assert(merged == whole)
  }

  test("harmonic branch: 5000 distinct estimated within 3x the HLL rse") {
    val items = (1 to 5000).map(i => ("g", s"u_$i"))
    val exact = Seq(("g", 5000L)).toDF("source", "exact_distinct")
    val row = Sketch.hllReport(Sketch.fitRegisters(items.toDF("source", "term")), exact)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().head
    val rse = 1.04 / math.sqrt(Sketch.HllM) // ~6.5% for m=256
    assert(math.abs(row._7) < 3 * rse,
      s"estimate ${row._6} err ${row._7} beyond 3x rse")
  }

  test("linear-counting branch: tiny cardinality is near-exact") {
    val items = (1 to 10).flatMap(i => Seq(("g", s"v_$i"), ("g", s"v_$i")))
    val exact = Seq(("g", 10L)).toDF("source", "exact_distinct")
    val row = Sketch.hllReport(Sketch.fitRegisters(items.toDF("source", "term")), exact)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().head
    // zeros > 0 and the scaled sum sits in the small-range regime,
    // so the linear-counting branch fires: m * ln(m / zeros)
    assert(row._4 > 0 && row._5 >= Sketch.SmallRangeThreshold)
    val expected = Sketch.HllM *
      math.log(Sketch.HllM.toDouble / row._4.toDouble)
    assert(math.abs(row._6 - expected) < 1e-4) // row._6 is round(·, 4)
    assert(math.abs(row._6 - 10.0) < 2.0)
  }

  test("register artifact round-trip scores identically; merge-of-halves == full refit") {
    val root = scratch("graft-hll")
    val a = (1 to 800).map(i => ("g", s"a_$i")).toDF("source", "term")
    val b = (400 to 1200).map(i => ("g", s"a_$i")).toDF("source", "term")
    val full = Sketch.fitRegisters(a.unionAll(b))
    Sketch.writeRegisters(Sketch.fitRegisters(a), s"$root/ra")
    Sketch.writeRegisters(Sketch.fitRegisters(b), s"$root/rb")
    val merged = Sketch.mergeRegisters(Seq(
      Sketch.readRegisters(spark, s"$root/ra"),
      Sketch.readRegisters(spark, s"$root/rb")))
    assert(regMap(merged) == regMap(full))
    // and the derived estimates agree bit-for-bit
    val est = (df: org.apache.spark.sql.DataFrame) =>
      Sketch.hllEstimate(df).collect().map(_.toSeq).toSet
    assert(est(merged) == est(full))
  }

  test("streaming maintenance: fold == recompute, replay rebuilds identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("graft-hllstream")
    val (stateDir, outDir, ckpt) = (s"$root/state", s"$root/out", s"$root/ckpt")
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("source", "term")
    val b0 = (1 to 600).map(i => ("g", s"u_$i")) ++ Seq(("h", "x"))
    val b1 = (300 to 900).map(i => ("g", s"u_$i")) ++ Seq(("h", "y"))
    val q = Sketch.maintainHll(stream, stateDir, outDir, ckpt)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // published estimate == a from-scratch batch fit over everything
    val expect = Sketch.hllEstimate(
      Sketch.fitRegisters((b0 ++ b1).toDF("source", "term")))
    assert(rows(spark.read.parquet(outDir)) == rows(expect))
    // crash-replay of the last batch id rebuilds the identical state
    val before = rows(spark.read.parquet(s"$stateDir/gen=1"))
    val replayed = graft.operators.IncrementalStats.foldBatchWith(stateDir,
      Sketch.fitRegisters(b1.toDF("source", "term")), 1L)(
      Sketch.mergeRegisters)
    assert(rows(replayed) == before)
  }

  test("cms: estimates are one-sided (never below exact) and sum-mergeable") {
    val items = (1 to 4000).map(i => s"k_${i % 700}") // 700 keys, skewed
    val keys = items.toDF("key")
    val reg = Sketch.cmsFit(keys)
    val probes = (0 until 700 by 7).map(i => s"k_$i").toDF("key")
    val exact = keys.groupBy(col("key")).agg(count(lit(1)).as("n"))
    val est = Sketch.cmsEstimate(reg, probes)
      .join(exact, Seq("key"))
      .as[(String, Long, Long)].collect()
    assert(est.length == 100)
    est.foreach { case (k, cms, n) =>
      assert(cms >= n, s"$k: cms $cms below exact $n") }
    // merge law: sum of half registers == full fit
    val (a, b) = items.splitAt(2000)
    val merged = Sketch.cmsMerge(Seq(
      Sketch.cmsFit(a.toDF("key")), Sketch.cmsFit(b.toDF("key"))))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    assert(m(merged) == m(reg))
  }

  test("streaming cms: folded state == batch fit over everything seen") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("graft-cmsstream")
    val input = MemoryStream[String]
    val stream = input.toDF().toDF("key")
    val b0 = (1 to 500).map(i => s"k_${i % 90}")
    val b1 = (1 to 400).map(i => s"k_${i % 70}")
    val q = Sketch.maintainCms(stream, s"$root/state", s"$root/ckpt")
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val folded = m(spark.read.parquet(s"$root/state/gen=1"))
    val whole = m(Sketch.cmsFit((b0 ++ b1).toDF("key")))
    assert(folded == whole)
  }

  test("f29 face: overestimates non-negative, collisions actually occur") {
    val rows = Sketch.f29(spark, sf("sf0.001"))
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r._4 >= 0L, s"${r._1} under-estimated") }
    // mean one-sided error within the e*N/w Markov bound (min over 4
    // rows sits far inside it; the MEAN is a stable assertion where a
    // per-key bound is probabilistic)
    val n = Tables.events(spark, sf("sf0.001")).count()
    val bound = math.E * n / Sketch.CmsW
    val meanOver = rows.map(_._4).sum.toDouble / rows.length
    assert(meanOver <= bound, s"mean over $meanOver beyond $bound")
  }

  // at sf0.001 the ~160 user-days/type sit in the linear-counting
  // regime; sf0.01+ (the oracle gate) exercises the harmonic branch
  test("f27 face: five event types, sane errors") {
    val rows = Sketch.f27(spark, sf("sf0.001"))
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.map(_._1).toSet ==
      Set("view", "click", "purchase", "signup", "error"))
    rows.foreach { r =>
      assert(r._2 > 0)
      assert(math.abs(r._7) < 0.25, s"${r._1}: err ${r._7}")
    }
  }
}
