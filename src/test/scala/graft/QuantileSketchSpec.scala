package graft

import graft.operators.QuantileSketch
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** The sketch contract, property-tested (fixed-seed Gen.pureApply,
  * the FoldLatticeSpec pattern): α-bounded relative error against
  * exact quantiles, EXACT merge/retract algebra, and the
  * bounded-state guarantee that justifies its existence. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private val Alpha = 0.02
  private val Qs = Seq(0.1, 0.5, 0.9, 0.99)

  // log-uniform positive values over ~5 orders of magnitude — the
  // all-distinct continuous domain the exact value-counts state
  // cannot hold
  private val valuesGen: Gen[List[Double]] =
    Gen.chooseNum(30, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-4.0, 6.0).map(e => math.exp(e))))

  private def sampleValues(seed: Long): List[Double] =
    valuesGen.pureApply(Gen.Parameters.default, rng.Seed(seed))

  private def exactQuantile(sorted: Vector[Double], q: Double): Double =
    sorted(math.ceil(q * sorted.size).toInt - 1)

  test("quantile estimates carry <= alpha relative error (property)") {
    (1L to 12L).foreach { seed =>
      val vs = sampleValues(seed)
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v").withColumn("k", lit("g"))
      val est = QuantileSketch.quantiles(
          QuantileSketch.fit(df, Seq("k"), "v", Alpha), Seq("k"), Qs, Alpha)
        .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
      val sorted = vs.sorted.toVector
      Qs.foreach { q =>
        val exact = exactQuantile(sorted, q)
        val rel = math.abs(est(q) - exact) / exact
        assert(rel <= Alpha + 1e-9,
          s"seed=$seed q=$q exact=$exact est=${est(q)} rel=$rel")
      }
    }
  }

  test("merge of split fits == full fit, exactly; retract inverts (property)") {
    (20L to 25L).foreach { seed =>
      val vs = sampleValues(seed)
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v").withColumn("k", lit("g"))
      val (a, b) = (df.filter(col("id") % 2 === 0),
        df.filter(col("id") % 2 =!= 0))
      def rows(s: org.apache.spark.sql.DataFrame) =
        s.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
          .toSet
      val full = QuantileSketch.fit(df, Seq("k"), "v", Alpha)
      val merged = QuantileSketch.merge(Seq(
        QuantileSketch.fit(a, Seq("k"), "v", Alpha),
        QuantileSketch.fit(b, Seq("k"), "v", Alpha)))
      assert(rows(merged) == rows(full),
        s"seed=$seed: merge must equal refit EXACTLY")
      val backToA = QuantileSketch.retract(merged,
        QuantileSketch.fit(b, Seq("k"), "v", Alpha))
      assert(rows(backToA) == rows(QuantileSketch.fit(a, Seq("k"), "v", Alpha)),
        s"seed=$seed: retracting b's sketch must recover a's exactly")
    }
  }

  test("streaming maintenance: fold == recompute, replay rebuilds identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("graft-qsk")
    val (stateDir, outDir, ckpt) = (s"$root/state", s"$root/out", s"$root/ckpt")
    val input = MemoryStream[(String, Double)]
    val stream = input.toDF().toDF("k", "v")
    val b0 = Seq(("g", 1.5), ("g", 220.0), ("h", 3.25))
    val b1 = Seq(("g", 14.0), ("h", 3.25), ("h", 900.0))
    val q = QuantileSketch.maintainQuantiles(stream, Seq("k"), "v",
      Seq(0.5), stateDir, outDir, ckpt, Alpha)
    try {
      input.addData(b0: _*); q.processAllAvailable()
      input.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // the published quantiles equal a from-scratch batch fit over
    // everything the stream has seen (fold == recompute)
    val expect = QuantileSketch.quantiles(
      QuantileSketch.fit((b0 ++ b1).toDF("k", "v"), Seq("k"), "v", Alpha),
      Seq("k"), Seq(0.5), Alpha)
    assert(rows(spark.read.parquet(outDir)) == rows(expect))
    // crash-replay of the last batch id rebuilds the identical state
    val before = rows(spark.read.parquet(s"$stateDir/gen=1"))
    val replayed = graft.operators.IncrementalStats.foldBatch(stateDir,
      QuantileSketch.fit(b1.toDF("k", "v"), Seq("k"), "v", Alpha), 1L)
    assert(rows(replayed) == before)
  }

  test("f30 oracle mapping == live Spark expressions, bit for bit") {
    // the f30 oracle inlines a Scala-precomputed (value -> bucket,
    // estimate) table; it is only sound if those twins track the
    // arithmetic Spark actually executes (codegen'd Math.log /
    // Math.pow + HALF_UP round) exactly, over the face's whole
    // integer domain
    import org.apache.spark.sql.functions.{round => sround}
    val dom = spark.range(1, 51).select(col("id").cast("int").as("x"))
    val got = dom.select(col("x"),
        QuantileSketch.bucketOf(col("x").cast("double"),
          QuantileSketch.DefaultAlpha).as("qb"))
      .withColumn("est", sround(
        when(col("qb") === QuantileSketch.ZeroBucket, lit(0.0))
          .otherwise(lit(2.0) * pow(lit(QuantileSketch.gamma(
            QuantileSketch.DefaultAlpha)), col("qb")) /
            lit(QuantileSketch.gamma(QuantileSketch.DefaultAlpha) + 1)), 6))
      .as[(Int, Int, Double)].collect()
    got.foreach { case (x, qb, est) =>
      assert(qb == QuantileSketch.bucketOfInt(x),
        s"bucket twin diverges at x=$x: spark=$qb scala=${QuantileSketch.bucketOfInt(x)}")
      assert(est == QuantileSketch.estimateOf(qb),
        s"estimate twin diverges at qb=$qb: spark=$est scala=${QuantileSketch.estimateOf(qb)}")
    }
  }

  test("state stays bounded while distinct values grow (the reason it exists)") {
    // 50k distinct values over (0.01, 1e4): exact value-counts state
    // would hold 50k rows; the sketch holds <= maxBuckets
    val n = 50000
    val df = spark.range(n).select(lit("g").as("k"),
      (lit(0.01) + col("id").cast("double") * lit(0.2)).as("v"))
    val st = QuantileSketch.fit(df, Seq("k"), "v", Alpha)
    val buckets = st.count()
    val bound = QuantileSketch.maxBuckets(0.01, 0.01 + n * 0.2, Alpha)
    assert(buckets <= bound, s"$buckets buckets > bound $bound")
    assert(buckets < n / 50, s"sketch is not compressing: $buckets rows")
    // and the median estimate still lands within alpha
    val med = QuantileSketch.quantiles(st, Seq("k"), Seq(0.5), Alpha)
      .collect().head.getDouble(2)
    val exact = 0.01 + (n / 2 - 1) * 0.2
    assert(math.abs(med - exact) / exact <= Alpha + 1e-9)
  }
}
