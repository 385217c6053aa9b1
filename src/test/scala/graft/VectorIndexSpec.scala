package graft

import graft.operators.{Similarity, VectorIndex}
import org.apache.spark.sql.functions._

/** The IVF-PQ artifact contract (r13 verdict item 4): artifact-loaded
  * serving is bit-identical to in-query fit, appends merge exactly,
  * and the probed read prunes to the probed cells' partitions. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String = scratch(s"graft-vidx-$tag")

  private def corpus = Tables.embeddings(spark, sf("sf0.001"))

  test("artifact round-trip: loaded meta == fit meta, bit for bit") {
    val path = tmp("meta")
    VectorIndex.writeIndex(corpus, path)
    val got = VectorIndex.readMeta(spark, path)
    val fit = VectorIndex.fitMeta()
    assert(got.centers.length == fit.centers.length)
    got.centers.zip(fit.centers).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
    assert(java.util.Arrays.equals(got.codebook, fit.codebook))
  }

  test("artifact-served s05 == in-query s05, bit-identical scores") {
    val path = tmp("serve")
    VectorIndex.writeIndex(corpus, path)
    val q = corpus.filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val served = VectorIndex.queryIndex(
      VectorIndex.readMeta(spark, path),
      VectorIndex.readCodes(spark, path), corpus, q)
      .as[(Long, Int, Long, Double)].collect().toSet
    val inQuery = Similarity.annIvfPq(corpus, q)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(served == inQuery) // exact doubles — no tolerance
    assert(served.nonEmpty)
  }

  test("append == rebuild: encode-delta merge is exact, no refit") {
    val a = corpus.filter(col("vec_id") % 2 === 0)
    val b = corpus.filter(col("vec_id") % 2 =!= 0)
    val grown = tmp("grown")
    VectorIndex.writeIndex(a, grown)
    VectorIndex.appendVectors(spark, grown, b)
    val full = tmp("full")
    VectorIndex.writeIndex(corpus, full)
    val g = VectorIndex.readCodes(spark, grown)
      .as[(Long, Int, Seq[Int])].collect().toSet
    val f = VectorIndex.readCodes(spark, full)
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(g == f)
  }

  test("append is idempotent: a retried (duplicate) delta adds no rows") {
    val a = corpus.filter(col("vec_id") % 2 === 0)
    val b = corpus.filter(col("vec_id") % 2 =!= 0)
    val path = tmp("dup")
    VectorIndex.writeIndex(a, path)
    VectorIndex.appendVectors(spark, path, b)
    val once = VectorIndex.readCodes(spark, path)
      .as[(Long, Int, Seq[Int])].collect().toSet
    // at-least-once retry: the same delta re-delivered, plus some
    // already-indexed base rows mixed in
    VectorIndex.appendVectors(spark, path, b.union(a.limit(5)))
    val twice = VectorIndex.readCodes(spark, path)
      .as[(Long, Int, Seq[Int])].collect()
    assert(twice.length == once.size, "duplicate append inflated the index")
    assert(twice.toSet == once)
  }

  test("TRAINED quantizers flow through the artifact unchanged: " +
      "round-trip bit-identity, append == rebuild, recall vs s01") {
    // sf0.01 like the s03/s04 recall specs: 16 trained cells need a
    // corpus bigger than a few hundred vectors to be meaningful
    val corpus = Tables.embeddings(spark, sf("sf0.01"))
    val trained = VectorIndex.fitTrainedMeta(corpus)
    // the trained meta really differs from the pinned sign family
    val pinned = VectorIndex.fitMeta()
    assert(!java.util.Arrays.equals(trained.codebook, pinned.codebook))
    // 1. round-trip: persisted trained meta loads back bit-for-bit
    val path = tmp("trained")
    VectorIndex.writeIndex(corpus, path, trained)
    val got = VectorIndex.readMeta(spark, path)
    assert(got.centers.length == trained.centers.length)
    got.centers.zip(trained.centers).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x, y))
    }
    assert(java.util.Arrays.equals(got.codebook, trained.codebook))
    // 2. append == rebuild re-pinned on trained meta (quantizers come
    // from the ARTIFACT, so the grown index encodes with the same
    // trained centers the full rebuild does)
    val a = corpus.filter(col("vec_id") % 2 === 0)
    val b = corpus.filter(col("vec_id") % 2 =!= 0)
    val grown = tmp("trained-grown")
    VectorIndex.writeIndex(a, grown, trained)
    VectorIndex.appendVectors(spark, grown, b)
    val g = VectorIndex.readCodes(spark, grown)
      .as[(Long, Int, Seq[Int])].collect().toSet
    val f = VectorIndex.readCodes(spark, path)
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(g == f)
    // 3. served recall vs s01 brute force (the s02/s03 spec pattern),
    // AND vs the pinned sign-family quantizers at the SAME probe
    // budget (r15 verdict item 8): a trained quantizer that serves
    // worse than the pinned ±1 family would mean the training is
    // decorative — measured r16: trained 0.60 vs pinned 0.48 at
    // 4/16 probes on sf0.01.
    val exact = Similarity.s01(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val q = corpus.filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def recallAt(p: String, tag: String): Double = {
      val served = VectorIndex.queryIndex(VectorIndex.readMeta(spark, p),
        VectorIndex.readCodes(spark, p), corpus, q)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      assert(served.nonEmpty, s"$tag served nothing")
      (exact & served).size.toDouble / exact.size
    }
    // trained index already exists at `path` (step 1 wrote and
    // round-trip-verified it) — only the pinned comparison index
    // needs a build
    val trainedRecall = recallAt(path, "trained")
    val pinnedPath = tmp("recall-pinned")
    VectorIndex.writeIndex(corpus, pinnedPath, pinned)
    val pinnedRecall = recallAt(pinnedPath, "pinned")
    assert(trainedRecall >= 0.5,
      s"trained-quantizer recall $trainedRecall too low")
    assert(trainedRecall >= pinnedRecall,
      s"trained recall $trainedRecall below pinned $pinnedRecall " +
        "at the same probe budget — training is not earning its keep")
  }

  test("trained fit is layout-independent: repartitioned corpus, " +
      "identical artifact") {
    // the training sample is a hash-rank TakeOrdered, not a bare
    // limit — so the fitted (and shipped) quantizers cannot depend on
    // partition order. A drifting sample would make two "identical"
    // artifacts encode the same vectors differently.
    val a = VectorIndex.fitTrainedMeta(corpus)
    val b = VectorIndex.fitTrainedMeta(corpus.repartition(7))
    a.centers.zip(b.centers).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x, y), "coarse centers drifted")
    }
    assert(java.util.Arrays.equals(a.codebook, b.codebook))
  }

  test("probe read prunes to probed cells (partition pruning holds)") {
    val path = tmp("prune")
    VectorIndex.writeIndex(corpus, path)
    // a static one-cell filter must read strictly fewer files than the
    // full scan — the partitionBy(cell) layout IS the inverted list
    val all = VectorIndex.readCodes(spark, path)
    val one = spark.read.parquet(s"$path/codes").filter(col("cell") === 3)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.totalNumberOfFiles
      }.sum
    val fAll = filesRead(all)
    val fOne = filesRead(one)
    assert(fOne > 0 && fOne < fAll,
      s"one-cell scan read $fOne of $fAll files — no pruning")
    // and the served cell really is complete
    assert(one.count() ==
      all.filter(col("cell") === 3).count())
  }

  test("41u: streamed vector-index maintenance == static rebuild, " +
      "served bit-identically; replay and duplicates add nothing") {
    val maintained = tmp("maint")
    val static0 = tmp("static")
    val half0 = corpus.filter(col("vec_id") % 2 === 0)
    val half1 = corpus.filter(col("vec_id") % 2 === 1)
    VectorIndex.vectorBatch(half0, 0L, maintained)
    VectorIndex.vectorBatch(half1, 1L, maintained)
    VectorIndex.writeIndex(corpus, static0)
    val q = corpus.filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def serve(path: String) = VectorIndex.queryIndex(
      VectorIndex.readMeta(spark, path),
      VectorIndex.readCodes(spark, path), corpus, q)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val base = serve(maintained)
    assert(base == serve(static0) && base.nonEmpty)
    // crash-replay of batch 1: same codes count, same served rows
    VectorIndex.vectorBatch(half1, 1L, maintained)
    assert(VectorIndex.readCodes(spark, maintained).count() == corpus.count())
    assert(serve(maintained) == base)
    // at-least-once across batches: batch 2 redelivers half1 vec_ids —
    // the anti-join drops them all
    VectorIndex.vectorBatch(half1, 2L, maintained)
    assert(VectorIndex.readCodes(spark, maintained).count() == corpus.count())
    assert(serve(maintained) == base)
  }

  test("41u: layout marker — static and batched writers refuse each " +
      "other's artifact; an empty first trigger doesn't poison the fold") {
    val maintained = tmp("mixm")
    // empty first trigger: meta lands, codes level is file-less
    VectorIndex.vectorBatch(corpus.limit(0), 0L, maintained)
    VectorIndex.vectorBatch(corpus, 1L, maintained)
    assert(VectorIndex.readCodes(spark, maintained).count() == corpus.count())
    val e1 = intercept[IllegalArgumentException] {
      VectorIndex.appendVectors(spark, maintained, corpus)
    }
    assert(e1.getMessage.contains("layout"))
    val static0 = tmp("mixs")
    VectorIndex.writeIndex(corpus, static0)
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.vectorBatch(corpus, 1L, static0)
    }
    assert(e2.getMessage.contains("layout"))
  }

  test("41u: a pre-layout artifact is refused, never silently re-fit " +
      "or partition-depth-mixed") {
    val path = tmp("prelayout")
    VectorIndex.writeIndex(corpus, path)
    // simulate an artifact from a writer older than the layout marker
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta/layout"), true)
    val e1 = intercept[IllegalArgumentException] {
      VectorIndex.vectorBatch(corpus, 0L, path)
    }
    assert(e1.getMessage.contains("predates the layout marker"))
    val e2 = intercept[IllegalArgumentException] {
      VectorIndex.appendVectors(spark, path, corpus)
    }
    assert(e2.getMessage.contains("pre-layout"))
    // the quantizers were NOT overwritten and no batch level landed
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/codes/batch=0")))
  }

  test("41u: a real writeStream drives the same maintenance path") {
    val root = tmp("stream")
    val ckp = tmp("ckp")
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val q = VectorIndex.maintainVectorIndex(
      input.toDF().toDF("vec_id", "embedding"), root, ckp)
    val rows = corpus.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    try {
      input.addData(rows.filter(_._1 % 2 == 0): _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 % 2 == 1): _*)
      q.processAllAvailable()
    } finally q.stop()
    val static0 = tmp("streamstatic")
    VectorIndex.writeIndex(corpus, static0)
    val qs = corpus.filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def serve(path: String) = VectorIndex.queryIndex(
      VectorIndex.readMeta(spark, path),
      VectorIndex.readCodes(spark, path), corpus, qs)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(serve(root) == serve(static0) && serve(root).nonEmpty)
  }
}
