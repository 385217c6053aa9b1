package graft

import org.apache.spark.sql.functions._

/** t09 lexical-diversity semantics on planted distributions (the
  * oracle pins cross-engine parity; these pin the MATH). */
class EntropySpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = scratch("tdocs")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t10: hand-computed Flesch on a pinned sentence; buckets order") {
    val dir = docsDir(Seq(
      (1L, "The cat sat. The dog ran!"),      // easy: short words
      (2L, "Extraordinarily complicated administrative bureaucratization necessitates interdepartmental reorganization")))
    val m = graft.operators.TextOps.t10(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: words 6, sentence runs 2, vowel groups:
    // the(1) cat(1) sat.(1) the(1) dog(1) ran!(1) = 6
    // flesch = 206.835 - 1.015*(6/2) - 84.6*(6/6) = 119.19
    assert(m(1L).getAs[Long]("n_words") == 6L)
    assert(m(1L).getAs[Long]("n_sentences") == 2L)
    assert(m(1L).getAs[Long]("n_syllables") == 6L)
    assert(math.abs(m(1L).getAs[Double]("flesch") - 119.19) < 1e-6)
    assert(m(1L).getAs[String]("bucket") == "very_easy")
    // doc 2: polysyllabic monster scores far lower
    assert(m(2L).getAs[Double]("flesch") < m(1L).getAs[Double]("flesch"))
    assert(m(2L).getAs[String]("bucket") == "very_difficult")
  }

  private def t09Of(rows: Seq[(Long, String)]) = {
    val dir = scratch("t09")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.operators.TextOps.t09(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
  }

  test("planted distributions: degenerate, uniform, mixed") {
    val m = t09Of(Seq(
      (1L, "spam spam spam spam spam spam spam spam"), // one token
      (2L, "a b c d e f g h"),                         // uniform 8
      (3L, "the the the the cat sat")))                // mixed
    // degenerate: entropy 0, norm 0 (pinned), concentration 1
    assert(m(1L).getAs[Double]("entropy_bits") == 0.0)
    assert(m(1L).getAs[Double]("norm_entropy") == 0.0)
    assert(m(1L).getAs[Double]("concentration") == 1.0)
    // uniform over 8 distinct: entropy = 3 bits, norm = 1, conc = 1/8
    assert(math.abs(m(2L).getAs[Double]("entropy_bits") - 3.0) < 1e-4)
    assert(math.abs(m(2L).getAs[Double]("norm_entropy") - 1.0) < 1e-4)
    assert(math.abs(m(2L).getAs[Double]("concentration") - 0.125) < 1e-6)
    // mixed: H(4/6,1/6,1/6) ≈ 1.2516 bits; ttr = 3/6
    assert(math.abs(m(3L).getAs[Double]("entropy_bits") - 1.251629) < 1e-4)
    assert(m(3L).getAs[Double]("ttr") == 0.5)
    assert(m(3L).getAs[Double]("norm_entropy") < 1.0)
  }

  test("keyword-stuffed doc scores below a natural doc on raw entropy") {
    // note: the stuffed doc is UNIFORM over its two tokens, so its
    // normalized entropy is exactly 1 — the degenerate-vocabulary
    // signal is raw entropy_bits / ttr / concentration, while
    // norm_entropy isolates distribution SKEW at a given vocabulary
    val m = t09Of(Seq(
      (1L, ("buy cheap " * 30).trim),
      (2L, "the quick brown fox jumps over the lazy dog while rain " +
        "falls softly on the quiet village roofs tonight")))
    assert(m(1L).getAs[Double]("entropy_bits") <
      m(2L).getAs[Double]("entropy_bits"))
    assert(math.abs(m(1L).getAs[Double]("norm_entropy") - 1.0) < 1e-6)
    assert(m(1L).getAs[Double]("concentration") >
      m(2L).getAs[Double]("concentration"))
    assert(m(1L).getAs[Double]("ttr") < m(2L).getAs[Double]("ttr"))
  }
}
