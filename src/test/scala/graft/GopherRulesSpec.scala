package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** t11 — every Gopher rule fires on a planted violator and stays
  * quiet on a clean doc (the rule battery is only useful if each
  * flag is independently live). */
class GopherRulesSpec extends SparkSpec {
  import spark.implicits._

  // 60 words, mean length in [3,10], stopword-rich, no symbols
  private val clean = (Seq.fill(6)(
    "the quick dogs have come with all of that barking") ).mkString(" ")

  private def flagsOf(text: String): Map[String, Boolean] = {
    val row = TextOps.gopherFlags(Seq((1L, text)).toDF("doc_id", "text"))
      .select("f_wc", "f_mwl", "f_sym", "f_line", "f_alpha", "f_stop")
      .collect().head
    Seq("f_wc", "f_mwl", "f_sym", "f_line", "f_alpha", "f_stop")
      .zipWithIndex.map { case (n, i) => n -> row.getBoolean(i) }.toMap
  }

  test("clean doc passes every rule") {
    val f = flagsOf(clean)
    assert(f.values.forall(_ == false), s"clean doc flagged: $f")
  }

  test("each planted violator fires exactly its rule") {
    // short doc -> word-count only
    val short = "the dog and that cat have fun with all of us"
    assert(flagsOf(short) == Map("f_wc" -> true, "f_mwl" -> false,
      "f_sym" -> false, "f_line" -> false, "f_alpha" -> false,
      "f_stop" -> false))
    // symbol-heavy: > 1 hash per 10 words
    val symbolic = clean + " " + Seq.fill(10)("#tag").mkString(" ")
    assert(flagsOf(symbolic)("f_sym"))
    assert(!flagsOf(symbolic)("f_wc"))
    // bullet-dominated lines
    val bullets = (1 to 10).map(i => s"- the item $i of that list have")
      .mkString("\n")
    assert(flagsOf(bullets)("f_line"))
    // ellipsis-ended lines (> 30%)
    val ells = (Seq.fill(4)("the dogs have come with that...") ++
      Seq.fill(6)("the dogs have come with that bone")).mkString("\n")
    assert(flagsOf(ells)("f_line"))
    // numeric doc -> alphabetic-word share
    val numeric = (Seq.fill(12)("the 101 202 have 404 505 of 707 808 909"))
      .mkString(" ")
    val fn = flagsOf(numeric)
    assert(fn("f_alpha") && !fn("f_wc"))
    // no stopwords
    val noStops = Seq.fill(60)("zebra").mkString(" ")
    assert(flagsOf(noStops)("f_stop"))
    // long words -> mean word length > 10
    val longWords = Seq.fill(60)("incomprehensibilities").mkString(" ")
    assert(flagsOf(longWords)("f_mwl"))
  }

  test("streaming Gopher gate: violator rejected at ingest, " +
      "fingerprints never created, batch parity with gopherFlags") {
    // the 41f/41g pattern: quality enforced AT INGEST so a rejected
    // doc never reaches the corpus, the fp state, or the census
    val noStops = Seq.fill(60)("zebra").mkString(" ")
    val batch = Seq(1L -> clean, 2L -> noStops).toDF("doc_id", "text")
    // control: ungated ingest accepts both
    val ctrl = scratch("graft-gq-ctrl")
    streaming.Ingest.gateBatch(batch, 0L, s"$ctrl/docs", s"$ctrl/fp")
    assert(spark.read.parquet(s"$ctrl/docs").select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L))
    // gated: the violator is dropped, its fingerprints never written
    val root = scratch("graft-gq")
    val n = streaming.Ingest.gateBatch(batch, 0L, s"$root/docs",
      s"$root/fp", gopherGate = true)
    assert(n == 1L)
    assert(spark.read.parquet(s"$root/fp").select("doc_id").as[Long]
      .collect().toSet == Set(1L),
      "rejected doc's fingerprints leaked into gate state")
    // parity: the gate's keep-set == batch gopherFlags' pass-set
    val batchPass = TextOps.gopherFlags(batch)
      .filter(!TextOps.gopherFail)
      .select("doc_id").as[Long].collect().toSet
    assert(spark.read.parquet(s"$root/docs").select("doc_id").as[Long]
      .collect().toSet == batchPass)
  }

  test("clean(gopherGate): batch cascade drops the rule violator the " +
      "default cascade keeps") {
    // the violator must be one the EXISTING quality score tolerates,
    // so the Gopher gate is the deciding layer: stopword-bearing,
    // punctuation-free, 60 words — but mean word length ≈ 18 chars,
    // which only Gopher's mean-word-length bound rejects
    val longWords = ("the and of that have with be to " +
      Seq.fill(52)("incomprehensibilities").mkString(" "))
    val docs = Seq(1L -> clean, 2L -> longWords).toDF("doc_id", "text")
    val kept = graft.operators.Corpus.clean(docs, graft.operators.Dedup.Pinned(None))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L),
      s"control: ungated cascade should keep the violator, kept $kept")
    val gated = graft.operators.Corpus.clean(docs, graft.operators.Dedup.Pinned(None),
      gopherGate = true).select("doc_id").as[Long].collect().toSet
    assert(gated == Set(1L), s"gopher gate did not decide: $gated")
  }

  test("t11 aggregates: per-source totals are consistent") {
    val df = TextOps.t11(spark, sf("sf0.001"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val docs = r.getLong(r.fieldIndex("docs"))
      val pass = r.getLong(r.fieldIndex("n_pass"))
      val fails = Seq("n_fail_wordcount", "n_fail_meanwordlen",
        "n_fail_symbolratio", "n_fail_lineshape", "n_fail_alphawords",
        "n_fail_stopwords").map(c => r.getLong(r.fieldIndex(c)))
      assert(pass <= docs && fails.forall(_ <= docs))
      // a doc passing all rules is counted in n_pass, so pass +
      // max(single-rule failures) can never exceed docs
      assert(pass + fails.max <= docs)
    }
  }
}
