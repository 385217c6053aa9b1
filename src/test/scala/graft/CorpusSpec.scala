package graft

import graft.operators.{Corpus, Dedup}
import org.apache.spark.sql.functions._

/** Semantics of the corpus-cleaning cascade beyond the DuckDB oracle:
  * invariants of the survivor set. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("clean: survivors carry no remaining near-dup pair and one id per fp group") {
    val docs = Tables.documents(spark, sf())
    val survivors = Corpus.clean(docs, Dedup.Pinned(None)).cache()
    try {
      val ids = survivors.select("doc_id").as[Long].collect().toSet
      assert(ids.nonEmpty && ids.size < docs.count())

      // re-running near-dup pairing over the survivors finds nothing:
      // every high-Jaccard pair among the deduped set had its b side
      // dropped, and pairwise similarity is monotone under subsetting
      val residual = Dedup.jaccardPairs(
        docs.filter(col("doc_id").isin(ids.toSeq: _*))
          .select(col("doc_id"), col("text")), maxDf = None)
      assert(residual.count() == 0)

      // at most one survivor per canonical fingerprint group
      val fpGroups = docs.filter(col("doc_id").isin(ids.toSeq: _*))
        .select(graft.functions.TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("fp").count().filter(col("count") > 1).count()
      assert(fpGroups == 0)
    } finally {
      // the ad-hoc whole-result cache would otherwise shadow every
      // later suite's c01 plan (CacheManager matches by sameResult
      // across the shared session)
      survivors.unpersist(blocking = true)
      CacheRegistry.unpersistAll()
    }
  }

  test("clean: the census-routed default equals the pinned exhaustive " +
      "gear on the oracle corpus (router picks plain there)") {
    try {
      val a = Corpus.clean(Tables.documents(spark, sf()))
        .select("doc_id").as[Long].collect().toSet
      val b = Corpus.clean(Tables.documents(spark, sf()), Dedup.Pinned(None))
        .select("doc_id").as[Long].collect().toSet
      assert(a == b)
    } finally CacheRegistry.unpersistAll()
  }

  // ---- c08 stripBoilerplate -------------------------------------

  test("c08: planted header/promo stripped, rare line kept, order preserved") {
    val docs = Tables.documents(spark, sf())
    val original = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    val out = Corpus.stripBoilerplate(Corpus.plantedLineCorpus(docs))
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out.size == original.size, "no doc should vanish (bodies are unique)")
    out.values.foreach { t =>
      assert(!t.contains(Corpus.HeaderLine) && !t.contains(Corpus.PromoLine))
    }
    // rare line (df = 5 at this sf, under MaxLineDf) survives, and only
    // on its planted docs — as the LAST line (order preserved)
    out.foreach { case (id, t) =>
      if (id % 100 == 0) assert(t.linesIterator.toSeq.last == Corpus.RareLine)
      else assert(!t.contains(Corpus.RareLine))
    }
    // body lines reassemble the original token stream in order: for a
    // doc with no planted rare line, clean_text re-flattened on
    // whitespace IS the original text
    out.filter(_._1 % 100 != 0).foreach { case (id, t) =>
      assert(t.replace('\n', ' ') == original(id),
        s"doc $id body not reassembled in original order")
    }
  }

  test("c08: blank lines kept + never census'd; all-boilerplate docs vanish") {
    val shared = "shared footer boilerplate line"
    val docs = ((1L to 12L).map(i => (i, s"$shared\n\nunique body $i")) :+
      (99L, shared)).toDF("doc_id", "text")
    val out = Corpus.stripBoilerplate(docs) // shared df = 13 > 10
      .select("doc_id", "clean_text", "n_kept").as[(Long, String, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!out.contains(99L), "doc of pure boilerplate should vanish")
    (1L to 12L).foreach { i =>
      assert(out(i) == (s"\nunique body $i", 2L),
        s"doc $i: blank line must survive the census, body must remain")
    }
  }

  test("c08 x d09: template lines stripped, planted near-dups still found") {
    // bodyTokens=30 is the d09 spec's regime where template-only pairs
    // sit ABOVE the Jaccard threshold: without stripping, unrelated
    // docs read as near-dups; after stripping, only the planted
    // suffix-edit pairs remain — the results-level case for running
    // c08 BEFORE dedup (at the bench's bodyTokens=100 the template
    // costs quadratic join time instead of precision).
    val bp = Dedup.boilerplateCorpus(
      Tables.documents(spark, sf()), nDocs = 60, bodyTokens = 30)
    try {
      val plantedPairs = Set((0L, Dedup.BoilerplateIdOffset),
        (50L, 50L + Dedup.BoilerplateIdOffset))
      val unstripped = Dedup.jaccardPairs(bp, maxDf = None)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(plantedPairs.subsetOf(unstripped) && unstripped.size > plantedPairs.size,
        s"template-only pairs should pollute the unstripped result, got $unstripped")

      val stripped = Corpus.stripBoilerplate(Corpus.chunkLines(bp))
      val texts = stripped.select("doc_id", "clean_text")
        .as[(Long, String)].collect().toMap
      assert(texts.size == 62, "every doc must survive (unique bodies)")
      texts.values.foreach(t => assert(!t.contains("subscribe to our newsletter"),
        "template opening must be stripped"))
      val after = Dedup.jaccardPairs(
        stripped.select(col("doc_id"), col("clean_text").as("text")),
        maxDf = None)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(after == plantedPairs,
        s"only planted pairs should remain after stripping, got $after")
    } finally CacheRegistry.unpersistAll()
  }

  test("c10: each gate catches what the previous one structurally misses") {
    val docs = Tables.documents(spark, sf())
    val degenerates = docs.select("doc_id").as[Long].collect()
      .filter(_ % 11 == 0).toSet
    val corpus = Corpus.plantedLineCorpus(Corpus.degenerateCorpus(docs))
    try {
      // full composition: no degenerate survives
      val full = Corpus.c10(spark, sf()).select("doc_id").as[Long]
        .collect().toSet
      assert(full.nonEmpty && full.intersect(degenerates).isEmpty)
      // ablation: strip-only (no repetition gate) — the per-doc-unique
      // phrase repeats pass the line-df census AND the lang/quality
      // gates; most degenerates survive, proving t05 is the only
      // layer that catches them (near-dup pairing may clip a few)
      val noGate = Corpus.clean(corpus, Dedup.Pinned(None),
        stripLineDf = Some(Corpus.MaxLineDf))
        .select("doc_id").as[Long].collect().toSet
      val leaked = noGate.intersect(degenerates)
      assert(leaked.size >= degenerates.size / 2,
        s"expected degenerates to slip past strip+lang+quality, " +
          s"got ${leaked.size}/${degenerates.size}")
      // the two runs differ EXACTLY by what the gate rejected: the
      // flagged set is the planted one, nothing natural
      assert((noGate -- full) == leaked,
        "repetition gate must change only the degenerate docs")
    } finally CacheRegistry.unpersistAll()
  }

  test("cleanStaged == clean row-for-row (the 100 TB stage boundary " +
      "changes where the intermediate lives, not the result)") {
    val root = scratch("graft-c10stage")
    val stage = s"$root/stage"
    try {
      val inPlan = Corpus.c10(spark, sf())
        .as[(Long, String, Double)].collect().toSet
      val staged = Corpus.c10Staged(spark, sf(), stage)
        .as[(Long, String, Double)].collect().toSet
      assert(staged == inPlan && staged.nonEmpty)
      // the stage really landed on storage (the posture is real, not
      // a cache in disguise)
      val fs = new java.io.File(stage)
      assert(fs.exists && fs.listFiles.exists(_.getName.endsWith(".parquet")),
        "stage dir missing materialized parquet")
    } finally CacheRegistry.unpersistAll()
  }

  test("c08 -> clean integration: strip-first equals clean on template-free text") {
    // one-line bodies + a universal template line: stripping removes
    // exactly the template, so the cascade must see the ORIGINAL text
    // verbatim and produce the identical survivor rows
    val docs = Tables.documents(spark, sf())
    val templated = docs.select(col("doc_id"),
      concat(lit(Corpus.HeaderLine), lit("\n"), col("text")).as("text"))
    try {
      val viaStrip = Corpus.clean(templated, Dedup.Pinned(None),
        stripLineDf = Some(Corpus.MaxLineDf))
        .as[(Long, String, Double)].collect().toSet
      val direct = Corpus.clean(docs, Dedup.Pinned(None))
        .as[(Long, String, Double)].collect().toSet
      assert(viaStrip == direct)
    } finally CacheRegistry.unpersistAll()
  }

  test("c22 drop audit reconciles with c01 and covers every stage") {
    import org.apache.spark.sql.functions._
    val audit = graft.operators.Corpus.c22(spark, sf("sf0.001"))
      .select("doc_id", "stage").as[(Long, String)].collect().toMap
    val kept = graft.operators.Corpus.c01(spark, sf("sf0.001"))
      .select("doc_id").as[Long].collect().toSet
    // the audit's 'kept' set IS c01's survivor set, doc for doc
    assert(audit.filter(_._2 == "kept").keySet == kept)
    assert(audit.size == 500)
    // planted corpus exercises exact_dup (absent from the synthetic
    // table) and pins gate precedence: an undetermined-language dup
    // reports 'lang', not 'exact_dup'
    val good = "the quick brown fox jumps over the lazy dog and " +
      "then the calm rain falls on the quiet field tonight again"
    val docs = Seq(
      (1L, good), (2L, good),            // exact dups: 1 kept, 2 exact_dup
      (3L, "zzz qqq xxx"),               // no stopwords → und → lang
      (4L, "the !!!! ???? %%%% ####")    // english, punct-heavy → quality
    ).toDF("doc_id", "text")
    val got = graft.operators.Corpus.dropAudit(docs, Dedup.Pinned(None))
      .select("doc_id", "stage").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "kept", 2L -> "exact_dup",
      3L -> "lang", 4L -> "quality"))
  }

  test("d15: first occurrence survives, later copies cut, blanks exempt") {
    import graft.operators.Corpus
    val docs = Seq(
      (1L, "alpha one\nshared para\n\nbeta two"),
      (2L, "shared para\ngamma three\n\ngamma three"), // cross-doc AND in-doc dup
      (3L, "shared para\nbeta two")) // every line seen before → vanishes
      .toDF("doc_id", "text")
    val got = Corpus.paraDedup(docs)
      .select("doc_id", "clean_text", "n_kept", "n_cut")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 keeps everything incl. the blank (first occurrences)
    assert(got(1L) == (("alpha one\nshared para\n\nbeta two", 4L, 0L)))
    // doc 2: "shared para" cut (doc 1 owns it), second "gamma three"
    // cut (in-doc repeat), blank kept
    assert(got(2L) == (("gamma three\n", 2L, 2L)))
    // doc 3 lost every line → absent
    assert(!got.contains(3L))
  }
}