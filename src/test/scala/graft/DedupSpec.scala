package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Dedup + similarity semantics not expressible in the DuckDB oracle
  * (SimHash bit math, LSH recall) plus cross-operator consistency on
  * the planted near-duplicates in the test corpus. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: distinct word trigrams, short text → empty") {
    val df = Seq("a b c d", "a b", "x y z x y z").toDF("text")
    val got = df.select(Dedup.shingles(col("text")).as("s"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(got(0) == Set("a b c", "b c d"))
    assert(got(1) == Set.empty)
    assert(got(2) == Set("x y z", "y z x", "z x y")) // distinct-ified
  }

  test("native shingles expression matches the HOF formulation exactly") {
    // same tokens, same shingles, same first-occurrence order — the
    // native expression must be a pure drop-in for the transform +
    // array_distinct pipeline it replaced
    val docs = Tables.documents(spark, sf("sf0.001"))
    val hof = docs.withColumn("_w", split(trim(lower(col("text"))), "\\s+"))
      .select(col("doc_id"), Dedup.shinglesFromTokens(col("_w")).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    val native = docs.select(col("doc_id"),
      graft.plans.GraftFunctions.shingles(spark, col("text"), Dedup.ShingleN).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(native == hof)
  }

  test("d02 and d03 agree on planted near-dup pairs (LSH finds high-jaccard)") {
    val exact = Dedup.d02(spark, sf("sf0.001"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.d03(spark, sf("sf0.001"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    // LSH-verified pairs pass the same jaccard threshold → subset of exact;
    // at jaccard ≥ 0.5 with 4 bands × 4 rows collision prob ≈ 1 - (1-j^4)^4
    // is ≥ 0.2, and planted dups are ≈ 0.99 → all found.
    assert(lsh.subsetOf(exact))
    val high = Dedup.d02(spark, sf("sf0.001")).filter(col("jacc") >= 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(high.nonEmpty && high.subsetOf(lsh))
  }

  test("d02 df-capped candidates verify to the same high-jaccard pairs") {
    // the planted near-dups share many RARE shingles, so candidate
    // pruning at maxDf must not lose them, and verified jaccard is
    // computed on full sets → identical rows
    val exact = Dedup.d02(spark, sf("sf0.001"))
      .select("a", "b", "jacc").as[(Long, Long, Double)].collect().toSet
    val capped = Dedup.d02(spark, sf("sf0.001"), maxDf = Some(5))
      .select("a", "b", "jacc").as[(Long, Long, Double)].collect().toSet
    assert(capped == exact)
  }

  test("d02 default path is the capped one and matches exhaustive at test scale") {
    // the DEFAULT must be the scale-safe bounded-candidates plan;
    // semantics at test scale (no shingle near DefaultMaxDf) identical
    val exhaustive = Dedup.d02(spark, sf("sf0.001"), maxDf = None)
      .select("a", "b", "jacc").as[(Long, Long, Double)].collect().toSet
    val default = Dedup.d02(spark, sf("sf0.001"))
      .select("a", "b", "jacc").as[(Long, Long, Double)].collect().toSet
    assert(default == exhaustive)
  }

  test("capped path adapts: exhaustive plan when nothing is hot, decomposition when hot") {
    // the adaptive short-circuit is a PLAN property, pinned here so a
    // refactor can't silently keep paying the correction machinery on
    // corpora where the cap never binds (the r9 capped-twin inversion)
    try {
      // sf corpora: max shingle df far below the default cap → the
      // capped face must resolve to the plain self-join shape with no
      // anti/semi pruning joins anywhere in the plan
      val idle = Dedup.d02(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!idle.contains("LeftAnti") && !idle.contains("LeftSemi"),
        "cap machinery present although nothing exceeds the cap")
      // boilerplate corpus with a binding cap → the rare+hot
      // decomposition (anti + semi joins) must be in the plan
      val corpus = Dedup.boilerplateCorpus((1L to 40L).toDF("doc_id"), 40,
        bodyTokens = 30)
      val hot = Dedup.jaccardPairs(corpus, maxDf = Some(8))
        .queryExecution.executedPlan.toString
      assert(hot.contains("LeftAnti") && hot.contains("LeftSemi"),
        "decomposition not engaged although the cap binds")
    } finally CacheRegistry.unpersistAll()
  }

  test("d09 boilerplate corpus: cap binds (template df >> cap) yet planted pairs stay exact") {
    // 60 ids get generated unique bodies, all sharing the leading
    // template → every template shingle's df is 61 (the whole corpus),
    // far above cap=8: the cap PRUNES for real here (unlike the sf
    // tables, where max df ~25 never reaches DefaultMaxDf). The
    // planted suffix-edit near-dups ride on rare body shingles and
    // must survive with counts computed on FULL shingle sets —
    // bit-identical to the exhaustive run.
    // bodyTokens=30 makes bodies SHORTER than the template, so two
    // unrelated docs sharing only the template sit ABOVE the jaccard
    // threshold — the documented loss mode is actually exercised:
    // exhaustive reports those template-only pairs, capped drops them
    // (and ONLY them)
    val docs = (1L to 60L).toDF("doc_id")
    val corpus = Dedup.boilerplateCorpus(docs, 60, bodyTokens = 30)
    // the fixture really is boilerplate-heavy: hottest shingle df
    // equals the corpus size, far above the cap under test
    val nCorpus = corpus.count()
    val maxDfSeen = corpus.select(col("doc_id"),
        explode(graft.plans.GraftFunctions.shingles(spark, col("text"),
          Dedup.ShingleN)).as("sh"))
      .groupBy(col("sh")).count().agg(max("count")).as[Long].head()
    assert(maxDfSeen == nCorpus, "template shingles not shared by every doc")
    assert(maxDfSeen > 8 * 5, "fixture df does not dominate the cap")
    val exhaustive = Dedup.jaccardPairs(corpus, maxDf = None)
      .select("a", "b", "inter", "jacc")
      .as[(Long, Long, Long, Double)].collect().toSet
    val capped = Dedup.jaccardPairs(corpus, maxDf = Some(8))
      .select("a", "b", "inter", "jacc")
      .as[(Long, Long, Long, Double)].collect().toSet
    // every planted (source, source + offset) pair is reported by BOTH
    // runs with identical intersection count and jaccard
    val plantedIds = (1L to 60L).filter(_ % 50 == 0)
    assert(plantedIds.nonEmpty)
    plantedIds.foreach { i =>
      val e = exhaustive.filter(p => p._1 == i && p._2 == i + Dedup.BoilerplateIdOffset)
      val c = capped.filter(p => p._1 == i && p._2 == i + Dedup.BoilerplateIdOffset)
      assert(e.size == 1, s"planted pair of doc $i missing from exhaustive run")
      assert(c == e, s"planted pair of doc $i not exact under the cap")
    }
    // the cap may only LOSE pairs (those similar solely through hot
    // shingles), never invent or change one — and at this body length
    // such pairs exist, so the loss mode is demonstrated, not vacuous
    assert(capped.subsetOf(exhaustive))
    assert(capped.size < exhaustive.size,
      "no template-only pairs were dropped — loss-mode leg is vacuous")
  }

  test("d10 exact run overlap: K-run boundary exact; winnow guarantee cross-pinned") {
    import graft.operators.Dedup
    // boundary: docs sharing EXACTLY an 8-token run are detected with
    // shared == 1; a 7-token overlap is invisible at K=8
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val run7 = (1 to 7).map(i => s"r$i").mkString(" ")
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      1L -> s"${uniq("a", 10)} $run ${uniq("b", 10)}",
      2L -> s"${uniq("c", 10)} $run ${uniq("d", 10)}",
      3L -> s"${uniq("e", 10)} $run7 ${uniq("f", 10)}").toDF("doc_id", "text")
    try {
      val pairs = Dedup.runOverlapPairs(docs, maxDf = None)
        .select("a", "b", "shared").as[(Long, Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L, 1L)),
        s"expected exactly the 8-run pair with shared=1, got $pairs")

      // the winnowing GUARANTEE, cross-operator: any pair sharing a
      // run of >= WinnowWindow + WinnowK - 1 tokens must surface at
      // least one shared winnow fingerprint — so d10 pairs at that K
      // are a subset of d07 pairs at minShared = 1, on the real corpus
      val k = Dedup.WinnowWindow + Dedup.WinnowK - 1
      val corpus = Tables.documents(spark, sf())
      val exact = Dedup.runOverlapPairs(corpus, runTokens = k, maxDf = None)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(exact.nonEmpty, "guarantee check is vacuous: no shared runs")
      val winnow = Dedup.winnowPairs(corpus, minShared = 1, maxDf = None)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(exact.subsetOf(winnow),
        s"winnow guarantee violated for ${exact -- winnow}")

      // capped default equals exhaustive at test scale (df << cap)
      val capped = Dedup.runOverlapPairs(Tables.documents(spark, sf()))
        .select("a", "b", "shared").as[(Long, Long, Long)].collect().toSet
      val exh = Dedup.runOverlapPairs(Tables.documents(spark, sf()), maxDf = None)
        .select("a", "b", "shared").as[(Long, Long, Long)].collect().toSet
      assert(capped == exh)
    } finally CacheRegistry.unpersistAll()
  }

  test("d11 contamination report: per-doc overlap fractions exact") {
    import graft.operators.Dedup
    // eval doc E; train doc 10 embeds a verbatim 10-token span of E
    // (10-8+1 = 3 contaminated 8-grams), train doc 11 is a full copy
    // (frac 1.0), train doc 12 is disjoint (absent from the report)
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val evalDocs = Seq(100L -> s"${uniq("e", 5)} $span ${uniq("g", 5)}")
      .toDF("doc_id", "text")
    val train = Seq(
      10L -> s"${uniq("a", 10)} $span ${uniq("b", 10)}",
      11L -> s"${uniq("e", 5)} $span ${uniq("g", 5)}",
      12L -> uniq("z", 30)).toDF("doc_id", "text")
    try {
      val m = Dedup.contaminationReport(train, evalDocs)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(m.keySet == Set(10L, 11L), s"report rows: $m")
      assert(m(10L)._2 == 3L, s"10-token span must hit 3 distinct 8-grams: $m")
      assert(m(11L)._3 == 1.0, s"full copy must read fully contaminated: $m")
    } finally CacheRegistry.unpersistAll()
  }

  test("d07 winnowing: shared run >= window+k-1 guarantees a pair; cap verifies exact") {
    // the winnowing guarantee: any shared token run of length
    // >= window+k-1 (= 6 here) yields at least one shared fingerprint
    try {
      val run = "alpha bravo charlie delta echo foxtrot"
      val docs = Seq(
        (1L, s"unrelated prefix one $run suffix side"),
        (2L, s"$run completely different tail words here"),
        (3L, "nothing in common with the others at all wholly disjoint tokens")
      ).toDF("doc_id", "text")
      val pairs = Dedup.winnowPairs(docs, minShared = 1, maxDf = None)
        .select("a", "b", "shared").as[(Long, Long, Long)].collect()
      assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1),
        s"planted contiguous run not found: ${pairs.mkString(", ")}")
      assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L), "disjoint doc paired")

      // capped candidates report the same EXACT shared counts on the
      // pairs they keep (verification runs against full sets)
      val corpus = Tables.documents(spark, sf("sf0.001"))
      val exhaustive = Dedup.winnowPairs(corpus, maxDf = None)
        .as[(Long, Long, Long)].collect().toMap2
      val capped = Dedup.winnowPairs(corpus, maxDf = Some(64))
        .as[(Long, Long, Long)].collect().toMap2
      assert(capped.keySet.subsetOf(exhaustive.keySet))
      capped.foreach { case (k, v) => assert(exhaustive(k) == v, s"$k count drifted") }
    } finally CacheRegistry.unpersistAll()
  }

  test("d07 capped hot-correction path: exact counts when fingerprints exceed the cap") {
    // the rare+hot decomposition's correction join only executes when
    // some fingerprint's df EXCEEDS the cap — force that with a tiny
    // cap so a bug in the hot-count merge can't hide behind
    // all-rare corpora (sf0.1's max shingle df is 25, far under the
    // production cap of 256)
    try {
      val corpus = Tables.documents(spark, sf("sf0.001"))
      val cap = 2
      val maxFpDf = Dedup.winnowFps(corpus.select(col("doc_id"), col("text")))
        .groupBy(col("fp")).count().agg(max("count")).as[Long].head()
      assert(maxFpDf > cap,
        s"test corpus has no fingerprint above cap=$cap (max df $maxFpDf) — hot path not exercised")
      val exhaustive = Dedup.winnowPairs(corpus, maxDf = None)
        .as[(Long, Long, Long)].collect().toMap2
      val capped = Dedup.winnowPairs(corpus, maxDf = Some(cap))
        .as[(Long, Long, Long)].collect().toMap2
      // capped may (documented) miss pairs whose overlap is hot-only,
      // but every pair it DOES report must carry the exact full count
      // (sharedRare + sharedHot == exhaustive's shared)
      assert(capped.nonEmpty, "capped face found nothing at cap=2")
      assert(capped.keySet.subsetOf(exhaustive.keySet))
      capped.foreach { case (k, v) =>
        assert(exhaustive(k) == v, s"$k: capped=$v exhaustive=${exhaustive(k)}") }
    } finally CacheRegistry.unpersistAll()
  }

  test("d08 decontamination: planted eval doc detected; forced-hot cap stays exact") {
    try {
      // a corpus doc that near-verbatim contains a benchmark doc must
      // surface; an unrelated one must not
      val bench = Seq(
        (100L, "the seven wise storks delivered pamphlets describing ancient irrigation techniques")
      ).toDF("doc_id", "text")
      val corpus = Seq(
        (1L, "the seven wise storks delivered pamphlets describing ancient irrigation techniques with minor edits"),
        (2L, "entirely unrelated text about submarine cables and frozen yogurt economics")
      ).toDF("doc_id", "text")
      val hits = Dedup.decontaminate(corpus, bench, minShared = 1)
        .as[(Long, Long, Long)].collect()
      assert(hits.exists(h => h._1 == 1L && h._2 == 100L && h._3 >= 1),
        s"planted contamination missed: ${hits.mkString(", ")}")
      assert(!hits.exists(_._1 == 2L), "clean doc flagged")

      // cross-corpus rare+hot decomposition: capped rows are a subset
      // with EXACT counts, under a cap small enough that the hot
      // correction join really executes
      val docs = Tables.documents(spark, sf("sf0.001"))
      val c = docs.filter(col("doc_id") % Dedup.BenchIdMod =!= 0)
      val b = docs.filter(col("doc_id") % Dedup.BenchIdMod === 0)
      val ex = Dedup.decontaminate(c, b, maxDf = None)
        .as[(Long, Long, Long)].collect().toMap2
      assert(ex.nonEmpty, "no contamination across the eval split at test scale")
      val capped = Dedup.decontaminate(c, b, maxDf = Some(2))
        .as[(Long, Long, Long)].collect().toMap2
      assert(capped.keySet.subsetOf(ex.keySet))
      capped.foreach { case (k, v) =>
        assert(ex(k) == v, s"$k: capped=$v exhaustive=${ex(k)}") }
    } finally CacheRegistry.unpersistAll()
  }

  test("d08 decontamination against an EXTERNAL benchmark FILE (NDJSON)") {
    // the real-world shape: eval sets arrive as files, not as a column
    // predicate over the corpus table — the benchmark side is read
    // from NDJSON through the ingestion layer and decontamination
    // must catch a planted contaminated doc across the file boundary
    import org.apache.spark.sql.types._
    try {
      val root = scratch("graft-decon")
      val evalQ = "what is the capital of the ancient river kingdom and " +
        "why did its harbors silt over during the long drought season"
      val lines = Seq(
        s"""{"doc_id":9001,"text":"$evalQ"}""",
        """{"doc_id":9002,"text":"name three moons of the outer gas giant visible without any telescope"}""")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/benchmark.ndjson"),
        lines.mkString("\n").getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val bench = sources.Ingest.readNdjson(spark, s"$root/benchmark.ndjson", schema)
      val corpus = Seq(
        (1L, s"training prose preamble then $evalQ and trailing commentary"),
        (2L, "totally unrelated document about fermentation in lighthouse pantries"),
        (3L, "another innocuous training document mentioning turnip futures"))
        .toDF("doc_id", "text")
      val hits = Dedup.decontaminate(corpus, bench)
        .as[(Long, Long, Long)].collect()
      assert(hits.map(h => (h._1, h._2)).toSet == Set((1L, 9001L)),
        s"expected exactly the planted hit, got: ${hits.mkString(", ")}")
      // the capped production face reports the same hit with the same
      // exact count across the file boundary
      val ex = Dedup.decontaminate(corpus, bench, maxDf = None)
        .as[(Long, Long, Long)].collect().toMap2
      val capped = Dedup.decontaminate(corpus, bench)
        .as[(Long, Long, Long)].collect().toMap2
      assert(capped == ex, "capped face diverged across the file boundary")
    } finally CacheRegistry.unpersistAll()
  }

  private implicit class TripleOps(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[(Long, Long), Long] =
      rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("simhash: identical text → identical hash, near-dup close") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark query planning here"))
      .toDF("doc_id", "text")
    val sims = Dedup.simhash(df).as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(2L))
    val hamming = java.lang.Long.bitCount(sims(1L) ^ sims(3L))
    assert(hamming > 3) // different content is far
  }

  test("d04 finds exact-duplicate pair via banding") {
    // planted near-dups in the corpus have hamming ≤ 3 only if very
    // close; identical docs always collide in all 4 bands
    val pairs = Dedup.d04(spark, sf("sf0.001"))
      .select("a", "b", "hamming").collect()
    pairs.foreach(r => assert(r.getAs[Number]("hamming").intValue() <= 3))
  }

  test("d05 cosine symmetric and bounded") {
    val rows = Dedup.d05(spark, sf("sf0.001")).collect()
    rows.foreach { r =>
      val c = r.getAs[Double]("cos")
      assert(c >= Dedup.CosineThreshold && c <= 1.0 + 1e-9)
    }
  }

  test("d06 connected components: transitive chains merge, isolated stay") {
    import spark.implicits._
    // chain 1-2-3 (1~2, 2~3 but 1≁3), pair 10-11, isolated 20
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val verts = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val cc = Dedup.connectedComponents(edges, verts)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // a long path exercises multi-round propagation
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val pv = (1L to 12L).toDF("id")
    val ccp = Dedup.connectedComponents(path, pv).as[(Long, Long)].collect()
    assert(ccp.forall(_._2 == 1L))
  }

  test("d14 soft dedup: cluster mass is 1 per component, canonical is the kept min") {
    import spark.implicits._
    // chain 1~2~3 (no direct 1-3 edge), pair 10~11, singletons 20, 21
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.softDedupWeights(docs, pairs)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // the whole transitive chain shares one cluster and 1/3 weight
    Seq(1L, 2L, 3L).foreach { d =>
      assert(got(d) == ((1L, 3L, 0.333333, d == 1L)), s"doc $d")
    }
    assert(got(10L) == ((10L, 2L, 0.5, true)))
    assert(got(11L) == ((10L, 2L, 0.5, false)))
    // singletons keep full weight and are their own canonical
    Seq(20L, 21L).foreach(d => assert(got(d) == ((d, 1L, 1.0, true))))
    // mass conservation up to the per-doc rounding: Σ weight ==
    // #components (each cluster contributes csize · 1/csize)
    val totalW = got.values.map(_._3).sum
    assert(math.abs(totalW - 4.0) < 1e-4)
    // exactly one canonical per component
    assert(got.values.count(_._4) == 4)
  }

  test("d18 priority dedup: best-priority source survives, not the min id; " +
      "one keep per cluster; source tie breaks by doc_id") {
    import spark.implicits._
    // chain 1~2~3 across sources where the MIN id is the WORST
    // source: survivorship must pick doc 2 (src2), proving the keep
    // verdict is the priority rule, not d06's min-id canonical
    val docs = Seq(
      (1L, "src5"), (2L, "src2"), (3L, "src9"),
      (10L, "src7"), (11L, "src7"),  // same source: tie → min id
      (20L, "src3")).toDF("doc_id", "source")
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val priority = docs.select(col("source")).distinct()
      .withColumn("priority", substring(col("source"), 4, 10).cast("long"))
    val got = Dedup.priorityDedup(docs, pairs, priority)
      .as[(Long, Long, Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._5, r._6))).toMap
    assert(got(1L) == ((1L, 3L, 5L, false)))
    assert(got(2L) == ((1L, 3L, 2L, true)))   // best source wins
    assert(got(3L) == ((1L, 3L, 9L, false)))
    assert(got(10L) == ((10L, 2L, 7L, true))) // tie → doc_id asc
    assert(got(11L) == ((10L, 2L, 7L, false)))
    assert(got(20L) == ((20L, 1L, 3L, true))) // singleton keeps itself
    // exactly one keep per component
    assert(got.values.count(_._4) == 3)
  }

  test("d18: a source the ranking omits stays in the audit with null " +
      "priority, sorts last, and never beats a ranked copy") {
    import spark.implicits._
    val docs = Seq(
      (5L, "unranked"), (6L, "src9"),   // pair: ranked src9 must win
      (30L, "unranked")).toDF("doc_id", "source")
    val pairs = Seq((5L, 6L)).toDF("a", "b")
    val priority = Seq(("src9", 9L)).toDF("source", "priority")
    val rows = Dedup.priorityDedup(docs, pairs, priority).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(5L, 30L, 6L)) // audit frame is total
    // the worst RANKED source still beats the unranked copy
    assert(!rows(5L).getBoolean(5) && rows(5L).isNullAt(4))
    assert(rows(6L).getBoolean(5) && rows(6L).getLong(4) == 9L)
    // an all-unranked singleton still keeps itself
    assert(rows(30L).getBoolean(5) && rows(30L).isNullAt(4))
  }

  test("d19 source overlap: planted cross- and within-source pairs land " +
      "in the right matrix cells; sources normalize to unordered") {
    import spark.implicits._
    val docs = Seq(
      (1L, "web"), (2L, "curated"),     // cross pair web~curated
      (3L, "web"), (4L, "web"),         // within-source pair web~web
      (5L, "curated"), (6L, "web"),     // second cross pair (shares doc 6's source)
      (9L, "books")).toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.sourceOverlap(docs, pairs)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // least/greatest normalization: (web, curated) and (curated, web)
    // land in ONE cell regardless of pair orientation
    assert(got == Map(
      ("curated", "web") -> ((2L, 4L)),
      ("web", "web") -> ((1L, 2L))))
  }

  test("connected components: a 300-hop chain converges inside the default round budget") {
    import spark.implicits._
    // the pointer-doubling pin: neighbor-min alone moves the min ONE
    // hop per round, so a 300-node path needs 299 rounds and the
    // default maxIter = 20 fail-fast would throw; with the
    // label[label[v]] jump rounds grow with log2(diameter) and the
    // same budget converges with room to spare. Descending ids make
    // the min sit at the FAR end of the chain (the worst case — the
    // label must traverse the whole diameter).
    val n = 300L
    val path = (1L until n).map(i => (n - i + 1, n - i)).toDF("a", "b")
    val pv = (1L to n).toDF("id")
    val cc = Dedup.connectedComponents(path, pv).as[(Long, Long)].collect()
    assert(cc.length == n && cc.forall(_._2 == 1L))
  }

  test("s02 LSH ANN recall vs s01 brute force") {
    val exact = Similarity.s01(spark, sf("sf0.001"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.s02(spark, sf("sf0.001"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(approx.nonEmpty)
    // single-probe 8-plane LSH: require non-trivial recall
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.15, s"recall $recall too low")
    // every LSH hit must itself be a real vector pair with cos computed
    // consistently (subset check is not required — bucketing prunes)
  }

  test("s03 IVF ANN recall vs s01 brute force") {
    val exact = Similarity.s01(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.s03(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val recall = (exact & ivf).size.toDouble / exact.size
    // probing 4 of 16 cells must beat the 25% random baseline clearly
    assert(recall >= 0.4, s"IVF recall $recall too low")
  }

  test("s03b pinned-codebook IVF: single-cell assignment and recall vs s01") {
    val exact = Similarity.s01(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val core = Similarity.s03b(spark, sf("sf0.01"))
    val rows = core.select("qid", "vec_id").as[(Long, Long)].collect()
    // argmax assignment puts each corpus vector in exactly one cell →
    // a (qid, vec_id) candidate can never repeat (no dedup in the plan)
    assert(rows.length == rows.toSet.size)
    val recall = (exact & rows.toSet).size.toDouble / exact.size
    // probing 4 of 16 sign-pattern cells must clearly beat random
    assert(recall >= 0.4, s"pinned-codebook IVF recall $recall too low")
  }

  test("s04 PQ/ADC: 8-code compression, no candidate dupes, recall vs s01") {
    val exact = Similarity.s01(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.s04(spark, sf("sf0.01"))
    val rows = pq.select("qid", "vec_id").as[(Long, Long)].collect()
    assert(rows.length == rows.toSet.size)
    // every code must be a valid codebook index — the compressed
    // representation is 8 small ints per vector
    val codes = Tables.embeddings(spark, sf("sf0.001"))
      .select(Similarity.pqEncode(spark, col("embedding")).as("c"))
      .as[Array[Int]].collect()
    assert(codes.forall(c => c.length == Similarity.SubSpaces &&
      c.forall(j => j >= 0 && j < Similarity.CodesPerSub)))
    val recall = (exact & rows.toSet).size.toDouble / exact.size
    // 32× compression + 20-candidate re-rank must clearly beat random
    assert(recall >= 0.4, s"PQ recall $recall too low")
  }

  test("s05 IVF-PQ: candidate set is the probed-cell ∩ ADC-top subset, recall holds") {
    val exact = Similarity.s01(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val rows = Similarity.s05(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(rows.length == rows.toSet.size)
    // double approximation (4/16 cells, then ADC top-20) must still
    // clearly beat the 25% random-cell baseline
    val recall = (exact & rows.toSet).size.toDouble / exact.size
    assert(recall >= 0.35, s"IVF-PQ recall $recall too low")
    // and IVF-PQ hits must come from the probed cells: a subset of
    // the FULL candidate pool of the same coarse quantizer (s03b
    // dataflow with an unbounded k)
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val q = e.filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pool = Similarity.annIvfCore(e, q, k = Int.MaxValue)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(rows.toSet.subsetOf(pool))
  }

  test("s17 SQ8: codes in 0..255, constant dims encode 0, recall beats PQ") {
    val exact = Similarity.s01(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val rows = Similarity.s17(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(rows.length == rows.toSet.size)
    // 8 bits per dim + re-rank-20 is a far finer approximation than
    // PQ's 4 bits per 8-dim subspace: near-exact recall expected
    val recall = (exact & rows.toSet).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall $recall too low")
    val pqRecall = (exact & Similarity.s04(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet).size.toDouble / exact.size
    assert(recall >= pqRecall,
      s"SQ8 recall $recall below PQ's $pqRecall at the same re-rank budget")
    // every code is a valid 0..255 bin of the right arity
    val codes = Similarity.sq8Encoded(Tables.embeddings(spark, sf("sf0.001")))
      .select("codes").as[Array[Int]].collect()
    assert(codes.forall(c => c.length == Similarity.Dim &&
      c.forall(v => v >= 0 && v <= 255)))
    // planted zero-range dimension (every vector equal there) → code 0;
    // the max vector of a varying dim clamps into bin 255
    val planted = Seq(
      (0L, Array.tabulate(Similarity.Dim)(d => if (d == 0) 5f else 0f)),
      (1L, Array.tabulate(Similarity.Dim)(d => if (d == 0) 5f else 1f)),
      (2L, Array.tabulate(Similarity.Dim)(d => if (d == 0) 5f else 2f)))
      .toDF("vec_id", "embedding")
    val pc = Similarity.sq8Encoded(planted).orderBy("vec_id")
      .select("codes").as[Array[Int]].collect()
    assert(pc.forall(_(0) == 0))            // constant dim → 0
    assert(pc(0)(1) == 0 && pc(2)(1) == 255) // min → 0, max clamps to 255
    assert(pc(1)(1) == 128)                  // midpoint → floor(0.5·256)
  }

  test("s18 IVF-SQ8: recall beats IVF-PQ at the same probe budget; " +
      "hits stay in probed cells") {
    val exact = Similarity.s01(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val rows = Similarity.s18(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(rows.length == rows.toSet.size)
    // same 4/16 cell pruning as s05 but an 8-bit-per-dim in-cell
    // scan: whatever the cells admit, SQ8 ranks near-exactly, so
    // recall must dominate IVF-PQ's at the identical probe/re-rank
    // budget (measured 0.58 vs 0.48 at landing)
    val recall = (exact & rows.toSet).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-SQ8 recall $recall too low")
    val pqRecall = (exact & Similarity.s05(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet)
      .size.toDouble / exact.size
    assert(recall >= pqRecall,
      s"IVF-SQ8 recall $recall below IVF-PQ's $pqRecall")
    // and hits must come from the probed cells: a subset of the FULL
    // candidate pool of the same coarse quantizer (the s05 invariant)
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val q = e.filter(col("vec_id") % Similarity.QueryStride === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pool = Similarity.annIvfCore(e, q, k = Int.MaxValue)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(rows.toSet.subsetOf(pool))
  }

  test("s21 filtered ANN: the label predicate commutes with the index; " +
      "every hit shares the query's label") {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val hits = Similarity.s21(spark, sf("sf0.01"))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .join(e.select(col("vec_id").as("qid"), col("label").as("qlabel")),
        "qid")
      .select("label", "qlabel").as[(Int, Int)].collect()
    assert(hits.nonEmpty)
    assert(hits.forall(h => h._1 == h._2), "a hit crossed the tenant wall")
    // commute: cell assignment is per-vector independent, so pushing
    // the filter into a SHARED index must equal filtering the corpus
    // first and indexing the slice — the guarantee that justifies one
    // index for all tenants instead of one per tenant
    val lab = 3
    val qs = e.filter(col("vec_id") % Similarity.QueryStride === 0 &&
        col("label") === lab)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "vec_id").as[(Long, Long, Long)]
        .collect().toSet
    val pushed = rows(Similarity.annIvfFiltered(e, qs))
    val sliced = rows(Similarity.annIvfCore(
      e.filter(col("label") === lab),
      qs.select(col("qid"), col("qe"))))
    assert(pushed == sliced, "filter pushdown diverged from pre-filtering")
    assert(pushed.nonEmpty)
  }

  test("ANN faces accept an explicit external query set") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    // exact copies of 3 corpus vectors, re-keyed as external queries
    val q = e.filter(col("vec_id").isin(1L, 7L, 13L))
      .select((col("vec_id") + 100000L).as("qid"), col("embedding").as("qe"))
    val bf = Similarity.annBruteForce(e, q, k = 3).cache()
    assert(bf.count() == 9) // 3 queries × k
    // rank-1 neighbor of an exact copy is the original, cos ≈ 1
    bf.filter(col("rank") === 1).collect().foreach { r =>
      assert(r.getAs[Long]("qid") - 100000L == r.getAs[Long]("vec_id"))
      assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-9)
    }
    // the LSH face buckets an exact copy identically → same rank-1
    Similarity.annLsh(e, q, k = 1).collect().foreach { r =>
      assert(r.getAs[Long]("qid") - 100000L == r.getAs[Long]("vec_id"))
    }
  }

  test("lsh bucket is deterministic across evaluations") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val b1 = e.select(col("vec_id"), Similarity.lshBucket(col("embedding")).as("b"))
      .as[(Long, Int)].collect().toMap
    val b2 = e.select(col("vec_id"), Similarity.lshBucket(col("embedding")).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < (1 << Similarity.NumPlanes)))
  }

  test("d12: bloom-prefiltered decontamination == d08 exactly, and the bloom prunes") {
    try {
      val dir = sf("sf0.01")
      val exact = Dedup.d08(spark, dir)
      val bloomed = Dedup.d12(spark, dir)
      assert(exact.exceptAll(bloomed).isEmpty &&
        bloomed.exceptAll(exact).isEmpty,
        "bloom prefilter changed the decontamination result")
      assert(exact.count() > 0, "vacuous corpus: no contaminated rows")
      // the prefilter must actually prune: corpus fps surviving the
      // bloom ≪ all corpus fps (corpus and eval are mostly disjoint)
      val docs = Tables.documents(spark, dir)
      val corpus = docs.filter(col("doc_id") % Dedup.BenchIdMod =!= 0)
      val bench = docs.filter(col("doc_id") % Dedup.BenchIdMod === 0)
      val bf = Dedup.winnowFps(bench)
      val bloom = bf.stat.bloomFilter("fp", math.max(bf.count(), 1L), 0.01)
      val all = Dedup.winnowFps(corpus).count()
      val kept = Dedup.winnowFps(corpus)
        .filter(graft.plans.GraftFunctions.bloomContains(spark,
          col("fp"), bloom))
        .count()
      assert(kept < all / 2,
        s"bloom kept $kept of $all corpus fps — prefilter not pruning")
      // one-sided error: every actual eval fp must probe true
      val misses = bf
        .filter(!graft.plans.GraftFunctions.bloomContains(spark,
          col("fp"), bloom))
        .count()
      assert(misses == 0L, "bloom false negative — breaks exactness")
    } finally CacheRegistry.unpersistAll()
  }

  test("d17 curve is monotone and shows the noise/dup knee") {
    val rows = graft.operators.Dedup.d17(spark, sf("sf0.001"))
      .orderBy("threshold").as[(Double, Long)].collect()
    assert(rows.length == 7)
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 >= b._2 })
    // the knee: background co-occurrence noise disappears between the
    // lowest cut and 0.1, planted near-dups survive to 0.9
    assert(rows.head._2 > rows.last._2)
    assert(rows.last._2 > 0)
  }

  test("d16 capped audit == exhaustive audit where the cap does not bind") {
    // the shipped d16 runs the CAPPED detectors while the oracle
    // replays the exhaustive CTEs — valid because on an under-cap
    // corpus the decomposition is output-identical; pin that here
    try {
      val capped = graft.operators.Dedup.d16(spark, sf("sf0.001"))
        .collect().map(_.toSeq).toSet
      val exhaustive = graft.operators.Dedup
        .d16(spark, sf("sf0.001"), maxDf = None)
        .collect().map(_.toSeq).toSet
      assert(capped == exhaustive)
      assert(capped.nonEmpty)
    } finally CacheRegistry.unpersistAll()
  }

  test("d17 emits all threshold rows with n_pairs=0 on a pair-free corpus") {
    // no shared shingles anywhere → the pair frame is EMPTY; the
    // curve must still match the oracle's `t LEFT JOIN j ON TRUE`
    // shape: one row per threshold, all zero (an explode-over-pairs
    // formulation would emit nothing)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    try {
      val pairs = graft.operators.Dedup.jaccardPairs(docs,
        maxDf = None, threshold = 0.02).select(col("jacc"))
      val got = graft.operators.Dedup.thresholdCurve(pairs)
        .orderBy("threshold").as[(Double, Long)].collect()
      assert(got.length == graft.operators.Dedup.CurveThresholds.length)
      assert(got.forall(_._2 == 0L))
    } finally CacheRegistry.unpersistAll()
  }

  test("autoPairs census routes the three committed regimes: sparse -> " +
      "plain, hot-concentrated -> prefix, rare-overlap mass -> capped") {
    import graft.operators.Dedup
    try {
      // sf0.1 corpus: sparse overlap (committed census 1.27e6 mass,
      // hot 0) — the plain gear at the default budget
      val sfDocs = graft.Tables.documents(spark, sf("sf0.1"))
      val c1 = Dedup.gearCensus(sfDocs)
      assert(c1.hotPairMass == 0.0 && c1.totalPairMass > 1e6 &&
        c1.totalPairMass < Dedup.PlainPairBudget)
      assert(Dedup.chooseGear(c1) == Dedup.PlainGear)
      // d09 boilerplate corpus: co-occurrence mass ~entirely on hot
      // template shingles (committed census 9.83e7, hotShare 1.0)
      val c2 = Dedup.gearCensus(Dedup.boilerplateCorpus(sfDocs, 1500))
      assert(c2.totalPairMass > Dedup.PlainPairBudget && c2.hotShare > 0.95)
      assert(Dedup.chooseGear(c2) == Dedup.PrefixGear)
      // the sf1 replica PROFILE (big mass, ZERO hot share — every df
      // grows ~x10 but stays under the cap), derived at sf0.01 scale
      // by the same BenchSf1 derivation; the routing is pinned at a
      // proportionally scaled budget (the absolute default is sized
      // for bench scale — committed sf1 census 1.38e8, hotShare 0)
      val mini = graft.BenchSf1.deriveDocs(
        graft.Tables.documents(spark, sf("sf0.01")))
      val c3 = Dedup.gearCensus(mini)
      assert(c3.totalPairMass > 50 * 1.4e4, // ~base-corpus mass x100
        s"replica derivation did not scale the mass: $c3")
      assert(c3.hotShare < 0.05, s"replica profile grew hot keys: $c3")
      assert(Dedup.chooseGear(c3, plainBudget = c3.totalPairMass / 10) ==
        Dedup.CappedGear)
      // hot mass depends on the cap: a tighter cap over the SAME
      // corpus must count more of it
      val tight = Dedup.gearCensus(graft.Tables.documents(spark, sf()), cap = 2)
      val loose = Dedup.gearCensus(graft.Tables.documents(spark, sf()))
      assert(tight.hotPairMass > loose.hotPairMass,
        s"cap=2 census counted no extra hot mass: $tight vs $loose")
      // mechanism boundaries, pinned exactly
      assert(Dedup.chooseGear(Dedup.GearCensus(100, 0), 100) == Dedup.PlainGear)
      assert(Dedup.chooseGear(Dedup.GearCensus(101, 51), 100) == Dedup.PrefixGear)
      assert(Dedup.chooseGear(Dedup.GearCensus(101, 50), 100) == Dedup.CappedGear)
      assert(Dedup.chooseGear(Dedup.GearCensus(0, 0)) == Dedup.PlainGear)
      // and the routed result IS the pinned gear's result (plain at
      // test scale)
      val auto = Dedup.autoPairs(graft.Tables.documents(spark, sf()))
        .select("a", "b", "inter").as[(Long, Long, Long)].collect().toSet
      val plain = Dedup.jaccardPairs(graft.Tables.documents(spark, sf()),
        maxDf = None).select("a", "b", "inter")
        .as[(Long, Long, Long)].collect().toSet
      assert(auto == plain)
    } finally CacheRegistry.unpersistAll()
  }
}
