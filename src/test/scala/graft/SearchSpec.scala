package graft

import graft.operators.Search
import org.apache.spark.sql.functions._

/** s06 BM25 + s07 fuzzy matching: hand-computed score pinning, ranking
  * semantics on the real corpus, and the AUTO edit-budget cutoff. */
class SearchSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterEach {

  // suite convention: every cache-registering operator call is
  // released between tests so frames never accumulate in the shared
  // suite JVM (idempotent with the per-test try/finally blocks)
  override def afterEach(): Unit =
    try CacheRegistry.unpersistAll() finally super.afterEach()

  import spark.implicits._

  test("s06: BM25 scores pinned against hand computation") {
    // N=3, avgdl=5, df(x)=2 -> idf = round(ln(1 + 1.5/2.5), 6) = 0.470004
    // doc1 tf=3: 0.470004 * 6.6 / (3 + 1.2*(0.25 + 0.75)) = 0.738578
    // doc2 tf=1: 0.470004 * 2.2 / (1 + 1.2)               = 0.470004
    val docs = Seq(
      (1L, "x x x a b"),
      (2L, "x a b c d"),
      (3L, "a b c d e")).toDF("doc_id", "text")
    try {
      val rows = Search.bm25(docs, Seq("x"), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3)))
      assert(rows.toSeq == Seq(
        (1L, 1L, 0.738578, 1L),
        (2L, 2L, 0.470004, 1L)), s"got ${rows.toSeq}")
    } finally CacheRegistry.unpersistAll()
  }

  test("s06: rare-term IDF dominates ranking on the real corpus") {
    try {
      val top = Search.s06(spark, sf()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(top.nonEmpty && top.length <= Search.TopK)
      // ranks are 1..n and scores non-increasing with doc_id tiebreak
      assert(top.map(_._1).toSeq == (1L to top.length).toSeq)
      top.sliding(2).foreach { case Array(a, b) =>
        assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
          s"rank order violated: $a then $b")
      case _ => ()
      }
      // the rare query term ("dup", df ~5%) carries ~4x the IDF of the
      // common terms: every top-3 doc must actually contain it
      val topIds = top.take(3).map(_._2).toSet
      val withDup = Tables.documents(spark, sf())
        .filter(col("doc_id").isInCollection(topIds))
        .filter(array_contains(split(lower(col("text")), "\\s+"), "dup"))
        .count()
      assert(withDup == topIds.size,
        s"expected all of $topIds to contain the rare term")
    } finally CacheRegistry.unpersistAll()
  }

  test("s07: AUTO edit budgets — matches pinned, transposition cut off") {
    try {
      val rows = Search.s07(spark, sf()).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val expected = Set(
        ("haash", "hash", 1L), ("colum", "column", 1L),
        ("vectr", "vector", 1L), ("qery", "query", 1L),
        ("merrge", "merge", 1L), ("streem", "stream", 1L),
        ("scan", "scan", 0L))
      assert(rows == expected, s"got $rows")
      // "tabel" -> "table" is 2 edits at a 1-edit budget: absent above
    } finally CacheRegistry.unpersistAll()
  }

  test("s06 lexicon: artifact round-trip scores identically; merge == refit") {
    import graft.operators.Search
    val docs = Tables.documents(spark, sf())
    val dir = scratch("graft-lex")
    try {
      Search.writeLexicon(Search.fitLexicon(docs), dir)
      val fromArtifact = Search.bm25WithLexicon(docs, Search.QueryTerms,
          Search.readLexicon(spark, dir))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3)))
      CacheRegistry.unpersistAll()
      val inQuery = Search.s06(spark, sf())
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3)))
      assert(fromArtifact.sameElements(inQuery),
        "the fit-once artifact must score bit-identically to the in-query census")
      // exact incremental maintenance: fit two halves, merge, compare
      // against a full refit — the IncrementalStats fold==recompute
      // contract for the lexicon
      val merged = Search.mergeLexicons(
        Search.fitLexicon(docs.filter(col("doc_id") % 2 === 0)),
        Search.fitLexicon(docs.filter(col("doc_id") % 2 =!= 0)))
      val full = Search.fitLexicon(docs)
      def vmap(l: Search.Lexicon) = l.vocab.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(vmap(merged) == vmap(full), "merged vocab df must equal refit")
      assert(merged.stats.collect().head.toSeq ==
        full.stats.collect().head.toSeq, "merged totals must equal refit")
    } finally CacheRegistry.unpersistAll()
  }

  test("s08: phrase matches are adjacent-exact and tf-ranked") {
    // doc 2 has the phrase twice, doc 1 once, doc 3 has both words but
    // NOT adjacent (the match-vs-match_phrase distinction), doc 4 has
    // the reversed order
    val docs = Seq(
      (1L, "a hash join b"),
      (2L, "hash join c hash join"),
      (3L, "hash c join"),
      (4L, "join hash")).toDF("doc_id", "text")
    try {
      val rows = graft.operators.Search.phraseSearch(docs, Seq("hash", "join"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.map(_._2).toSet == Set(1L, 2L),
        s"only adjacent in-order occurrences count: ${rows.toSeq}")
      assert(rows.head == ((1L, 2L, 2L)),
        s"the tf=2 doc must rank first: ${rows.toSeq}")
    } finally CacheRegistry.unpersistAll()
  }

  test("s09: RRF fuses both lists; consensus docs outrank single-list docs") {
    import graft.operators.Search
    try {
      val rows = Search.s09(spark, sf()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
          r.getLong(4)))
      assert(rows.length == Search.HybridTopK)
      // every fused doc came from at least one list, and rrf is the
      // exact RRF of the recorded ranks
      rows.foreach { case (_, id, rrf, rl, rv) =>
        assert(rl > 0 || rv > 0, s"doc $id in neither list")
        val expect = (if (rl > 0) 1.0 / (Search.RrfK + rl) else 0.0) +
          (if (rv > 0) 1.0 / (Search.RrfK + rv) else 0.0)
        assert(math.abs(rrf - expect) < 1e-6, s"doc $id rrf $rrf != $expect")
      }
      // PRF closes the loop: the BM25 seeds are nearest their own
      // centroid, so at least one doc sits in BOTH lists — and any
      // both-lists doc must outrank every one-list-only doc whose
      // single rank is no better
      val both = rows.filter(r => r._4 > 0 && r._5 > 0)
      assert(both.nonEmpty, "no consensus docs — fusion is vacuous")
      assert(both.map(_._1).min == 1L,
        "a consensus doc should take the top fused rank here")
    } finally CacheRegistry.unpersistAll()
  }

  test("s07: df and n_docs agree for single-variant terms") {
    try {
      val bad = Search.s07(spark, sf())
        .groupBy(col("q_term"))
        .agg(count(lit(1)).as("nv"), max(col("df")).as("df"),
          max(col("n_docs")).as("nd"))
        .filter(col("nv") === 1 && col("df") =!= col("nd"))
        .count()
      assert(bad == 0L,
        "a single-variant term must match exactly df distinct docs")
    } finally CacheRegistry.unpersistAll()
  }


  test("s15: the postings artifact serves s06's exact rows; pruned read") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val dir = scratch("bm25idx")
    Search.writeBm25Index(docs, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Long)].collect().toSeq
    val face = rows(Search.bm25(docs, Search.QueryTerms))
    val served = rows(Search.queryBm25Index(spark, dir, Search.QueryTerms))
    assert(served == face && served.nonEmpty)
    // partition pruning: the query's bucket filter reads strictly
    // fewer files than a full postings scan (the s05b proof shape)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.totalNumberOfFiles
      }.sum
    val bks = Search.QueryTerms
      .map(Search.termBucket(_, Search.IndexBuckets)).distinct
    val all = spark.read.parquet(s"$dir/postings")
    val pruned = all.filter(col("bucket").isin(bks: _*))
    assert(filesRead(pruned) > 0 && filesRead(pruned) < filesRead(all),
      s"pruned read ${filesRead(pruned)} of ${filesRead(all)} files")
    // the driver-side bucket replay tracks the engine's hash: every
    // query-term posting row lives in a replayed bucket
    val engineBuckets = all.filter(col("term").isin(Search.QueryTerms: _*))
      .select("bucket").distinct().as[Int].collect().toSet
    assert(engineBuckets.subsetOf(bks.toSet))
  }

  test("s15: delta append == full rebuild, postings and lexicon both") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .transform(graft.CacheRegistry.register)
    val half0 = docs.filter(col("doc_id") % 2 === 0)
    val half1 = docs.filter(col("doc_id") % 2 === 1)
    val inc = scratch("bm25inc")
    val full = scratch("bm25full")
    Search.writeBm25Index(half0, inc)
    Search.appendBm25Index(half1, spark, inc)
    Search.writeBm25Index(docs, full)
    def rows(p: String) =
      Search.queryBm25Index(spark, p, Search.QueryTerms)
        .as[(Long, Long, Double, Long)].collect().toSeq
    assert(rows(inc) == rows(full) && rows(inc).nonEmpty)
    // and the merged lexicon is the full fit exactly
    val li = Search.readLexicon(spark, s"$inc/lex")
    val lf = Search.readLexicon(spark, s"$full/lex")
    assert(li.vocab.orderBy("tok").collect().toSeq ==
      lf.vocab.orderBy("tok").collect().toSeq)
    assert(li.stats.collect().toSeq == lf.stats.collect().toSeq)
  }


  test("index meta records the postings layout: static and batched " +
      "writers refuse each other's artifact") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .transform(graft.CacheRegistry.register)
    // a maintained (batched) index: postings live at batch=id/bucket=N
    val maintained = scratch("bm25b")
    Search.indexBatch(docs, 0L, maintained)
    // a static index: flat bucket=N
    val static0 = scratch("bm25s")
    Search.writeBm25Index(docs, static0)
    // static append onto the maintained artifact: would nest bucket=N
    // beside batch=id/ under one root → every later read throws on
    // conflicting directory structures; the meta check refuses first
    val e1 = intercept[IllegalArgumentException] {
      Search.appendBm25Index(docs, spark, maintained)
    }
    assert(e1.getMessage.contains("layout"))
    // batch fold onto the static artifact: same corruption, other way
    val e2 = intercept[IllegalArgumentException] {
      Search.indexBatch(docs, 1L, static0)
    }
    assert(e2.getMessage.contains("layout"))
    // both artifacts still serve after the refused writes (nothing
    // landed), through the same layout-agnostic query path
    assert(Search.queryBm25Index(spark, maintained, Search.QueryTerms)
      .collect().toSeq ==
      Search.queryBm25Index(spark, static0, Search.QueryTerms)
        .collect().toSeq)
  }

  test("s16: phrase-from-positions == the corpus-scan s08, and overlapping " +
      "occurrences count") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val dir = scratch("phraseidx")
    Search.writeBm25Index(docs, dir, positions = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSeq
    val face = rows(Search.phraseSearch(docs, Search.PhraseTerms))
    val served = rows(Search.queryPhraseIndex(spark, dir, Search.PhraseTerms))
    assert(served == face && served.nonEmpty)
    // positional fold semantics on planted docs: overlapping and
    // repeated occurrences, phrase-reversal misses, duplicate-term
    // phrases ("a a a" carries TWO overlapping "a a" occurrences)
    val planted = Seq(
      (1L, "x hash join y hash join z"), // tf 2
      (2L, "join hash"),                 // reversed -> no match
      (3L, "a a a"),                     // dup-term probe corpus
      (4L, "hash join"))                 // tf 1, shortest doc
      .toDF("doc_id", "text")
    val pdir = scratch("phraseidx2")
    Search.writeBm25Index(planted, pdir, positions = true)
    val hj = Search.queryPhraseIndex(spark, pdir, Seq("hash", "join"))
      .select("doc_id", "tf").as[(Long, Long)].collect().toMap
    assert(hj == Map(1L -> 2L, 4L -> 1L))
    val aa = Search.queryPhraseIndex(spark, pdir, Seq("a", "a"))
      .select("doc_id", "tf").as[(Long, Long)].collect().toMap
    assert(aa == Map(3L -> 2L))
    // a match-only (no-positions) index refuses phrase service loudly
    val mdir = scratch("matchonly")
    Search.writeBm25Index(planted, mdir)
    val err = intercept[IllegalArgumentException] {
      Search.queryPhraseIndex(spark, mdir, Seq("hash", "join"))
    }
    assert(err.getMessage.contains("positional"))
  }


  test("41r: streamed index maintenance == static rebuild; replay adds nothing") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .transform(graft.CacheRegistry.register)
    val half0 = docs.filter(col("doc_id") % 2 === 0)
    val half1 = docs.filter(col("doc_id") % 2 === 1)
    val m = scratch("bm25maint")
    val full = scratch("bm25stat")
    Search.writeBm25Index(docs, full, positions = true)
    def served(p: String) =
      (Search.queryBm25Index(spark, p, Search.QueryTerms)
         .as[(Long, Long, Double, Long)].collect().toSeq,
       Search.queryPhraseIndex(spark, p, Search.PhraseTerms)
         .as[(Long, Long, Long, Double)].collect().toSeq)
    Search.indexBatch(half0, 0L, m, positions = true)
    Search.indexBatch(half1, 1L, m, positions = true)
    assert(served(m) == served(full))
    // crash-replay: the same batch id lands again — postings overwrite
    // their own batch dir, the lexicon rebuilds its own generation
    Search.indexBatch(half1, 1L, m, positions = true)
    assert(served(m) == served(full))
    // and the real stream drives the same path
    val s2 = scratch("bm25maint2")
    val ckp = scratch("bm25ckp")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = Search.maintainBm25Index(
      input.toDF().toDF("doc_id", "text"), s2, ckp, positions = true)
    try {
      val rows = docs.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect()
      input.addData(rows.filter(_._1 % 2 == 0).toSeq: _*)
      q.processAllAvailable()
      input.addData(rows.filter(_._1 % 2 == 1).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(served(s2) == served(full))
  }

  test("s10: hand-computed metrics on a pinned ranking and qrels") {
    import spark.implicits._
    // ranking: docs 10,20,30 at ranks 1..3; qrels: 10 rel=3, 30 rel=2,
    // 40 rel=2 (unranked), 20 rel=1 (below RelMin)
    val ranking = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("rank", "doc_id")
    val rel = Seq((10L, 3L), (20L, 1L), (30L, 2L), (40L, 2L))
      .toDF("doc_id", "rel")
    val r = Search.rankEval(ranking, rel, k = 3).collect().head
    assert(r.getAs[Long]("n_rel") == 3)     // 10, 30, 40
    assert(r.getAs[Long]("hits") == 2)      // 10 and 30 ranked
    assert(math.abs(r.getAs[Double]("precision_k") - 2.0 / 3) < 1e-6)
    assert(math.abs(r.getAs[Double]("recall_k") - 2.0 / 3) < 1e-6)
    assert(r.getAs[Double]("mrr") == 1.0)   // first relevant at rank 1
    def g(rel: Long, rk: Long): Double =
      BigDecimal((math.pow(2.0, rel.toDouble) - 1) * Search.Ln2 /
        math.log(rk + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dcg = g(3, 1) + g(1, 2) + g(2, 3)
    // ideal order: rel 3 (doc 10), rel 2 (doc 30), rel 2 (doc 40) —
    // doc 20's rel-1 is pushed out of the ideal top-3
    val idcg = g(3, 1) + g(2, 2) + g(2, 3)
    assert(math.abs(r.getAs[Double]("dcg_k") - dcg) < 1e-6,
      s"dcg ${r.getAs[Double]("dcg_k")} != $dcg")
    assert(math.abs(r.getAs[Double]("idcg_k") - idcg) < 1e-6)
    assert(math.abs(r.getAs[Double]("ndcg_k") -
      BigDecimal(dcg / idcg).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("s10: a perfect ranking scores ndcg == 1 and mrr == 1") {
    import spark.implicits._
    val rel = Seq((1L, 3L), (2L, 2L), (3L, 2L), (4L, 0L)).toDF("doc_id", "rel")
    val perfect = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("rank", "doc_id")
    val r = Search.rankEval(perfect, rel, k = 3).collect().head
    assert(r.getAs[Double]("ndcg_k") == 1.0)
    assert(r.getAs[Double]("mrr") == 1.0)
    assert(r.getAs[Double]("recall_k") == 1.0)
    // and a ranking with NO relevant docs reads all-zero, not null/NaN
    val miss = Seq((1L, 4L)).toDF("rank", "doc_id")
    val m = Search.rankEval(miss, rel, k = 3).collect().head
    assert(m.getAs[Long]("hits") == 0 && m.getAs[Double]("mrr") == 0.0)
    assert(m.getAs[Double]("dcg_k") == 0.0)
  }

  test("s19: MLT picks the source's distinctive terms, excludes the " +
      "source, skips non-overlapping docs") {
    // qdoc 0: 'zebra quagga okapi' are its rarest (and only) terms →
    // all three get chosen; doc 1 shares all three (best neighbor),
    // doc 2 shares one, doc 3 shares none and must be absent.
    // Common filler in docs 1-3 keeps df(filler) high so tf·idf
    // never prefers it for qdoc 0 (it doesn't contain filler anyway).
    val docs = Seq(
      (0L, "zebra quagga okapi"),
      (1L, "zebra quagga okapi filler filler"),
      (2L, "zebra filler filler filler"),
      (3L, "filler filler filler filler"))
      .toDF("doc_id", "text")
    try {
      val got = Search.moreLikeThis(docs, stride = 4, nTerms = 3, k = 5)
        .as[(Long, Long, Long, Double, Long)].collect()
      // only doc 0 is a stride-0 source (4 divides only 0 here)
      assert(got.forall(_._1 == 0L))
      assert(!got.exists(_._3 == 0L), "source leaked into its own results")
      val byRank = got.sortBy(_._2).map(r => (r._3, r._5))
      // doc 1 matches 3 terms and outranks doc 2's single match;
      // doc 3 never appears
      assert(byRank.map(_._1).toSeq == Seq(1L, 2L))
      assert(byRank.map(_._2).toSeq == Seq(3L, 1L))
    } finally CacheRegistry.unpersistAll()
  }
}
