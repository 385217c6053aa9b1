package graft

import graft.streaming.Alerts
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming semantics (SURVEY.md §2 rows 40–41): the
  * high-risk frequency rule and stateful sessionization, driven
  * through MemoryStream + memory sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  case class Scored(ts: Timestamp, item_id: Long, risk_score: Int)

  test("high-risk alert rule: windowed counts of risk >= 80") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Scored]
    val q = Alerts.highRiskAlerts(input.toDF())
      .writeStream.format("memory").queryName("alerts")
      .outputMode("append").start()
    try {
      input.addData(
        Scored(ts(1), 1, 90), Scored(ts(2), 2, 50), Scored(ts(3), 3, 85),
        Scored(ts(12), 4, 95), Scored(ts(14), 5, 10))
      q.processAllAvailable()
      // advance watermark far enough to close both windows
      input.addData(Scored(ts(59), 9, 99))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM alerts ORDER BY wstart").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n_alerts") == 2) // 10:00 window: 90, 85
      assert(rows(0).getAs[Int]("max_risk") == 90)
      assert(rows(1).getAs[Long]("n_alerts") == 1) // 10:10 window: 95
    } finally q.stop()
  }

  test("stream-static enrichment: seller trust lowers the alert bar") {
    implicit val sqlCtx = spark.sqlContext
    val trust = Seq((10L, 90), (20L, 10)).toDF("seller_id", "trust_risk")
    val input = MemoryStream[(Timestamp, Long, Long, Int)]
    val q = Alerts.enrichedHighRiskAlerts(
        input.toDF().toDF("ts", "item_id", "seller_id", "risk_score"), trust)
      .writeStream.format("memory").queryName("enriched_alerts")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(1), 1L, 10L, 40),  // 40 + 90 = 130 ≥ 120 → risky seller alerts
        (ts(2), 2L, 20L, 40),  // 40 + 10 = 50 → no alert
        (ts(3), 3L, 99L, 85),  // own risk ≥ 80; unknown seller defaults 50
        (ts(4), 4L, 20L, 75))  // 75 + 10 = 85 → no alert
      q.processAllAvailable()
      input.addData((ts(59), 9L, 20L, 99)) // close the window
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n_alerts, max_risk, max_combined FROM enriched_alerts ORDER BY wstart")
        .collect()
      assert(rows.nonEmpty)
      assert(rows(0).getAs[Long]("n_alerts") == 2) // items 1 and 3
      assert(rows(0).getAs[Int]("max_risk") == 85)
      assert(rows(0).getAs[Int]("max_combined") == 135) // item 3: 85+50
    } finally q.stop()
  }

  test("stateful sessionization via flatMapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Alerts.Event]
    val q = Alerts.sessionize(input.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then a 40-min gap
      // (new session). user 2: single event.
      input.addData(
        Alerts.Event(1, ts(0)), Alerts.Event(1, ts(5)),
        Alerts.Event(2, ts(2)))
      q.processAllAvailable()
      input.addData(Alerts.Event(1, ts(45)))
      q.processAllAvailable()
      // push watermark way forward so all sessions time out
      input.addData(Alerts.Event(9, Timestamp.valueOf("2026-01-01 14:00:00")))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events FROM sessions ORDER BY user_id, session_start")
        .as[(Long, Long)].collect().toSeq
      assert(rows.contains((1L, 2L))) // first session of user 1
      assert(rows.contains((1L, 1L))) // second session after gap
      assert(rows.contains((2L, 1L)))
    } finally q.stop()
  }

  test("sessionization survives a late event near the watermark boundary") {
    // Regression guard for the setTimeoutTimestamp clamp: an event
    // admitted close to the watermark (plus a same-batch event that
    // jumps the watermark far past last+gap) must neither kill the
    // query nor lose its session. Also exercised: an event BELOW the
    // watermark is silently dropped by the operator's late filter
    // rather than crashing anything.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Alerts.Event]
    val q = Alerts.sessionize(input.toDF())
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      input.addData(Alerts.Event(9, Timestamp.valueOf("2026-01-01 14:00:00")))
      q.processAllAvailable() // watermark -> 13:00
      // 13:10 passes the 13:00 late filter; 10:30 is below it and must
      // be dropped silently; 18:00 jumps the watermark to 17:00 > 13:40
      input.addData(Alerts.Event(1, Timestamp.valueOf("2026-01-01 13:10:00")),
        Alerts.Event(2, ts(30)),
        Alerts.Event(9, Timestamp.valueOf("2026-01-01 18:00:00")))
      q.processAllAvailable()
      input.addData(Alerts.Event(9, Timestamp.valueOf("2026-01-01 22:00:00")))
      q.processAllAvailable() // times the boundary state out
      val rows = spark.sql("SELECT user_id, n_events FROM late_sessions")
        .as[(Long, Long)].collect().toSeq
      assert(rows.contains((1L, 1L)))
      assert(!rows.exists(_._1 == 2L)) // below-watermark event dropped
    } finally q.stop()
  }

  test("file-source end-to-end: NDJSON stream → alert rule → parquet sink") {
    import org.apache.spark.sql.types._
    val root = scratch("graft-stream")
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckDir = s"$root/ck"
    new java.io.File(inDir).mkdirs()
    // one NDJSON micro-batch file, the bulk_ingest shape
    val lines = Seq(
      """{"ts":"2026-01-01T10:01:00.000Z","item_id":1,"risk_score":90}""",
      """{"ts":"2026-01-01T10:03:00.000Z","item_id":2,"risk_score":40}""",
      """{"ts":"2026-01-01T10:04:00.000Z","item_id":3,"risk_score":85}""",
      """{"ts":"2026-01-01T12:00:00.000Z","item_id":4,"risk_score":99}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/batch1.json"),
      lines.mkString("\n").getBytes("UTF-8"))

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("item_id", LongType),
      StructField("risk_score", IntegerType)))
    val stream = spark.readStream.schema(schema).json(inDir)
    val q = Alerts.highRiskAlerts(stream)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckDir).outputMode("append").start()
    try {
      q.processAllAvailable()
      // the 12:00 event advanced the watermark past the 10:00 window
      val rows = spark.read.parquet(outDir)
        .select("n_alerts", "max_risk").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 2) // 90 and 85 in the 10:00-10:10 window
      assert(rows(0).getInt(1) == 90)
    } finally q.stop()
  }

  test("checkpointed ingest: kill + resume continues exactly-once, dups dropped") {
    import org.apache.spark.sql.types._
    val root = scratch("graft-ckpt")
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckDir = s"$root/ck"
    new java.io.File(inDir).mkdirs()
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("text", StringType)))
    def writeBatch(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/$name"),
        lines.mkString("\n").getBytes("UTF-8"))

    // batch 1: one in-batch duplicate pair (same canonical fingerprint)
    writeBatch("b1.json", Seq(
      """{"ts":"2026-01-01T10:00:00.000Z","doc_id":1,"text":"Hello  World!"}""",
      """{"ts":"2026-01-01T10:01:00.000Z","doc_id":2,"text":"hello world"}""",
      """{"ts":"2026-01-01T10:02:00.000Z","doc_id":3,"text":"distinct doc"}"""))
    val q1 = streaming.Ingest.resume(spark, inDir, schema, outDir, ckDir)
    try q1.processAllAvailable() finally q1.stop() // "crash" after batch 1

    // batch 2 AFTER the restart: a cross-restart duplicate of doc 3
    // (within watermark — must be dropped from checkpointed state) and
    // one genuinely new doc
    writeBatch("b2.json", Seq(
      """{"ts":"2026-01-01T10:03:00.000Z","doc_id":4,"text":"DISTINCT   doc"}""",
      """{"ts":"2026-01-01T10:04:00.000Z","doc_id":5,"text":"brand new content"}"""))
    val q2 = streaming.Ingest.resume(spark, inDir, schema, outDir, ckDir)
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir).select("doc_id")
      .as[Long].collect().toSeq.sorted
    // doc 2 (in-batch dup), doc 4 (cross-restart dup) dropped; batch 1
    // rows NOT re-emitted on resume
    assert(out == Seq(1L, 3L, 5L))
  }

  test("streaming near-dup gate: later-batch near-duplicate dropped, replay idempotent") {
    import org.apache.spark.sql.types._
    val root = scratch("graft-ndgate")
    val inDir = s"$root/in"; val docsDir = s"$root/docs"
    val fpDir = s"$root/fp"; val ckDir = s"$root/ck"
    new java.io.File(inDir).mkdirs()
    // an extra metadata column (url) rides along to prove the gate
    // writes FULL survivor rows, not just (doc_id, text)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("url", StringType)))
    def writeBatch(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    def acceptedIds(): Seq[Long] =
      spark.read.parquet(docsDir).select("doc_id").as[Long].collect().toSeq.sorted
    // long shared run => many shared winnow fingerprints (>= minShared)
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green parrots recite astonishing poetry about distant nebulae and forgotten harbors"

    // batch 0: a doc, its IN-batch near-dup (suffix edit — contiguous
    // overlap, the winnowing specialty), and one distinct doc
    writeBatch("b1.json", Seq(
      s"""{"doc_id":1,"text":"$base","url":"https://ex.test/1"}""",
      s"""{"doc_id":2,"text":"$base truly","url":"https://ex.test/2"}""",
      """{"doc_id":3,"text":"completely unrelated inventory ledger rows describing turnip futures and maritime insurance claims from 1887","url":"https://ex.test/3"}"""))
    val q1 = streaming.Ingest.resumeNearDupGated(
      spark, inDir, schema, docsDir, fpDir, ckDir)
    try q1.processAllAvailable() finally q1.stop()
    assert(acceptedIds() == Seq(1L, 3L), "in-batch near-dup not dropped")
    // metadata survived the gate
    assert(spark.read.parquet(docsDir).select("doc_id", "url")
      .as[(Long, String)].collect().toMap ==
      Map(1L -> "https://ex.test/1", 3L -> "https://ex.test/3"),
      "metadata columns lost in the gated sink")

    // batch 1, after a restart: a near-duplicate of doc 1 arrives a
    // batch LATE (the case exact dedup cannot catch) plus a novel doc
    writeBatch("b2.json", Seq(
      s"""{"doc_id":4,"text":"$base once more","url":"https://ex.test/4"}""",
      """{"doc_id":5,"text":"novel astronomy puzzle involving hexagonal basalt columns and tidal resonance chambers beneath glaciers","url":"https://ex.test/5"}"""))
    val q2 = streaming.Ingest.resumeNearDupGated(
      spark, inDir, schema, docsDir, fpDir, ckDir)
    try q2.processAllAvailable() finally q2.stop()
    assert(acceptedIds() == Seq(1L, 3L, 5L),
      "cross-batch near-dup not dropped against the sealed corpus")

    // crash-replay: foreachBatch re-delivers batch 1 — the gate must
    // rewrite the same output from the same corpus view (batches < 1),
    // not drop doc 5 against its own previous output
    val batch2 = spark.read.schema(schema).json(s"$inDir/b2.json")
    val n = streaming.Ingest.gateBatch(batch2, batchId = 1L, docsDir, fpDir)
    assert(n == 1L, s"replayed batch emitted $n survivors, expected 1")
    assert(acceptedIds() == Seq(1L, 3L, 5L), "replay was not idempotent")

    // cap plumbing reaches the cross join: with maxDf=0 every corpus
    // fingerprint is "hot" and excluded from the gate (the documented
    // loss mode), so the near-dup of doc 1 now passes
    val nCap = streaming.Ingest.gateBatch(batch2, batchId = 1L, docsDir, fpDir,
      maxDf = Some(0))
    assert(nCap == 2L, s"cap-disabled gate emitted $nCap survivors, expected 2")
    // restore and confirm the overwrite semantics hold
    assert(streaming.Ingest.gateBatch(batch2, batchId = 1L, docsDir, fpDir) == 1L)
    assert(acceptedIds() == Seq(1L, 3L, 5L))

    // maintenance driven by the stream's own checkpoint: the frontier
    // is exactly the committed batches (safe to fold below), and the
    // next resumed batch still gates correctly afterwards
    assert(streaming.Ingest.committedFrontier(spark, ckDir) == 2L)
    streaming.Ingest.maintainFromCheckpoint(spark, docsDir, fpDir, ckDir)
    writeBatch("b3.json", Seq(
      s"""{"doc_id":6,"text":"$base a third time","url":"https://ex.test/6"}""",
      """{"doc_id":7,"text":"fresh catalogue of lighthouse lens rotations measured across four stormy equinox nights","url":"https://ex.test/7"}"""))
    val q3 = streaming.Ingest.resumeNearDupGated(
      spark, inDir, schema, docsDir, fpDir, ckDir)
    try q3.processAllAvailable() finally q3.stop()
    assert(acceptedIds() == Seq(1L, 3L, 5L, 7L),
      "post-maintenance resume gated incorrectly")
  }

  test("near-dup gate: census compaction + maintenance never change gate decisions") {
    import org.apache.spark.sql.types._
    val baseA = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green parrots recite astonishing poetry about distant nebulae and forgotten harbors"
    val novelC = "novel astronomy puzzle involving hexagonal basalt columns " +
      "and tidal resonance chambers beneath glaciers of a rogue moon"
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> baseA, 2L -> s"$baseA truly",
        3L -> "completely unrelated inventory ledger rows describing turnip futures and maritime insurance claims from 1887"),
      Seq(4L -> s"$baseA once more", 5L -> novelC),
      Seq(6L -> s"$baseA yet again", 7L -> s"$novelC addendum",
        8L -> "entirely fresh treatise on fermentation chemistry in abandoned lighthouse pantries across the baltic coast"))
    def run(maintainAfter: Option[Long]): (String, String, Seq[Long]) = {
      val root = scratch("graft-ndinc")
      val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
      batches.zipWithIndex.foreach { case (rows, id) =>
        streaming.Ingest.gateBatch(rows.toDF("doc_id", "text"), id.toLong,
          docsDir, fpDir)
        if (maintainAfter.contains(id.toLong))
          streaming.Ingest.maintain(spark, docsDir, fpDir,
            belowBatch = id.toLong + 1)
      }
      val ids = spark.read.parquet(docsDir).select("doc_id")
        .as[Long].collect().toSeq.sorted
      (docsDir, fpDir, ids)
    }
    try {
      // same three batches, with and without compacting the census
      // mid-stream: identical accept decisions
      val (_, _, plainIds) = run(None)
      val (docsDir, fpDir, compIds) = run(Some(1L))
      assert(plainIds == Seq(1L, 3L, 5L, 8L), s"unexpected accepts: $plainIds")
      assert(compIds == plainIds,
        "census compaction changed gate decisions")
      // the merged census actually exists and deltas below it are gone
      val fs = new org.apache.hadoop.fs.Path(fpDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$fpDir/_census/merged/_max")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$fpDir/_census/delta/batch=0")))
      // replay of the last batch against the compacted state is
      // idempotent: same survivor count, same accepted set
      val b2 = batches(2).toDF("doc_id", "text")
      assert(streaming.Ingest.gateBatch(b2, 2L, docsDir, fpDir) == 1L)
      assert(spark.read.parquet(docsDir).select("doc_id")
        .as[Long].collect().toSeq.sorted == compIds)
      // census-derived hot detection == brute-force df over the per-doc
      // state, at every threshold shape (all-hot, mixed, none-hot)
      val state = spark.read.parquet(fpDir).filter(col("batch") < 3)
      for (k <- Seq(0, 1, 2, 1000)) {
        val brute = state.groupBy(col("fp")).count()
          .filter(col("count") > k).select("fp").as[Long].collect().toSet
        val censusHot = streaming.Ingest.hotFps(spark, fpDir, 3L, k)
          .map(_.as[Long].collect().toSet).getOrElse(Set.empty[Long])
        assert(censusHot == brute, s"census hot set diverged at k=$k")
      }
      // fail-fast guard: compacting PAST the committed frontier makes a
      // replay of that batch refuse to run rather than silently gate
      // against a polluted corpus view (belowBatch is mandatory now —
      // Long.MaxValue here IS the r10 bug being simulated)
      streaming.Ingest.maintain(spark, docsDir, fpDir,
        belowBatch = Long.MaxValue)
      assertThrows[IllegalArgumentException] {
        streaming.Ingest.gateBatch(b2, 2L, docsDir, fpDir)
      }
      // ...and rebuildCensus is the documented escape hatch: the census
      // regenerates from per-batch state and the replay gates again
      // with its original decisions
      streaming.Ingest.rebuildCensus(spark, fpDir)
      assert(streaming.Ingest.gateBatch(b2, 2L, docsDir, fpDir) == 1L,
        "rebuilt census changed the replay's decisions")
      assert(spark.read.parquet(docsDir).select("doc_id")
        .as[Long].collect().toSeq.sorted == compIds)
    } finally CacheRegistry.unpersistAll()
  }

  test("near-dup gate property: incremental drops == brute-force reference, random corpora/caps/compaction") {
    // the r9 gate computed cross-batch drops by re-scanning the whole
    // state and re-aggregating the df census per trigger; the r10
    // incremental path (census deltas + merged + pruned broadcast
    // join) must produce EXACTLY the same drop set. This property
    // pins that equivalence against a literal transcription of the
    // old algorithm, across random corpora, random caps (incl. the
    // all-hot 0 and uncapped None edges), and random compaction points.
    import org.apache.spark.sql.DataFrame
    def referenceDrops(fpDir: String, batchId: Long, keptFps: DataFrame,
        minShared: Int, maxDf: Option[Int]): Set[Long] = {
      val root = new org.apache.hadoop.fs.Path(fpDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) return Set.empty
      val state = spark.read.parquet(fpDir)
        .filter(col("batch") < batchId)
        .select(col("doc_id").as("corpus_id"), col("fp"))
      val corpus = maxDf.fold(state) { k =>
        val hot = state.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") > k).select(col("fp"))
        state.join(hot, Seq("fp"), "left_anti")
      }
      keptFps.join(corpus, Seq("fp"))
        .groupBy(col("corpus_id"), col("doc_id"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
        .select("doc_id").distinct().as[Long].collect().toSet
    }
    val rnd = new scala.util.Random(42)
    val phrases = Vector(
      "amber catalog of riverside auction lots with provenance notes",
      "meticulous survey of volcanic soil acidity across terraced vineyards",
      "handbook for repairing antique clockwork carousels in coastal towns",
      "ledger of unclaimed freight at the northern railway terminus",
      "almanac of comet sightings compiled by lighthouse keepers")
    for (trial <- 1 to 2) {
      val root = scratch(s"graft-ndprop$trial")
      val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
      var nextId = 1L
      var accepted = Vector.empty[(Long, String)] // candidates for later near-dups
      try {
        for (b <- 0L to 2L) {
          val docs = (1 to (4 + rnd.nextInt(4))).map { _ =>
            val id = nextId; nextId += 1
            val text =
              if (accepted.nonEmpty && rnd.nextBoolean()) {
                // near-dup of an accepted doc: shared long run + edit
                val src = accepted(rnd.nextInt(accepted.size))._2
                s"$src trailing edit ${rnd.nextInt(100)}"
              } else {
                val p = phrases(rnd.nextInt(phrases.size))
                s"$p section ${rnd.nextInt(1000)} " +
                  (1 to 6).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
              }
            (id, text)
          }
          val batch = docs.toDF("doc_id", "text")
          val keptFps = operators.Dedup.winnowFps(batch)
            .transform(CacheRegistry.register)
          for (cap <- Seq(None, Some(0), Some(1), Some(3))) {
            val inc = streaming.Ingest.crossGateDrops(keptFps, fpDir, b,
                org.apache.spark.sql.types.LongType, 3, cap)
              .map(_.as[Long].collect().toSet).getOrElse(Set.empty[Long])
            val ref = referenceDrops(fpDir, b, keptFps, 3, cap)
            assert(inc == ref,
              s"trial $trial batch $b cap $cap: incremental $inc != reference $ref")
          }
          streaming.Ingest.gateBatch(batch, b, docsDir, fpDir)
          accepted = accepted ++ docs // any doc can seed a later near-dup
          if (rnd.nextBoolean())
            streaming.Ingest.maintain(spark, docsDir, fpDir, belowBatch = b + 1)
        }
      } finally CacheRegistry.unpersistAll()
    }
  }

  test("near-dup gate: census swap crash windows recover; corrupted layouts fail fast") {
    import org.apache.spark.sql.types._
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green parrots recite astonishing poetry about distant nebulae and forgotten harbors"
    def freshState(): (String, String) = {
      val root = scratch("graft-ndcrash")
      val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
      streaming.Ingest.gateBatch(Seq(1L -> base,
        2L -> "unrelated inventory ledger rows describing turnip futures")
        .toDF("doc_id", "text"), 0L, docsDir, fpDir)
      streaming.Ingest.gateBatch(Seq(3L -> "novel astronomy puzzle involving hexagonal basalt columns")
        .toDF("doc_id", "text"), 1L, docsDir, fpDir)
      streaming.Ingest.maintain(spark, docsDir, fpDir, belowBatch = 2L)
      (docsDir, fpDir)
    }
    try {
      // 1. crash BETWEEN the census swap's two renames: merged absent,
      // complete tmp present — the next census read completes the swap
      // instead of silently losing the merged frontier
      val (_, fpDir) = freshState()
      val hotBefore = streaming.Ingest.hotFps(spark, fpDir, 2L, 0)
        .get.as[Long].collect().toSet
      assert(hotBefore.nonEmpty)
      val merged = new Path(s"$fpDir/_census/merged")
      val tmp = new Path(s"$fpDir/_census/.merged._compact_tmp")
      require(fs.rename(merged, tmp)) // simulate the crash window
      val hotAfter = streaming.Ingest.hotFps(spark, fpDir, 2L, 0)
        .get.as[Long].collect().toSet
      assert(hotAfter == hotBefore, "interrupted swap lost the merged census")
      assert(fs.exists(merged) && !fs.exists(tmp), "swap was not completed")
      // ...and a STALE tmp next to a live merged is discarded, not swapped in
      fs.mkdirs(tmp)
      assert(streaming.Ingest.hotFps(spark, fpDir, 2L, 0)
        .get.as[Long].collect().toSet == hotBefore)
      assert(!fs.exists(tmp), "stale tmp not cleaned")
      // 2. a capped gate with sealed state but NO census refuses to run
      // (running uncapped would silently change drop decisions)
      val (_, fpDir2) = freshState()
      fs.delete(new Path(s"$fpDir2/_census"), true)
      val probe = operators.Dedup.winnowFps(
        Seq(9L -> s"$base with an edit").toDF("doc_id", "text"))
      assertThrows[IllegalArgumentException] {
        streaming.Ingest.crossGateDrops(probe, fpDir2, 2L, LongType, 3,
          Some(operators.Dedup.DefaultMaxDf))
      }
      // uncapped gating never needs the census and still works
      val unc = streaming.Ingest.crossGateDrops(probe, fpDir2, 2L,
        LongType, 3, None).get.as[Long].collect().toSet
      assert(unc == Set(9L), "uncapped gate should drop the near-dup")
      // 3. a sealed dir in the fpb=<b> bucketed layout (subdirectories,
      // not flat files) fails fast instead of being read with an extra
      // partition level
      val bucketRoot = scratch("graft-ndbucket")
      val bucketFp = s"$bucketRoot/fp"
      operators.Dedup.winnowFps(Seq(1L -> base).toDF("doc_id", "text"))
        .withColumn("fpb", pmod(hash(col("fp")), lit(64)))
        .write.partitionBy("fpb").parquet(s"$bucketFp/batch=0")
      val err = intercept[IllegalArgumentException] {
        streaming.Ingest.crossGateDrops(probe, bucketFp, 1L, LongType, 3, None)
      }
      assert(err.getMessage.contains("fpb="), err.getMessage)
    } finally CacheRegistry.unpersistAll()
  }

  test("near-dup gate: generation folding bounds directory count, decisions unchanged") {
    // 11 micro-batches, maintenance (foldGroup=3) after every sealed
    // batch: level-0 folds cascade into a level-2 generation along the
    // way (including a fold whose target id is itself a generation).
    // Late batches carry near-dups of docs accepted in batches 0 and 2
    // — by then that state lives two fold levels deep, so the drops
    // prove the gate reads folded state correctly. Batch 4 is
    // all-dropped (its state dir seals EMPTY — the fold must cope).
    // each batch's text must be genuinely distinct (no shared skeleton
    // — a common template would make every doc a near-dup of the first)
    val texts = Seq(
      "granite causeway inspection notes from the fourth tidal survey beneath the rotating heliograph array of the signal tower",
      "inventory of carved soapstone weights recovered from the flooded mill race downstream of the abandoned felt factory weir",
      "meteorological observations of lenticular clouds stacked above the caldera rim during the solstice kite festival villages",
      "catalogue of misprinted railway timetables collected by the stationmaster of the narrow gauge line through juniper forests",
      "ledger of beeswax candle shipments lost when the river barge grounded on the chalk shoals below the monastery orchard",
      "transcript of whistled shepherd signals recorded across three valleys during the autumn transhumance of the longhorn flocks",
      "registry of lighthouse lens rotations measured through four stormy equinox nights by the apprentice keeper and her brother",
      "compendium of fermentation vessels unearthed beside the roman road where the peat cutters struck a preserved oak walkway",
      "survey of rooftop rainwater cisterns painted with cobalt glaze patterns unique to the terraced quarter of the lower town",
      "almanac of comet sightings annotated by the harbormaster between shipping seasons and bound in sailcloth with tar thread",
      "digest of bell foundry casting failures attributed to damp moulds during the wettest winter the guild records remember")
    def mkBatch(i: Int): Seq[(Long, String)] = i match {
      case 4 => Seq(102L -> (texts(1) + " once more")) // all-dropped batch
      case 9 => Seq(19L -> texts(9), 100L -> (texts(0) + " appended"))
      case 10 => Seq(20L -> texts(10), 101L -> (texts(2) + " slightly"))
      case _ => Seq((10L + i) -> texts(i))
    }
    def run(fold: Boolean): (String, String, Seq[Long]) = {
      val root = scratch("graft-ndfold")
      val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
      (0 until 11).foreach { i =>
        streaming.Ingest.gateBatch(mkBatch(i).toDF("doc_id", "text"),
          i.toLong, docsDir, fpDir)
        if (fold)
          streaming.Ingest.maintain(spark, docsDir, fpDir,
            belowBatch = i + 1L, foldGroup = 3)
      }
      (docsDir, fpDir, spark.read.parquet(docsDir).select("doc_id")
        .as[Long].collect().toSeq.sorted)
    }
    def batchDirs(dir: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.startsWith("batch="))
    }
    try {
      val (docsPlain, fpPlain, plainIds) = run(fold = false)
      val (docsDir, fpDir, foldedIds) = run(fold = true)
      // near-dups dropped in both worlds, novel docs all accepted
      assert(plainIds == (10L to 20L).filterNot(_ == 14L), s"plain: $plainIds")
      assert(foldedIds == plainIds, "generation folding changed gate decisions")
      // the folded state holds the same fingerprint rows (none lost,
      // none duplicated by the fold)
      assert(spark.read.parquet(fpDir).count() ==
        spark.read.parquet(fpPlain).count())
      assert(spark.read.parquet(docsDir).count() ==
        spark.read.parquet(docsPlain).count())
      // directory count is BOUNDED: 11 sealed batches collapse to a
      // handful of generations (vs 11 plain dirs in the control)
      assert(batchDirs(fpPlain).size == 11)
      assert(batchDirs(fpDir).size <= 4,
        s"fp dirs not folded: ${batchDirs(fpDir).sorted}")
      assert(batchDirs(docsDir).size <= 4,
        s"docs dirs not folded: ${batchDirs(docsDir).sorted}")
      // a later batch still gates correctly against fully-folded state
      val n = streaming.Ingest.gateBatch(
        Seq(103L -> (texts(3) + " revisited"), 21L -> "entirely novel treatise on tidal bore surfing through mangrove estuaries under monsoon moonlight")
          .toDF("doc_id", "text"), 11L, docsDir, fpDir)
      assert(n == 1L, "near-dup of two-level-deep folded state not dropped")
    } finally CacheRegistry.unpersistAll()
  }

  test("near-dup gate: fold crash windows fail fast or self-exclude; recoverFolds completes them") {
    import org.apache.spark.sql.types._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val texts = Seq(
      "granite causeway inspection notes from the fourth survey of tidal flats beneath the signal tower and its rotating heliograph array",
      "inventory of carved soapstone weights recovered from the flooded mill race downstream of the abandoned felt factory near the weir",
      "meteorological observations of lenticular clouds stacked above the caldera rim during the solstice kite festival of the highland villages",
      "catalogue of misprinted railway timetables collected by the stationmaster of the narrow gauge line through the juniper forest plateau")
    def build(): (String, String) = {
      val root = scratch("graft-foldcrash")
      val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
      texts.zipWithIndex.foreach { case (t, i) =>
        streaming.Ingest.gateBatch(Seq((10L + i) -> t).toDF("doc_id", "text"),
          i.toLong, docsDir, fpDir)
      }
      (docsDir, fpDir)
    }
    def drops(fpDir: String): Set[Long] = {
      val probe = operators.Dedup.winnowFps(
        Seq(90L -> (texts(0) + " annotated")).toDF("doc_id", "text"))
      streaming.Ingest.crossGateDrops(probe, fpDir, 4L, LongType, 3, None)
        .map(_.as[Long].collect().toSet).getOrElse(Set.empty)
    }
    try {
      // keep a copy of batch=1 from BEFORE the fold — it becomes the
      // "covered original whose deletion the crash interrupted"
      val (docsDir, fpDir) = build()
      val aside = new Path(s"$fpDir/.aside")
      FileUtil.copy(fs, new Path(s"$fpDir/batch=1"), fs, aside, false, conf)
      streaming.Ingest.maintain(spark, docsDir, fpDir, belowBatch = 4L,
        foldGroup = 3)
      val pre = drops(fpDir)
      assert(pre == Set(90L), s"expected the probe dropped, got $pre")

      // window 1: crash after swap-out, before swap-in — the
      // generation's only copy sits in the tmp dir. Gating must stop
      // loudly; recoverFolds rolls the swap forward.
      require(fs.rename(new Path(s"$fpDir/batch=2"),
        new Path(s"$fpDir/.batch=2._fold_tmp")))
      assertThrows[IllegalArgumentException] { drops(fpDir) }
      streaming.Ingest.recoverFolds(spark, fpDir)
      assert(drops(fpDir) == pre, "roll-forward changed decisions")

      // window 2: crash after swap-in, before source deletion — a
      // covered original resurfaces next to its generation. The gate
      // must EXCLUDE it (double-counted fps would change decisions);
      // recoverFolds deletes it.
      require(fs.rename(aside, new Path(s"$fpDir/batch=1")))
      assert(drops(fpDir) == pre, "stale fold source not excluded")
      streaming.Ingest.recoverFolds(spark, fpDir)
      assert(!fs.exists(new Path(s"$fpDir/batch=1")),
        "stale fold source not deleted")
      assert(drops(fpDir) == pre)

      // window 3: orphaned trash with no live target — restore it
      require(fs.rename(new Path(s"$fpDir/batch=2"),
        new Path(s"$fpDir/.batch=2._fold_old")))
      assertThrows[IllegalArgumentException] { drops(fpDir) }
      streaming.Ingest.recoverFolds(spark, fpDir)
      assert(drops(fpDir) == pre, "trash restore changed decisions")

      // committedFrontier parses the checkpoint commit log (and is 0
      // with no checkpoint at all)
      val ck = scratch("graft-ck")
      assert(streaming.Ingest.committedFrontier(spark, ck) == 0L)
      new java.io.File(s"$ck/commits").mkdirs()
      Seq("0", "1", "2").foreach { n =>
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$ck/commits/$n"),
          "v1".getBytes("UTF-8"))
      }
      // non-batch metadata files are ignored
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$ck/commits/.2.crc"), Array[Byte]())
      assert(streaming.Ingest.committedFrontier(spark, ck) == 3L)
    } finally CacheRegistry.unpersistAll()
  }

  test("dedupStream refuses a reserved fp input column") {
    implicit val sqlCtx = spark.sqlContext
    val df = Seq((java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), "t", 1L))
      .toDF("ts", "text", "fp")
    assertThrows[IllegalArgumentException] {
      streaming.Ingest.dedupStream(df)
    }
  }

  test("cache scopes release only their own pins") {
    val outer = CacheRegistry.register(
      Seq(1, 2, 3).toDF("apple_of_my_i"))
    try {
      outer.count()
      val before = CacheRegistry.registeredCount
      CacheRegistry.scoped {
        val inner = CacheRegistry.register(
          Seq(4, 5).toDF("pear_of_my_i"))
        inner.count()
        assert(CacheRegistry.registeredCount == before + 1)
        // re-registering an OUTER-owned plan inside the scope must not
        // transfer ownership (scope exit would clobber it)
        CacheRegistry.register(Seq(1, 2, 3).toDF("apple_of_my_i"))
        assert(CacheRegistry.registeredCount == before + 1)
      }
      assert(CacheRegistry.registeredCount == before,
        "scope did not release its pin")
      assert(outer.storageLevel.useMemory,
        "scope exit clobbered an outer pin")
    } finally CacheRegistry.unpersistAll()
  }

  test("near-dup gate per-trigger plan: one file read per sealed batch, exchange-free") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = scratch("graft-ndplan")
    val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
    // two corpus batches of long docs -> hundreds of winnow
    // fingerprints per sealed batch
    (0L to 1L).foreach { b =>
      val corpus = (1L to 12L).map(_ + 12L * b).map { i =>
        i -> (s"document number $i opens with its own preamble " +
          (1 to 40).map(j => s"tok${i * 97 + j * 13}").mkString(" "))
      }
      streaming.Ingest.gateBatch(corpus.toDF("doc_id", "text"), b, docsDir, fpDir)
    }
    val probeFps = operators.Dedup.winnowFps(
      Seq(100L -> "alpha beta gamma delta epsilon").toDF("doc_id", "text"))
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val listings = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files")))
          listings.incrementAndGet()
    }
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      val drops = streaming.Ingest.crossGateDrops(probeFps, fpDir, 2L,
        LongType, operators.Dedup.WinnowMinShared,
        Some(operators.Dedup.DefaultMaxDf)).get
      // the gate pieces are CacheRegistry-cached, so physical nodes
      // hide inside InMemoryTableScanExec build plans — flatten through
      // them (and census scans live under fpDir/_census, so the corpus
      // scan is the one whose root is exactly fpDir)
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.execution.SparkPlan]
        def go(n: org.apache.spark.sql.execution.SparkPlan): Unit = n.foreach {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            buf += s; go(s.relation.cachedPlan)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            buf += a; go(a.inputPlan)
          case other: org.apache.spark.sql.execution.SparkPlan => buf += other
          case _ => ()
        }
        go(p)
        buf.toSeq
      }
      val plan = drops.queryExecution.executedPlan
      def isCorpusScan(s: FileSourceScanExec): Boolean =
        s.relation.location.rootPaths.exists(_.toString.endsWith("/fp"))
      val scan = flatten(plan).collectFirst {
        case s: FileSourceScanExec if isCorpusScan(s) => s
      }.get
      // the corpus-view frontier is pruned AT the scan
      // (PartitionFilters), not filtered after the read
      assert(scan.partitionFilters.exists(_.toString.contains("batch")),
        "corpus-view batch frontier not a partition filter")
      // the state side streams straight into a broadcast hash probe:
      // no exchange (and no sort) anywhere between scan and join
      val bhj = flatten(plan).collectFirst {
        case b: BroadcastHashJoinExec if flatten(b).exists {
          case s: FileSourceScanExec => isCorpusScan(s); case _ => false } => b
      }
      assert(bhj.isDefined, "gate join is not a broadcast hash join")
      val streamedSide = bhj.get.children.find(
        _.collectFirst { case s: FileSourceScanExec if isCorpusScan(s) => s }
          .isDefined).get
      assert(streamedSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "state side of the gate join is shuffled")
      // each sealed batch is one flat file, and the scan reads exactly
      // one file per live sealed batch; partition discovery walks only
      // the batch dirs, so no parallel listing job runs
      drops.collect()
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      val read = scan.metrics("numFiles").value
      assert(read == 2L, s"scan read $read files for 2 sealed batches")
      assert(listings.get == 0,
        s"${listings.get} listing jobs while reading the gate state")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      CacheRegistry.unpersistAll()
    }
  }

  test("near-dup gate: per-trigger work stays flat as sealed batches accumulate") {
    import org.apache.hadoop.fs.Path
    val root = scratch("graft-ndgrowth")
    val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
    val sc = spark.sparkContext
    val fs = new Path(fpDir).getFileSystem(sc.hadoopConfiguration)
    // ten novel long docs per batch (hundreds of fingerprints) plus a
    // near-dup of the previous batch's first doc, so every later
    // trigger probes the state and drops one doc
    def doc(i: Long) = s"record $i begins its own account " +
      (1 to 60).map(j => s"w${i * 131 + j * 17}").mkString(" ")
    def mkBatch(b: Long) = {
      val fresh = (0L until 10L).map(k => (b * 100 + k) -> doc(b * 100 + k))
      val dup =
        if (b == 0) Nil else Seq((b * 100 + 99) -> s"${doc((b - 1) * 100)} with an edit")
      (fresh ++ dup).toDF("doc_id", "text")
    }
    case class Work(jobs: Int, tasks: Int, listings: Int)
    val jobs, tasks, listings = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("Listing leaf files")))
          listings.incrementAndGet()
      }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    val work = scala.collection.mutable.ArrayBuffer.empty[Work]
    sc.addSparkListener(l)
    try {
      (0L until 7L).foreach { b =>
        org.apache.spark.GraftTestBus.drain(sc)
        jobs.set(0); tasks.set(0); listings.set(0)
        streaming.Ingest.gateBatch(mkBatch(b), b, docsDir, fpDir)
        org.apache.spark.GraftTestBus.drain(sc)
        work += Work(jobs.get, tasks.get, listings.get)
        if ((b + 1) % 3 == 0)
          streaming.Ingest.maintain(spark, docsDir, fpDir,
            belowBatch = b + 1, foldGroup = 3)
      }
      assert(spark.read.parquet(docsDir).count() == 70L,
        "every near-dup dropped, every novel doc accepted")
      assert(work.forall(_.listings == 0),
        s"listing jobs ran during a trigger: $work")
      // every sealed fp dir, plain batch or generation, is one file
      fs.listStatus(new Path(fpDir)).map(_.getPath)
        .filter(_.getName.startsWith("batch=")).foreach { d =>
          val files = fs.listStatus(d).map(_.getPath.getName)
            .filterNot(n => n.startsWith("_") || n.startsWith("."))
          assert(files.length == 1, s"$d holds ${files.mkString(", ")}")
        }
      // triggers 3 and 6 both follow a maintenance pass; the second
      // gates against twice the sealed rows without more jobs or tasks
      // (it may run fewer: which concurrent sink fills a shared cache
      // or shuffle first decides which job runs the stage)
      assert(work(6).jobs <= work(3).jobs + 2 &&
        work(6).tasks <= work(3).tasks + 2,
        s"trigger 3 did ${work(3)}, trigger 6 did ${work(6)} (all: $work)")
    } finally {
      sc.removeSparkListener(l)
      CacheRegistry.unpersistAll()
    }
  }

  test("near-dup gate: a restarted stream's sink writes run under its own job group") {
    import org.apache.spark.sql.types._
    val root = scratch("graft-ndgroup")
    val inDir = s"$root/in"; val docsDir = s"$root/docs"
    val fpDir = s"$root/fp"; val ckDir = s"$root/ck"
    new java.io.File(inDir).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$inDir/$name"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8"))
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "green parrots recite astonishing poetry about distant nebulae and forgotten harbors"
    def start() = streaming.Ingest.resumeNearDupGated(spark, inDir, schema,
      docsDir, fpDir, ckDir)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    try {
      land("b1.json", Seq(1L -> base,
        2L -> "unrelated inventory ledger rows describing turnip futures"))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // the restart gates a near-dup of batch 0 and a novel doc
      land("b2.json", Seq(3L -> s"$base once more",
        4L -> "novel astronomy puzzle involving hexagonal basalt columns"))
      org.apache.spark.GraftTestBus.drain(sc)
      sc.addSparkListener(l)
      val q2 = start()
      try q2.processAllAvailable()
      finally {
        q2.stop()
        org.apache.spark.GraftTestBus.drain(sc)
        sc.removeSparkListener(l)
      }
      val runId = q2.runId.toString
      val seen = groups.toArray.toSeq
      assert(seen.nonEmpty, "the restarted stream ran no jobs")
      assert(seen.forall(_ == runId),
        s"jobs outside the stream's job group $runId: " +
          seen.filterNot(_ == runId).distinct.mkString(", "))
      assert(spark.read.parquet(docsDir).select("doc_id").as[Long]
        .collect().toSeq.sorted == Seq(1L, 2L, 4L))
    } finally CacheRegistry.unpersistAll()
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark on fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val deduped = input.toDF().toDF("ts", "text")
      .withColumn("fp", graft.functions.TextAnalysis.fingerprint(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(0), "Same Document!"), (ts(1), "same   document"), // dup by canon fp
        (ts(2), "another document"))
      q.processAllAvailable()
      input.addData((ts(3), "same document")) // still within watermark → dropped
      q.processAllAvailable()
      val texts = spark.sql("SELECT text FROM dedup_stream")
        .as[String].collect().toSeq
      assert(texts.length == 2)
      assert(texts.count(_.toLowerCase.contains("same")) == 1)
    } finally q.stop()
  }

  test("st01 batch query equals streaming replay of the same events") {
    // Structured Streaming's unified semantics: running the same
    // windowed agg over the events as a bounded stream must produce
    // the batch result.
    val batch = Alerts.st01(spark, sf("sf0.001"))
      .select("wstart", "event_type", "n").as[(String, String, Long)]
      .collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sf("sf0.001"))
      .select(col("ts"), col("event_type"), col("value"))
      .as[(Timestamp, String, Double)].collect()
    val input = MemoryStream[(Timestamp, String, Double)]
    val sdf = input.toDF().toDF("ts", "event_type", "value")
    val q = sdf.groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("wstart"),
        col("event_type"), col("n"))
      .writeStream.format("memory").queryName("st01_stream")
      .outputMode("complete").start()
    try {
      input.addData(events.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM st01_stream")
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("near-dup gate: pinned eval decontamination rejects overlapping docs at ingest") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.types._
    val root = scratch("graft-evalgate")
    val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
    val evalDir = s"$root/evalfp"
    val evalText = "the committee convened beneath seventeen flickering " +
      "lanterns to debate the migratory patterns of unusually punctual " +
      "storks across three disputed mountain provinces"
    // pin the eval set ONCE, ahead of ingestion (c07's eval side)
    streaming.Ingest.writeEvalFps(
      Seq(9001L -> evalText).toDF("doc_id", "text"), evalDir)

    // batch 0: one doc contaminated against the eval set (suffix
    // edit — contiguous winnow overlap), two clean docs
    val b0 = Seq(
      10L -> s"$evalText indeed",
      11L -> ("inventory of copper kettles and their tin linings " +
        "catalogued by a meticulous harbor customs clerk in autumn"),
      12L -> ("field notes on the acoustics of limestone caverns " +
        "recorded during four consecutive winter expeditions"))
      .toDF("doc_id", "text")
    val n = streaming.Ingest.gateBatch(b0, 0L, docsDir, fpDir,
      evalFpDir = Some(evalDir))
    assert(n == 2L, s"expected 2 survivors, got $n")
    val accepted = spark.read.parquet(docsDir)
      .select("doc_id").as[Long].collect().toSet
    assert(accepted == Set(11L, 12L), "eval-overlapping doc not rejected")
    // the contaminated doc reached NEITHER the corpus nor its
    // fingerprint state nor the census (state is compliance-clean)
    assert(spark.read.parquet(fpDir).select("doc_id").as[Long]
      .collect().toSet == Set(11L, 12L),
      "contaminated doc's fingerprints leaked into gate state")

    // the decontamination probe's plan: eval side broadcast, no scan
    // of the fingerprint STATE, and no exchange between the batch's
    // fp frame and the join (the only shuffle is the tiny pair
    // aggregation). The fp frame is CACHED here exactly as gateBatch
    // caches it per trigger — its internal winnow-window shuffle is
    // paid once for the whole trigger, not by this probe.
    val keptFps = operators.Dedup
      .winnowFps(b0.select(col("doc_id"), col("text"))).cache()
    keptFps.count()
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val drops = streaming.Ingest.evalGateDrops(keptFps, evalDir)
      assert(drops.as[Long].collect().toSeq == Seq(10L))
      val plan = drops.queryExecution.executedPlan
      val bhj = plan.collectFirst { case b: BroadcastHashJoinExec => b }
      assert(bhj.isDefined, "eval probe is not a broadcast hash join")
      assert(!plan.collect { case s: FileSourceScanExec => s }
        .exists(_.relation.location.rootPaths.exists(_.toString.contains("/fp"))),
        "eval probe scanned the fingerprint state")
      assert(bhj.get.children.forall(
        _.collect { case e: ShuffleExchangeExec => e }.isEmpty),
        s"probe join has a shuffle below it:\n${bhj.get}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      keptFps.unpersist(blocking = true)
    }

    // a later batch is gated against BOTH the corpus state and the
    // eval set: a near-dup of an accepted doc AND a fresh
    // eval-contaminated doc are each dropped; a clean doc passes
    val b1 = Seq(
      20L -> s"$evalText as recorded later",
      21L -> ("inventory of copper kettles and their tin linings " +
        "catalogued by a meticulous harbor customs clerk in autumn revised"),
      22L -> ("recipe archive describing fermentation schedules for " +
        "nine heritage barley strains across coastal microclimates"))
      .toDF("doc_id", "text")
    val n1 = streaming.Ingest.gateBatch(b1, 1L, docsDir, fpDir,
      evalFpDir = Some(evalDir))
    assert(n1 == 1L, s"expected 1 survivor of batch 1, got $n1")
    assert(spark.read.parquet(docsDir).select("doc_id").as[Long]
      .collect().toSet == Set(11L, 12L, 22L))

    // the STREAM-level wiring: resumeNearDupGated passes evalFpDir
    // through to every trigger (a dropped pass-through would silently
    // disable compliance on the advertised entry point)
    val sroot = scratch("graft-evalgate-stream")
    val inDir = s"$sroot/in"; new java.io.File(inDir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$inDir/b0.json"),
      Seq(
        s"""{"doc_id":30,"text":"$evalText with a coda"}""",
        """{"doc_id":31,"text":"survey of rooftop rainwater cisterns painted with cobalt glaze patterns unique to the terraced quarter"}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = streaming.Ingest.resumeNearDupGated(spark, inDir, schema,
      s"$sroot/docs", s"$sroot/fp", s"$sroot/ck",
      evalFpDir = Some(evalDir))
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$sroot/docs").select("doc_id").as[Long]
      .collect().toSet == Set(31L),
      "stream entry point did not enforce eval decontamination")
    CacheRegistry.unpersistAll()
  }

  test("near-dup gate: repetition gate rejects phrase-repeat degenerates at ingest") {
    def degenerate(id: Long): String =
      Seq.fill(25)(s"quarterly alloy audit entry x$id").mkString(" ")
    val clean0 = 11L -> ("inventory of copper kettles and their tin " +
      "linings catalogued by a meticulous harbor customs clerk")
    val clean1 = 12L -> ("field notes on the acoustics of limestone " +
      "caverns recorded during four consecutive expeditions")

    // control: the near-dup gate ALONE accepts a per-doc-unique
    // phrase repeat (nothing to near-dup against) — proving the
    // repetition gate is the deciding layer, not a redundancy
    val ctrl = scratch("graft-repgate-ctrl")
    streaming.Ingest.gateBatch(
      Seq(10L -> degenerate(10L), clean0).toDF("doc_id", "text"),
      0L, s"$ctrl/docs", s"$ctrl/fp")
    assert(spark.read.parquet(s"$ctrl/docs").select("doc_id").as[Long]
      .collect().toSet == Set(10L, 11L),
      "control: ungated ingest should accept the degenerate")

    // gated: rejected in batch 0, fingerprints and census stay clean
    val root = scratch("graft-repgate")
    val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
    val n0 = streaming.Ingest.gateBatch(
      Seq(10L -> degenerate(10L), clean0).toDF("doc_id", "text"),
      0L, docsDir, fpDir, repetitionGate = true)
    assert(n0 == 1L, s"expected 1 survivor of batch 0, got $n0")
    assert(spark.read.parquet(fpDir).select("doc_id").as[Long]
      .collect().toSet == Set(11L),
      "degenerate doc's fingerprints leaked into gate state")

    // later batch: a fresh degenerate AND a near-dup of an accepted
    // doc are dropped while a clean doc passes — both gates compose
    val n1 = streaming.Ingest.gateBatch(
      Seq(20L -> degenerate(20L),
        21L -> (clean0._2 + " revised"), clean1).toDF("doc_id", "text"),
      1L, docsDir, fpDir, repetitionGate = true)
    assert(n1 == 1L, s"expected 1 survivor of batch 1, got $n1")
    assert(spark.read.parquet(docsDir).select("doc_id").as[Long]
      .collect().toSet == Set(11L, 12L))

    // stream-level wiring: resumeNearDupGated passes the flag through
    val sroot = scratch("graft-repgate-stream")
    val inDir = s"$sroot/in"; new java.io.File(inDir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$inDir/b0.json"),
      Seq(
        s"""{"doc_id":30,"text":"${degenerate(30L)}"}""",
        """{"doc_id":31,"text":"survey of rooftop rainwater cisterns painted with cobalt glaze patterns"}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = streaming.Ingest.resumeNearDupGated(spark, inDir, schema,
      s"$sroot/docs", s"$sroot/fp", s"$sroot/ck", repetitionGate = true)
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$sroot/docs").select("doc_id").as[Long]
      .collect().toSet == Set(31L),
      "stream entry point did not enforce the repetition gate")
    CacheRegistry.unpersistAll()
  }
}
