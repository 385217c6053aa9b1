package graft

import graft.streaming.Alerts
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** st05's unified-semantics contract (r14 verdict item 8, the
  * f23/f25 gate-parity pattern): the REAL scored event stream of the
  * sf0.001 corpus, streamed through `highRiskAlerts` in two
  * micro-batches, must emit — once every window is finalized —
  * exactly the rows the batch face computes. A below-threshold
  * far-future sentinel advances the watermark past every real window
  * without contributing an alert row of its own. */
class StreamingAlertRuleSpec extends SparkSpec {
  import spark.implicits._

  test("streaming alert rule == batch st05 face, row for row") {
    implicit val sqlCtx = spark.sqlContext
    val scored = Alerts.scoredEvents(spark, sf("sf0.001"))
      .as[(Timestamp, Int)].collect().sortBy(_._1.getTime)
    assert(scored.nonEmpty)
    val (b1, b2) = scored.splitAt(scored.length / 2)
    // sentinel: far past max(ts) + watermark, risk 0 (never alerts)
    val sentinel = (new Timestamp(
      scored.map(_._1.getTime).max + 24L * 3600 * 1000), 0)

    val input = MemoryStream[(Timestamp, Int)]
    val q = Alerts.highRiskAlerts(
        input.toDF().toDF("ts", "risk_score"))
      .writeStream.format("memory").queryName("st05_stream")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // watermark advances at END of the batch that saw the max
      // event time, and state is evicted in the NEXT batch (a
      // trailing no-data batch is not guaranteed under
      // processAllAvailable) — so two sentinel batches: the first
      // advances the watermark past every real window, the second
      // triggers the eviction pass that emits them
      input.addData(sentinel); q.processAllAvailable()
      input.addData((new Timestamp(
        sentinel._1.getTime + 3600 * 1000), 0)); q.processAllAvailable()
      val got = spark.table("st05_stream")
        .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm").as("wstart"),
          col("n_alerts"), col("max_risk"))
        .as[(String, Long, Int)].collect().toSet
      val batch = Alerts.st05(spark, sf("sf0.001"))
        .as[(String, Long, Int)].collect().toSet
      assert(got == batch,
        s"stream-vs-batch drift: onlyStream=${(got -- batch).take(3)} " +
          s"onlyBatch=${(batch -- got).take(3)}")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("quiet low-risk tail still finalizes open alert windows " +
      "(the watermark-stall regression)") {
    // the r15 bug: with the threshold as a pre-agg filter, Catalyst
    // pushed it below EventTimeWatermark, so low-risk events never
    // advanced the watermark and the last alert window hung open
    // forever on a stream whose tail went quiet — the NORMAL state
    // of a fraud stream. Two high-risk events, then nothing but
    // low-risk traffic: the alert window MUST still emit.
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Timestamp, Int)]
    val q = Alerts.highRiskAlerts(input.toDF().toDF("ts", "risk_score"))
      .writeStream.format("memory").queryName("quiet_tail")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:01:00"), 90),
        (ts("2024-01-01 10:04:00"), 85))
      q.processAllAvailable()
      // quiet tail: low-risk only, two batches (watermark advances at
      // batch end, evicts next batch)
      input.addData((ts("2024-01-01 12:00:00"), 10))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 12:30:00"), 5))
      q.processAllAvailable()
      val rows = spark.table("quiet_tail")
        .select("n_alerts", "max_risk")
        .as[(Long, Int)].collect().toSeq
      assert(rows == Seq((2L, 90)),
        s"alert window not finalized by low-risk traffic: $rows")
    } finally q.stop()
  }

  test("enriched rule: quiet low-risk tail finalizes too (same fix, " +
      "own pin — the join sits between watermark and aggregate)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val trust = Seq((7L, 45)).toDF("seller_id", "trust_risk")
    val input = MemoryStream[(Timestamp, Long, Int)]
    val q = Alerts.enrichedHighRiskAlerts(
        input.toDF().toDF("ts", "seller_id", "risk_score"), trust)
      .writeStream.format("memory").queryName("quiet_tail_enriched")
      .outputMode("append").start()
    try {
      // risk 85 alerts on its own; risk 76 alerts only via the
      // suspicious seller 7 (76 + 45 = 121 >= 120)
      input.addData((ts("2024-01-01 10:01:00"), 1L, 85),
        (ts("2024-01-01 10:04:00"), 7L, 76))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 12:00:00"), 2L, 10))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 12:30:00"), 3L, 5))
      q.processAllAvailable()
      val rows = spark.table("quiet_tail_enriched")
        .select("n_alerts", "max_risk", "max_combined")
        .as[(Long, Int, Int)].collect().toSeq
      assert(rows == Seq((2L, 85, 135)),
        s"enriched alert window not finalized by low-risk traffic: $rows")
    } finally q.stop()
  }

  test("alert sink lifecycle: stream -> rolled-segment table == batch " +
      "st05; a seal really happened; retention drops only the oldest") {
    // the ElastAlert -> index -> ILM path end-to-end (r15 verdict
    // item 6): the real sf0.001 scored stream through
    // maintainAlertSink with byte-1 rollover (every non-empty batch
    // seals), then the read-back must equal the batch face and the
    // layout must show sealed segments + a monotonic counter.
    implicit val sqlCtx = spark.sqlContext
    val root = scratch("graft-alertsink")
    val table = s"$root/alerts"
    val scored = Alerts.scoredEvents(spark, sf("sf0.001"))
      .as[(Timestamp, Int)].collect().sortBy(_._1.getTime)
    val (b1, b2) = scored.splitAt(scored.length / 2)
    val sentinel = (new Timestamp(
      scored.map(_._1.getTime).max + 24L * 3600 * 1000), 0)
    val input = MemoryStream[(Timestamp, Int)]
    val q = Alerts.maintainAlertSink(
      input.toDF().toDF("ts", "risk_score"), table,
      s"$root/ckpt", maxBytes = 1L, keep = 100)
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      input.addData(sentinel); q.processAllAvailable()
      input.addData((new Timestamp(
        sentinel._1.getTime + 3600 * 1000), 0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(table)
      .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm").as("wstart"),
        col("n_alerts"), col("max_risk"))
      .as[(String, Long, Int)].collect().toSet
    val batch = Alerts.st05(spark, sf("sf0.001"))
      .as[(String, Long, Int)].collect().toSet
    assert(got == batch && got.nonEmpty,
      s"sinked alerts drifted from the batch face: " +
        s"onlySink=${(got -- batch).take(3)} onlyBatch=${(batch -- got).take(3)}")
    // layout: at least one sealed segment (byte-1 rollover fired)
    def sealedSegs(): Seq[String] = new java.io.File(table).listFiles()
      .map(_.getName).filter(_.startsWith("seg=s")).sorted.toSeq
    val before = sealedSegs()
    assert(before.nonEmpty, "no sealed segment despite byte-1 rollover")
    // retention: keep the newest sealed segment only; the read stays
    // consistent (a subset of the batch rows) and the counter stays
    // monotonic — the next seal must use a HIGHER number
    graft.sources.Ingest.expireSegments(spark, table, keep = 1)
    val after = sealedSegs()
    assert(after == Seq(before.last),
      s"retention should keep only the newest sealed segment: $after")
    val remaining = spark.read.parquet(table)
      .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm").as("wstart"),
        col("n_alerts"), col("max_risk"))
      .as[(String, Long, Int)].collect().toSet
    assert(remaining.subsetOf(batch))
    Alerts.alertSinkBatch(Alerts.st05(spark, sf("sf0.001")),
      table, maxBytes = 1L, keep = 100)
    val next = sealedSegs().map(_.stripPrefix("seg=s").toInt).max
    assert(next > before.last.stripPrefix("seg=s").toInt,
      "rollover counter reissued an expired segment number")
  }

  test("streaming realert gate == batch f37, anchor persists across " +
      "the trigger boundary") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Velocity
    val errors = graft.Tables.events(spark, sf("sf0.001"))
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[(Long, Long, Timestamp)].collect()
      .sortBy(r => (r._3.getTime, r._2))
    assert(errors.nonEmpty)
    // ts-ordered split: batch 2 continues every user's chain mid-
    // cooldown, so parity FAILS unless the anchor rides GroupState
    val (b1, b2) = errors.splitAt(errors.length / 2)
    val input = MemoryStream[(Long, Long, Timestamp)]
    val q = Alerts.realertGate(
        input.toDF().toDF("user_id", "event_id", "ts"))
      .writeStream.format("memory").queryName("realert_stream")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.table("realert_stream")
        .select("user_id", "event_id", "us")
        .as[(Long, Long, Long)].collect().toSet
      val batch = Velocity.f37(spark, sf("sf0.001"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == batch,
        s"stream-vs-batch drift: onlyStream=${(got -- batch).take(3)} " +
          s"onlyBatch=${(batch -- got).take(3)}")
      assert(got.nonEmpty && got.size < errors.length,
        "suppression should bite on the real stream")
    } finally q.stop()
  }
}
