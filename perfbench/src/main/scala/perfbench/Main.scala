package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.CacheRegistry
import graft.operators.{FraudPipeline, RiskEngine}
import graft.streaming.Alerts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** One benchmark run in one JVM: a warm-up phase on throwaway
  * directories, then the timed phase, each a closed loop with one
  * client (the next batch lands only after the previous one
  * committed). Inputs are files the generator (gen.py) wrote under
  * `<dir>/input/{warm,timed}`; the result goes to `<dir>/result.json`.
  *
  * Usage: Main --workload W --dir D --slots K --trace 0|1
  *   [--maintain-every M]
  */
object Main {
  val ListingSchema: StructType = StructType(Seq(
    StructField("item_id", LongType), StructField("title", StringType),
    StructField("description", StringType), StructField("price", DoubleType)))
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** One timed unit: a poll cycle, a backfill chunk, a stream trigger
    * or a maintenance pass. `count`/`hash` describe its output (see
    * [[idHash]]); `counters` are the Probe deltas of the body only. */
  final case class Batch(index: Int, wallS: Double, cpuS: Double,
      counters: Map[String, Double], count: Long, hash: Long,
      error: Option[String], gauges: Map[String, Double] = Map.empty) {
    def toJson: Json.V = Json.obj("index" -> index, "wall_s" -> wallS,
      "cpu_s" -> cpuS, "counters" -> Json.counters(counters),
      "count" -> count, "hash" -> java.lang.Long.toUnsignedString(hash),
      "error" -> error.map(Json.str).getOrElse(Json.Null),
      "gauges" -> Json.counters(gauges))
  }

  /** Order-independent output hash: the wrapping sum of a 64-bit mix
    * (splitmix64's finalizer) of every id. gen.py computes the same. */
  def idHash(ids: Iterable[Long]): Long = ids.foldLeft(0L) { (acc, x) =>
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    acc + (z ^ (z >>> 31))
  }

  def listed(paths: java.util.stream.Stream[Path]): Seq[Path] =
    scala.util.Using.resource(paths)(_.iterator().asScala.toSeq)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = opt("dir")
    val slots = opt("slots").toInt
    val traced = opt("trace") == "1"
    val maintainEvery = opt.getOrElse("maintain-every", "0").toInt

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = Probe.install(spark)
    val run = new Run(spark, probe, dir)

    def inputs(phase: String): Seq[String] = {
      listed(Files.list(Paths.get(dir, "input", phase)))
        .map(_.toString).filter(_.endsWith(".json")).sorted
    }
    def phase(name: String, tracer: Tracer): (Seq[Batch], Seq[Batch]) =
      workload match {
        case "listings_poll" | "listings_backfill" =>
          (run.listings(name, inputs(name), tracer), Nil)
        case "corpus_stream" =>
          // the warm-up maintains after its first trigger, so the timed
          // window's passes do not pay for cold maintenance code
          run.corpus(name, inputs(name),
            if (name == "warm") maintainEvery.min(1) else maintainEvery, tracer)
        case w => sys.error(s"unknown workload $w")
      }

    // warm-up never traces: the timed phase starts from the same JVM
    // state whether or not it is traced
    val sessionReadyMs = System.currentTimeMillis()
    val (warm, _) = phase("warm", new Tracer(probe, enabled = false))
    CacheRegistry.unpersistAll()
    val setupEndMs = System.currentTimeMillis()

    val tracer = new Tracer(probe, traced)
    val (steal0, jiffies0) = Probe.cpuJiffies()
    val gc0 = Probe.gcSeconds(); val jit0 = Probe.jitSeconds()
    val t0 = System.nanoTime()
    val (batches, maint) = phase("timed", tracer)
    val windowS = (System.nanoTime() - t0) / 1e9
    val (steal1, jiffies1) = Probe.cpuJiffies()
    val result = Json.obj(
      "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs,
      "warm_s" -> Json.arr(warm.map(b => Json.num(b.wallS))),
      "slots" -> slots,
      "batches" -> Json.arr(batches.map(_.toJson)),
      "maintenance" -> Json.arr(maint.map(_.toJson)),
      "window_s" -> windowS,
      "jvm_gc_s" -> (Probe.gcSeconds() - gc0),
      "jvm_jit_s" -> (Probe.jitSeconds() - jit0),
      "steal_frac" -> (if (jiffies1 > jiffies0)
        (steal1 - steal0).toDouble / (jiffies1 - jiffies0) else 0.0),
      "peak_rss_mb" -> Probe.peakRssMb(),
      "jvm_flags" -> Json.arr(java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.toArray.toSeq.map(a => Json.str(a.toString))),
      "spans" -> tracer.toJson)
    Files.write(Paths.get(dir, "result.json"), result.render.getBytes("UTF-8"))
    CacheRegistry.unpersistAll()
    spark.stop()
  }
}

/** The workloads, each driving graft's public entry points. */
final class Run(spark: SparkSession, probe: Probe, dir: String) {
  import Main._
  import spark.implicits._

  /** Time `body` as one batch, then read its output with `ids`
    * (outside the timing) for the check. */
  private def measure(index: Int)(body: => Unit)(ids: => (Long, Long),
      gauges: => Map[String, Double] = Map.empty): Batch = {
    val before = probe.snapshot()
    val cpu0 = Probe.cpuSeconds()
    val t0 = System.nanoTime()
    val error =
      try { body; None }
      catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Probe.cpuSeconds() - cpu0
    val counters = Probe.delta(before, probe.snapshot())
    val (n, h) =
      if (error.isDefined) (-1L, 0L)
      else scala.util.Try(ids).getOrElse((-1L, 0L))
    Batch(index, wall, cpu, counters, n, h, error, gauges)
  }

  private def idsOf(df: DataFrame, col: String): (Long, Long) = {
    val ids = df.select(col).as[Long].collect()
    (ids.length.toLong, idHash(ids))
  }

  /** Materialize a frame once so the next span is charged only its own
    * work (the traced run's forced boundary). */
  private def materialize(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save(); df
  }

  // ---------------------------------------------------------------
  // listings_poll / listings_backfill: land → FraudPipeline → alerts
  // ---------------------------------------------------------------

  def listings(phase: String, files: Seq[String], tr: Tracer): Seq[Batch] = {
    val land = s"$dir/work/$phase/land"
    val alertDir = s"$dir/work/$phase/alerts"
    var seen = (0L, 0L)
    files.zipWithIndex.map { case (f, i) =>
      measure(i)(cycle(f, land, alertDir, i, tr)) {
        // the alert table is cumulative; this cycle's output is the
        // difference to what the previous cycles left there
        val (n, h) = idsOf(spark.read.parquet(alertDir), "item_id")
        val out = (n - seen._1, h - seen._2)
        seen = (n, h)
        out
      }
    }
  }

  private def cycle(file: String, land: String, alertDir: String, i: Int,
      tr: Tracer): Unit =
    try {
      tr.span("sources.write_ndjson", i) {
        graft.sources.Ingest.writeNdjson(
          spark.read.schema(ListingSchema).json(file), land)
      }
      if (!tr.enabled)
        Alerts.alertSinkBatch(
          FraudPipeline.pipelineFrom(spark, land, ListingSchema), alertDir)
      else {
        // pipelineFrom's chain, split at its layer calls
        val items = tr.span("sources.read_ndjson", i) {
          materialize(graft.sources.Ingest.readNdjson(spark, land, ListingSchema)
            .transform(CacheRegistry.register))
        }
        val stats = tr.span("operators.generate_market_stats", i) {
          materialize(RiskEngine.generateMarketStats(items)
            .transform(CacheRegistry.register))
        }
        val alerts = tr.span("operators.score_pipeline", i) {
          materialize(RiskEngine.scorePipeline(items, stats)
            .filter(col("risk_score") >= FraudPipeline.AlertThreshold)
            .select(col("item_id"), col("price"), col("detected_category"),
              col("detected_condition"), col("composite_z"),
              col("estimated_value"), col("risk_score"),
              array_join(array_sort(col("risk_factors")), "|").as("risk_factors"),
              col("corrected"))
            .transform(CacheRegistry.register))
        }
        tr.span("streaming.alert_sink_batch", i) {
          Alerts.alertSinkBatch(alerts, alertDir)
        }
      }
    } finally CacheRegistry.unpersistAll()

  // ---------------------------------------------------------------
  // corpus_stream: the near-dup-gated stream with periodic maintenance
  // ---------------------------------------------------------------

  def corpus(phase: String, files: Seq[String], maintainEvery: Int,
      tr: Tracer): (Seq[Batch], Seq[Batch]) = {
    val w = s"$dir/work/$phase"
    val (in, docs, fp, ck) = (s"$w/in", s"$w/docs", s"$w/fp", s"$w/ck")
    Files.createDirectories(Paths.get(in))
    def start(): StreamingQuery = graft.streaming.Ingest.resumeNearDupGated(
      spark, in, DocSchema, docs, fp, ck)
    var q = start()
    val maint = Seq.newBuilder[Batch]
    val batches = files.zipWithIndex.map { case (f, i) =>
      if (!q.isActive) q = start()
      val b = measure(i) {
        tr.span("streaming.trigger", i) {
          // land atomically: the file source must never list a
          // half-written batch
          val name = Paths.get(f).getFileName.toString
          val tmp = Paths.get(in, s".$name.tmp")
          Files.copy(Paths.get(f), tmp)
          Files.move(tmp, Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
        }
      }(idsOf(spark.read.schema(DocSchema).parquet(s"$docs/batch=$i"), "doc_id"),
        if (tr.enabled) stateGauges(docs, fp) else Map.empty)
      if (maintainEvery > 0 && (i + 1) % maintainEvery == 0 && i + 1 < files.size)
        maint += measure(i) {
          tr.span("streaming.maintain", i) {
            q.stop()
            graft.streaming.Ingest.maintainFromCheckpoint(spark, docs, fp, ck)
            q = start()
          }
        }((0L, 0L))
      b
    }
    q.stop()
    (batches, maint.result())
  }

  /** Size of the gate state after a trigger: sealed batch or generation
    * directories of the fingerprint state, and data files and bytes
    * under both the state and the accepted-docs trees. */
  private def stateGauges(docs: String, fp: String): Map[String, Double] = {
    def visible(p: java.nio.file.Path) = {
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }
    val files = Seq(docs, fp).flatMap { root =>
      listed(Files.walk(Paths.get(root))).filter(p => Files.isRegularFile(p) && visible(p))
    }
    val batches = listed(Files.list(Paths.get(fp))).count(p => Files.isDirectory(p) && visible(p))
    Map("state_batches" -> batches.toDouble,
      "state_files" -> files.size.toDouble,
      "state_bytes" -> files.map(Files.size(_)).sum.toDouble)
  }
}
