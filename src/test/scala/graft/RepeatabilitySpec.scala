package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** A face evaluated twice in one session does the same work both
  * times: no memo, persisted census or shared artifact lets the
  * second run skip a probe the first one paid. The faces here are the
  * ones whose probes (gear census, hub gate, link-predict stats,
  * catalog count) or graph mart such state once served, plus the
  * fraud pipeline and the stats generation it runs. */
class RepeatabilitySpec extends SparkSpec {

  private val faces = Seq("d02_ngram_jaccard_auto", "c23_cluster_split",
    "g04_triangles", "g04_triangles_staged", "g05_link_predict",
    "q20_copurchase", "fp01_fraud_pipeline", "f13_generate_stats")

  /** Jobs, stages and tasks of one evaluation. */
  private case class Work(jobs: Int, stages: Int, tasks: Int)

  /** (work, sorted rows) of one evaluation: the face's untimed bench
    * setup first (uncounted, as Bench runs it), then construction and
    * collect, counted from a drained listener bus. */
  private def evaluate(name: String): (Work, Seq[String]) = {
    val dir = sf("sf0.001")
    val fn = (SparkEntry.queries ++ SparkEntry.benchOnly)(name)
    assert(Bench.runSetup(spark, name, dir, tag = "repeat"),
      s"$name setup failed")
    val sc = spark.sparkContext
    val jobs, stages, tasks = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    val rows = try {
      val r = fn(spark, dir).collect().map(_.toString).toSeq.sorted
      GraftTestBus.drain(sc)
      r
    } finally {
      sc.removeSparkListener(l)
      CacheRegistry.unpersistAll()
    }
    (Work(jobs.get, stages.get, tasks.get), rows)
  }

  faces.foreach { name =>
    test(s"$name: a second run in the same session repeats the first") {
      val (work1, rows1) = evaluate(name)
      val (work2, rows2) = evaluate(name)
      assert(rows1.nonEmpty, s"$name produced no rows")
      assert(work2 == work1, s"$name did $work1, then $work2")
      assert(rows2 == rows1, s"$name rows changed between runs")
    }
  }
}
