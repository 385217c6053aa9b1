package graft.tools

/** Steady-state query profiler (test scope only — never ships):
  *
  *   sbt "Test/runMain graft.tools.ProfMain <query> [reps] [sfDir]"
  *
  * Times `reps` back-to-back runs of one SparkEntry query in a single
  * JVM, unpersisting registered caches between runs. The FIRST rep
  * carries that plan's one-time codegen/JIT cost; later reps approach
  * steady-state throughput — the number that matters for the 100 TB
  * posture (Bench's generic warmup covers shared infra but not
  * per-plan compilation). */
object ProfMain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("c01_corpus_clean")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(32).getOrCreate()
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly
    val fn = all.getOrElse(name,
      sys.error(s"unknown query $name; known: ${all.keys.toSeq.sorted.mkString(", ")}"))
    spark.range(1000000).selectExpr("sum(id*2)").collect()
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      println(f"PROF $name rep $r%d: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      graft.CacheRegistry.unpersistAll()
      System.gc()
    }
    spark.stop()
  }
}
