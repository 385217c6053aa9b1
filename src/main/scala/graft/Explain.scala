package graft
/** Plan-review helper: prints formatted physical plans for queries
  * named on the command line (default: a pushdown/broadcast sample). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8).getOrCreate()
    val dir = if (args.nonEmpty && args(0).startsWith("/")) args(0) else "/root/testdata/sf0.01"
    val names = args.filterNot(_.startsWith("/")).toSeq match {
      case Nil => Seq("q02_filter_project", "q03_join_agg", "f03_zscore", "s01_ann_bruteforce")
      case xs => xs
    }
    val faces = SparkEntry.queries ++ SparkEntry.benchOnly
    names.foreach { n =>
      println(s"===== $n =====")
      if (SparkEntry.effectfulBench(n))
        // constructing these faces executes the full multi-stage
        // lifecycle (writes + jobs) — there is no plan to print
        // without running the workload; use Bench/SPARK_GRAFT_ONLY
        println(s"SKIP: $n builds scratch state eagerly (side-effecting " +
          "bench face) — run it via Bench, not Explain")
      else
        println(faces(n)(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
