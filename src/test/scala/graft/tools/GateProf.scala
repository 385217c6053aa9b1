package graft.tools
import org.apache.spark.sql.functions._
/** Scratch profiler for the near-dup gate (not a spec). */
object GateProf {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(32).getOrCreate()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    spark.range(1000000).selectExpr("sum(id*2)").collect()
    // fixed scratch wiped per run — random temp dirs would accumulate
    // an sf-scale state copy per profiling session
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-gateprof"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(rootPath, true)
    val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    (0L to 3L).foreach { b =>
      val t0 = System.nanoTime()
      val n = graft.streaming.Ingest.gateBatch(
        docs.filter(pmod(col("doc_id"), lit(4)) === b), b, s"$root/docs", s"$root/fp")
      println(f"batch $b: ${(System.nanoTime()-t0)/1e9}%.2f s, $n survivors")
    }
    spark.stop()
  }
}
