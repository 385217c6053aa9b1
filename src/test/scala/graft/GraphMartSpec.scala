package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** The graph mart (r18 verdict item 2): staged faces served from the
  * materialized edge/degree artifact must be row-identical to the
  * in-plan faces — the d12/s15 "the artifact changes nothing"
  * contract — and the build-once ensure must behave under partial
  * builds. */
class GraphMartSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterEach {

  override def afterEach(): Unit =
    try CacheRegistry.unpersistAll() finally super.afterEach()

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("mart staged twins == in-plan faces, row-for-row (all five)") {
    val dir = sf("sf0.001")
    val pairs: Seq[(String,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(
        ("g03", Graph.g03 _, Graph.g03Staged _),
        ("g04", Graph.g04 _, Graph.g04Staged _),
        ("g06", Graph.g06 _, Graph.g06Staged _),
        ("g07", Graph.g07 _, Graph.g07Staged _),
        ("f34", Graph.f34 _, Graph.f34Staged _))
    pairs.foreach { case (name, inPlan, staged) =>
      val want = rows(inPlan(spark, dir))
      val got = rows(staged(spark, dir))
      assert(got == want, s"$name staged twin diverged from in-plan")
      // the k=80 core is empty at sf0.001 by design (see GraphSpec's
      // "core empties without tripping the fail-fast") — equality is
      // still the contract there, emptiness is expected
      if (name != "g06") assert(got.nonEmpty, s"$name produced no rows")
    }
  }

  test("mart artifact carries exactly the co-purchase edge/degree " +
      "frames; ensure is build-once; a partial build is redone") {
    val dir = sf("sf0.001")
    val m = Graph.ensureGraphMart(spark, dir)
    val e = Graph.coEdges(Tables.lineitem(spark, dir))
    assert(rows(Graph.martEdges(spark, m)) == rows(e))
    assert(rows(Graph.martDegrees(spark, m)) == rows(Graph.degrees(e)))
    // build-once: a second ensure must not rewrite the artifact
    val edgesMarker = new org.apache.hadoop.fs.Path(s"$m/edges/_SUCCESS")
    val fs = edgesMarker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp = fs.getFileStatus(edgesMarker).getModificationTime
    assert(Graph.ensureGraphMart(spark, dir) == m)
    assert(fs.getFileStatus(edgesMarker).getModificationTime == stamp,
      "second ensure rebuilt an intact mart")
    // partial build (edges landed, degrees missing — a crash between
    // the two writes): degrees/_SUCCESS is the commit marker, so the
    // next ensure rebuilds the mart in place
    fs.delete(new org.apache.hadoop.fs.Path(s"$m/degrees"), true)
    val m2 = Graph.ensureGraphMart(spark, dir)
    assert(m2 == m)
    assert(rows(Graph.martDegrees(spark, m2)) == rows(Graph.degrees(e)))
    assert(rows(Graph.martEdges(spark, m2)) == rows(e))
  }
}
