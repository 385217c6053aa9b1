package graft

import graft.operators.Paths

/** q28 session-path semantics on the face itself (the path-building
  * edge cases ride the oracle; here: structural invariants). */
class PathsSpec extends SparkSpec {
  import spark.implicits._

  test("q28 face: top paths are ordered, shares sum below 1, steps capped") {
    val rows = Paths.q28(spark, sf("sf0.001"))
      .as[(String, Long, Double)].collect()
    assert(rows.length > 1 && rows.length <= Paths.TopK)
    // ordered by count desc (path asc within ties)
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
    // no path exceeds MaxSteps steps
    rows.foreach { r =>
      assert(r._1.split("->").length <= Paths.MaxSteps, r._1) }
    // shares are consistent with counts and sum to <= 1
    val shareSum = rows.map(_._3).sum
    assert(shareSum > 0.0 && shareSum <= 1.0 + 1e-6)
    // every event type in a path is one of the five real types
    val types = Set("view", "click", "purchase", "signup", "error")
    rows.foreach(r => r._1.split("->").foreach(t => assert(types(t), t)))
  }

  test("session split and in-session order follow the q10 rule") {
    // one user: 3 events 1 min apart (one session, ordered), then a
    // 31-min gap (new session), then 2 more
    val base = 1700000000000000L // epoch micros
    val min = 60000000L
    val ev = Seq(
      (1L, 7L, "view", base),
      (2L, 7L, "click", base + 1 * min),
      (3L, 7L, "purchase", base + 2 * min),
      (4L, 7L, "view", base + 33 * min),
      (5L, 7L, "error", base + 34 * min))
      .map { case (id, u, t, us) =>
        (id, u, t, 0.0, new java.sql.Timestamp(us / 1000)) }
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val tmp = scratch("paths")
    ev.write.parquet(s"$tmp/events.parquet")
    val got = Paths.q28(spark, tmp)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(got == Map("view->click->purchase" -> 1L, "view->error" -> 1L))
  }
}
