package graft

import graft.operators.Velocity
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** f23 burst semantics on planted timelines (the oracle pins
  * cross-engine parity; these pin the detection boundary). */
class VelocitySpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, i: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d 0${i % 10}:0${i / 10 % 6}:00")

  private def burstsOf(rows: Seq[(Long, Timestamp)]) =
    Velocity.bursts(rows.toDF("user_id", "ts"))
      .select(col("user_id"), col("day"), col("n"))
      .as[(Long, String, Long)].collect().toSet

  test("planted spike flags exactly once; steady users never flag") {
    val quiet = (1 to 20).map(d => (1L, ts(d, 0))) // 1/day × 20 days
    val spike = (0 until 10).map(i => (1L, ts(25, i))) // 10 on day 25
    val steady = (1 to 10).flatMap(d => (0 until 7).map(i => (2L, ts(d, i))))
    val got = burstsOf(quiet ++ spike ++ steady)
    // user 1: mean = 30/21, 10 ≥ max(6, 2×mean) → burst on day 25 only
    // user 2: every day == mean → ratio 1 < 2, never a burst
    assert(got == Set((1L, "2024-01-25", 10L)))
  }

  test("f31: a weekday-relative spike outranks a bigger absolute count " +
      "on a busier weekday; weekday code anchors Thursday = 0") {
    // Mondays (2024-01-01, -08, -15, -22) run 4/day except the 22nd
    // at 12 (ratio 12·4/24 = 2.0); Fridays run 20/day flat (ratio
    // 1.0) — so the SMALLER absolute count (12 < 20) must rank 1,
    // which is exactly what a seasonality-blind burst rule inverts.
    def evs(day: Int, n: Int): Seq[(String, Timestamp)] =
      (0 until n).map(i => ("view", ts(day, i)))
    val rows = (Seq(1, 8, 15).flatMap(d => evs(d, 4)) ++ evs(22, 12) ++
      Seq(5, 12, 19, 26).flatMap(d => evs(d, 20))).toDF("event_type", "ts")
    val got = Velocity.dowAnomalies(rows)
      .select("rank", "day", "dow", "n", "ratio")
      .as[(Long, String, Int, Long, Double)].collect().sortBy(_._1)
    assert(got.head == ((1L, "2024-01-22", 4, 12L, 2.0)), s"got ${got.head}")
    // 2024-01-01 was a Monday; epoch-days mod 7 with Thursday=0 → 4
    assert(got.head._3 == 4)
    // every Friday ties at ratio 1.0 → rank 2 is the EARLIEST Friday
    assert(got(1)._2 == "2024-01-05" && got(1)._5 == 1.0)
  }

  test("f31 streaming maintenance: fold == batch recompute, replay " +
      "rebuilds identically") {
    import graft.operators.{IncrementalStats, Velocity}
    val events = Tables.events(spark, sf("sf0.001"))
      .select(col("event_type"), col("ts"))
    val (b0, b1) = (events.filter(dayofmonth(col("ts")) <= 15),
      events.filter(dayofmonth(col("ts")) > 15))
    val root = scratch("graft-dow")
    val stateDir = s"$root/state"
    IncrementalStats.foldBatch(stateDir, Velocity.dayCounts(b0), 0L)
    val merged = IncrementalStats.foldBatch(stateDir,
      Velocity.dayCounts(b1), 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_type", "rank", "day", "n", "ratio")
        .as[(String, Long, String, Long, Double)].collect().toSet
    val folded = rows(Velocity.dowAnomaliesFromCounts(merged))
    val batch = rows(Velocity.dowAnomalies(events))
    assert(folded == batch, "folded state diverges from batch recompute")
    assert(folded.nonEmpty)
    // crash-replay: batch 1 re-delivered overwrites its own
    // generation — identical state, identical derived output
    val replayed = IncrementalStats.foldBatch(stateDir,
      Velocity.dayCounts(b1), 1L)
    assert(rows(Velocity.dowAnomaliesFromCounts(replayed)) == batch)
  }

  test("boundary: n exactly at factor × mean IS a burst; one below is not") {
    // user 1: days 1..3 with 4 events, day 4 with 12 → sum 24, nw 4,
    // mean 6; 12·4 = 48 == 2·24 → exactly at the boundary, flagged
    val atBoundary = (1 to 3).flatMap(d => (0 until 4).map(i => (1L, ts(d, i)))) ++
      (0 until 12).map(i => (1L, ts(4, i)))
    assert(burstsOf(atBoundary) == Set((1L, "2024-01-04", 12L)))
    // user 2: same shape but day 4 has 11 → 11·4 = 44 < 2·23+... sum
    // 23, 2·23 = 46 > 44 → not flagged
    val below = (1 to 3).flatMap(d => (0 until 4).map(i => (2L, ts(d, i)))) ++
      (0 until 11).map(i => (2L, ts(4, i)))
    assert(burstsOf(below).isEmpty)
  }

  test("q22 RANGE frame: same-day peers included, day 8 falls out") {
    import graft.operators.Relational
    def o(k: Long, d: Int, price: Double) =
      (k, 1L, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), price)
    // two orders on day 1 (peers), one on day 7 (inside the 7-day
    // frame of day 1's orders? no — frame is TRAILING), one on day 8
    // (outside day 1's trailing frame, inside day 7's)
    val orders = Seq(o(1, 1, 10.0), o(2, 1, 20.0), o(3, 7, 40.0), o(4, 8, 80.0))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = Relational.slidingWindow(orders)
      .select("o_orderkey", "n_7d", "spend_7d")
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    assert(got(1L) == ((2L, 30.0))) // same-day peer included BOTH ways
    assert(got(2L) == ((2L, 30.0)))
    assert(got(3L) == ((3L, 70.0))) // day 1 still inside [day 1, day 7]
    assert(got(4L) == ((2L, 120.0))) // day 1 fell out; day 7 inside
  }

  test("f24 KS: identical, disjoint and hand-computed shifted samples") {
    import graft.operators.Velocity
    def rows(grp: String, ref: Seq[Double], live: Seq[Double]) =
      ref.map(v => (grp, true, v)) ++ live.map(v => (grp, false, v))
    val df = (rows("same", Seq(1, 2, 3), Seq(1, 2, 3)) ++
      rows("disjoint", Seq(1, 2), Seq(10, 20, 30)) ++
      // shifted: ref {1,2,3,4}, live {3,4,5,6} → max gap at v=2:
      // F1=2/4, F2=0 → D = 1/2, num = |2·4 − 0·4| = 8
      rows("shift", Seq(1, 2, 3, 4), Seq(3, 4, 5, 6)))
      .toDF("grp", "is_ref", "v")
    val got = Velocity.ksDrift(df)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("same")._5 == 0.0)
    assert(got("disjoint")._5 == 1.0) // fully separated CDFs
    assert(got("disjoint")._6 == 2.0) // attained at ref's last value
    assert(got("shift")._4 == 8L && got("shift")._5 == 0.5 &&
      got("shift")._6 == 2.0)
  }

  test("f25 CUSUM: persistent creep alarms where the spike rule stays silent") {
    import graft.operators.Velocity
    // 10 days at 1/day, then 10 days at 4/day: no single day reaches
    // the f23 burst floor (6), but the CUSUM accumulates the
    // +0.5/day slack-adjusted excess (mean 2.5, k=1) and crosses h=4
    // within the creep phase
    val creep = (1 to 10).map(d => (1L, ts(d, 0))) ++
      (11 to 20).flatMap(d => (0 until 4).map(i => (1L, ts(d, i))))
    val rows = creep.toDF("user_id", "ts")
    assert(Velocity.bursts(rows).count() == 0) // f23 blind to the creep
    val alarms = Velocity.cusum(rows)
      .select("day").as[String].collect().toSet
    assert(alarms.nonEmpty)
    // the alarm fires only in the raised-rate phase
    assert(alarms.forall(_ >= "2024-01-11"))
  }

  test("f25 gap handling: inactive days pull the statistic down") {
    import graft.operators.Velocity
    // 3 busy days, then 20 silent days, then 3 busy days: each run is
    // excess but the silent lattice days reset the statistic between
    // them — the SECOND run must not inherit the first run's sum
    val rows = ((1 to 3) ++ (24 to 26))
      .flatMap(d => (0 until 4).map(i => (1L, ts(d, i))))
      .toDF("user_id", "ts")
    val got = Velocity.cusum(rows, slack = 1, threshold = 8)
    // total excess per run ≈ 3·(4 − mean − 1) < 8·nd → no alarm; a
    // naive unreset cumulative sum of (x − mean) WOULD cross
    assert(got.count() == 0)
  }

  test("f25 day-1 burst alarms (virtual P_0 = 0 in the prefix min)") {
    import graft.operators.Velocity
    // 10 events on day 1, then 1 on day 10: nd = 10, Σx = 11,
    // pp_1 = 10·10 − 1·(11 + 10) = 79 ≥ h·nd = 40 → day 1 alarms.
    // A prefix min omitting the virtual P_0 = 0 would give
    // s_1 = pp_1 − pp_1 = 0 and the first lattice day could never
    // alarm regardless of how extreme it is.
    val rows = ((0 until 10).map(i => (1L, ts(1, i))) :+ ((1L, ts(10, 0))))
      .toDF("user_id", "ts")
    val days = Velocity.cusum(rows).select("day").as[String].collect().toSet
    assert(days.contains("2024-01-01"))
  }

  test("MinBurst floor: a relative spike under 6 events never flags") {
    // 1/day × 9 days then 5 on day 10: ratio 5·10/14 ≈ 3.6 ≥ 2 but
    // n = 5 < MinBurst → suppressed (tiny users can't alarm)
    val rows = (1 to 9).map(d => (1L, ts(d, 0))) ++
      (0 until 5).map(i => (1L, ts(10, i)))
    assert(burstsOf(rows).isEmpty)
  }

  test("f26: only superhuman hops flag; slow travel never does") {
    // hand-checkable core logic via the same derivation the face
    // uses: two events 1 hour apart whose derived points are ~half
    // the globe apart must flag; the same pair 30 days apart must not
    import graft.operators.Velocity
    val all = Velocity.f26(spark, sf("sf0.001"))
      .select("kmh", "secs").as[(Double, Long)].collect()
    assert(all.nonEmpty)
    // every flagged hop really exceeds the bar, never div-by-zero
    all.foreach { case (kmh, secs) =>
      assert(kmh > Velocity.MaxSpeedKmh && secs > 0)
    }
  }

  private def ewmaOf(rows: Seq[(Long, Timestamp)]) =
    Velocity.ewmaChart(rows.toDF("user_id", "ts"))
      .select(col("user_id"), col("day"), col("side"))
      .as[(Long, String, String)].collect().toSeq

  test("f32: persistent modest shifts alarm on the drift side; " +
      "constant and one-day-spike series stay quiet") {
    def series(uid: Long, counts: Seq[Int]): Seq[(Long, Timestamp)] =
      counts.zipWithIndex.flatMap { case (n, d) =>
        (0 until n).map(i => (uid, ts(d + 1, i)))
      }
    // user 1: 25 steady days at 4, then a +75% persistent shift to 7
    // — invisible to the f23 spike rule (7 < 2× mean), walks the EWMA
    // over the upper limit within the shifted tail
    val drifter = series(1L, Seq.fill(25)(4) ++ Seq.fill(5)(7))
    // user 2: the mirrored persistent DROP (4 → 1) crosses the lower
    // limit — the side f23/f25 (one-sided) cannot see at all
    val dipper = series(2L, Seq.fill(25)(4) ++ Seq.fill(5)(1))
    // user 3: constant series — s_t == mu exactly (the division is
    // exact), strict inequalities never fire even at sd = 0
    val steady = series(3L, Seq.fill(30)(4))
    val got = ewmaOf(drifter ++ dipper ++ steady)
    val bySide = got.groupBy(_._1)
    assert(bySide(1L).forall(_._3 == "high") && bySide(1L).nonEmpty)
    // drift alarms land in the shifted tail, never the steady head
    assert(bySide(1L).forall(_._2 >= "2024-01-26"))
    assert(bySide(2L).forall(_._3 == "low") && bySide(2L).nonEmpty)
    assert(bySide(2L).forall(_._2 >= "2024-01-26"))
    assert(!bySide.contains(3L))
  }

  test("f32: lattice gaps count as zero-activity days in the fold") {
    // 20 days at 4/day, a 3-day SILENT gap (no rows at all), then 5
    // days at 9/day: the filled lattice must feed the gap through the
    // recursion as x = 0 — pulling the chart into a LOW alarm on a
    // day with no events (day 23), before the tail walks it HIGH (day
    // 28). Recompute the full recursion locally with the identical
    // IEEE ops and require the alarm rows to match exactly.
    val rows = (1 to 20).flatMap(d => (0 until 4).map(i => (1L, ts(d, i)))) ++
      (24 to 28).flatMap(d => (0 until 9).map(i => (1L, ts(d, i))))
    val xs = Seq.fill(20)(4L) ++ Seq.fill(3)(0L) ++ Seq.fill(5)(9L)
    val nd = xs.size.toDouble
    val mu = xs.sum / nd
    val sd = math.sqrt((nd * xs.map(x => x * x).sum - math.pow(xs.sum, 2)) /
      (nd * nd))
    var s = mu; var q = 1.0
    val expect = xs.zipWithIndex.flatMap { case (x, i) =>
      q *= 0.5625
      s = 0.25 * x + 0.75 * s
      val hw = 3.0 * sd * math.sqrt(0.25 / 1.75 * (1.0 - q))
      if (s > mu + hw || s < mu - hw)
        Some((f"2024-01-${i + 1}%02d",
          BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          if (s > mu + hw) "high" else "low"))
      else None
    }
    val got = Velocity.ewmaChart(rows.toDF("user_id", "ts"))
      .select(col("day"), col("ewma"), col("side"))
      .as[(String, Double, String)].collect().toSeq.sortBy(_._1)
    assert(got == expect.sortBy(_._1))
    // non-vacuous, and the gap day itself is the low alarm
    assert(got.map(r => (r._1, r._3)) ==
      Seq(("2024-01-23", "low"), ("2024-01-28", "high")))
  }

  test("f37: the anchor CHAINS — suppression measures from the last " +
      "EMITTED alert, boundary inclusive, keys independent") {
    import graft.operators.Velocity
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600L * 1000000L
    val rows = Seq(
      // user 1 at hours 0, 5, 7, 12.5 with cooldown 6h: 0 fires,
      // 5 suppressed (< 6), 7 fires (≥ 0+6 — and RESETS the anchor),
      // 12.5 suppressed (< 7+6) even though it is ≥ 0+6: a lag-based
      // rule would emit it, the chained anchor must not
      (1L, 101L, ts(0)), (1L, 102L, ts(5 * h)),
      (1L, 103L, ts(7 * h)), (1L, 104L, ts(12 * h + h / 2)),
      // user 2: exactly the cooldown later — the inclusive boundary
      (2L, 201L, ts(h)), (2L, 202L, ts(7 * h)),
      // user 3's lone event is untouched by user 1's chain
      (3L, 301L, ts(5 * h)))
      .toDF("user_id", "event_id", "ts")
    val got = Velocity.realertFilter(rows, 6L * h)
      .select("event_id").as[Long].collect().toSet
    assert(got == Set(101L, 103L, 201L, 202L, 301L))
  }
}