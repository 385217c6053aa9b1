package graft

import graft.operators.RiskEngine

/** The market-stats artifact round-trip (reference:
  * regex_analyzer.py:967-1020 writing market_stats.json):
  *
  *  1. generate → write → load must equal generate → score-config
  *     directly (no information lost through the JSON tree), closing
  *     the generate→serialize→score loop the reference runs between
  *     regex_analyzer.py and poller.py.
  *  2. The writer must emit the EXACT tree dialect the reference's
  *     artifact uses — verified by parsing the reference's own
  *     market_stats.json into flat rows and reproducing it
  *     field-for-field.
  */
class StatsArtifactSpec extends SparkSpec {

  private def tmpPath(name: String): String =
    s"${scratch("graft-stats")}/$name"

  test("round-trip: loadStats(write(generate(x))) == statsFromRows(generate(x))") {
    val rows = RiskEngine.aggregateStats(
      RiskEngine.routeItems(RiskEngine.f13bItems(spark, sf())),
      c => graft.plans.GraftFunctions.pyRound(spark, c, 2)).cache()
    val path = tmpPath("market_stats.json")
    RiskEngine.writeStats(rows, path)
    val (segsJson, compsJson) = RiskEngine.loadStats(path)
    val (segsRows, compsRows) = RiskEngine.statsFromRows(rows)
    assert(segsJson.toSet == segsRows.toSet)
    assert(compsJson.toSet == compsRows.toSet)
    assert(segsJson.nonEmpty && compsJson.nonEmpty)
  }

  test("writer reproduces the reference's own artifact field-for-field") {
    val ref = "/root/reference/market_stats.json"
    val rows = RiskEngine.statsRowsFromJson(spark, ref)
    val regenerated = RiskEngine.statsJson(rows)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val want = om.readTree(new java.io.File(ref))
    val got = om.readTree(regenerated)
    assert(got == want)
  }

  test("scoring against a written artifact equals scoring against the rows") {
    // the full pipeline loop: stats generated from one corpus, written,
    // then used to score another — byte-identical either way
    val stats = RiskEngine.aggregateStats(
      RiskEngine.routeItems(RiskEngine.f13bItems(spark, sf())),
      c => graft.plans.GraftFunctions.pyRound(spark, c, 2)).cache()
    val path = tmpPath("market_stats.json")
    RiskEngine.writeStats(stats, path)
    val items = RiskEngine.f12Items(spark, sf())
    val viaJson = RiskEngine.scoreItems(items, path)
      .collect().map(_.toString).sorted
    val viaRows = RiskEngine.scoreItemsWith(items, stats)
      .collect().map(_.toString).sorted
    assert(viaJson.sameElements(viaRows))
    assert(viaJson.nonEmpty)
  }
}
