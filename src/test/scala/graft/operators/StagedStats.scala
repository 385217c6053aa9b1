package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The three-branch market-stats aggregation — the reference that
  * PropertySpec holds `RiskEngine.aggregateStats` to. Segment stats,
  * component stats and flat route stats are separate plans here: each
  * full level derives its moments and its median from one value-counts
  * frame and joins them, and the flat level aggregates the route rows
  * directly; a union stacks the three. Kept as it was in production,
  * without its cache pins (they change no output). */
object StagedStats {

  /** Stats aggregation over a routed frame (regex_analyzer.py:968-1022):
    * per-(category, condition) price stats with min-support 2 + nested
    * per-component stats + flat secondary-route stats. `pyR` is the
    * output rounding. */
  def aggregateStats(routed0: DataFrame, pyR: Column => Column): DataFrame = {
    def sx(c: Column): Column = sum(c.cast("decimal(25,4)")).cast("double")
    // shared clamped formula — see Fraud.stdevCols for the NaN hazard
    def stdev(sxC: Column, sxxC: Column, n: Column): Column =
      Fraud.stdevCols(sxC, sxxC, n)

    val routed = routed0
      .select(col("route"), col("category"), col("cond"), col("price"),
        col("cpu"), col("ram"), col("gpu"))

    val prime = routed.filter(col("route") === "PRIME")
      .select(col("category"), col("cond"), col("price"),
        col("cpu"), col("ram"), col("gpu"))

    def statsOf(df: DataFrame, keys: Seq[String]): DataFrame = {
      // one value-counts frame feeds the moments and the median; the
      // inner join drops every group whose key holds a null
      val counts = df.groupBy((keys.map(col) :+ col("price")): _*)
        .agg(count(lit(1)).as("_c"))
      val agg = counts.groupBy(keys.map(col): _*)
        .agg(sum(col("_c")).as("count"),
          sum(col("price").cast("decimal(25,4)") * col("_c"))
            .cast("double").as("_sx"),
          sum((col("price") * col("price")).cast("decimal(25,4)") * col("_c"))
            .cast("double").as("_sxx"))
        .filter(col("count") >= 2)
      val med = Fraud.groupMedianFromCounts(counts, keys, "price", "_med")
      agg.join(med, keys)
        .select(keys.map(col) :+
          pyR(col("_sx") / col("count")).as("mean") :+
          pyR(col("_med")).as("median") :+
          pyR(stdev(col("_sx"), col("_sxx"), col("count"))).as("stdev") :+
          col("count"): _*)
    }

    val segRows = statsOf(prime, Seq("category", "cond"))
      .select(col("category"), col("cond").as("condition"),
        lit(null).cast("string").as("comp_type"),
        lit(null).cast("string").as("comp_name"),
        col("mean"), col("median"), col("stdev"), col("count"))

    val compExploded = prime.select(col("category"), col("cond"), col("price"),
        explode(filter(array(
          struct(lit("cpu").as("t"), col("cpu").as("name")),
          struct(lit("ram").as("t"), col("ram").as("name")),
          struct(lit("gpu").as("t"), col("gpu").as("name"))),
          x => x("name").isNotNull)).as("c"))
      .select(col("category"), col("cond"),
        col("c.t").as("comp_type"), col("c.name").as("comp_name"), col("price"))
    val compRows = statsOf(compExploded,
        Seq("category", "cond", "comp_type", "comp_name"))
      .select(col("category"), col("cond").as("condition"),
        col("comp_type"), col("comp_name"),
        col("mean"), col("median"), col("stdev"), col("count"))

    val flat = routed.filter(col("route") =!= "PRIME")
      .groupBy(col("route"))
      .agg(count(lit(1)).as("count"), sx(col("price")).as("_sx"))
      .filter(col("count") > 3)
      .select(col("route").as("category"),
        lit(null).cast("string").as("condition"),
        lit(null).cast("string").as("comp_type"),
        lit(null).cast("string").as("comp_name"),
        pyR(col("_sx") / col("count")).as("mean"),
        lit(null).cast("double").as("median"),
        lit(null).cast("double").as("stdev"), col("count"))

    segRows.union(compRows).union(flat)
  }

}
