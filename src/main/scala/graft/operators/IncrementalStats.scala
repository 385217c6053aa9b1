package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental maintenance of the market statistics — the Spark-scale
  * analog of the reference's 10-minute full regenerate cadence
  * (`analist_poller.py` re-runs `regex_analyzer.py:849-1022` over the
  * whole index every cycle).
  *
  * At 100 TB a full rescan per cycle is not viable. The insight: every
  * statistic the reference publishes (count / mean / stdev / exact
  * median, min-support 2) is derivable from a per-group VALUE-COUNTS
  * state `(keys…, value, _c)` — and value counts are exactly mergeable
  * (sum `_c`) and exactly retractable (subtract `_c`). So the pipeline
  * keeps the tiny counts state, folds in each new micro-batch's counts,
  * retracts partitions that age out of the retention window (the ILM
  * analog), and re-derives the stats frame from the state — no history
  * rescan, ever. Unlike a Welford/moment merge this is EXACT for the
  * median too, and the derived moments are bit-identical to a full
  * recompute because the weighted decimal sums equal the row-level
  * sums (`f17_stats_merge` proves that against the f01 oracle).
  *
  * Scale shape: the state is bounded by distinct (keys, value) combos —
  * for prices this is orders of magnitude smaller than the fact table —
  * and every operation here is one combiner-friendly shuffle over it.
  */
object IncrementalStats {

  /** Partial state of `df` for later merge/retract: one row per
    * (keys…, value) with its occurrence count `_c`. */
  def valueCounts(df: DataFrame, keys: Seq[String], value: String): DataFrame =
    df.select((keys :+ value).map(col): _*)
      .groupBy((keys :+ value).map(col): _*)
      .agg(count(lit(1)).as("_c"))

  /** Merge count states (all columns except `_c` are the identity). */
  def merge(states: Seq[DataFrame]): DataFrame = {
    val u = states.reduce(_.unionByName(_))
    val keys = u.columns.filterNot(_ == "_c").map(col)
    u.groupBy(keys: _*).agg(sum(col("_c")).as("_c"))
  }

  /** Retract an expired slice's counts from `state` (retention
    * expiry: the ILM delete-phase analog). Caller contract: `expired`
    * is a sub-multiset of what was merged in; rows whose count reaches
    * zero leave the state, and defensive `> 0` filtering drops any
    * over-retraction instead of keeping a negative count. */
  def retract(state: DataFrame, expired: DataFrame): DataFrame =
    merge(Seq(state, expired.withColumn("_c", -col("_c"))))
      .filter(col("_c") > 0)

  /** The published stats frame (n, mean_<v>, median_<v>, stdev_<v>,
    * min-support 2) re-derived from a counts state — the same
    * order-independent decimal-sum moments and order-statistic median
    * as the batch path (`Fraud.f01`), computed over the (much smaller)
    * state instead of the fact table.
    *
    * One keyed window pass: per key, the running count `_cum` (values
    * ascending), the group count `n` and the decimal Σx and Σx² come
    * from windows over ONE key partitioning; a filter keeps the rows
    * holding the order statistics m1 = (n+1)/2 and m2 = (n+2)/2, and
    * the final `groupBy(keys)` reuses the window's partitioning. The
    * plan has two exchanges (the caller's value counts, then the key
    * partitioning), no join and no second scan of `counts`, so the
    * state needs no cache. The group totals are constant within a key,
    * which is why `max` reads them back exactly.
    *
    * Null keys: a key holding a null is a group of its own, as in
    * `groupBy` (SURVEY §4). A null value counts towards `n` and sorts
    * below every price in the order statistics; it adds nothing to Σx,
    * Σx² or the median sum. */
  def statsFromCounts(counts: DataFrame, keys: Seq[String],
      value: String): DataFrame = {
    val k = keys.map(col)
    val byKey = Window.partitionBy(k: _*)
    val v = col(value)
    // order statistic m falls in this value's cumulative range (_cum-_c, _cum]
    def holds(m: Column): Column =
      (m > col("_cum") - col("_c") && m <= col("_cum")).cast("int")
    counts
      .withColumn("_cum", sum(col("_c")).over(byKey.orderBy(v.asc)))
      .withColumn("_n", sum(col("_c")).over(byKey))
      .withColumn("_sx", sum(v.cast("decimal(25,4)") * col("_c")).over(byKey))
      .withColumn("_sxx",
        sum((v * v).cast("decimal(25,4)") * col("_c")).over(byKey))
      .filter(col("_n") >= 2)
      .withColumn("_w", holds(((col("_n") + 1) / 2).cast("long")) +
        holds(((col("_n") + 2) / 2).cast("long")))
      .filter(col("_w") > 0)
      .groupBy(k: _*)
      .agg(max(col("_n")).as("n"), max(col("_sx")).cast("double").as("sx"),
        max(col("_sxx")).cast("double").as("sxx"),
        (sum(v * col("_w")) / 2.0).as(s"median_$value"))
      .select(k ++ Seq(col("n"),
        (col("sx") / col("n")).as(s"mean_$value"),
        col(s"median_$value"),
        Fraud.stdevCols(col("sx"), col("sxx"), col("n")).as(s"stdev_$value")): _*)
  }

  // ---------------------------------------------------------------
  // Streaming maintenance: the full poller-cycle analog. Each
  // micro-batch's value counts fold into a GENERATION-VERSIONED
  // parquet state, and the published stats frame is re-derived from
  // the merged state — so a restart never rescans history and a
  // REPLAYED batch (foreachBatch is at-least-once) overwrites its own
  // generation instead of double-counting.
  // ---------------------------------------------------------------

  /** Largest committed generation strictly below `batchId`, if any. */
  private def latestGen(s: SparkSession, stateDir: String,
      batchId: Long): Option[DataFrame] = {
    val root = new java.io.File(stateDir)
    val gens = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
      .map(_.getName.stripPrefix("gen=").toLong)
      .filter(_ < batchId)
    if (gens.isEmpty) None
    else Some(s.read.parquet(s"$stateDir/gen=${gens.max}"))
  }

  /** One idempotent fold step: merge `delta` (a counts frame) into the
    * state as generation `batchId`, reading from the latest EARLIER
    * generation. Re-running the same batchId after a crash rebuilds
    * the identical generation from the same parent — exactly-once
    * semantics on top of an at-least-once callback. Returns the merged
    * state. Generations older than the parent can be pruned externally
    * (each is a complete state, not a delta chain). */
  def foldBatch(stateDir: String, delta: DataFrame,
      batchId: Long): DataFrame =
    foldBatchWith(stateDir, delta, batchId)(merge)

  /** [[foldBatch]] with a caller-supplied merge law — the same
    * generation-versioned exactly-once fold for state whose combine
    * rule isn't count-sum (e.g. HLL registers fold by MAX). The
    * merge function must be idempotent under replay of the same
    * delta (sum over counts and max over registers both are, because
    * a replayed batch overwrites its own generation rather than
    * folding twice). */
  def foldBatchWith(stateDir: String, delta: DataFrame, batchId: Long)(
      mergeFn: Seq[DataFrame] => DataFrame): DataFrame = {
    val s = delta.sparkSession
    val merged = latestGen(s, stateDir, batchId)
      .map(prev => mergeFn(Seq(prev, delta))).getOrElse(delta)
    merged.write.mode("overwrite").parquet(s"$stateDir/gen=$batchId")
    s.read.parquet(s"$stateDir/gen=$batchId")
  }

  /** Maintain market stats over a stream: fold each micro-batch into
    * the counts state and republish the derived stats frame. The
    * checkpoint makes batch ids stable across restarts, which is what
    * makes [[foldBatch]]'s replay-overwrite correct. */
  def maintainStats(stream: DataFrame, keys: Seq[String], value: String,
      stateDir: String, statsDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val merged = foldBatch(stateDir,
          valueCounts(batch, keys, value), id)
        statsFromCounts(merged, keys, value)
          .write.mode("overwrite").parquet(statsDir)
      }
      .start()

  // ---------------------------------------------------------------
  // f17: the merge path proven against the batch oracle — two disjoint
  // partial states (split by partkey parity, the stand-in for "state
  // so far" + "new micro-batch") merged, stats derived from the merged
  // state. The oracle is f01's full-recompute SQL: equality means the
  // incremental path is bit-exact, moments and median both.
  // ---------------------------------------------------------------
  def f17(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(col("p_partkey"),
      col("p_brand").as("category"), col("p_type").as("cond"),
      col("p_retailprice").as("price"))
    val keys = Seq("category", "cond")
    val halves = Seq(0, 1).map(par =>
      valueCounts(p.filter(pmod(col("p_partkey"), lit(2)) === par), keys, "price"))
    statsFromCounts(merge(halves), keys, "price")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f17_stats_merge" -> (f17 _))

  val oracles: Map[String, String] = Map(
    "f17_stats_merge" -> Fraud.f01Sql)
}
