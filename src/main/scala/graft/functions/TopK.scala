package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranked top-k without a global window. */
object TopK {

  /** The first `k` rows of `df` under `order` ((column, descending)
    * pairs; a total order over non-null keys), numbered from 1 in the
    * long column `rank`, which comes first. With `runningSum =
    * Some((source, target))` each row also carries `target`: the sum of
    * `source` over its own rank and every rank before it.
    *
    * The k survivors are picked by TakeOrdered, then numbered inside
    * one small aggregate (a comparator-sorted collect, posexploded), so
    * no step moves rows into an unpartitioned window. The comparator
    * uses SQL comparisons, which order NaN and ±0.0 as the sort does. */
  def ranked(df: DataFrame, k: Int, rank: String, order: Seq[(String, Boolean)],
      runningSum: Option[(String, String)] = None): DataFrame = {
    val top = df.orderBy(order.map { case (c, d) => if (d) col(c).desc else col(c).asc }: _*)
      .limit(k)
    val cols = top.columns.toSeq
    def cmp(l: Column, r: Column): Column = order.foldRight(lit(0)) {
      case ((c, d), rest) =>
        val (a, b) = if (d) (r.getField(c), l.getField(c)) else (l.getField(c), r.getField(c))
        when(a < b, -1).when(a > b, 1).otherwise(rest)
    }
    val rows = top.agg(array_sort(collect_list(struct(cols.map(col): _*)), cmp).as("_r"))
    val sums = runningSum.map { case (src, _) =>
      transform(col("_r"), (_, i) =>
        aggregate(slice(col("_r"), lit(1), i + 1), lit(0L), (acc, y) => acc + y.getField(src)))
        .as("_cum")
    }
    rows.select((posexplode(col("_r")).as(Seq("_p", "_row")) +: sums.toSeq): _*)
      .select(((col("_p") + 1).cast("long").as(rank) +:
        cols.map(c => col("_row").getField(c).as(c))) ++
        runningSum.map { case (_, tgt) => element_at(col("_cum"), col("_p") + 1).as(tgt) }: _*)
  }
}
