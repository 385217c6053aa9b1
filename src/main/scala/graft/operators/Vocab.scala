package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** c17: vocabulary fitting — the census that PRODUCES the pinned
  * vocab c03c's subword counter consumes: top-K corpus terms by
  * frequency with cumulative coverage (what fraction of all token
  * occurrences the first k vocab entries explain — the curve a
  * tokenizer budget decision is read off, and 1 − cum_share(K) is
  * the OOV rate the packer will see).
  *
  * Scale: term counting is one combiner-friendly shuffle (repeated
  * terms — the thing being counted — collapse map-side); the top-K
  * cut is a distributed TakeOrdered (freq desc, term asc — total
  * order, so the K boundary is deterministic), and the rank/coverage
  * numbering runs on K rows only — the full vocabulary (Heaps-bounded
  * but potentially huge at 100 TB) is never globally sorted.
  * Coverage shares are DECIMAL-summed (order-independent).
  */
object Vocab {

  val VocabK = 64

  /** (rank, term, freq, share, cum_share) of the top-`k` terms over
    * any (doc_id, text) frame, whitespace-lowercase tokenization
    * (the t07 convention). */
  def fitVocab(docs: DataFrame, k: Int = VocabK): DataFrame = {
    val freq = docs.filter(trim(col("text")) =!= "")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val total = freq.agg(sum(col("freq")).as("total"))
    graft.functions.TopK.ranked(freq, k, "rank",
        Seq("freq" -> true, "term" -> false), runningSum = Some("freq" -> "cum_freq"))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("term"), col("freq"),
        round(col("freq").cast("double") / col("total"), 6).as("share"),
        round(col("cum_freq").cast("double") / col("total"), 6)
          .as("cum_share"))
  }

  def c17(s: SparkSession, dir: String): DataFrame =
    fitVocab(Tables.documents(s, dir))

  val c17Sql: String =
    raw"""WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
                  FROM documents WHERE trim(text) <> ''),
       f AS (SELECT term, count(*) AS freq FROM toks GROUP BY 1),
       t AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM f),
       top AS (SELECT term, freq FROM f ORDER BY freq DESC, term LIMIT $VocabK),
       r AS (SELECT term, freq,
               row_number() OVER (ORDER BY freq DESC, term) AS rank,
               CAST(sum(freq) OVER (ORDER BY freq DESC, term
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_freq
             FROM top)
       SELECT rank, term, freq, round(CAST(freq AS DOUBLE)/total, 6) AS share,
         round(CAST(cum_freq AS DOUBLE)/total, 6) AS cum_share
       FROM r CROSS JOIN t"""

  // ---------------------------------------------------------------
  // c21: temperature-scaled mixture weights — the sampling policy
  // that FEEDS c04's epoch expansion: per-source raw share p_i,
  // tempered weight w_i ∝ p_i^α (α < 1 upsamples the tail — the
  // multilingual/low-resource sampling rule), and the implied
  // up/down-sampling factor w_i/p_i a mixture plan publishes.
  //
  // Oracle-parity: p^α is written as exp(α·ln p) in BOTH engines —
  // pow() maps to different libm implementations across engines and
  // can differ in the last ulp, while this ln/exp sequence follows
  // the proven t07/t08 precedent. Tempered terms round to 6 and
  // normalize through a DECIMAL sum; α ships string-pinned.
  //
  // Scale: one combiner-friendly count shuffle; everything after is
  // source-cardinality-sized.
  // ---------------------------------------------------------------

  val Alpha = 0.7

  def c21(s: SparkSession, dir: String): DataFrame =
    mixtureWeights(Tables.documents(s, dir), Alpha)

  /** Tempered mixture weights over any (source, ...) doc frame. */
  def mixtureWeights(docs: DataFrame, alpha: Double): DataFrame = {
    val counts = docs
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val p = col("n").cast("double") / col("total")
    val tempered = round(exp(lit(alpha) * log(p)), 6)
    val withT = counts.crossJoin(broadcast(total))
      .withColumn("p", round(p, 6))
      .withColumn("t", tempered)
    val z = withT.agg(
      sum(col("t").cast("decimal(25,8)")).cast("double").as("z"))
    withT.crossJoin(broadcast(z))
      .select(col("source"), col("n"), col("p"),
        round(col("t") / col("z"), 6).as("weight"),
        round(col("t") / col("z") / col("p"), 6).as("sample_factor"))
  }

  val c21Sql: String = {
    val a = s"CAST('$Alpha' AS DOUBLE)"
    s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
       tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
       w AS (SELECT source, n,
               round(CAST(n AS DOUBLE)/total, 6) AS p,
               round(exp($a * ln(CAST(n AS DOUBLE)/total)), 6) AS t
             FROM c CROSS JOIN tt),
       z AS (SELECT CAST(sum(CAST(t AS DECIMAL(25,8))) AS DOUBLE) AS z FROM w)
       SELECT source, n, p,
         round(t / z, 6) AS weight,
         round(t / z / p, 6) AS sample_factor
       FROM w CROSS JOIN z"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c17_vocab_fit" -> (c17 _),
    "c21_mixture_weights" -> (c21 _))

  val oracles: Map[String, String] = Map(
    "c17_vocab_fit" -> c17Sql,
    "c21_mixture_weights" -> c21Sql)
}
