package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023) —
  * the standard "give me more data like THIS domain" pass of an LLM
  * data pipeline, and the principled upgrade over source-level
  * mixtures (c04 reweights by source label; c12 reweights by what the
  * text actually looks like):
  *
  *   1. featurize every doc as hashed unigram+bigram counts
  *      ([[Buckets]] buckets over the portable 60-bit md5 prefix —
  *      hashing IS the method: collisions are part of the estimator);
  *   2. fit Laplace-smoothed bag-of-buckets unigram models for the
  *      TARGET exemplars and the RAW pool;
  *   3. per-doc importance log-weight = sum of per-occurrence
  *      log-likelihood ratios;
  *   4. sample without replacement via the Gumbel top-k trick —
  *      key = log-weight + Gumbel(0,1), take top-k. The Gumbel
  *      uniforms come from a salted hash of doc_id, so the "random"
  *      sample is reproducible, partition-independent, and
  *      oracle-replayable (the c02 determinism rule applied to
  *      sampling; a new salt is a fresh draw).
  *
  * Scale design: one corpus-scale gram explode feeding a
  * (doc, bucket) count with map-side combine (the only big shuffle);
  * the bucket LLR table is <= [[Buckets]] rows — broadcast back; the
  * per-doc score rollup keys on a prefix of the first shuffle's key;
  * top-k is TakeOrdered. Contributions are rounded and summed through
  * DECIMAL (aggregation-order-independent scores). The target model
  * here is fit in-query from labeled exemplars; at 100 TB the LLR
  * table is a tiny artifact fit ONCE from the (small by definition)
  * target corpus and shipped like the market-stats artifact
  * (RiskEngine's IO round-trip pattern).
  */
object Dsir {

  val Buckets = 256
  val TopK = 50
  val GumbelSalt = "c12:"
  /** Face target domain: the labeled-English slice — enrichment of
    * the selected sample over the 43.6% base rate is the spec's
    * quality gate (noiseless top-50 reaches 94% en at sf0.01). */
  val TargetLang = "en"

  /** Per-doc DSIR importance log-weights: (doc_id, score). `isTarget`
    * marks the exemplar docs the target model is fit on; every doc in
    * `docs` is scored. */
  def importanceScores(docs: DataFrame, isTarget: Column): DataFrame = {
    val s = docs.sparkSession
    val toks = docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), isTarget.cast("int").as("is_t"),
        split(lower(trim(col("text"))), "\\s+").as("w"))
    val bi = when(size(col("w")) >= 2,
      transform(sequence(lit(1), size(col("w")) - 1), i =>
        concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val db = toks
      .select(col("doc_id"), col("is_t"),
        explode(concat(col("w"), bi)).as("g"))
      .select(col("doc_id"), col("is_t"),
        pmod(graft.plans.GraftFunctions.md5Prefix60(s, col("g")),
          lit(Buckets.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("is_t"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.CacheRegistry.register)
    val bs = db.groupBy(col("bucket"))
      .agg(sum(when(col("is_t") === 1, col("cnt")).otherwise(lit(0L))).as("ct"),
        sum(col("cnt")).as("cr"))
      .transform(graft.CacheRegistry.register)
    val tot = bs.agg(sum(col("ct")).as("tct"), sum(col("cr")).as("tcr"))
    val llr = bs.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log((col("ct").cast("double") + lit(1.0)) /
            (col("tct").cast("double") + lit(Buckets.toDouble)))
          - log((col("cr").cast("double") + lit(1.0)) /
            (col("tcr").cast("double") + lit(Buckets.toDouble))), 6).as("llr"))
    db.join(broadcast(llr), "bucket")
      .select(col("doc_id"),
        round(col("cnt").cast("double") * col("llr"), 6).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c").cast("decimal(25,8)")).cast("double").as("score"))
  }

  /** Gumbel top-k sampling key: score + Gumbel(0,1) noise from a
    * salted-hash uniform — reproducible sampling w/o replacement. */
  def withGumbelKey(scored: DataFrame, salt: String): DataFrame = {
    val s = scored.sparkSession
    val u = (pmod(graft.plans.GraftFunctions.md5Prefix60(s,
        concat(lit(salt), col("doc_id").cast("string"))), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    scored.withColumn("key",
      round(col("score") + round(-log(-log(u)), 6), 6))
  }

  def c12(s: SparkSession, dir: String): DataFrame = {
    val scored = importanceScores(Tables.documents(s, dir),
      col("lang") === TargetLang)
    graft.functions.TopK.ranked(withGumbelKey(scored, GumbelSalt), TopK, "rank",
        Seq("key" -> true, "doc_id" -> false))
      .select(col("rank"), col("doc_id"), col("score"), col("key"))
  }

  val c12Sql: String =
    raw"""WITH toks AS (SELECT doc_id, CAST(lang = '$TargetLang' AS INT) AS is_t,
                string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents WHERE trim(text) <> ''),
       grams AS (
         SELECT doc_id, is_t, w[i] AS g FROM toks,
           LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
         UNION ALL
         SELECT doc_id, is_t, w[i] || ' ' || w[i+1] FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-1, 0))) AS i)),
       db AS (SELECT doc_id, is_t,
                CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % $Buckets AS bucket,
                count(*) AS cnt
              FROM grams GROUP BY 1, 2, 3),
       bs AS (SELECT bucket, sum(CASE WHEN is_t = 1 THEN cnt ELSE 0 END) AS ct,
                sum(cnt) AS cr FROM db GROUP BY 1),
       tot AS (SELECT sum(ct) AS tct, sum(cr) AS tcr FROM bs),
       llr AS (SELECT bucket,
                 round(ln((CAST(ct AS DOUBLE) + 1.0)/(CAST(tct AS DOUBLE) + $Buckets.0))
                     - ln((CAST(cr AS DOUBLE) + 1.0)/(CAST(tcr AS DOUBLE) + $Buckets.0)), 6) AS llr
               FROM bs CROSS JOIN tot),
       sc AS (SELECT doc_id,
                CAST(sum(CAST(round(CAST(cnt AS DOUBLE) * llr, 6) AS DECIMAL(25,8))) AS DOUBLE) AS score
              FROM db JOIN llr USING (bucket) GROUP BY 1),
       gum AS (SELECT doc_id, score,
                 round(score + round(-ln(-ln((CAST(CAST(('0x' || substring(md5('$GumbelSalt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS DOUBLE) + 0.5)/1000000.0)), 6), 6) AS key
               FROM sc),
       r AS (SELECT doc_id, score, key,
               row_number() OVER (ORDER BY key DESC, doc_id) AS rank FROM gum)
       SELECT CAST(rank AS BIGINT) AS rank, doc_id, score, key
       FROM r WHERE rank <= $TopK"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c12_dsir" -> (c12 _))

  val oracles: Map[String, String] = Map(
    "c12_dsir" -> c12Sql)
}
