package graft.operators

import graft.functions.TextSpecs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's item-level risk engine, field-exact
  * (poller.calculate_risk_base, poller.py:333-495): spec extraction →
  * market-stats lookup with condition fallback → composite weighted-z
  * → heuristic points → clamp. Validated by RiskFidelitySpec, which
  * replays outputs pinned from RUNNING the reference.
  *
  * The market-stats JSON is parsed on the DRIVER (it is broadcast
  * configuration — the reference holds it as a process-global) and
  * joined as two broadcast lookup tables; everything per-item is
  * codegen'd column arithmetic. Works unchanged over a 100 TB item
  * table: one broadcast join per signal, no shuffle at all.
  */
object RiskEngine {

  /** WEIGHTS (poller.py:69-74). */
  val W = Map("cpu" -> 0.5, "gpu" -> 0.3, "ram" -> 0.1, "category" -> 0.1)

  case class SegStats(category: String, condition: String,
      mean: Double, stdev: Double, fallback: Boolean)
  case class CompStats(category: String, condition: String,
      compType: String, compName: String, mean: Double, stdev: Double)

  /** Parse market_stats.json (CATEGORY → CONDITION → {mean, stdev,
    * components{cpu|gpu|ram → NAME → {mean, stdev}}}) and resolve the
    * reference's condition fallback chain (poller.py:383-392:
    * NEW→LIKE_NEW→USED, LIKE_NEW→USED) into flat lookup rows keyed by
    * the REQUESTED condition. */
  def loadStats(path: String): (Seq[SegStats], Seq[CompStats]) = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(new java.io.File(path))
    val rawSegs = Map.newBuilder[(String, String), (Double, Double)]
    val rawComps = Map.newBuilder[(String, String), Seq[(String, String, Double, Double)]]
    root.properties().forEach { catEntry =>
      val cat = catEntry.getKey
      catEntry.getValue.properties().forEach { condEntry =>
        val n = condEntry.getValue
        // flat SECONDARY/UNCERTAIN nodes carry only {mean, count} and
        // are never scoring targets — skip anything without stdev
        if (n.has("stdev")) {
          rawSegs += (cat, condEntry.getKey) ->
            (n.get("mean").asDouble, n.get("stdev").asDouble)
          val comps = Seq.newBuilder[(String, String, Double, Double)]
          Option(n.get("components")).foreach { cn =>
            Seq("cpu", "gpu", "ram").foreach { t =>
              Option(cn.get(t)).foreach(_.properties().forEach { e =>
                comps += ((t, e.getKey,
                  e.getValue.get("mean").asDouble, e.getValue.get("stdev").asDouble))
              })
            }
          }
          rawComps += (cat, condEntry.getKey) -> comps.result()
        }
      }
    }
    resolveFallbacks(rawSegs.result(), rawComps.result())
  }

  /** Resolve the reference's condition-fallback chain over raw
    * (category, condition) stat entries. Shared by the JSON loader and
    * the generated-stats path. */
  def resolveFallbacks(
      rawSegs: Map[(String, String), (Double, Double)],
      rawComps: Map[(String, String), Seq[(String, String, Double, Double)]])
      : (Seq[SegStats], Seq[CompStats]) = {
    val segs = Seq.newBuilder[SegStats]
    val comps = Seq.newBuilder[CompStats]
    val conditions = Seq("NEW", "LIKE_NEW", "USED", "BROKEN")
    val categories = rawSegs.keys.map(_._1).toSeq.distinct
    categories.foreach { cat =>
      def node(c: String) = rawSegs.get((cat, c)).map(v => (c, v))
      conditions.foreach { reqCond =>
        val (resolved, fallback) = node(reqCond) match {
          case Some(n) => (Some(n), false)
          case None => reqCond match {
            case "NEW" => (node("LIKE_NEW").orElse(node("USED")), true)
            case "LIKE_NEW" => (node("USED"), true)
            case _ => (None, false)
          }
        }
        resolved.foreach { case (srcCond, (mean, stdev)) =>
          segs += SegStats(cat, reqCond, mean, stdev, fallback)
          rawComps.getOrElse((cat, srcCond), Seq.empty).foreach {
            case (t, name, m, sd) => comps += CompStats(cat, reqCond, t, name, m, sd)
          }
        }
      }
    }
    (segs.result(), comps.result())
  }

  /** Stats lookup from a generateMarketStats output frame — the
    * standalone path: the engine regenerates its own market stats and
    * scores against them, no reference JSON involved. The stats frame
    * is model metadata (categories × conditions × components), so the
    * collect is bounded and tiny. */
  def statsFromRows(statsRows: DataFrame): (Seq[SegStats], Seq[CompStats]) = {
    val rows = statsRows.collect()
    val rawSegs = rows.filter(r => r.getAs[String]("comp_type") == null &&
        r.getAs[String]("condition") != null)
      .map(r => (r.getAs[String]("category"), r.getAs[String]("condition")) ->
        (r.getAs[Double]("mean"), r.getAs[Double]("stdev"))).toMap
    val rawComps = rows.filter(_.getAs[String]("comp_type") != null)
      .groupBy(r => (r.getAs[String]("category"), r.getAs[String]("condition")))
      .map { case (k, rs) => k -> rs.toSeq.map(r =>
        (r.getAs[String]("comp_type"), r.getAs[String]("comp_name"),
          r.getAs[Double]("mean"), r.getAs[Double]("stdev")))
      }
    resolveFallbacks(rawSegs, rawComps)
  }

  /** Score against self-generated stats (the standalone pipeline:
    * generateMarketStats → scoreItemsWith). */
  def scoreItemsWith(items: DataFrame, statsRows: DataFrame): DataFrame = {
    val (segs, comps) = statsFromRows(statsRows)
    scoreItemsResolved(items, segs, comps)
  }

  /** Score an item table (item_id, title, description, price) against
    * a market-stats JSON. Output mirrors the reference's result dict:
    * risk_score, composite_z / estimated_value (rounded to 2 as the
    * reference rounds its output), factors, detected category /
    * condition / specs. */
  def scoreItems(items: DataFrame, statsJsonPath: String): DataFrame = {
    val (segs, comps) = loadStats(statsJsonPath)
    scoreItemsResolved(items, segs, comps)
  }

  /** Extraction → scoring over one cached specced frame (the
    * FraudPipeline.pipelineFrom shape): the four broadcast lookup
    * joins key on cached attributes, so extraction runs once per item
    * and no join plan carries the extraction. */
  private def scoreItemsResolved(items: DataFrame,
      segs: Seq[SegStats], comps: Seq[CompStats]): DataFrame =
    scoreSpeccedResolved(
      TextSpecs.withSpecs(items, col("title"), col("description"))
        .transform(graft.CacheRegistry.register), segs, comps)

  private def scoreSpeccedResolved(specced: DataFrame,
      segs: Seq[SegStats], comps: Seq[CompStats],
      passthrough: Seq[String] = Nil): DataFrame = {
    val staged = stagedScore(specced, segs, comps)

    val price = col("price")
    val s = specced.sparkSession
    // Python-round parity on the rounded output fields (see PyRound)
    def pyRound2(c: Column): Column = graft.plans.GraftFunctions.pyRound(s, c, 2)

    staged.select(Seq(
      col("item_id"), col("title"), price.as("price"),
      col("cpu"), col("ram"), col("gpu"),
      // symbolic price reports the sentinel category (poller.py:401)
      when(price < 5.0, "UNCERTAIN_PRICE").otherwise(col("category")).as("detected_category"),
      col("condition").as("detected_condition"),
      when(price < 5.0, 0.0).otherwise(pyRound2(col("_final_z"))).as("composite_z"),
      when(price < 5.0, 0.0).otherwise(pyRound2(col("_est"))).as("estimated_value"),
      when(price < 5.0, 0).otherwise(least(col("_score"), lit(100))).as("risk_score"),
      when(price < 5.0, array(lit("Symbolic Price"))).otherwise(col("_factors")).as("risk_factors"))
      ++ passthrough.map(col): _*)
  }

  /** Join + score arithmetic over a frame that ALREADY carries the
    * extraction columns (category, condition, cpu, ram, gpu) plus
    * price/description. Appends the staged internals `_final_z`,
    * `_est`, `_score` (raw factor-point sum, pre-clamp, pre-symbolic
    * guard) and `_factors`. Shared by the full text-extraction path
    * (scoreItems) and the pre-extracted oracle face (f12b), so the
    * external DuckDB check exercises the same code path production
    * scoring uses. */
  def stagedScore(specced: DataFrame,
      segs: Seq[SegStats], comps: Seq[CompStats]): DataFrame = {
    val s = specced.sparkSession
    import s.implicits._
    val segDf = segs.toDF("category", "condition", "seg_mean", "seg_stdev", "fallback")
    val compDf = comps.toDF("category", "condition", "comp_type", "comp_name",
      "c_mean", "c_stdev")

    var df = specced.join(broadcast(segDf), Seq("category", "condition"), "left")
    for (t <- Seq("cpu", "gpu", "ram")) {
      val lookup = compDf.filter(col("comp_type") === t)
        .select(col("category").as(s"_${t}_cat"), col("condition").as(s"_${t}_cond"),
          col("comp_name").as(s"_${t}_name"),
          col("c_mean").as(s"${t}_mean"), col("c_stdev").as(s"${t}_stdev"))
      df = df.join(broadcast(lookup),
        col("category") === col(s"_${t}_cat") &&
          col("condition") === col(s"_${t}_cond") &&
          col(t) === col(s"_${t}_name"), "left")
        .drop(s"_${t}_cat", s"_${t}_cond", s"_${t}_name")
    }

    // weighted signals, in the reference's summation order:
    // cpu, gpu, ram, category (adding 0.0 for absent signals is an
    // exact identity, so FP results match the python loop bit-for-bit)
    def valid(t: String): Column = col(s"${t}_stdev").isNotNull && col(s"${t}_stdev") > 0
    def z(t: String): Column = (col("price") - col(s"${t}_mean")) / col(s"${t}_stdev")
    val segValid = col("seg_stdev").isNotNull && col("seg_stdev") > 0
    val segZ = (col("price") - col("seg_mean")) / col("seg_stdev")

    val wz = when(valid("cpu"), z("cpu") * W("cpu")).otherwise(0.0) +
      when(valid("gpu"), z("gpu") * W("gpu")).otherwise(0.0) +
      when(valid("ram"), z("ram") * W("ram")).otherwise(0.0) +
      when(segValid, segZ * W("category")).otherwise(0.0)
    val wp = when(valid("cpu"), col("cpu_mean") * W("cpu")).otherwise(0.0) +
      when(valid("gpu"), col("gpu_mean") * W("gpu")).otherwise(0.0) +
      when(valid("ram"), col("ram_mean") * W("ram")).otherwise(0.0) +
      when(segValid, col("seg_mean") * W("category")).otherwise(0.0)
    val tw = when(valid("cpu"), W("cpu")).otherwise(0.0) +
      when(valid("gpu"), W("gpu")).otherwise(0.0) +
      when(valid("ram"), W("ram")).otherwise(0.0) +
      when(segValid, W("category")).otherwise(0.0)

    // Stage the shared big expressions as NAMED columns: the final
    // select references finalZ/est many times, and CollapseProject
    // keeps a multiply-referenced non-cheap column staged, so each is
    // computed once per row instead of re-inlined per reference.
    val staged = df
      .withColumn("_tw", tw)
      .withColumn("_z0", when(col("_tw") > 0, wz / col("_tw")).otherwise(0.0))
      .withColumn("_est0", when(col("_tw") > 0, wp / col("_tw")).otherwise(0.0))
      // NEW-fallback adjustment (poller.py:452-456): est +20%, z
      // rebased on the fallback node's stdev
      .withColumn("_adjust",
        col("fallback") && col("condition") === "NEW" && col("_tw") > 0)
      .withColumn("_est", when(col("_adjust"), col("_est0") * 1.2).otherwise(col("_est0")))
      .withColumn("_final_z", when(col("_adjust"),
        (col("price") - col("_est0") * 1.2) / coalesce(col("seg_stdev"), lit(100.0)))
        .otherwise(col("_z0")))

    val finalZ = col("_final_z")
    val price = col("price")
    val desc = col("description")
    val contact = desc.rlike("(?i)(whatsapp|6\\d{8})")
    staged
      .withColumn("_score",
        when(finalZ < -1.5, 30).otherwise(0) +
          when(finalZ < -2.5, 40).otherwise(0) +
          when(length(desc) < 30 && price > 200, 15).otherwise(0) +
          when(contact, 30).otherwise(0))
      .withColumn("_factors", filter(array(
        when(finalZ < -1.5, format_string("Statistically Cheap (Z=%.2f) [%s]",
          finalZ, col("condition"))),
        when(finalZ < -2.5, lit("EXTREME Price Anomaly")),
        when(length(desc) < 30 && price > 200, lit("Short Desc")),
        when(contact, lit("External Contact"))), _.isNotNull))
  }

  /** The poller loop's pre-scoring data path (poller.py:595-612):
    * symbolic-price items get the hidden price recovered from the
    * text; items still under 1 with no correction are dropped; then
    * the risk engine runs on the effective price. Adds a `corrected`
    * flag like the reference's corrected_price. */
  def scorePipeline(items: DataFrame, statsRows: DataFrame): DataFrame =
    scoreSpecced(TextSpecs.withSpecs(items, col("title"), col("description")),
      statsRows)

  /** [[scorePipeline]] over a frame that already carries the
    * `TextSpecs.withSpecs` columns. The correction may run after
    * extraction because extraction reads only title and description,
    * never price. */
  def scoreSpecced(specced: DataFrame, statsRows: DataFrame): DataFrame = {
    val hidden = TextSpecs.extractHiddenPrice(col("title"), col("description"))
    val prepared = specced
      .withColumn("_hidden", when(col("price") < 5.0, hidden))
      .withColumn("corrected", col("_hidden").isNotNull)
      .withColumn("price",
        when(col("corrected"), col("_hidden")).otherwise(col("price")))
      .filter(col("price") >= 1.0 || col("corrected"))
      .drop("_hidden")
    val (segs, comps) = statsFromRows(statsRows)
    // `corrected` rides through the scoring projection — the old
    // self-join re-evaluated the hidden-price regexes in a second scan
    scoreSpeccedResolved(prepared, segs, comps, passthrough = Seq("corrected"))
  }

  /** Driver query face (rows-only): synthesize a listing-shaped item
    * table from `part` (same construction as f11) and score it through
    * the full text-extraction path against the pinned stats
    * (PinnedRawSegs/PinnedRawComps, resolved as for f12b). Those stats
    * name the categories and components the f12Items titles carry and
    * are deliberately irregular, so the condition-fallback, stdev-guard
    * and absent-stats paths all run. The scorer's exact semantics are
    * pinned by RiskFidelitySpec, which replays the reference against
    * its own market_stats.json and so runs only where the reference
    * checkout exists. The factors array is '|'-joined for the driver
    * harness (pandas cannot sort array cells); the library API
    * (scoreItems) keeps the array form. */
  def f12(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    scoreItemsResolved(f12Items(s, dir), pinnedSegs, pinnedComps)
      .withColumn("risk_factors", array_join(col("risk_factors"), "|"))

  // =================================================================
  // f12b: the scoring core, external-checked end-to-end. Extraction is
  // replaced by CASE-derived spec columns (derived identically in the
  // oracle SQL) and the stats table is PINNED — resolveFallbacks runs
  // on the pinned raw stats and the RESOLVED rows are inlined as
  // VALUES on the oracle side, so the DuckDB gate checks the exact
  // weighted-z math, condition-fallback ×1.2 adjust, stdev<=0 signal
  // guards, absent-stats (tw=0) path, factor points and clamp that
  // scoreItems runs (poller.py:333-495).
  // =================================================================

  /** Pinned raw stats for f12 and f12b. Deliberately irregular:
    * GAMING/NEW and APPLE/NEW+LIKE_NEW are absent (exercise the
    * fallback chain), WORKSTATION has a zero-stdev ram row (exercise
    * the validity guard), GENERICO is absent entirely (tw=0 path). */
  val PinnedRawSegs: Map[(String, String), (Double, Double)] = Map(
    ("GAMING", "USED") -> (1150.0, 260.0),
    ("GAMING", "LIKE_NEW") -> (1380.0, 310.0),
    ("APPLE", "USED") -> (1290.0, 280.0),
    ("WORKSTATION", "USED") -> (980.0, 170.0),
    ("WORKSTATION", "NEW") -> (1520.0, 330.0))

  val PinnedRawComps: Map[(String, String), Seq[(String, String, Double, Double)]] = Map(
    ("GAMING", "USED") -> Seq(
      ("cpu", "INTEL I7", 1260.0, 240.0), ("cpu", "INTEL I5", 990.0, 210.0),
      ("gpu", "NVIDIA RTX 3060", 1340.0, 270.0), ("ram", "16GB", 1180.0, 230.0)),
    ("GAMING", "LIKE_NEW") -> Seq(
      ("cpu", "INTEL I7", 1430.0, 280.0), ("gpu", "NVIDIA RTX 3060", 1510.0, 300.0)),
    ("APPLE", "USED") -> Seq(
      ("cpu", "APPLE M1", 1330.0, 250.0), ("ram", "8GB", 1240.0, 220.0)),
    ("WORKSTATION", "USED") -> Seq(
      ("cpu", "INTEL I5", 890.0, 150.0), ("ram", "8GB", 910.0, 160.0),
      ("ram", "16GB", 1010.0, 0.0)))

  lazy val (pinnedSegs, pinnedComps) = resolveFallbacks(PinnedRawSegs, PinnedRawComps)

  /** The f12b item frame: spec columns CASE-derived from `part` (the
    * same derivation is written in f12bSql, so both engines score the
    * identical input). */
  def f12bItems(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    graft.Tables.part(s, dir).select(
      k.as("item_id"),
      col("p_retailprice").as("price"),
      when(k % 4 === 0, "GAMING").when(k % 4 === 1, "APPLE")
        .when(k % 4 === 2, "WORKSTATION").otherwise("GENERICO").as("category"),
      when(k % 3 === 0, "USED").when(k % 3 === 1, "NEW")
        .otherwise("LIKE_NEW").as("condition"),
      when(k % 5 === 0, "INTEL I7").when(k % 5 === 1, "INTEL I5")
        .when(k % 5 === 2, "APPLE M1").otherwise(lit(null).cast("string")).as("cpu"),
      when(k % 6 === 0, "16GB").when(k % 6 === 1, "8GB")
        .otherwise(lit(null).cast("string")).as("ram"),
      when(k % 7 === 0, "NVIDIA RTX 3060")
        .otherwise(lit(null).cast("string")).as("gpu"),
      when(k % 11 === 0, "whatsapp 612345678")
        .when(k % 13 === 0, "corto")
        .otherwise("portatil en buen estado funcionando correctamente con factura incluida")
        .as("description"))
  }

  def f12b(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val staged = stagedScore(f12bItems(s, dir), pinnedSegs, pinnedComps)
    val price = col("price")
    staged.select(
      col("item_id"), price.as("price"), col("category"), col("condition"),
      col("cpu"), col("ram"), col("gpu"),
      when(price < 5.0, 0.0).otherwise(col("_final_z")).as("composite_z"),
      when(price < 5.0, 0.0).otherwise(col("_est")).as("estimated_value"),
      when(price < 5.0, 0).otherwise(least(col("_score"), lit(100))).as("risk_score"),
      when(price < 5.0, 1).otherwise(size(col("_factors"))).as("n_factors"))
  }

  private def sqlD(d: Double): String = s"CAST($d AS DOUBLE)"

  lazy val f12bSql: String = {
    val segValues = pinnedSegs.map(g =>
      s"('${g.category}','${g.condition}',${sqlD(g.mean)},${sqlD(g.stdev)},${g.fallback})")
      .mkString(",\n         ")
    val compValues = pinnedComps.map(c =>
      s"('${c.category}','${c.condition}','${c.compType}','${c.compName}',${sqlD(c.mean)},${sqlD(c.stdev)})")
      .mkString(",\n         ")
    raw"""WITH items AS (
       SELECT p_partkey AS item_id, p_retailprice AS price,
         CASE WHEN p_partkey % 4 = 0 THEN 'GAMING' WHEN p_partkey % 4 = 1 THEN 'APPLE'
              WHEN p_partkey % 4 = 2 THEN 'WORKSTATION' ELSE 'GENERICO' END AS category,
         CASE WHEN p_partkey % 3 = 0 THEN 'USED' WHEN p_partkey % 3 = 1 THEN 'NEW'
              ELSE 'LIKE_NEW' END AS condition,
         CASE WHEN p_partkey % 5 = 0 THEN 'INTEL I7' WHEN p_partkey % 5 = 1 THEN 'INTEL I5'
              WHEN p_partkey % 5 = 2 THEN 'APPLE M1' END AS cpu,
         CASE WHEN p_partkey % 6 = 0 THEN '16GB' WHEN p_partkey % 6 = 1 THEN '8GB' END AS ram,
         CASE WHEN p_partkey % 7 = 0 THEN 'NVIDIA RTX 3060' END AS gpu,
         CASE WHEN p_partkey % 11 = 0 THEN 'whatsapp 612345678'
              WHEN p_partkey % 13 = 0 THEN 'corto'
              ELSE 'portatil en buen estado funcionando correctamente con factura incluida'
              END AS description
       FROM part),
       segs(category, condition, seg_mean, seg_stdev, fallback) AS (VALUES
         $segValues),
       comps(category, condition, comp_type, comp_name, c_mean, c_stdev) AS (VALUES
         $compValues),
       j AS (SELECT i.*, seg_mean, seg_stdev, fallback,
               cc.c_mean AS cpu_mean, cc.c_stdev AS cpu_stdev,
               cg.c_mean AS gpu_mean, cg.c_stdev AS gpu_stdev,
               cr.c_mean AS ram_mean, cr.c_stdev AS ram_stdev
             FROM items i
             LEFT JOIN segs s ON i.category = s.category AND i.condition = s.condition
             LEFT JOIN comps cc ON cc.comp_type = 'cpu' AND i.category = cc.category
               AND i.condition = cc.condition AND i.cpu = cc.comp_name
             LEFT JOIN comps cg ON cg.comp_type = 'gpu' AND i.category = cg.category
               AND i.condition = cg.condition AND i.gpu = cg.comp_name
             LEFT JOIN comps cr ON cr.comp_type = 'ram' AND i.category = cr.category
               AND i.condition = cr.condition AND i.ram = cr.comp_name),
       w AS (SELECT *,
          (CASE WHEN cpu_stdev IS NOT NULL AND cpu_stdev > 0 THEN (price - cpu_mean)/cpu_stdev*0.5 ELSE 0.0 END
         + CASE WHEN gpu_stdev IS NOT NULL AND gpu_stdev > 0 THEN (price - gpu_mean)/gpu_stdev*0.3 ELSE 0.0 END
         + CASE WHEN ram_stdev IS NOT NULL AND ram_stdev > 0 THEN (price - ram_mean)/ram_stdev*0.1 ELSE 0.0 END
         + CASE WHEN seg_stdev IS NOT NULL AND seg_stdev > 0 THEN (price - seg_mean)/seg_stdev*0.1 ELSE 0.0 END) AS wz,
          (CASE WHEN cpu_stdev IS NOT NULL AND cpu_stdev > 0 THEN cpu_mean*0.5 ELSE 0.0 END
         + CASE WHEN gpu_stdev IS NOT NULL AND gpu_stdev > 0 THEN gpu_mean*0.3 ELSE 0.0 END
         + CASE WHEN ram_stdev IS NOT NULL AND ram_stdev > 0 THEN ram_mean*0.1 ELSE 0.0 END
         + CASE WHEN seg_stdev IS NOT NULL AND seg_stdev > 0 THEN seg_mean*0.1 ELSE 0.0 END) AS wp,
          (CASE WHEN cpu_stdev IS NOT NULL AND cpu_stdev > 0 THEN 0.5 ELSE 0.0 END
         + CASE WHEN gpu_stdev IS NOT NULL AND gpu_stdev > 0 THEN 0.3 ELSE 0.0 END
         + CASE WHEN ram_stdev IS NOT NULL AND ram_stdev > 0 THEN 0.1 ELSE 0.0 END
         + CASE WHEN seg_stdev IS NOT NULL AND seg_stdev > 0 THEN 0.1 ELSE 0.0 END) AS tw
        FROM j),
       z AS (SELECT *,
          CASE WHEN tw > 0 THEN wz/tw ELSE 0.0 END AS z0,
          CASE WHEN tw > 0 THEN wp/tw ELSE 0.0 END AS est0,
          (fallback AND condition = 'NEW' AND tw > 0) AS adj FROM w),
       f AS (SELECT *,
          CASE WHEN adj THEN est0*1.2 ELSE est0 END AS est,
          CASE WHEN adj THEN (price - est0*1.2)/coalesce(seg_stdev, 100.0) ELSE z0 END AS final_z
        FROM z)
       SELECT item_id, price, category, condition, cpu, ram, gpu,
         CASE WHEN price < 5.0 THEN 0.0 ELSE final_z END AS composite_z,
         CASE WHEN price < 5.0 THEN 0.0 ELSE est END AS estimated_value,
         CASE WHEN price < 5.0 THEN 0 ELSE least(
            CASE WHEN final_z < -1.5 THEN 30 ELSE 0 END
          + CASE WHEN final_z < -2.5 THEN 40 ELSE 0 END
          + CASE WHEN length(description) < 30 AND price > 200 THEN 15 ELSE 0 END
          + CASE WHEN regexp_matches(description, '(?i)(whatsapp|6[0-9]{8})') THEN 30 ELSE 0 END, 100) END AS risk_score,
         CASE WHEN price < 5.0 THEN 1 ELSE
            CASE WHEN final_z < -1.5 THEN 1 ELSE 0 END
          + CASE WHEN final_z < -2.5 THEN 1 ELSE 0 END
          + CASE WHEN length(description) < 30 AND price > 200 THEN 1 ELSE 0 END
          + CASE WHEN regexp_matches(description, '(?i)(whatsapp|6[0-9]{8})') THEN 1 ELSE 0 END END AS n_factors
       FROM f"""
  }

  // =================================================================
  // Market-stats GENERATION — the other half of the reference pipeline
  // (regex_analyzer.process_data, regex_analyzer.py:849-1022): items →
  // routed segments → per-(category, condition) price stats with
  // nested per-component stats. Output is the flat-row form of the
  // reference's market_stats.json tree; StatsGenFidelitySpec replays a
  // pinned corpus. Every level comes from one combiner-friendly
  // value-counts aggregate and one keyed window pass.
  // =================================================================

  /** Routing per the reference's loop (regex_analyzer.py:929-953):
    * JUNK dropped; UNCERTAIN (segment, or no cpu AND no ram — checked
    * BEFORE broken/accessory); BROKEN/ACCESSORY secondary; else PRIME.
    */
  def generateMarketStats(items: DataFrame): DataFrame =
    marketStatsOf(TextSpecs.withSpecs(items, col("title"), col("description")))

  /** [[generateMarketStats]] over a frame that already carries the
    * `TextSpecs.withSpecs` columns. The stats are one plan that reads
    * `specced` once: extraction and routing run once per row, and the
    * plan caches nothing. A caller that also scores the same items
    * caches `specced` itself (FraudPipeline.pipelineFrom), so
    * extraction runs once across both passes. Uncached, extraction →
    * routing is one plan whose heavy columns (the graft_specs struct,
    * cond, segment) are named and multiply referenced, so
    * CollapseProject keeps them staged and each runs once per row
    * (PlanSpec pins one graft_specs per extraction plan). */
  def marketStatsOf(specced: DataFrame): DataFrame = {
    val s = specced.sparkSession
    aggregateStats(routeItems(specced),
      c => graft.plans.GraftFunctions.pyRound(s, c, 2))
  }

  /** The routing cascade (regex_analyzer.py:929-953) over a frame that
    * already carries the extraction columns (category, cpu, ram) plus
    * raw title/description/price — shared by the full extraction path
    * (generateMarketStats) and the pre-extracted oracle face (f13b).
    * Missing api_condition/is_refurbished columns default to null. */
  def routeItems(specced0: DataFrame): DataFrame = {
    val specced = Seq("api_condition" -> "string", "is_refurbished" -> "boolean")
      .foldLeft(specced0) { case (df, (c, t)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast(t))
      }
    // condition here uses the RAW full text (process_data does not
    // sanitize/truncate for condition, unlike the spec extraction path)
    val rawFull = lower(concat(col("title"), lit(" "), col("description")))
    specced
      // The JUNK drop, expressed on the RAW price column. Identical to
      // filtering `route =!= "JUNK"` afterwards (segment = JUNK iff
      // price > 10000: the price < 5 branch wins first, so no other
      // route reaches JUNK). Filters here read raw columns only:
      // predicate pushdown substitutes aliases transitively, so a
      // filter on a computed column would re-evaluate extraction and
      // routing inside the Filter, while one on the raw column pushes
      // into the scan — JUNK rows never leave the reader.
      .filter(!coalesce(col("price") > 10000, lit(false)))
      .withColumn("cond", TextSpecs.detectConditionWithApi(
        col("api_condition"), col("is_refurbished"), rawFull))
      .withColumn("segment", TextSpecs.marketSegment(
        lower(col("title")), col("price"), col("cond")))
      .withColumn("route",
        when(col("segment") === "UNCERTAIN" ||
            (col("cpu").isNull && col("ram").isNull), "UNCERTAIN")
          .when(col("segment").isin("BROKEN", "ACCESSORY"), col("segment"))
          .otherwise("PRIME"))
  }

  /** Stats aggregation over a routed frame (regex_analyzer.py:968-1022):
    * per-(category, condition) price stats with min-support 2, nested
    * per-component stats with min-support 2, and flat secondary-route
    * stats (mean and count) with min-support 4. `pyR` is the output
    * rounding (python-parity 2 dp in production; identity in the
    * oracle face, where raw doubles compare exactly across engines).
    *
    * Every row is one stat key `(lvl, category, condition, comp_type,
    * comp_name)`: a PRIME row yields its segment key (lvl 0) and one
    * key per non-null cpu, ram and gpu (lvl 1); any other route yields
    * its flat key (lvl 2). All levels come from ONE value-counts
    * aggregate and one `IncrementalStats.statsFromCounts` pass, so the
    * plan holds no cache, no join and no union. A PRIME row with a null
    * category or condition has no stat key, and a row with a null
    * route is no route at all. */
  def aggregateStats(routed: DataFrame, pyR: Column => Column): DataFrame = {
    val none = lit(null).cast("string")
    def key(lvl: Int, category: Column, condition: Column, compType: Column,
        compName: Column): Column =
      struct(lit(lvl).as("lvl"), category.as("category"),
        condition.as("condition"), compType.as("comp_type"),
        compName.as("comp_name"))
    val primeKeys = filter(
      array(key(0, col("category"), col("cond"), none, none) +:
        Seq("cpu", "ram", "gpu").map(t =>
          key(1, col("category"), col("cond"), lit(t), col(t))): _*),
      k => k("lvl") === 0 || k("comp_name").isNotNull)
    val statKeys =
      when(col("route") === "PRIME" && col("category").isNotNull &&
          col("cond").isNotNull, primeKeys)
        .when(col("route") =!= "PRIME", array(key(2, col("route"), none, none, none)))
    val keys = Seq("lvl", "category", "condition", "comp_type", "comp_name")
    val keyed = routed.select(explode(statKeys).as("k"), col("price"))
      .select(col("k.*"), col("price"))
    val full = col("lvl") < 2
    IncrementalStats.statsFromCounts(
        IncrementalStats.valueCounts(keyed, keys, "price"), keys, "price")
      .filter(full || col("n") > 3)
      .select(col("category"), col("condition"), col("comp_type"),
        col("comp_name"), pyR(col("mean_price")).as("mean"),
        when(full, pyR(col("median_price"))).as("median"),
        when(full, pyR(col("stdev_price"))).as("stdev"), col("n").as("count"))
  }

  // =================================================================
  // f13b: the stats-generation core, external-checked end-to-end —
  // routing cascade (api-condition priority, text condition, segment
  // gate, UNCERTAIN/secondary routing), min-support filters, nested
  // component stats and flat secondary stats all run through the SAME
  // routeItems/aggregateStats code production uses; only the
  // extraction columns are CASE-derived (identically in the oracle
  // SQL) and the python-parity rounding is identity (raw doubles
  // compare exactly across engines).
  // =================================================================

  /** The f13b item frame: routing inputs + spec columns CASE-derived
    * from `part`, mirrored verbatim in f13bSql. Exercises every route:
    * price<5 → UNCERTAIN, price>10000 → JUNK (dropped), api-condition
    * override incl. has_given_it_all → BROKEN, text conditions, the
    * accessory-title gate, and cpu∧ram-null → UNCERTAIN. */
  def f13bItems(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    graft.Tables.part(s, dir).select(
      k.as("item_id"),
      when(k % 19 === 0, 2.0).when(k % 19 === 1, 20000.0)
        .otherwise(col("p_retailprice")).as("price"),
      when(k % 5 === 0, "portatil gaming asus").when(k % 5 === 1, "macbook pro apple")
        .when(k % 5 === 2, "thinkpad workstation")
        .when(k % 5 === 3, "funda dock para tablet")
        .otherwise("ordenador sobremesa").as("title"),
      when(k % 9 === 0, "no enciende para piezas")
        .when(k % 9 === 1, "nuevo precintado con factura")
        .when(k % 9 === 2, "impecable poco uso")
        .otherwise("funciona correctamente").as("description"),
      when(k % 7 === 0, "new").when(k % 7 === 1, "as_good_as_new")
        .when(k % 7 === 2, "has_given_it_all").when(k % 7 === 3, "used_worn")
        .otherwise(lit(null).cast("string")).as("api_condition"),
      (k % 13 === 0).as("is_refurbished"),
      when(k % 4 === 0, "GAMING").when(k % 4 === 1, "APPLE")
        .when(k % 4 === 2, "WORKSTATION").otherwise("GENERICO").as("category"),
      when(k % 3 === 0, "INTEL I7").when(k % 3 === 1, "APPLE M1")
        .otherwise(lit(null).cast("string")).as("cpu"),
      when(k % 6 === 0, "16GB").when(k % 6 === 1, "8GB").when(k % 6 === 2, "32GB")
        .otherwise(lit(null).cast("string")).as("ram"),
      when(k % 8 === 0, "NVIDIA RTX 3060").when(k % 8 === 1, "NVIDIA GTX 1660")
        .otherwise(lit(null).cast("string")).as("gpu"))
  }

  def f13b(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    aggregateStats(routeItems(f13bItems(s, dir)), identity)

  lazy val f13bSql: String = {
    val dsum = "CAST(sum(CAST(price AS DECIMAL(25,4))) AS DOUBLE)"
    val dsum2 = "CAST(sum(CAST(price*price AS DECIMAL(25,4))) AS DOUBLE)"
    raw"""WITH items AS (
       SELECT p_partkey AS item_id,
         CASE WHEN p_partkey % 19 = 0 THEN CAST(2.0 AS DOUBLE)
              WHEN p_partkey % 19 = 1 THEN CAST(20000.0 AS DOUBLE)
              ELSE p_retailprice END AS price,
         CASE WHEN p_partkey % 5 = 0 THEN 'portatil gaming asus'
              WHEN p_partkey % 5 = 1 THEN 'macbook pro apple'
              WHEN p_partkey % 5 = 2 THEN 'thinkpad workstation'
              WHEN p_partkey % 5 = 3 THEN 'funda dock para tablet'
              ELSE 'ordenador sobremesa' END AS title,
         CASE WHEN p_partkey % 9 = 0 THEN 'no enciende para piezas'
              WHEN p_partkey % 9 = 1 THEN 'nuevo precintado con factura'
              WHEN p_partkey % 9 = 2 THEN 'impecable poco uso'
              ELSE 'funciona correctamente' END AS description,
         CASE WHEN p_partkey % 7 = 0 THEN 'new'
              WHEN p_partkey % 7 = 1 THEN 'as_good_as_new'
              WHEN p_partkey % 7 = 2 THEN 'has_given_it_all'
              WHEN p_partkey % 7 = 3 THEN 'used_worn' END AS api_condition,
         (p_partkey % 13 = 0) AS is_refurbished,
         CASE WHEN p_partkey % 4 = 0 THEN 'GAMING' WHEN p_partkey % 4 = 1 THEN 'APPLE'
              WHEN p_partkey % 4 = 2 THEN 'WORKSTATION' ELSE 'GENERICO' END AS category,
         CASE WHEN p_partkey % 3 = 0 THEN 'INTEL I7'
              WHEN p_partkey % 3 = 1 THEN 'APPLE M1' END AS cpu,
         CASE WHEN p_partkey % 6 = 0 THEN '16GB' WHEN p_partkey % 6 = 1 THEN '8GB'
              WHEN p_partkey % 6 = 2 THEN '32GB' END AS ram,
         CASE WHEN p_partkey % 8 = 0 THEN 'NVIDIA RTX 3060'
              WHEN p_partkey % 8 = 1 THEN 'NVIDIA GTX 1660' END AS gpu
       FROM part),
       c1 AS (SELECT *, lower(title || ' ' || description) AS raw_full,
                lower(title) AS title_lower FROM items),
       c2 AS (SELECT *,
          CASE WHEN api_condition = 'new' THEN 'NEW'
               WHEN api_condition = 'as_good_as_new' THEN 'LIKE_NEW'
               WHEN api_condition = 'has_given_it_all' THEN 'BROKEN'
               WHEN api_condition IS NOT NULL THEN 'USED'
               WHEN is_refurbished THEN 'LIKE_NEW'
               WHEN regexp_matches(raw_full, '${TextSpecs.ConditionBroken}') THEN 'BROKEN'
               WHEN regexp_matches(raw_full, '${TextSpecs.ConditionNew}') THEN 'NEW'
               WHEN regexp_matches(raw_full, '${TextSpecs.ConditionLikeNew}') THEN 'LIKE_NEW'
               ELSE 'USED' END AS cond FROM c1),
       c3 AS (SELECT *,
          CASE WHEN price < 5 THEN 'UNCERTAIN'
               WHEN price > 10000 THEN 'JUNK'
               WHEN cond = 'BROKEN' THEN 'BROKEN'
               WHEN regexp_matches(title_lower, 'funda|caja|dock|raton')
                    AND (price < 100 OR NOT regexp_matches(title_lower, 'portatil|laptop|macbook'))
                 THEN 'ACCESSORY'
               ELSE 'PRIME' END AS segment FROM c2),
       rt AS (SELECT * FROM (SELECT *,
          CASE WHEN segment = 'JUNK' THEN 'JUNK'
               WHEN segment = 'UNCERTAIN' OR (cpu IS NULL AND ram IS NULL) THEN 'UNCERTAIN'
               WHEN segment IN ('BROKEN','ACCESSORY') THEN segment
               ELSE 'PRIME' END AS route FROM c3) WHERE route <> 'JUNK'),
       prime AS (SELECT category, cond, price, cpu, ram, gpu FROM rt WHERE route = 'PRIME'),
       pa AS (SELECT category, cond, count(*) AS n, $dsum AS sx, $dsum2 AS sxx
              FROM prime GROUP BY 1,2 HAVING count(*) >= 2),
       pr AS (SELECT category, cond, price,
                row_number() OVER (PARTITION BY category, cond ORDER BY price) AS rn,
                count(*) OVER (PARTITION BY category, cond) AS cnt FROM prime),
       pm AS (SELECT category, cond, sum(price)/count(*) AS med FROM pr
              WHERE rn = (cnt+1)//2 OR rn = (cnt+2)//2 GROUP BY 1,2),
       seg_rows AS (SELECT pa.category, pa.cond AS condition,
                CAST(NULL AS VARCHAR) AS comp_type, CAST(NULL AS VARCHAR) AS comp_name,
                sx/n AS mean, med AS median,
                sqrt(greatest(sxx - sx*sx/n, 0)/(n-1)) AS stdev, n AS "count"
              FROM pa JOIN pm ON pa.category = pm.category AND pa.cond = pm.cond),
       comp AS (SELECT category, cond, 'cpu' AS comp_type, cpu AS comp_name, price
                  FROM prime WHERE cpu IS NOT NULL
                UNION ALL SELECT category, cond, 'ram', ram, price
                  FROM prime WHERE ram IS NOT NULL
                UNION ALL SELECT category, cond, 'gpu', gpu, price
                  FROM prime WHERE gpu IS NOT NULL),
       ca AS (SELECT category, cond, comp_type, comp_name, count(*) AS n,
                $dsum AS sx, $dsum2 AS sxx
              FROM comp GROUP BY 1,2,3,4 HAVING count(*) >= 2),
       cr AS (SELECT category, cond, comp_type, comp_name, price,
                row_number() OVER (PARTITION BY category, cond, comp_type, comp_name ORDER BY price) AS rn,
                count(*) OVER (PARTITION BY category, cond, comp_type, comp_name) AS cnt FROM comp),
       cm AS (SELECT category, cond, comp_type, comp_name, sum(price)/count(*) AS med FROM cr
              WHERE rn = (cnt+1)//2 OR rn = (cnt+2)//2 GROUP BY 1,2,3,4),
       comp_rows AS (SELECT ca.category, ca.cond AS condition, ca.comp_type, ca.comp_name,
                sx/n AS mean, med AS median,
                sqrt(greatest(sxx - sx*sx/n, 0)/(n-1)) AS stdev, n AS "count"
              FROM ca JOIN cm ON ca.category = cm.category AND ca.cond = cm.cond
                AND ca.comp_type = cm.comp_type AND ca.comp_name = cm.comp_name),
       flat_rows AS (SELECT route AS category, CAST(NULL AS VARCHAR) AS condition,
                CAST(NULL AS VARCHAR) AS comp_type, CAST(NULL AS VARCHAR) AS comp_name,
                sx/n AS mean, CAST(NULL AS DOUBLE) AS median,
                CAST(NULL AS DOUBLE) AS stdev, n AS "count"
              FROM (SELECT route, count(*) AS n, $dsum AS sx
                    FROM rt WHERE route <> 'PRIME' GROUP BY 1 HAVING count(*) > 3))
       SELECT * FROM seg_rows UNION ALL SELECT * FROM comp_rows
       UNION ALL SELECT * FROM flat_rows"""
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("f12_score_items" -> (f12 _),
      "f12b_score_core" -> (f12b _),
      "f13_generate_stats" -> ((s: org.apache.spark.sql.SparkSession, dir: String) =>
        generateMarketStats(f12Items(s, dir))),
      "f13b_stats_core" -> (f13b _))

  val oracles: Map[String, String] = Map(
    "f12b_score_core" -> f12bSql,
    "f13b_stats_core" -> f13bSql)

  // =================================================================
  // Market-stats artifact IO — the reference's JSON tree
  // (regex_analyzer.py:967-1020, artifact market_stats.json):
  // flat stats rows ↔ CATEGORY→CONDITION→{mean, median, stdev, count,
  // components{cpu|ram|gpu → NAME → stats}} with flat {mean, count}
  // nodes for the SECONDARY/UNCERTAIN routes. The tree is model
  // metadata (categories × conditions × components — bounded), so
  // assembling it on the driver is the right shape even when the
  // input item table is 100 TB: the heavy aggregation already
  // happened distributed in generateMarketStats.
  // =================================================================

  private def jackson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Serialize a generateMarketStats output frame to the reference's
    * nested JSON text. PRIME nodes always carry a `components` object
    * with all three cpu/ram/gpu keys (possibly empty), exactly as the
    * reference initializes them (regex_analyzer.py:900-908). */
  def statsJson(statsRows: DataFrame): String = {
    val om = jackson
    val root = om.createObjectNode()
    def child(o: com.fasterxml.jackson.databind.node.ObjectNode, k: String) =
      if (o.has(k)) o.get(k).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else { val n = om.createObjectNode(); o.set(k, n); n }
    // count as int while it fits (matching the reference artifact's
    // node type), long beyond 2^31 — never a silent wrap
    def putCount(n: com.fasterxml.jackson.databind.node.ObjectNode,
        c: Long): Unit =
      if (c <= Int.MaxValue) n.put("count", c.toInt) else n.put("count", c)
    def putStats(n: com.fasterxml.jackson.databind.node.ObjectNode,
        r: org.apache.spark.sql.Row): Unit = {
      n.put("mean", r.getAs[Double]("mean"))
      n.put("median", r.getAs[Double]("median"))
      n.put("stdev", r.getAs[Double]("stdev"))
      putCount(n, r.getAs[Number]("count").longValue())
    }
    val rows = statsRows.collect()
    // seg rows first so each (cat, cond) node exists with its
    // components scaffold before component rows attach under it
    rows.filter(r => r.getAs[String]("condition") != null &&
        r.getAs[String]("comp_type") == null).foreach { r =>
      val n = child(child(root, r.getAs[String]("category")),
        r.getAs[String]("condition"))
      putStats(n, r)
      val comps = child(n, "components")
      Seq("cpu", "ram", "gpu").foreach(child(comps, _))
    }
    rows.filter(_.getAs[String]("comp_type") != null).foreach { r =>
      val seg = child(child(root, r.getAs[String]("category")),
        r.getAs[String]("condition"))
      putStats(child(child(child(seg, "components"),
        r.getAs[String]("comp_type")), r.getAs[String]("comp_name")), r)
    }
    // flat SECONDARY/UNCERTAIN nodes: {mean, count} only
    rows.filter(r => r.getAs[String]("condition") == null &&
        r.getAs[String]("comp_type") == null).foreach { r =>
      val n = child(root, r.getAs[String]("category"))
      n.put("mean", r.getAs[Double]("mean"))
      putCount(n, r.getAs[Number]("count").longValue())
    }
    val printer = new com.fasterxml.jackson.core.util.DefaultPrettyPrinter()
    printer.indentObjectsWith(
      new com.fasterxml.jackson.core.util.DefaultIndenter("    ", "\n"))
    om.writer(printer).writeValueAsString(root)
  }

  /** Write the nested stats tree through the Hadoop FileSystem API —
    * works for local paths in tests and for HDFS/object stores on a
    * cluster. */
  def writeStats(statsRows: DataFrame, path: String): Unit = {
    val bytes = statsJson(statsRows).getBytes("UTF-8")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      statsRows.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Parse a market_stats.json tree back into the flat-row form
    * generateMarketStats emits (inverse of statsJson — no fallback
    * resolution, unlike loadStats). */
  def statsRowsFromJson(s: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val root = jackson.readTree(new java.io.File(path))
    val rows = Seq.newBuilder[(String, Option[String], Option[String],
      Option[String], Double, Option[Double], Option[Double], Long)]
    root.properties().forEach { catE =>
      val cat = catE.getKey
      val catN = catE.getValue
      if (catN.has("mean") && !catN.has("stdev")) {
        rows += ((cat, None, None, None, catN.get("mean").asDouble,
          None, None, catN.get("count").asLong))
      } else catN.properties().forEach { condE =>
        val cond = condE.getKey
        val n = condE.getValue
        rows += ((cat, Some(cond), None, None, n.get("mean").asDouble,
          Some(n.get("median").asDouble), Some(n.get("stdev").asDouble),
          n.get("count").asLong))
        Option(n.get("components")).foreach(_.properties().forEach { tE =>
          tE.getValue.properties().forEach { cE =>
            val c = cE.getValue
            rows += ((cat, Some(cond), Some(tE.getKey), Some(cE.getKey),
              c.get("mean").asDouble, Some(c.get("median").asDouble),
              Some(c.get("stdev").asDouble), c.get("count").asLong))
          }
        })
      }
    }
    import s.implicits._
    rows.result().toDF("category", "condition", "comp_type", "comp_name",
      "mean", "median", "stdev", "count")
  }

  /** The f12 synthetic item table, reused as stats-generation input. */
  def f12Items(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val p = graft.Tables.part(s, dir)
    val title = concat(col("p_name"),
      when(col("p_partkey") % 5 === 0, lit(" macbook air m1 8gb"))
        .when(col("p_partkey") % 5 === 1, lit(" portatil gaming i7 rtx 3060 16gb ram"))
        .when(col("p_partkey") % 5 === 2, lit(" thinkpad i5 8gb"))
        .when(col("p_partkey") % 5 === 3, lit(" chromebook celeron 4gb nuevo precintado"))
        .otherwise(lit(" xps 13 i7 16gb")))
    val desc = when(col("p_partkey") % 7 === 0, lit("whatsapp 612345678"))
      .when(col("p_partkey") % 3 === 0, lit("impecable funciona perfecto sin detalles"))
      .otherwise(lit("portatil en buen estado funcionando correctamente"))
    p.select(col("p_partkey").as("item_id"), title.as("title"),
      desc.as("description"), col("p_retailprice").as("price"))
  }
}
