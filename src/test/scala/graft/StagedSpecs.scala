package graft

import graft.functions.TextSpecs._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The staged Column formulation of spec extraction — the reference
  * that PropertySpec holds the native `graft_specs` expression to.
  * `withSpecs` and `coreSpecs` are the production forms from before
  * the native expression (about twenty staged projections with the
  * regex scans staged as separate columns), kept verbatim except that
  * RAM digits too long for an int are dropped (`try_cast`) instead of
  * failing the query. Inline patterns stay literal here, so the
  * property also checks TextSpecs' rule table. */
object StagedSpecs {

  private def wordMatch(text: Column, kws: Seq[String]): Column =
    text.rlike(kws.map(java.util.regex.Pattern.quote).mkString("\\b(", "|", ")\\b"))

  // =================================================================
  // Text preprocessing
  // =================================================================

  /** "SSD M.2" must not read as an Apple M2 CPU
    * (regex_analyzer.py:292-313). */
  def sanitizeHardwareAmbiguities(text: Column): Column = {
    val a = regexp_replace(text,
      """(?i)\b(ssd|disco|disk|drive|almacenamiento)\s+m\.?2\b""", "$1_NVME")
    regexp_replace(a, """(?i)\bm\.?2\s+(ssd|nvme|sata)\b""", "NVME_$1")
  }

  /** Drop everything from the first spam-heavy line on (>3 spam brand
    * hits in one line — sellers list unrelated products for SEO;
    * regex_analyzer.py:248-289). Implemented as a fold over the lines
    * array carrying a (stopped, accumulated) state — still a single
    * codegen'd expression.
    */
  def smartTruncateSpam(text: Column): Column = {
    val spamHits = (line: Column) => {
      val lo = lower(line)
      Seq("rtx", "gtx", "amd", "intel", "ryzen", "i7", "i5",
        "ps5", "xbox", "iphone", "samsung", "asus", "msi")
        .map(kw => when(lo.contains(kw), 1).otherwise(0))
        .reduce(_ + _)
    }
    // pre-map each line to (line, spammy) ONCE: lambda subtrees get no
    // codegen subexpression elimination, so referencing spamHits(line)
    // in both fold branches would run the 13-keyword scan twice per
    // line of every description
    val lines = transform(split(text, "\n", -1),
      line => struct(line.as("line"), (spamHits(line) > 3).as("spammy")))
    val folded = aggregate(
      lines,
      struct(lit(false).as("stopped"), lit(null).cast("string").as("acc")),
      (st, l) => struct(
        (st("stopped") || l("spammy")).as("stopped"),
        when(st("stopped") || l("spammy"), st("acc"))
          .when(st("acc").isNull, l("line"))
          .otherwise(concat(st("acc"), lit("\n"), l("line"))).as("acc")))
    coalesce(folded("acc"), lit(""))
  }

  // =================================================================
  // Hardware extraction
  // =================================================================

  /** Highest plausible RAM mention ≤ maxGb, formatted "16GB"
    * (regex_analyzer.py:535-563). Input must already be lowercase. */
  /** Stage 1 of RAM extraction: the scan + validity filter (see
    * cpuScans for why staging). */
  def ramScan(textLower: Column, maxGb: Column): Column = {
    val vals = transform(
      regexp_extract_all(textLower, lit(RamPattern), lit(1)), _.try_cast("int"))
    filter(vals, v =>
      v.isin(ValidRamSizes.map(_.asInstanceOf[Any]): _*) && v <= maxGb)
  }

  /** Stage 2: pick the max valid size. */
  def ramFromScan(valid: Column): Column =
    when(size(valid) > 0, concat(array_max(valid).cast("string"), lit("GB")))

  def extractRam(textLower: Column, maxGb: Column): Column =
    ramFromScan(ramScan(textLower, maxGb))


  /** [[ramScan]] without the lookahead: neutralize, scan, validate.
    * Input must already be lowercase. */
  def ramScanRe2(textLower: Column, maxGb: Column): Column = {
    val neutral =
      regexp_replace(textLower, lit(RamStorageNeutralizeRe2), lit("storage"))
    val vals = transform(
      regexp_extract_all(neutral, lit(RamPatternRe2), lit(1)), _.try_cast("int"))
    filter(vals, v =>
      v.isin(ValidRamSizes.map(_.asInstanceOf[Any]): _*) && v <= maxGb)
  }

  /** Normalized CPU string ("INTEL I7", "APPLE M2 PRO", "AMD RYZEN 7")
    * or null (regex_analyzer.py:445-492, 566-663). */
  /** Stage 1 of CPU extraction: the four regexp_extract_all scans plus
    * the brand probe, bundled into ONE struct so each text is scanned
    * exactly once.
    *
    * Why the split exists: every downstream reference to `models` /
    * `best` duplicates its whole Catalyst subtree, and subtrees that
    * contain lambda variables (transform/filter) are excluded from
    * codegen subexpression elimination — so the single-expression
    * formulation re-ran the regex scans ~10× per row (measured 3.6 s
    * of a 4.4 s extraction pass at sf0.1; ~0.7 s staged). Staging the
    * struct as a column keeps it evaluated once: CollapseProject
    * refuses to re-inline a multi-referenced non-cheap producer. */
  def cpuScans(textLower: Column): (Column, Column, Column) = {
    // Reference quirk kept intentionally (regex_analyzer.py:609-624):
    // a "core"-prefixed match joins to "corei7", which then fails every
    // classification branch and is DROPPED — only bare "i7" mentions
    // count. Replicated by filtering full matches that start with
    // "core".
    val iModels = transform(
      filter(
        regexp_extract_all(textLower, lit("""\b(?:core\s*-?)?(i[3579])\b"""), lit(0)),
        m => !m.startsWith("core")),
      m => upper(regexp_extract(m, "(i[3579])", 1)))
    val ryzen = transform(
      regexp_extract_all(textLower, lit("""\bryzen\s*-?([3579])\b"""), lit(1)),
      d => concat(lit("RYZEN"), d))
    val apple = transform(
      regexp_extract_all(textLower,
        lit("""\b(m[123])(\s+(?:pro|max|ultra))?\b"""), lit(0)),
      m => upper(regexp_replace(trim(m), """\s+""", " ")))
    val other = transform(
      regexp_extract_all(textLower,
        lit("""\b(celeron|pentium|atom|xeon|snapdragon|sq[123])\b"""), lit(1)), upper(_))
    (array_distinct(concat(iModels, ryzen, other)),
      array_distinct(apple),
      regexp_extract(textLower, CpuBrandPattern, 1))
  }

  /** Stage 2: pure arithmetic over the staged candidates. The three
    * scans MUST be staged as SEPARATE columns, not a struct —
    * SimplifyExtractValueOps rewrites field access over a literal
    * struct back into the field subtree, undoing the staging. All
    * references here hit tiny arrays / a short string, so subtree
    * duplication is harmless. */
  def cpuFromParts(pcModels: Column, appleModels: Column,
      brand0: Column): Column = {
    val hasPc = size(filter(pcModels,
      m => m.rlike("""^I\d$""") || m.contains("RYZEN"))) > 0 ||
      brand0.isin("intel", "amd")
    // Intel/AMD presence vetoes Apple-M readings (regex_analyzer.py:644-657)
    val models = when(size(appleModels) > 0 && !hasPc, appleModels)
      .otherwise(pcModels)
    val isApple = size(appleModels) > 0 && !hasPc

    val best = array_max(models) // python: sorted(desc)[0] == lexicographic max
    val textBrand = upper(brand0)
    val brand = when(isApple || best.rlike("^M[123]"), "APPLE")
      .when(best.contains("RYZEN"), "AMD")
      .when(best.rlike("""^I\d"""), "INTEL")
      .when(best.rlike("CELERON|PENTIUM|ATOM|XEON"), "INTEL")
      .when(best.rlike("SNAPDRAGON|SQ[123]"), "QUALCOMM")
      .otherwise(when(textBrand =!= "", textBrand))
    val formatted = when(best.rlike("""^RYZEN\d"""),
      regexp_replace(best, "RYZEN", "RYZEN ")).otherwise(best)
    when(size(models) > 0,
      when(brand === "APPLE", concat(lit("APPLE "), formatted))
        .when(brand.isNotNull, concat(brand, lit(" "), formatted))
        .otherwise(formatted))
  }

  /** Normalized GPU string ("NVIDIA RTX 4070") or null
    * (regex_analyzer.py:495-528, 631-642). */
  /** Stage 1 of GPU extraction (see cpuScans for why staging: every
    * `best` reference duplicated the model scan ~6× per text). */
  def gpuScans(textLower: Column): (Column, Column) = (
    array_distinct(transform(
      regexp_extract_all(textLower, lit(GpuModelPattern), lit(1)), upper(_))),
    regexp_extract(textLower, GpuBrandPattern, 1))

  /** Stage 2: arithmetic over the staged scans only. */
  def gpuFromParts(models: Column, brand0: Column): Column = {
    val best0 = array_max(models)
    // insert the space between prefix and number if missing
    val best = when(!best0.contains(" ") && best0.rlike("""^[A-Z]+\d"""),
      regexp_replace(best0, """^([A-Z]+)(\d.*)$""", "$1 $2")).otherwise(best0)
    val textBrand0 = upper(brand0)
    val textBrand = when(textBrand0 === "GEFORCE", "NVIDIA")
      .otherwise(when(textBrand0 =!= "", textBrand0))
    val brand = when(best.rlike("RTX|GTX|MX|QUADRO"), "NVIDIA")
      .when(best.rlike("""\bRX\b|RADEON|FIREPRO"""), "AMD")
      .otherwise(textBrand)
    when(size(models) > 0,
      when(brand.isNotNull, concat(brand, lit(" "),
        trim(regexp_replace(best, coalesce(brand, lit("")), lit("")))))
        .otherwise(best))
  }

  // =================================================================
  // Classification
  // =================================================================

  /** NEW / LIKE_NEW / USED / BROKEN from text, BROKEN first
    * (regex_analyzer.py:777-786). */
  def detectCondition(text: Column): Column =
    when(text.rlike(ConditionBroken), "BROKEN")
      .when(text.rlike(ConditionNew), "NEW")
      .when(text.rlike(ConditionLikeNew), "LIKE_NEW")
      .otherwise("USED")

  /** Primary category, following the reference's priority chain:
    * title keywords → CPU/GPU signals → keyword rules → GENERICO
    * (regex_analyzer.py:670-772). */
  def classifyCategory(titleLower: Column, fullTextLower: Column,
      cpu: Column, gpu: Column): Column = {
    val keywordCat = SubCategoryRules
      .filterNot { case (c, _) => c == "GAMING" || c == "APPLE" }
      .foldLeft(lit(null).cast("string")) { case (acc, (cat, kws)) =>
        coalesce(acc, when(wordMatch(fullTextLower, kws), cat))
      }
    when(titleLower.contains("chromebook"), "CHROMEBOOK")
      .when(titleLower.rlike("macbook|mac air|mac pro|imac"), "APPLE")
      .when(titleLower.contains("surface"), "SURFACE")
      .when(upper(coalesce(cpu, lit(""))).contains("APPLE M"), "APPLE")
      .when(lower(coalesce(gpu, lit(""))).contains("quadro"), "WORKSTATION")
      .when(gpu.isNotNull, "GAMING")
      .when((fullTextLower.contains("macbook") || fullTextLower.contains("macos")) &&
        !upper(coalesce(cpu, lit(""))).contains("AMD"), "APPLE")
      .otherwise(coalesce(keywordCat,
        when(fullTextLower.contains("gaming"), "GAMING"), lit("GENERICO")))
  }

  // =================================================================
  // Combined extraction (regex_analyzer.py:724-786)
  // =================================================================

  /** Full spec extraction {cpu, ram, gpu, category, condition} with
    * title-over-description priority, 400-char description cap, spam
    * truncation, M.2 sanitization and per-category RAM constraints.
    *
    * Staged as named projection columns (not one nested Column tree):
    * every downstream reference to an intermediate (cleaned text, cpu,
    * category) must reuse the attribute, otherwise the expression tree
    * duplicates the whole sanitize/truncate subtree per reference and
    * optimizer + codegen time explodes (~400 s for 2000 rows when
    * written as a single struct expression; <2 s staged).
    * CollapseProject keeps the stages because the intermediates are
    * non-cheap and multiply-referenced.
    */
  def withSpecs(df: org.apache.spark.sql.DataFrame, title: Column,
      description: Column): org.apache.spark.sql.DataFrame = {
    val cpuT = cpuScans(col("_title_lower"))
    val cpuD = cpuScans(col("_desc_lower"))
    val gpuT = gpuScans(col("_title_lower"))
    val gpuD = gpuScans(col("_desc_lower"))
    val staged = df
      .withColumn("_title_clean", sanitizeHardwareAmbiguities(title))
      .withColumn("_desc_clean", sanitizeHardwareAmbiguities(smartTruncateSpam(description)))
      .withColumn("_title_lower", lower(col("_title_clean")))
      .withColumn("_desc_lower", lower(substring(col("_desc_clean"), 1, 400)))
      .withColumn("_full_lower",
        lower(concat(col("_title_clean"), lit(" "), col("_desc_clean"))))
      // CPU candidate scans staged as separate columns: each regex
      // scan runs once per text instead of once per downstream
      // reference (see cpuScans/cpuFromParts). The desc scan turns
      // eager, but 2 scans/row beats ~10 re-evaluations of the title
      // scan.
      .withColumns(Map(
        "_cpc_t" -> cpuT._1, "_cap_t" -> cpuT._2, "_cb_t" -> cpuT._3,
        "_cpc_d" -> cpuD._1, "_cap_d" -> cpuD._2, "_cb_d" -> cpuD._3))
      .withColumn("_cpu0", coalesce(
        cpuFromParts(col("_cpc_t"), col("_cap_t"), col("_cb_t")),
        cpuFromParts(col("_cpc_d"), col("_cap_d"), col("_cb_d"))))
      .withColumns(Map(
        "_gm_t" -> gpuT._1, "_gb_t" -> gpuT._2,
        "_gm_d" -> gpuD._1, "_gb_d" -> gpuD._2,
        "_rv_t" -> ramScan(col("_title_lower"), lit(128)),
        "_rv_d" -> ramScan(col("_desc_lower"), lit(128))))
      .withColumn("gpu", coalesce(
        gpuFromParts(col("_gm_t"), col("_gb_t")),
        gpuFromParts(col("_gm_d"), col("_gb_d"))))
      .withColumn("_ram0",
        coalesce(ramFromScan(col("_rv_t")), ramFromScan(col("_rv_d"))))
      .withColumn("category", classifyCategory(
        col("_title_lower"), col("_full_lower"), col("_cpu0"), col("gpu")))

    // per-category RAM cap: re-extract under the limit when exceeded
    // (regex_analyzer.py:376-419)
    val limit = RamLimits.foldLeft(lit(128)) { case (acc, (cat, lim)) =>
      when(col("category") === cat, lim).otherwise(acc)
    }
    val ramVal = nullif(
      regexp_replace(coalesce(col("_ram0"), lit("")), "[^0-9]", ""), lit("")).cast("int")

    staged
      .withColumn("ram", when(ramVal.isNotNull && ramVal > limit,
        extractRam(col("_full_lower"), limit)).otherwise(col("_ram0")))
      // Chromebook i7 false positives downgrade to Celeron/Pentium
      .withColumn("cpu", when(
        col("category") === "CHROMEBOOK" && coalesce(col("_cpu0"), lit("")).contains("I7"),
        when(col("_full_lower").contains("celeron"), "INTEL CELERON")
          .when(col("_full_lower").contains("pentium"), "INTEL PENTIUM")
          .otherwise(col("_cpu0"))).otherwise(col("_cpu0")))
      .withColumn("condition", detectCondition(col("_full_lower")))
      .drop("_title_clean", "_desc_clean", "_title_lower", "_desc_lower",
        "_full_lower", "_cpu0", "_ram0",
        "_cpc_t", "_cap_t", "_cb_t", "_cpc_d", "_cap_d", "_cb_d",
        "_gm_t", "_gb_t", "_gm_d", "_gb_d", "_rv_t", "_rv_d")
  }

  /** RE2-safe CORE extraction (f11b): the same scan/when-cascade
    * machinery as [[withSpecs]] — cpuScans/cpuFromParts, gpuScans/
    * gpuFromParts, classifyCategory, detectCondition, the
    * per-category RAM cap and the Chromebook-i7 downgrade — over ONE
    * combined lowercase text, with the RAM lookahead replaced by the
    * RE2-safe neutralize+scan twin ([[ramScanRe2]]). What it drops
    * vs full fidelity: the title-over-description priority, the
    * 400-char description cap and the spam-truncation fold (those
    * stay under TextSpecsFidelitySpec's 57 reference-replay pins).
    * Every remaining pattern and cascade is RE2-expressible, so the
    * whole extraction ARITHMETIC sits in the DuckDB oracle. */
  def coreSpecs(df: org.apache.spark.sql.DataFrame, title: Column,
      description: Column): org.apache.spark.sql.DataFrame = {
    val cpuS = cpuScans(col("_t"))
    val gpuS = gpuScans(col("_t"))
    val staged = df
      .withColumn("_t", lower(sanitizeHardwareAmbiguities(
        concat(title, lit(" \n "), description))))
      .withColumns(Map(
        "_cpc" -> cpuS._1, "_cap" -> cpuS._2, "_cb" -> cpuS._3,
        "_gm" -> gpuS._1, "_gb" -> gpuS._2,
        "_rv" -> ramScanRe2(col("_t"), lit(128))))
      .withColumn("_cpu0", cpuFromParts(col("_cpc"), col("_cap"), col("_cb")))
      .withColumn("gpu", gpuFromParts(col("_gm"), col("_gb")))
      .withColumn("category", classifyCategory(
        col("_t"), col("_t"), col("_cpu0"), col("gpu")))
    val limit = RamLimits.foldLeft(lit(128)) { case (acc, (cat, lim)) =>
      when(col("category") === cat, lim).otherwise(acc)
    }
    staged
      // one text means the per-category recap is a re-FILTER of the
      // same validated scan under the category's cap, not a rescan
      .withColumn("ram", ramFromScan(filter(col("_rv"), _ <= limit)))
      .withColumn("cpu", when(
        col("category") === "CHROMEBOOK" &&
          coalesce(col("_cpu0"), lit("")).contains("I7"),
        when(col("_t").contains("celeron"), "INTEL CELERON")
          .when(col("_t").contains("pentium"), "INTEL PENTIUM")
          .otherwise(col("_cpu0"))).otherwise(col("_cpu0")))
      .withColumn("condition", detectCondition(col("_t")))
      .drop("_t", "_cpc", "_cap", "_cb", "_gm", "_gb", "_rv", "_cpu0")
  }
}
