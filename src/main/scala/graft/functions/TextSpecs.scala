package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hardware-spec extraction, category classification and condition
  * detection — the Spark-native re-expression of the reference's regex
  * engine (reference: poller/regex_analyzer.py:55-786).
  *
  * This object is the ONE rule table: every pattern, keyword list and
  * limit the extraction uses. Spec extraction itself is the native
  * expression `graft_specs` (plans/Specs), which reads this table;
  * `withSpecs` and `coreSpecs` project its struct. The Column helpers
  * left here serve routing, hidden-price recovery and the RE2 RAM twin.
  *
  * Patterns use Java regex (Spark's engine) and keep the reference's
  * lookaheads; oracle-checked queries use RE2-safe variants instead
  * (SURVEY.md §4), and this module is covered by TextSpecsSpec.
  */
object TextSpecs {

  // --- price patterns (regex_analyzer.py:69-76) ---
  val HiddenPricePattern =
    """(?i)(?:precio|valor|vende|vendo|pido|oferta)[:\s]*(?:por)?\s*(\d{2,4})(?:[\.,]\d{2})?\s*(?:€|eur|euros)"""
  val LoosePricePattern = """(?i)\b(\d{2,4})\s*(?:€|euros)\b"""

  // --- condition patterns (regex_analyzer.py:84-99) ---
  val ConditionNew =
    """(?i)\b(nuevo|precintado|sin abrir|estrenar|sealed|new|garantia|factura)\b"""
  val ConditionLikeNew =
    """(?i)\b(como nuevo|impecable|perfecto estado|reacondicionado|refurbished|poquisimo uso|sin uso)\b"""
  val ConditionBroken =
    """(?i)\b(roto|averiado|fallo|bloqueado|icloud|bios|pantalla rota|no enciende|no funciona|para piezas|despiece|repuesto|tarada|golpe|mojado|water|broken|parts|read|leer|reparar)\b"""

  // --- hardware patterns (regex_analyzer.py:108-129) ---
  /** RAM with the negative lookahead that rejects storage mentions
    * ("512 GB SSD"). */
  val RamPattern =
    """\b(\d+)\s*(?:gb|gigas?)\b(?!\s*(?:[\.,\-\/]\s*)?(?:de\s+)?(?:ssd|hdd|emmc|rom|almacenamiento|storage|disco|nvme|flash|interno|interna))"""
  val CpuBrandPattern = """\b(intel|amd|apple|qualcomm|microsoft)\b"""
  val GpuBrandPattern = """\b(nvidia|amd|radeon|geforce)\b"""
  val GpuModelPattern = """\b((?:rtx|gtx|rx)\s*-?\d{3,4}[a-z]*)\b"""
  /** Intel Core models; a "core"-prefixed match is dropped (reference
    * quirk, regex_analyzer.py:609-624), so only bare "i7" counts. */
  val IntelModelPattern = """\b(?:core\s*-?)?(i[3579])\b"""
  val RyzenPattern = """\bryzen\s*-?([3579])\b"""
  val AppleModelPattern = """\b(m[123])(\s+(?:pro|max|ultra))?\b"""
  val OtherCpuPattern = """\b(celeron|pentium|atom|xeon|snapdragon|sq[123])\b"""

  /** "SSD M.2" must not read as an Apple M2 CPU: (pattern, replacement)
    * rewrites applied in order (regex_analyzer.py:292-313). */
  val SanitizeRules: Seq[(String, String)] = Seq(
    """(?i)\b(ssd|disco|disk|drive|almacenamiento)\s+m\.?2\b""" -> "$1_NVME",
    """(?i)\bm\.?2\s+(ssd|nvme|sata)\b""" -> "NVME_$1")

  /** A description line with more than `SpamMaxHits` of these keywords
    * is SEO spam; it and everything after it is dropped
    * (regex_analyzer.py:248-289). */
  val SpamKeywords: Seq[String] = Seq("rtx", "gtx", "amd", "intel", "ryzen", "i7", "i5",
    "ps5", "xbox", "iphone", "samsung", "asus", "msi")
  val SpamMaxHits = 3

  /** Description code points the per-field scans read; the full-text
    * rules read the whole description. */
  val DescriptionCap = 400

  /** Commercially plausible laptop RAM sizes (regex_analyzer.py:438). */
  val ValidRamSizes: Seq[Int] = Seq(4, 6, 8, 12, 16, 20, 24, 32, 40, 48, 64)

  /** RAM caps per category (regex_analyzer.py:55-60). */
  val RamLimits: Map[String, Int] =
    Map("CHROMEBOOK" -> 16, "SURFACE" -> 32, "PREMIUM_ULTRABOOK" -> 64, "GENERICO" -> 64)

  /** Title mentions that make a listing APPLE (regex_analyzer.py:700). */
  val AppleTitlePattern = "macbook|mac air|mac pro|imac"

  /** Category keyword rules, in the reference's priority order
    * (regex_analyzer.py:137-144). */
  val SubCategoryRules: Seq[(String, Seq[String])] = Seq(
    "APPLE" -> Seq("macbook", "mac", "apple", "macos"),
    "SURFACE" -> Seq("surface", "microsoft surface"),
    "WORKSTATION" -> Seq("thinkpad", "latitude", "precision", "zbook", "quadro", "elitebook", "probook"),
    "PREMIUM_ULTRABOOK" -> Seq("xps", "spectre", "zenbook", "gram", "yoga", "matebook"),
    "GAMING" -> Seq("gaming", "gamer", "rog", "tuf", "alienware", "msi", "omen", "predator",
      "legion", "nitro", "victus", "loq", "blade", "razer"),
    "CHROMEBOOK" -> Seq("chromebook", "chrome"))

  // =================================================================
  // RAM scans (Column form)
  // =================================================================

  /** Plausible RAM sizes ≤ maxGb mentioned in a lowercase text
    * (regex_analyzer.py:535-563). A match too long for an int is no
    * size and is dropped, as the reference's size check drops it. */
  def ramScan(textLower: Column, maxGb: Column): Column =
    validRam(regexp_extract_all(textLower, lit(RamPattern), lit(1)), maxGb)

  private def validRam(digits: Column, maxGb: Column): Column =
    filter(transform(digits, _.try_cast("int")), v =>
      v.isin(ValidRamSizes.map(_.asInstanceOf[Any]): _*) && v <= maxGb)

  /** The largest scanned size, formatted "16GB", or null. */
  def ramFromScan(valid: Column): Column =
    when(size(valid) > 0, concat(array_max(valid).cast("string"), lit("GB")))

  // --- RE2-safe RAM twin (f11b) ---------------------------------
  /** Storage mentions REWRITTEN AWAY instead of looked ahead past:
    * "512 gb ssd" / "512gb de nvme" collapse to the bare storage
    * word, so the plain scan below can't see the number. Same
    * rejection arithmetic as [[RamPattern]]'s negative lookahead,
    * expressible in RE2 (DuckDB) — the f11b oracle replays it. */
  val RamStorageNeutralizeRe2 =
    """\b\d+\s*(?:gb|gigas?)\b\s*(?:[\.,\-\/]\s*)?(?:de\s+)?(?:ssd|hdd|emmc|rom|almacenamiento|storage|disco|nvme|flash|interno|interna)\b"""
  val RamPatternRe2 = """\b(\d+)\s*(?:gb|gigas?)\b"""

  /** [[ramScan]] without the lookahead: neutralize, scan, validate.
    * Input must already be lowercase. */
  def ramScanRe2(textLower: Column, maxGb: Column): Column =
    validRam(regexp_extract_all(
      regexp_replace(textLower, lit(RamStorageNeutralizeRe2), lit("storage")),
      lit(RamPatternRe2), lit(1)), maxGb)

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

  /** Structured-data condition with text fallback — the API value wins
    * when present (regex_analyzer.py:320-369). */
  def detectConditionWithApi(apiCondition: Column, isRefurbished: Column, text: Column): Column =
    when(apiCondition === "new", "NEW")
      .when(apiCondition === "as_good_as_new", "LIKE_NEW")
      .when(apiCondition === "has_given_it_all", "BROKEN")
      .when(apiCondition.isNotNull, "USED")
      .when(isRefurbished === true, "LIKE_NEW")
      .otherwise(detectCondition(text))

  /** Market segment gate (regex_analyzer.py:793-842). */
  def marketSegment(titleLower: Column, price: Column, condition: Column): Column = {
    val isLaptop = titleLower.rlike("portatil|laptop|macbook")
    val isAccessory = titleLower.rlike("funda|caja|dock|raton")
    when(price < 5, "UNCERTAIN")
      .when(price > 10000, "JUNK")
      .when(condition === "BROKEN", "BROKEN")
      .when(isAccessory && (price < 100 || !isLaptop), "ACCESSORY")
      .otherwise("PRIME")
  }

  // =================================================================
  // Hidden price recovery (regex_analyzer.py:174-221)
  // =================================================================

  /** Real price hidden in text when the listed price is symbolic:
    * first structured mention > 20, else the max loose mention in
    * [50, 5000]. */
  def extractHiddenPrice(title: Column, description: Column): Column = {
    val fullText = concat(title, lit(" \n "), description)
    val structured = filter(transform(
      regexp_extract_all(fullText, lit(HiddenPricePattern), lit(1)), _.cast("double")),
      _ > 20)
    val loose = filter(transform(
      regexp_extract_all(fullText, lit(LoosePricePattern), lit(1)), _.cast("double")),
      v => v >= 50 && v <= 5000)
    when(size(structured) > 0, element_at(structured, 1))
      .otherwise(when(size(loose) > 0, array_max(loose)))
  }

  // =================================================================
  // Spec extraction (regex_analyzer.py:724-786)
  // =================================================================

  /** Appends {gpu, category, ram, cpu, condition}: full-fidelity spec
    * extraction with title-over-description priority, the 400-code-point
    * description cap, spam truncation, M.2 sanitization and the
    * per-category RAM caps. One `graft_specs` call per row, staged as
    * one column: its five fields read that column, so the extraction
    * runs once per row and the plan holds one extraction node. */
  def withSpecs(df: DataFrame, title: Column, description: Column): DataFrame =
    specColumns(df,
      graft.plans.GraftFunctions.specs(df.sparkSession, title, description))

  /** The RE2-safe CORE extraction (f11b): the same `graft_specs`
    * cascade over ONE combined lowercase text, with the RAM lookahead
    * replaced by the neutralize+scan twin. It drops the
    * title-over-description priority, the description cap and the spam
    * truncation (TextSpecsFidelitySpec pins those against the
    * reference); every remaining rule is RE2-expressible, so the f11b
    * DuckDB oracle replays the cascade production runs. */
  def coreSpecs(df: DataFrame, title: Column, description: Column): DataFrame =
    specColumns(df,
      graft.plans.GraftFunctions.coreSpecs(df.sparkSession, title, description))

  private def specColumns(df: DataFrame, specs: Column): DataFrame = {
    val fields = Seq("gpu", "category", "ram", "cpu", "condition")
    df.withColumn("_specs", specs)
      .withColumns(scala.collection.immutable.ListMap(
        fields.map(f => f -> col("_specs").getField(f)): _*))
      .drop("_specs")
  }
}
