package graft.plans

import java.util.Locale
import java.util.regex.Pattern

import graft.functions.TextSpecs
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spec extraction as ONE native per-row pass:
  * `graft_specs(title, description)` returns the struct
  * {cpu, ram, gpu, category, condition} of the reference's regex engine
  * (regex_analyzer.py:108-786), reading every pattern and rule from
  * [[graft.functions.TextSpecs]]' rule table.
  *
  * Full mode (the production path): title-over-description priority,
  * M.2 sanitization, spam truncation (drop everything from the first
  * line with more than `SpamMaxHits` spam keywords), a description cap
  * of `DescriptionCap` code points (as `substring` counts), the RAM
  * storage lookahead and the per-category RAM re-scan. A null
  * description reads as empty; a null title yields null title-side
  * candidates and a null full text.
  *
  * Core mode (`core = true`, f11b): ONE combined text
  * `title + " \n " + description` (null if either is null), no
  * truncation, and the RE2-safe RAM twin (storage mentions rewritten
  * away, then a plain scan) — the semantics the f11b DuckDB oracle
  * replays, so the oracle checks this same cascade code.
  *
  * Matching runs the precompiled java.util.regex patterns that
  * `rlike`/`regexp_extract_all`/`regexp_replace` compile, with their
  * semantics (find, group 0/1, replaceAll); lowering goes through
  * Spark's `lower` (CollationSupport, as plans/TextStats). Every
  * candidate a scan yields is ASCII by pattern construction, so upper
  * casing is ASCII. A RAM mention too long for an int is not a size
  * and is dropped. Equality with a Column formulation of the same
  * cascade is pinned by PropertySpec on adversarial text.
  */
case class Specs(title: Expression, description: Expression, core: Boolean = false)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = title
  override def right: Expression = description
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = Specs.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_specs"

  override def eval(input: InternalRow): Any = Specs.compute(
    left.eval(input).asInstanceOf[UTF8String],
    right.eval(input).asInstanceOf[UTF8String], core)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    val d = right.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |${d.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.plans.Specs.compute(
      |  ${t.isNull} ? null : ${t.value}, ${d.isNull} ? null : ${d.value}, $core);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Specs =
    copy(title = newLeft, description = newRight)
}

object Specs {
  import TextSpecs._

  val Schema: StructType = StructType(Seq(
    StructField("cpu", StringType), StructField("ram", StringType),
    StructField("gpu", StringType),
    StructField("category", StringType, nullable = false),
    StructField("condition", StringType, nullable = false)))

  private def re(p: String): Pattern = Pattern.compile(p)

  private val Sanitize = SanitizeRules.map { case (p, r) => (re(p), r) }
  private val IntelModel = re(IntelModelPattern)
  private val Ryzen = re(RyzenPattern)
  private val AppleModel = re(AppleModelPattern)
  private val OtherCpu = re(OtherCpuPattern)
  private val CpuBrand = re(CpuBrandPattern)
  private val GpuModel = re(GpuModelPattern)
  private val GpuBrand = re(GpuBrandPattern)
  private val Ram = re(RamPattern)
  private val RamRe2 = re(RamPatternRe2)
  private val RamStorageRe2 = re(RamStorageNeutralizeRe2)
  private val Whitespace = re("""\s+""")
  private val PcModel = re("""^I\d""")
  private val AppleBest = re("^M[123]")
  private val RyzenBest = re("""^RYZEN\d""")
  private val IntelFamily = re("CELERON|PENTIUM|ATOM|XEON")
  private val QualcommFamily = re("SNAPDRAGON|SQ[123]")
  private val GpuUnspaced = re("""^[A-Z]+\d""")
  private val GpuSpacing = re("""^([A-Z]+)(\d.*)$""")
  private val NvidiaModel = re("RTX|GTX|MX|QUADRO")
  private val AmdModel = re("""\bRX\b|RADEON|FIREPRO""")
  private val AppleTitle = re(AppleTitlePattern)
  private val KeywordCategories = SubCategoryRules
    .filterNot { case (c, _) => c == "GAMING" || c == "APPLE" }
    .map { case (c, kws) => (c, re(kws.map(Pattern.quote).mkString("\\b(", "|", ")\\b"))) }
  private val Broken = re(ConditionBroken)
  private val New = re(ConditionNew)
  private val LikeNew = re(ConditionLikeNew)
  private val ValidRam = ValidRamSizes.toSet
  private val RamMax = 128

  /** Static entry point referenced by generated code. */
  def compute(title: UTF8String, description: UTF8String, core: Boolean): InternalRow =
    if (core) computeCore(title, description) else computeFull(title, description)

  private def computeFull(title: UTF8String, description: UTF8String): InternalRow = {
    val titleClean = if (title == null) null else sanitize(title.toString)
    val descClean = sanitize(truncateSpam(description))
    val titleLower = lower(titleClean)
    val descLower = lower(capCodePoints(descClean, DescriptionCap))
    val fullLower = if (titleClean == null) null else lower(titleClean + " " + descClean)
    val cpu0 = orElse(cpuOf(titleLower), cpuOf(descLower))
    val gpu = orElse(gpuOf(titleLower), gpuOf(descLower))
    val ramT = ramMax(titleLower, RamMax, Ram)
    val ram0 = if (ramT >= 0) ramT else ramMax(descLower, RamMax, Ram)
    val category = classify(titleLower, fullLower, cpu0, gpu)
    val limit = RamLimits.getOrElse(category, RamMax)
    // over the category's cap: re-scan the FULL text under the cap
    val ram = if (ram0 > limit) ramMax(fullLower, limit, Ram) else ram0
    result(cpu0, ram, gpu, category, fullLower)
  }

  private def computeCore(title: UTF8String, description: UTF8String): InternalRow = {
    val t = if (title == null || description == null) null
      else lower(sanitize(title.toString + " \n " + description.toString))
    val cpu0 = cpuOf(t)
    val gpu = gpuOf(t)
    val category = classify(t, t, cpu0, gpu)
    val neutral = if (t == null) null else RamStorageRe2.matcher(t).replaceAll("storage")
    val ram = ramMax(neutral, RamLimits.getOrElse(category, RamMax), RamRe2)
    result(cpu0, ram, gpu, category, t)
  }

  /** The row, after the Chromebook-i7 downgrade (an i7 in a
    * Chromebook is a false positive: Celeron/Pentium if named). */
  private def result(cpu0: String, ram: Int, gpu: String, category: String,
      full: String): InternalRow = {
    val cpu =
      if (category == "CHROMEBOOK" && cpu0 != null && cpu0.contains("I7") && full != null) {
        if (full.contains("celeron")) "INTEL CELERON"
        else if (full.contains("pentium")) "INTEL PENTIUM"
        else cpu0
      } else cpu0
    new GenericInternalRow(Array[Any](
      utf8(cpu), utf8(if (ram < 0) null else s"${ram}GB"), utf8(gpu),
      UTF8String.fromString(category), UTF8String.fromString(condition(full))))
  }

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private def orElse(a: String, b: String): String = if (a != null) a else b

  private def lower(s: String): String =
    if (s == null) null
    else CollationSupport.Lower.execBinaryICU(UTF8String.fromString(s)).toString

  private def upper(s: String): String = s.toUpperCase(Locale.ROOT)

  private def find(p: Pattern, s: String): Boolean = s != null && p.matcher(s).find()

  /** `regexp_extract_all(s, p, group)`. */
  private def matches(p: Pattern, s: String, group: Int): Seq[String] = {
    val m = p.matcher(s)
    val out = Seq.newBuilder[String]
    while (m.find()) out += (if (m.group(group) == null) "" else m.group(group))
    out.result()
  }

  /** `regexp_extract(s, p, 1)`: the first match's group 1, or "". */
  private def first(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find() && m.group(1) != null) m.group(1) else ""
  }

  private def sanitize(s: String): String =
    if (s == null) null
    else Sanitize.foldLeft(s) { case (acc, (p, r)) => p.matcher(acc).replaceAll(r) }

  /** The text before the first spam-heavy line ("" when the first line
    * is spam, "" for null). Lines split on "\n" exactly. */
  private def truncateSpam(description: UTF8String): String = {
    if (description == null) return ""
    val s = description.toString
    var start = 0
    while (start <= s.length) {
      val nl = s.indexOf('\n', start)
      val end = if (nl < 0) s.length else nl
      val line = lower(s.substring(start, end))
      if (SpamKeywords.count(line.contains(_)) > SpamMaxHits)
        return if (start == 0) "" else s.substring(0, start - 1)
      start = end + 1
    }
    s
  }

  private def capCodePoints(s: String, n: Int): String =
    if (s.length <= n || s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** Largest plausible RAM size at most `cap` mentioned in `text`
    * (group 1 of `p`), or -1. */
  private def ramMax(text: String, cap: Int, p: Pattern): Int = {
    if (text == null) return -1
    val m = p.matcher(text)
    var best = -1
    while (m.find()) {
      val v = try m.group(1).toInt catch { case _: NumberFormatException => -1 }
      if (ValidRam(v) && v <= cap && v > best) best = v
    }
    best
  }

  /** Normalized CPU ("INTEL I7", "APPLE M2 PRO", "AMD RYZEN 7") of one
    * lowercase text, or null. */
  private def cpuOf(t: String): String = {
    if (t == null) return null
    // a "core"-prefixed match ("corei7") is dropped, as the reference
    // drops it (regex_analyzer.py:609-624): only bare "i7" counts
    val pc = matches(IntelModel, t, 0).filterNot(_.startsWith("core")).map(upper) ++
      matches(Ryzen, t, 1).map("RYZEN" + _) ++
      matches(OtherCpu, t, 1).map(upper)
    val apple = matches(AppleModel, t, 0)
      .map(m => upper(Whitespace.matcher(trimSpaces(m)).replaceAll(" ")))
    val brand0 = first(CpuBrand, t)
    // Intel/AMD presence vetoes Apple-M readings (regex_analyzer.py:644-657)
    val hasPc = pc.exists(m => find(PcModel, m) || m.contains("RYZEN")) ||
      brand0 == "intel" || brand0 == "amd"
    val isApple = apple.nonEmpty && !hasPc
    val models = if (isApple) apple else pc
    if (models.isEmpty) return null
    val best = models.max // python: sorted(desc)[0]
    val brand =
      if (isApple || find(AppleBest, best)) "APPLE"
      else if (best.contains("RYZEN")) "AMD"
      else if (find(PcModel, best) || find(IntelFamily, best)) "INTEL"
      else if (find(QualcommFamily, best)) "QUALCOMM"
      else if (brand0.nonEmpty) upper(brand0)
      else null
    val formatted = if (find(RyzenBest, best)) best.replace("RYZEN", "RYZEN ") else best
    if (brand == null) formatted else s"$brand $formatted"
  }

  /** Normalized GPU ("NVIDIA RTX 4070") of one lowercase text, or null. */
  private def gpuOf(t: String): String = {
    if (t == null) return null
    val models = matches(GpuModel, t, 1).map(upper)
    if (models.isEmpty) return null
    val best0 = models.max
    val best =
      if (!best0.contains(" ") && find(GpuUnspaced, best0))
        GpuSpacing.matcher(best0).replaceAll("$1 $2")
      else best0
    val textBrand = upper(first(GpuBrand, t)) match {
      case "GEFORCE" => "NVIDIA"
      case "" => null
      case b => b
    }
    val brand =
      if (find(NvidiaModel, best)) "NVIDIA"
      else if (find(AmdModel, best)) "AMD"
      else textBrand
    if (brand == null) best else s"$brand ${trimSpaces(best.replace(brand, ""))}"
  }

  /** Primary category: title keywords → CPU/GPU signals → keyword
    * rules → GENERICO (regex_analyzer.py:670-772). */
  private def classify(titleLower: String, fullLower: String,
      cpu: String, gpu: String): String = {
    val cpuU = if (cpu == null) "" else upper(cpu)
    if (titleLower != null && titleLower.contains("chromebook")) "CHROMEBOOK"
    else if (find(AppleTitle, titleLower)) "APPLE"
    else if (titleLower != null && titleLower.contains("surface")) "SURFACE"
    else if (cpuU.contains("APPLE M")) "APPLE"
    else if (gpu != null && gpu.toLowerCase(Locale.ROOT).contains("quadro")) "WORKSTATION"
    else if (gpu != null) "GAMING"
    else if (fullLower == null) "GENERICO"
    else if ((fullLower.contains("macbook") || fullLower.contains("macos")) &&
        !cpuU.contains("AMD")) "APPLE"
    else KeywordCategories.collectFirst { case (c, p) if find(p, fullLower) => c }
      .getOrElse(if (fullLower.contains("gaming")) "GAMING" else "GENERICO")
  }

  /** NEW / LIKE_NEW / USED / BROKEN, BROKEN first
    * (regex_analyzer.py:777-786). */
  private def condition(full: String): String =
    if (find(Broken, full)) "BROKEN"
    else if (find(New, full)) "NEW"
    else if (find(LikeNew, full)) "LIKE_NEW"
    else "USED"

  /** Spark's `trim`: spaces (0x20) only. */
  private def trimSpaces(s: String): String = {
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s.substring(lo, hi)
  }
}
