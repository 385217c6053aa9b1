package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns — the hot path of the ANN / near-dup
  * operators.
  *
  * The higher-order-function formulation (`zip_with` + `aggregate`)
  * is interpreted per element in Spark (lambda functions don't
  * participate in whole-stage codegen); this expression emits a single
  * fused primitive loop via `doGenCode`, keeping the operator inside
  * WholeStageCodegen. Accumulation is in index order on doubles, so
  * results are bit-identical to both the HOF form and DuckDB's
  * row-local list lambdas (the oracle).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // Reject anything but array<float> at analysis time: the eval path
  // reads 4-byte slots (`getFloat`), so an array<double> child would
  // otherwise silently produce garbage similarities. (Return type
  // inferred — AbstractDataType is private[sql] in Spark 4.)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, nx = 0.0, ny = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double xi = (double) $a.getFloat(i);
         |  double yi = (double) $b.getFloat(i);
         |  dot += xi * yi; nx += xi * xi; ny += yi * yi;
         |}
         |${ev.value} = dot / (java.lang.Math.sqrt(nx) * java.lang.Math.sqrt(ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions. Idempotent —
  * operators call `register` before using the functions. Also
  * injectable via `SparkSessionExtensions` (GraftExtensions) for
  * `spark.sql.extensions`-configured clusters.
  */
object GraftFunctions {
  val CosineName = "graft_cosine"
  val DotName = "graft_dot"
  val SimHashName = "graft_simhash64"

  val PyRoundName = "graft_pyround"
  val ShinglesName = "graft_shingles"
  val FingerprintName = "graft_fingerprint"
  val Md5Prefix60Name = "graft_md5prefix60"
  val PqSubDotsName = "graft_pq_subdots"
  val PqCodesName = "graft_pq_codes"
  val TextStatsName = "graft_textstats"
  val SubwordCountName = "graft_subword_count"
  val NfcName = "graft_nfc"
  val BloomName = "graft_bloom_contains"
  val Sq8DotName = "graft_sq8dot"
  val DeleteVariantsName = "graft_delete_variants"
  val SpecsName = "graft_specs"

  private val registry: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    (CosineName, classOf[CosineSimilarity].getName,
      exprs => CosineSimilarity(exprs.head, exprs(1))),
    (DotName, classOf[DotProduct].getName,
      exprs => DotProduct(exprs.head, exprs(1))),
    (SimHashName, classOf[SimHash64].getName,
      exprs => SimHash64(exprs.head)),
    (PyRoundName, classOf[PyRound].getName,
      exprs => PyRound(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())),
    (ShinglesName, classOf[Shingles].getName,
      exprs => Shingles(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())),
    (FingerprintName, classOf[Fingerprint].getName,
      exprs => Fingerprint(exprs.head)),
    (Md5Prefix60Name, classOf[Md5Prefix60].getName,
      exprs => Md5Prefix60(exprs.head)),
    // optional 2nd arg: a literal array<double> codebook (flat
    // [(m*16+j)*8+d] layout) — the VectorIndex artifact path; 1-arg
    // form keeps the pinned Murmur family
    (PqSubDotsName, classOf[PqSubDots].getName,
      exprs =>
        if (exprs.lengthIs >= 2)
          PqSubDots(exprs.head,
            exprs(1).eval().asInstanceOf[ArrayData].toDoubleArray())
        else PqSubDots(exprs.head)),
    (PqCodesName, classOf[PqCodes].getName,
      exprs =>
        if (exprs.lengthIs >= 2)
          PqCodes(exprs.head,
            exprs(1).eval().asInstanceOf[ArrayData].toDoubleArray())
        else PqCodes(exprs.head)),
    (TextStatsName, classOf[TextStats].getName,
      exprs => TextStats(exprs.head)),
    // optional 2nd arg: a literal array<string> piece list (a learned
    // BpeLearn vocab); 1-arg form keeps the pinned vocab
    (SubwordCountName, classOf[SubwordCount].getName,
      exprs =>
        if (exprs.lengthIs >= 2)
          SubwordCount(exprs.head, new SubwordTokenizer(
            exprs(1).eval().asInstanceOf[ArrayData]
              .toObjectArray(org.apache.spark.sql.types.StringType)
              .map(_.toString).toSeq))
        else SubwordCount(exprs.head)),
    (NfcName, classOf[Nfc].getName,
      exprs => Nfc(exprs.head)),
    (BloomName, classOf[BloomMightContain].getName,
      exprs => BloomMightContain(exprs.head,
        exprs(1).eval().asInstanceOf[Array[Byte]])),
    (Sq8DotName, classOf[Sq8Dot].getName,
      exprs => Sq8Dot(exprs.head, exprs(1))),
    (DeleteVariantsName, classOf[DeleteVariants].getName,
      exprs => DeleteVariants(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())),
    // optional 3rd arg: a literal boolean selecting the RE2-safe core
    // cascade (f11b); the 2-arg form is full-fidelity extraction
    (SpecsName, classOf[Specs].getName,
      exprs => Specs(exprs.head, exprs(1),
        exprs.lengthIs >= 3 && exprs(2).eval().asInstanceOf[Boolean])))

  /** Register the native functions the session does not have yet.
    * Every column-API face calls this, so re-registering would replace
    * each function (and log a warning) on every call. */
  def register(spark: SparkSession): Unit = {
    val functions = spark.sessionState.functionRegistry
    registry.foreach { case (name, clazz, builder) =>
      val id = FunctionIdentifier(name)
      if (!functions.functionExists(id))
        functions.registerFunction(id, new ExpressionInfo(clazz, name), builder)
    }
  }

  /** The same registry in SparkSessionExtensions form — keeps the
    * extensions-injected function set identical to the session-local
    * one. */
  private[plans] def injectAll(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    registry.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz, name), builder))
    }

  /** Column-API faces of the native expressions. */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(CosineName, a, b)
  }

  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(DotName, a, b)
  }

  def sq8Dot(spark: SparkSession, codes: Column, qs: Column): Column = {
    register(spark)
    call_function(Sq8DotName, codes, qs)
  }

  def simhash64(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(SimHashName, text)
  }

  def pyRound(spark: SparkSession, c: Column, scale: Int): Column = {
    register(spark)
    call_function(PyRoundName, c, org.apache.spark.sql.functions.lit(scale))
  }

  def shingles(spark: SparkSession, text: Column, n: Int): Column = {
    register(spark)
    call_function(ShinglesName, text, org.apache.spark.sql.functions.lit(n))
  }

  def deleteVariants(spark: SparkSession, name: Column, maxEdits: Int): Column = {
    register(spark)
    call_function(DeleteVariantsName, name,
      org.apache.spark.sql.functions.lit(maxEdits))
  }

  def specs(spark: SparkSession, title: Column, description: Column): Column = {
    register(spark)
    call_function(SpecsName, title, description)
  }

  def coreSpecs(spark: SparkSession, title: Column, description: Column): Column = {
    register(spark)
    call_function(SpecsName, title, description,
      org.apache.spark.sql.functions.lit(true))
  }

  def fingerprint(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(FingerprintName, text)
  }

  def md5Prefix60(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(Md5Prefix60Name, text)
  }

  def pqSubDots(spark: SparkSession, v: Column): Column = {
    register(spark)
    call_function(PqSubDotsName, v)
  }

  def pqCodes(spark: SparkSession, v: Column): Column = {
    register(spark)
    call_function(PqCodesName, v)
  }

  /** Artifact-path variants: the same fused PQ loops over an EXPLICIT
    * flat codebook (a loaded VectorIndex artifact) instead of the
    * pinned family — bit-identical arithmetic by construction. */
  def pqSubDotsWith(spark: SparkSession, v: Column,
      cb: Array[Double]): Column = {
    register(spark)
    call_function(PqSubDotsName, v,
      org.apache.spark.sql.functions.typedLit(cb))
  }

  def pqCodesWith(spark: SparkSession, v: Column,
      cb: Array[Double]): Column = {
    register(spark)
    call_function(PqCodesName, v,
      org.apache.spark.sql.functions.typedLit(cb))
  }

  def textStats(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(TextStatsName, text)
  }

  def subwordCount(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(SubwordCountName, text)
  }

  /** Subword count under an EXPLICIT piece list (a learned BpeLearn
    * vocab) — same greedy matcher, fit pieces. */
  def subwordCountWith(spark: SparkSession, text: Column,
      vocab: Seq[String]): Column = {
    register(spark)
    call_function(SubwordCountName, text,
      org.apache.spark.sql.functions.typedLit(vocab))
  }

  def nfc(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function(NfcName, text)
  }

  /** Probe `key` (long) against a pre-built bloom filter — the filter
    * rides the plan as its serialized bytes. */
  def bloomContains(spark: SparkSession, key: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    register(spark)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    call_function(BloomName, key,
      org.apache.spark.sql.functions.lit(out.toByteArray))
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` installs the
  * native functions on every session of a cluster. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.injectAll(ext)
}
