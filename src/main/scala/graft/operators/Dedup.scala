package graft.operators

import graft.Tables
import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for training-data pipelines (SURVEY.md §2
  * rows 30–34): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design (§5): candidate generation is always an equi-join on a
  * bucket key (shingle, LSH band hash, SimHash band, cluster label) —
  * never a cross join — so the shuffle is hash-partitioned on the
  * bucket key and pair verification touches only colliding candidates.
  * MinHash signatures use md5 (the hash both engines share) so the
  * oracle can replay them exactly.
  */
object Dedup {

  val ShingleN = 3
  val NumHashes = 16
  val Bands = 4 // rows per band = NumHashes / Bands = 4
  val JaccardThreshold = 0.5

  /** Distinct word n-gram shingles from an already-materialized token
    * array. `tokens` MUST be a plain column reference: if a `split(…)`
    * expression tree is passed directly, every `element_at` inside the
    * lambda re-evaluates the split (no CSE across lambda calls) —
    * ~3 regex splits per shingle instead of one per document, which
    * measured 8 s vs 0.3 s on 5k docs. */
  def shinglesFromTokens(tokens: Column, n: Int = ShingleN): Column =
    when(size(tokens) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(tokens, i + k + 1)): _*))))

  /** Convenience for single-expression use — tests / small inputs
    * ONLY: pays the repeated-split cost described above. Production
    * paths use the native Shingles expression instead (one fused loop;
    * see jaccardPairs / minhashPairs). */
  def shingles(text: Column, n: Int = ShingleN): Column =
    shinglesFromTokens(split(trim(lower(text)), "\\s+"), n)

  /** SQL prologue producing the doc_id×shingle set (the inverted-index
    * side; Spark builds it with the native Shingles expression inside
    * jaccardPairs/minhashPairs). */
  private val shSql =
    """toks AS (
         SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
         FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
         FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS i)),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)"""

  // ---------------------------------------------------------------
  // d01: exact dedup via canonical-fingerprint hash-groupBy — keep the
  // lowest doc_id per group. One shuffle on the digest.
  // ---------------------------------------------------------------
  /** Production face: exact-dup groups of any (doc_id, text) frame.
    * Uses the native fingerprint expression (one fused canonicalize +
    * md5 loop; property-pinned equal to the Column form). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.plans.GraftFunctions.fingerprint(docs.sparkSession, col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  def d01(s: SparkSession, dir: String): DataFrame =
    exactDedup(Tables.documents(s, dir))

  val d01Sql: String =
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents GROUP BY 1"""

  // ---------------------------------------------------------------
  // d02: n-gram Jaccard near-dup — inverted-index self-join on the
  // shingle key (bucketed pairs, no cross join), exact Jaccard from
  // intersection counts, threshold filter.
  // ---------------------------------------------------------------
  /** At 100 TB a shingle appearing in k docs contributes k² candidate
    * pairs — a handful of boilerplate shingles would dominate the
    * join. `maxDf` drops those stop-shingles from candidate
    * GENERATION only; surviving candidates are then verified against
    * the FULL shingle sets, so reported Jaccard stays exact. The only
    * loss is pairs similar solely through ultra-common shingles —
    * below any useful threshold by construction.
    *
    * The DEFAULT is the capped path (`Some(DefaultMaxDf)`): a naive
    * caller at scale gets the bounded-candidates plan. `None` =
    * exhaustive candidates — only the oracle query opts into it (it
    * must match DuckDB's exhaustive join at test scale). */
  val DefaultMaxDf = 256

  def d02(s: SparkSession, dir: String,
      maxDf: Option[Int] = Some(DefaultMaxDf)): DataFrame =
    jaccardPairs(Tables.documents(s, dir), maxDf)

  /** The (doc_id, shingle) inverted-index frame, cached
    * PRE-PARTITIONED on the join key: pair self-joins (and the capped
    * path's df aggregation) then consume the cache's
    * hashpartitioning(shingle) directly instead of re-exchanging the
    * full shingle frame once per join side — one shuffle at cache
    * build replaces two post-cache shuffles. Shared by the exhaustive,
    * capped and prefix-filtered candidate generators so the three can
    * never drift on tokenization. */
  private[graft] def shingleFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.plans.GraftFunctions.shingles(docs.sparkSession,
          col("text"), ShingleN)).as("shingle"))
      .repartition(col("shingle"))
      .transform(graft.CacheRegistry.register)

  /** Shingle-Jaccard near-dup pairs over any (doc_id, text) frame —
    * shared by the d02 query and the corpus-cleaning cascade. */
  def jaccardPairs(docs: DataFrame,
      maxDf: Option[Int] = Some(DefaultMaxDf),
      threshold: Double = JaccardThreshold): DataFrame = {
    val sh = shingleFrame(docs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = maxDf match {
      case None =>
        // every co-occurrence is a candidate; one shingle-keyed join
        // counts the exact intersection directly
        sh.as("a").join(sh.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
          .agg(count(lit(1)).as("inter"))
      case Some(k) =>
        // the shared rare+hot capped convention — see
        // cappedSelfPairCounts
        cappedSelfPairCounts(sh, "shingle", k, "inter")
    }
    inter
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("b") === col("doc_id")).drop("doc_id")
      .select(col("a"), col("b"), col("inter"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  val d02Sql: String =
    raw"""WITH $shSql,
       inter AS (
         SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT a, b, inter,
              CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) AS jacc
       FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
       WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= $JaccardThreshold"""

  // ---------------------------------------------------------------
  // d02p: prefix-filtered exact Jaccard — the ZERO-LOSS scale path.
  // The df cap (d02's default) bounds candidate generation by
  // DROPPING ultra-common shingles, with a documented (sub-threshold)
  // loss mode. Prefix filtering bounds it with NO loss at all: under
  // any global total order on shingles, two sets A, B with
  // |A∩B| >= α must share an element among the first |A|-α+1 /
  // |B|-α+1 elements of their sorted orders (if all common elements
  // sat outside A's prefix, at most α-1 of A's elements remain to
  // hold them). J(A,B) >= t implies |A∩B| >= t·max(|A|,|B|), so
  // indexing only each doc's first n - ceil(t·n) + 1 shingles is a
  // complete candidate generator (the AllPairs / PPJoin prefix
  // principle — Bayardo et al. WWW'07, Xiao et al. WWW'08; public
  // algorithmics, reimplemented here as three Spark equi-joins).
  // Ordering the shingle universe by ASCENDING document frequency
  // puts every doc's RAREST shingles in its prefix — boilerplate
  // shingles (df ≈ corpus size) sort last and never generate a
  // candidate, which is exactly the population the df cap prunes,
  // except nothing is lost: a pair similar only through hot shingles
  // still collides via its prefix (J >= t forces rare overlap too).
  // Surviving candidates are verified against the FULL shingle sets,
  // so reported Jaccard is exact — same contract as jaccardPairs.
  // ---------------------------------------------------------------

  /** Conservative slack for double-arithmetic threshold math: t·n
    * computed in doubles can land one ulp ABOVE the real product,
    * which would shorten a prefix (or tighten the size-ratio filter)
    * and break completeness. Subtracting this before every ceil /
    * ratio comparison only ever LENGTHENS prefixes and LOOSENS
    * filters — candidates can only grow, and the exact verify step
    * discards any extras. Sized for the domain: the rounding error of
    * t·n is ~t·n·2⁻⁵² ≈ t·n·2.2×10⁻¹⁶, so an absolute slack of 1e-6
    * out-margins it while t·n < ~4.5×10⁹ — docs up to ~10¹⁰ shingles
    * at t ≥ 0.5, far beyond any real document — at the cost of at
    * most one extra prefix element. */
  private val PrefixEps = 1e-6

  /** Complete candidate pairs (a, b, na, nb) for Jaccard >= t via
    * prefix filtering over the cached shingle frame. Exposed to the
    * spec so the binding claim ("boilerplate shingles generate no
    * candidates") is a counted assertion, not prose. */
  private[graft] def prefixCandidates(sh: DataFrame,
      threshold: Double): DataFrame = {
    // global rarity order: (df asc, shingle asc) — total and
    // deterministic (shingles are distinct per doc). The df
    // aggregation consumes the cache's shingle partitioning.
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = sh.join(dfs, Seq("shingle"))
      .select(col("doc_id"), col("shingle"),
        row_number().over(byDoc.orderBy(col("df"), col("shingle"))).as("rk"),
        count(lit(1)).over(byDoc).as("n"))
    // prefix length n - ceil(t·n) + 1 >= 1 for every non-empty doc.
    // Cached PRE-PARTITIONED on the join key (the shingleFrame
    // convention): without the cache the whole prefix build — df
    // join, doc_id exchange, rank sort, two windows — re-runs once
    // PER SELF-JOIN SIDE (plan-audited: two identical Window/Sort
    // subtrees), and with it both sides consume the one
    // hashpartitioning(shingle) exchange.
    val pre = ranked
      .filter(col("rk") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(PrefixEps)) + lit(1))
      .select(col("doc_id"), col("shingle"), col("n"))
      .repartition(col("shingle"))
      .transform(graft.CacheRegistry.register)
    // J >= t also forces t·na <= nb <= na/t — pushed into the join so
    // size-incompatible prefix collisions never reach the verify step
    pre.as("pa").join(pre.as("pb"),
        col("pa.shingle") === col("pb.shingle") &&
          col("pa.doc_id") < col("pb.doc_id") &&
          col("pa.n") >= lit(threshold) * col("pb.n") - lit(PrefixEps) &&
          col("pb.n") >= lit(threshold) * col("pa.n") - lit(PrefixEps))
      .select(col("pa.doc_id").as("a"), col("pb.doc_id").as("b"),
        col("pa.n").as("na"), col("pb.n").as("nb"))
      .distinct()
  }

  /** Prefix-filtered near-dup pairs: bit-identical output contract to
    * [[jaccardPairs]] (a, b, inter, jacc at `threshold`), candidate
    * generation bounded by the prefix principle instead of the df
    * cap. Shares [[shingleFrame]] with the other generators — the
    * cache feeds the df aggregation, the prefix build and both sides
    * of the verify join. */
  def jaccardPairsPrefix(docs: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame = {
    val sh = shingleFrame(docs)
    val cand = prefixCandidates(sh, threshold)
    // exact verification: expand each candidate by a's full shingle
    // set, keep the rows b also holds — |cand|·avg(|A|) intermediate,
    // never a quadratic blowup (candidates are prefix-bounded)
    cand
      .join(sh.as("sa"), col("a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("b") === col("sb.doc_id") &&
          col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("a"), col("b"), col("inter"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  def d02p(s: SparkSession, dir: String): DataFrame =
    jaccardPairsPrefix(Tables.documents(s, dir))

  // ---------------------------------------------------------------
  // autoPairs: ADAPTIVE gear selection (r16 verdict item 2 — the g04
  // hub-gate pattern applied to the near-dup family). The three
  // candidate generators are each optimal on a different
  // co-occurrence-mass profile (the §2 row-31b regime table, all
  // three measured and committed): sparse overlap → the plain join's
  // fixed costs win; mass concentrated on HOT shingles (boilerplate)
  // → prefix filtering, zero loss at half the exhaustive cost; big
  // mass on sub-threshold RARE overlap (the sf1 replica profile) →
  // the capped direct count join, which pays only shared-shingle
  // rows where prefix verification pays ~|A| per candidate. Until
  // now gear choice was the operator author's job; autoPairs reads
  // ONE bounded df-census aggregate off the shared shingle frame and
  // routes:
  //
  //   totalPairMass = Σ df(df−1)/2   (exhaustive candidate rows)
  //   hotPairMass   = Σ_{df>cap} df(df−1)/2
  //
  //   mass ≤ plainBudget            → PLAIN (exhaustive)
  //   hotPairMass ≥ ½ · mass        → PREFIX (zero-loss hot pruning)
  //   otherwise                     → CAPPED (bounded generation)
  //
  // Committed censuses behind the thresholds: sf0.1 docs 1.27e6 mass
  // / hot 0 → plain; d09 boilerplate 9.83e7 / hotShare 1.0 → prefix;
  // sf1 replica 1.38e8 / hotShare 0 (max df 253 < cap) → capped.
  // The census is a Spark ACTION run once per autoPairs call, so
  // the gear choice always reflects the corpus as it is read now.
  // Masses sum as doubles — at 100 TB df² overflows int64 and the
  // census is a routing signal, not an exact count.
  // ---------------------------------------------------------------

  sealed trait PairGear
  case object PlainGear extends PairGear
  case object CappedGear extends PairGear
  case object PrefixGear extends PairGear

  /** Census of the exhaustive candidate-pair mass and its hot share. */
  case class GearCensus(totalPairMass: Double, hotPairMass: Double) {
    def hotShare: Double =
      if (totalPairMass > 0) hotPairMass / totalPairMass else 0.0
  }

  /** The exhaustive-join budget: candidate rows the plain gear may
    * generate before bounded-generation insurance is worth its fixed
    * costs. Sited between the committed regimes (sf0.1's 1.27e6 —
    * where plain measured 2.16 s vs prefix's 7.6 — and the
    * boilerplate/replica corpora at ~1e8, where unbounded generation
    * is the documented hazard). */
  val PlainPairBudget: Double = 1.6e7
  val HotShareThreshold = 0.5

  /** One bounded-pull census aggregate over the corpus's shingle
    * frame. A Spark action, run live on every call: hotPairMass
    * depends on the cap, and the corpus behind `docs` may change
    * between calls, so nothing is kept across calls. */
  def gearCensus(docs: DataFrame, cap: Int = DefaultMaxDf): GearCensus = {
    val mass = col("df").cast("double") * (col("df") - 1) / 2
    val r = graft.CacheRegistry.scoped {
      shingleFrame(docs)
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .agg(sum(mass), sum(when(col("df") > cap, mass).otherwise(0.0)))
        .head()
    }
    GearCensus(
      if (r.isNullAt(0)) 0.0 else r.getDouble(0),
      if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** The routing rule alone — spec-pinned on the committed corpora's
    * censuses and on the mechanism's boundaries. */
  def chooseGear(census: GearCensus,
      plainBudget: Double = PlainPairBudget): PairGear =
    if (census.totalPairMass <= plainBudget) PlainGear
    else if (census.hotPairMass >= HotShareThreshold * census.totalPairMass)
      PrefixGear
    else CappedGear

  /** Near-dup pairs through the census-chosen gear. The gear is
    * chosen once per call, from one live census. Output contract is
    * jaccardPairs' (a, b, inter, jacc); the capped route keeps the
    * documented cap-loss exception, the other two are exact. */
  def autoPairs(docs: DataFrame,
      threshold: Double = JaccardThreshold,
      cap: Int = DefaultMaxDf,
      plainBudget: Double = PlainPairBudget): DataFrame =
    chooseGear(gearCensus(docs, cap), plainBudget) match {
      case PlainGear => jaccardPairs(docs, maxDf = None, threshold)
      case CappedGear => jaccardPairs(docs, maxDf = Some(cap), threshold)
      case PrefixGear => jaccardPairsPrefix(docs, threshold)
    }

  // ---------------------------------------------------------------
  // Gear selection for the COMPOSITIONS (r17 verdict item 3): the
  // cleaning cascades (c01/c10/c22), the clustering/survivorship/
  // sampling family (d06/d14/d18/d19, c23/c24). Production defaults
  // to the census-routed gear — at sf1 the wrong pinned gear costs
  // 243.6 s vs 54.7 (d06 prefix vs capped) — while the oracle faces
  // pin the exhaustive gear their DuckDB replay requires and the
  // bench twins pin their A/B gear. On the driver's oracle corpora
  // the router chooses PLAIN (census spec-pinned), so a routed face
  // is bit-identical to its exhaustive replay there.
  // ---------------------------------------------------------------
  sealed trait GearSpec
  /** Census-routed (the production default for compositions). */
  case object Routed extends GearSpec
  /** Pinned gear: `None` = exhaustive (oracle faces), `Some(cap)` =
    * the df-capped gear (bench twins). */
  final case class Pinned(maxDf: Option[Int]) extends GearSpec

  /** The composition pair stage under a gear spec. */
  def pairsByGear(docs: DataFrame, gear: GearSpec,
      threshold: Double = JaccardThreshold): DataFrame = gear match {
    case Routed => autoPairs(docs, threshold)
    case Pinned(m) => jaccardPairs(docs, m, threshold)
  }

  // ---------------------------------------------------------------
  // d17: threshold-sensitivity curve — how many near-dup pairs each
  // Jaccard cut would flag (0.3 … 0.9): the calibration table a
  // dedup rollout reads before picking its threshold (too low →
  // false merges, too high → missed dups; the knee of this curve is
  // the decision). One exhaustive pair pass at the lowest threshold,
  // then a tiny explode × filter — the curve costs one d02, not
  // seven. Thresholds ship string-pinned (0.3 is not binary-exact;
  // both engines must parse the same literal).
  // ---------------------------------------------------------------

  /** Curve cut points: the synthetic corpus's pair mass is bimodal
    * (background noise below ~0.08, planted near-dups above 0.9), so
    * the grid spans BOTH regimes — low cuts where the curve actually
    * moves (312 → 29 → 25 pairs at sf0.01) and the conventional
    * 0.3–0.9 range a production corpus varies over. */
  val CurveThresholds: Seq[String] =
    Seq("0.02", "0.05", "0.1", "0.3", "0.5", "0.7", "0.9")

  /** Threshold curve over any near-dup pair frame with a `jacc`
    * column. The grid frame is built INDEPENDENTLY and the counted
    * curve left-joins onto it, so a corpus with zero pairs above the
    * pre-cut still yields one row per threshold with n_pairs = 0
    * (matching the oracle's `t LEFT JOIN j ON TRUE` shape — an
    * explode-only formulation emits nothing when the pair set is
    * empty). */
  def thresholdCurve(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    val ts = explode(array(CurveThresholds.map(t =>
      lit(t).cast("double")): _*)).as("threshold")
    val grid = s.range(1).select(ts)
    val counted = pairs.select(col("jacc"), ts)
      .groupBy(col("threshold"))
      .agg(sum(when(col("jacc") >= col("threshold"), 1L).otherwise(0L))
        .as("n_pairs"))
    grid.join(counted, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  def d17(s: SparkSession, dir: String): DataFrame =
    thresholdCurve(jaccardPairs(Tables.documents(s, dir),
      maxDf = None, threshold = 0.02).select(col("jacc")))

  lazy val d17Sql: String = {
    val tlist = CurveThresholds
      .map(t => s"CAST('$t' AS DOUBLE)").mkString(", ")
    raw"""WITH $shSql,
       inter AS (
         SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       j AS (SELECT CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) AS jacc
             FROM inter JOIN sizes sa ON a = sa.doc_id
             JOIN sizes sb ON b = sb.doc_id
             WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= CAST('0.02' AS DOUBLE)),
       t AS (SELECT unnest([$tlist]) AS threshold)
       SELECT threshold,
         CAST(coalesce(sum(CASE WHEN jacc >= threshold THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
       FROM t LEFT JOIN j ON TRUE GROUP BY 1"""
  }

  // ---------------------------------------------------------------
  // d09: the df cap DEMONSTRATED BINDING. At the test corpus's scale
  // the max shingle df (~25 at sf0.1) sits far below DefaultMaxDf, so
  // the d02/d07 capped faces never actually prune — the claim the cap
  // exists for ("boilerplate shingles are what makes the candidate
  // join finish at all at 100 TB") needs a corpus where df >> cap.
  // boilerplateCorpus builds one deterministically FROM the documents
  // table: every doc gets the same leading template block (a shared
  // footer, the real-world boilerplate shape), and every 50th doc is
  // re-planted under a shifted id with a 3-token suffix edit — a RARE
  // near-dup the capped path must still report with exact counts.
  // The d09 bench pair runs the same jaccardPairs over it twice:
  // exhaustive (every template co-occurrence becomes a candidate —
  // the quadratic blowup) vs capped (template shingles pruned from
  // candidate generation, counts corrected exactly via the hot join).
  // ---------------------------------------------------------------

  /** Planted near-dup ids in [[boilerplateCorpus]] are the source
    * doc_id plus this offset (keeps them disjoint from real ids). */
  val BoilerplateIdOffset = 10000000L

  private val BoilerplateTemplate =
    "subscribe to our newsletter for weekly updates click here to " +
      "unsubscribe at any time all rights reserved terms of service " +
      "apply contact customer support for further assistance this " +
      "website stores cookies on your computer to improve your " +
      "browsing experience and provide personalized recommendations " +
      "by continuing you accept our privacy policy and cookie terms " +
      "prices include applicable taxes unless stated otherwise " +
      "delivery times may vary depending on destination and carrier " +
      "report a problem with this listing through the resolution " +
      "center available around the clock for registered members"

  /** Boilerplate-heavy derivation of any (doc_id, ...) frame: the
    * first `nDocs` ids, each given a deterministic per-doc UNIQUE body
    * of `bodyTokens` tokens (df = 1 shingles — so the capped and
    * exhaustive faces differ ONLY in the template quadratic, with no
    * natural-near-dup noise) prefixed with the shared template block
    * (every template shingle's df == corpus size, far above any
    * useful cap). Every 50th doc is re-planted under
    * id + [[BoilerplateIdOffset]] with a 3-token suffix edit — the
    * rare near-dups the cap must not lose. `bodyTokens` stays above
    * ~2x the template length so two docs sharing ONLY the template
    * sit well under JaccardThreshold (the documented loss mode never
    * produces a reportable pair here). */
  def boilerplateCorpus(docs: DataFrame, nDocs: Int,
      bodyTokens: Int = 100): DataFrame = {
    val base = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(nDocs)
      .select(col("doc_id"), array_join(
        transform(sequence(lit(1), lit(bodyTokens)),
          j => concat(lit("b"), col("doc_id"), lit("t"), j)), " ").as("text"))
    val planted = base.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select((col("doc_id") + BoilerplateIdOffset).as("doc_id"),
        concat_ws(" ", col("text"), lit("planted suffix marker")).as("text"))
    base.unionByName(planted)
      .select(col("doc_id"),
        concat_ws(" ", lit(BoilerplateTemplate), col("text")).as("text"))
  }

  /** Bench face: 1500-doc boilerplate corpus, exhaustive vs capped
    * candidate generation (SparkEntry.benchOnly pair). Sized so the
    * exhaustive face's quadratic template join still dominates with
    * fully-warm JIT (warm steady-state ~6.5 s vs ~3.0 s capped, >=2x;
    * the in-run bench charges the exhaustive face the pair's plan
    * codegen, widening it) while staying clear of the shuffle-spill
    * cliff that inflated the r10 2200-doc sizing 2.9x in the driver
    * environment (36.5 s, 25% of total bench wall-time). */
  def d09(s: SparkSession, dir: String, maxDf: Option[Int]): DataFrame =
    jaccardPairs(boilerplateCorpus(Tables.documents(s, dir), 1500), maxDf)

  // ---------------------------------------------------------------
  // d10: EXACT shared-run detection — the Lee et al. (2022)
  // "exact substring dedup" signal as a relational query. Two docs
  // share a contiguous run of >= K tokens IFF they share a K-token
  // gram, so one distinct-K-gram equi-join detects shared runs
  // EXACTLY — no sampling. This is the precision anchor of the
  // near-dup family: d02 measures SET similarity (3-gram Jaccard,
  // dilutes contiguous overlap on long docs), d07 samples contiguous
  // overlap at winnowing density (guaranteed for runs >= window+k-1
  // but ~2/(window+1) of the join volume), d10 pays every gram
  // position for exact run evidence (`shared` = distinct shared
  // K-grams ≈ run length - K + 1). Same scale shape as d02/d07:
  // gram explode → 60-bit md5 hash (8-byte join keys instead of
  // ~50-byte gram strings) → pre-partitioned cache → equi-join with
  // the same df cap (boilerplate K-grams are exactly what the cap
  // exists for). Hash collisions merge gram identities identically
  // in both engines — bit-exact parity, negligible overcount.
  // ---------------------------------------------------------------

  /** Run length (tokens) whose sharing d10 detects exactly. */
  val RunTokens = 8

  /** Exact shared-run pairs over any (doc_id, text) frame:
    * (a, b, shared) for doc pairs sharing >= `minShared` distinct
    * K-token grams. */
  def runOverlapPairs(docs: DataFrame, runTokens: Int = RunTokens,
      maxDf: Option[Int] = Some(DefaultMaxDf),
      minShared: Int = 1): DataFrame = {
    val s = docs.sparkSession
    val sh = docs.select(col("doc_id"),
        explode(graft.plans.GraftFunctions.shingles(s, col("text"), runTokens))
          .as("g"))
      .select(col("doc_id"),
        graft.plans.GraftFunctions.md5Prefix60(s, col("g")).as("gh"))
      .repartition(col("gh"))
      .transform(graft.CacheRegistry.register)
    val inter = maxDf match {
      case None =>
        sh.as("a").join(sh.as("b"),
            col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
          .agg(count(lit(1)).as("shared"))
      case Some(k) => cappedSelfPairCounts(sh, "gh", k, "shared")
    }
    inter.filter(col("shared") >= minShared)
  }

  def d10(s: SparkSession, dir: String, maxDf: Option[Int]): DataFrame =
    runOverlapPairs(Tables.documents(s, dir), maxDf = maxDf)

  // ---------------------------------------------------------------
  // d11: contamination REPORT — the eval-overlap AUDIT the GPT-3
  // appendix popularized (per-doc n-gram overlap against the
  // benchmark set), complementing the enforcement faces: d08 DROPS
  // contaminated docs, 41f rejects them at ingest, d11 MEASURES how
  // contaminated each surviving-or-not doc is, the number a release
  // report actually publishes. Fraction of a train doc's distinct
  // K-token grams (RunTokens, the d10 exactness anchor) that appear
  // anywhere in the eval set.
  //
  // Scale: eval sets are benchmark-sized by construction (the 41f
  // principle), so the distinct eval gram set is BROADCAST; the train
  // side is one gram explode + a per-doc aggregation — no self-join,
  // no state scan, O(corpus) total.
  // ---------------------------------------------------------------

  /** Per-doc contamination fractions of `train` against `evalDocs`:
    * (doc_id, n_grams, n_contaminated, cont_frac), contaminated docs
    * only. */
  def contaminationReport(train: DataFrame, evalDocs: DataFrame,
      runTokens: Int = RunTokens): DataFrame = {
    val s = train.sparkSession
    def grams(d: DataFrame) = d.select(col("doc_id"),
        explode(graft.plans.GraftFunctions.shingles(s, col("text"), runTokens))
          .as("g"))
      .select(col("doc_id"),
        graft.plans.GraftFunctions.md5Prefix60(s, col("g")).as("gh"))
    val evalSet = grams(evalDocs).select(col("gh")).distinct()
      .withColumn("hit", lit(1L))
    grams(train)
      .join(broadcast(evalSet), Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 6)
          .as("cont_frac"))
  }

  /** Face: the c07/41f eval split (doc_id % 7) audited against the
    * rest of the corpus. */
  def d11(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    contaminationReport(docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0))
  }

  val d11Sql: String =
    raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                CAST(('0x' || substring(md5(array_to_string(w[i : i+$RunTokens-1], ' ')), 1, 15)) AS BIGINT) AS gh
              FROM toks,
                LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-$RunTokens+1, 0))) AS i)),
       ev AS (SELECT DISTINCT gh FROM sh WHERE doc_id % 7 = 0),
       tr AS (SELECT doc_id, count(*) AS n_grams,
                sum(CASE WHEN gh IN (SELECT gh FROM ev) THEN 1 ELSE 0 END) AS n_cont
              FROM sh WHERE doc_id % 7 <> 0 GROUP BY 1)
       SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         CAST(n_cont AS BIGINT) AS n_contaminated,
         round(CAST(n_cont AS DOUBLE)/n_grams, 6) AS cont_frac
       FROM tr WHERE n_cont > 0"""

  val d10Sql: String =
    raw"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                CAST(('0x' || substring(md5(array_to_string(w[i : i+$RunTokens-1], ' ')), 1, 15)) AS BIGINT) AS gh
              FROM toks,
                LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-$RunTokens+1, 0))) AS i)),
       inter AS (SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(count(*) AS BIGINT) AS shared
                 FROM sh a JOIN sh b ON a.gh = b.gh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT a, b, shared FROM inter WHERE shared >= 1"""

  // ---------------------------------------------------------------
  // d06: transitive near-dup CLUSTERS — connected components over the
  // near-dup pair graph. Pairwise "drop the higher id of each pair"
  // under-merges chains (A~B, B~C, A≁C leaves two survivors of one
  // cluster); production dedup wants ONE representative per connected
  // component. Distributed min-label propagation WITH POINTER
  // DOUBLING (r16): each round is one neighbor-min equi-join +
  // aggregate followed by a label[label[v]] jump, labels only
  // decrease, rounds bounded by log2(component diameter) — maxIter
  // 20 covers ~10^6-hop chains, so long templated near-dup chains
  // can't trip the fail-fast. The driver loop's convergence probe is
  // `isEmpty` on a changed-set — a metadata action, never a label
  // collect.
  // ---------------------------------------------------------------

  /** Connected components of an undirected edge list. `vertices` is
    * one `id` column (isolated vertices keep their own label);
    * `edges` has (a, b). Returns (id, component = min id reachable).
    * Fails fast if `maxIter` rounds don't converge rather than
    * returning a partially-propagated labeling. */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // pre-partitioned on dst: every round's neighbor-min join then
    // consumes the cache's partitioning instead of re-exchanging the
    // full edge frame once per round (rounds = component diameter)
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("dst"))
      .transform(graft.CacheRegistry.register)
    // eager localCheckpoint, not cache: each round's plan references
    // the previous round's twice (neighbor-min + convergence probe),
    // so an uncut lineage grows EXPONENTIALLY with rounds — the plan
    // string alone OOMs around round 10. Checkpointing materializes
    // the ~(vertex, label) rows and restarts the plan from them.
    var labels = vertices.select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("component").as("nl")), "dst")
        .groupBy(col("src")).agg(min(col("nl")).as("nmin"))
        .select(col("src").as("id"), col("nmin"))
      // _changed rides along INTO the checkpoint, so the convergence
      // probe is a filter over the already-materialized rows instead
      // of a second labels-vs-next join (one fewer join + job per
      // round — the probe dominated round cost at small diameters)
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"),
          (coalesce(col("nmin"), col("component")) < col("component"))
            .as("_changed"))
        .localCheckpoint(true)
      // POINTER DOUBLING (r16): re-point every label at its parent's
      // label — label'[v] = label[label[v]]. Neighbor-min alone moves
      // a component's min ONE hop per round, so rounds grow with the
      // component DIAMETER and maxIter hard-fails on any chain longer
      // than maxIter hops (real near-dup graphs grow such chains:
      // templated pages near-dup their neighbors but not the chain
      // ends). The jump halves every vertex's distance-to-root each
      // round instead — rounds grow with log2(diameter), so maxIter
      // 20 now covers ~10^6-hop chains. Monotone-safe: every label
      // value is a vertex id with label ≤ id, so the jump only ever
      // lowers labels within the component; the fixpoint (labels
      // constant per component = the component min, since the min
      // vertex can never be lowered) is unchanged — d06/c23 oracle
      // rows stay bit-exact. The jump reads the ALREADY-MATERIALIZED
      // stepped frame (two |V|-row checkpoints per round instead of
      // one; the alternative — jumping a lazy `stepped` — would
      // re-run the neighbor-min join twice per round).
      //
      // Skew posture: as labels converge, `component` concentrates
      // onto few values — joining the full stepped frame on it would
      // funnel a giant component's |C| rows through one shuffle
      // partition. So the lookup table is built from DISTINCT
      // component values first: the distinct's partial aggregation
      // dedupes map-side (each mapper emits a key once — no skewed
      // shuffle), and the resulting table SHRINKS with convergence,
      // so AQE broadcasts it and the big side is never exchanged on
      // the concentrated key. Round 1 (labels still ~all distinct)
      // has no concentration to skew on either way.
      val jump = stepped.select(col("component")).distinct()
        .join(stepped.select(col("id").as("component"),
          col("component").as("pcomp")), Seq("component"))
      val next = stepped.join(jump, Seq("component"))
        .select(col("id"), col("pcomp").as("component"),
          (col("_changed") || col("pcomp") < col("component"))
            .as("_changed"))
        .localCheckpoint(true)
      converged = next.filter(col("_changed")).isEmpty
      // NO unpersist for stepped / the old labels: Dataset.unpersist
      // only uncaches CacheManager entries and a localCheckpoint's
      // blocks are not one — they are reclaimed by the ContextCleaner
      // once the round's references drop (which they do right here).
      labels = next.drop("_changed")
      i += 1
    }
    sym.unpersist()
    require(converged, s"connectedComponents: no fixpoint after $maxIter rounds")
    labels
  }

  def d06(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // CENSUS-ROUTED pair stage (r18): on the driver's oracle corpora
    // the router picks PLAIN (census spec-pinned), so the DuckDB
    // exhaustive replay stays exact while the same face survives a
    // regime flip at scale
    connectedComponents(
      autoPairs(docs).select(col("a"), col("b")),
      docs.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("component"))
  }

  /** DuckDB replay: the same pair set, then components via a
    * recursive label-reachability closure (UNION-dedup'd), min label
    * per vertex. */
  val d06Sql: String =
    raw"""WITH RECURSIVE $shSql,
       inter AS (
         SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       pairs AS (
         SELECT a, b FROM inter
         JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= $JaccardThreshold),
       sym AS (SELECT a AS src, b AS dst FROM pairs
               UNION ALL SELECT b, a FROM pairs),
       reach(v, l) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT s.dst, r.l FROM reach r JOIN sym s ON s.src = r.v)
       SELECT v AS doc_id, min(l) AS component FROM reach GROUP BY v"""

  // ---------------------------------------------------------------
  // d07: winnowing-fingerprint near-dup pairs — the rolling-hash
  // document fingerprinting of Schleimer/Wilkerson/Aiken (SIGMOD'03),
  // as a pair query. Winnowing GUARANTEES any shared token run of
  // >= window+k-1 tokens yields a shared fingerprint at ~2/(window+1)
  // selection density, so counting shared fingerprints finds pairs
  // with CONTIGUOUS overlap (plagiarism/boilerplate-style) that
  // set-based shingle Jaccard dilutes on long documents. Same scale
  // shape as d02/d03: fingerprint explode (narrow map) → equi-join on
  // the fingerprint — never a cross join — with the same maxDf cap on
  // candidate generation and exact shared-count verification against
  // full fingerprint sets. Grams hashed via the portable 60-bit md5
  // prefix so DuckDB replays signatures bit-for-bit.
  // ---------------------------------------------------------------
  val WinnowK = 3
  val WinnowWindow = 4
  val WinnowMinShared = 3

  /** Relational winnow fingerprint set of any (doc_id, text) frame —
    * (doc_id, fp), distinct per doc. Posexplode the NON-distinct grams
    * (tokens staged first — the no-retokenize rule), hash each gram
    * through the native md5 prefix OUTSIDE any lambda (codegen'd),
    * sliding-window minima via a doc-partitioned window, keep full
    * windows only (short docs keep raw gram hashes — the same
    * fallback as winnowFingerprints), then per-doc dedup that REUSES
    * the window's doc_id exchange (hashpartitioning(doc_id) satisfies
    * the (doc_id, fp) clustering). The all-lambda array formulation
    * (winnowFingerprintsPortable) is interpreted per element and
    * measured ~6x slower at sf0.1 (14.3 s vs this shape). Shared by
    * winnowPairs and the streaming near-dup gate (which persists
    * these fingerprints as its sealed-corpus state). */
  def winnowFps(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val hashed = docs
      .withColumn("_w", split(trim(lower(col("text"))), "\\s+"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.winnowGrams(col("_w"), WinnowK)).as(Seq("i", "g")))
      .select(col("doc_id"), col("i"),
        graft.plans.GraftFunctions.md5Prefix60(s, col("g")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, WinnowWindow - 1)
    val wc = Window.partitionBy(col("doc_id"))
    hashed
      .withColumn("mh", min(col("h")).over(w))
      .withColumn("ng", count(lit(1)).over(wc))
      .filter(col("ng") < WinnowWindow || col("i") <= col("ng") - WinnowWindow)
      .select(col("doc_id"),
        when(col("ng") < WinnowWindow, col("h")).otherwise(col("mh")).as("fp"))
      .distinct()
  }

  /** Production face: winnow-fingerprint near-dup pairs of any
    * (doc_id, text) frame — (a, b, shared fingerprint count). */
  def winnowPairs(docs: DataFrame, minShared: Int = WinnowMinShared,
      maxDf: Option[Int] = Some(DefaultMaxDf)): DataFrame =
    winnowPairsFromFps(
      winnowFps(docs)
        // the cache is re-keyed on fp so the pair self-join (and the
        // capped path's df agg) consume the cache's partitioning
        // instead of exchanging the fingerprint frame once per join
        // side
        .repartition(col("fp"))
        .transform(graft.CacheRegistry.register),
      minShared, maxDf)

  /** [[winnowPairs]] over an already-materialized (doc_id, fp) frame —
    * callers that need the fingerprints for OTHER joins too (the
    * streaming gate: within-batch pairs AND the cross-batch state)
    * pass ONE cached fp-partitioned frame instead of re-deriving the
    * fingerprint pipeline per use. `fps` should be fp-partitioned and
    * cached (as winnowPairs prepares it) for the self-join to be
    * exchange-free. */
  def winnowPairsFromFps(fps: DataFrame, minShared: Int = WinnowMinShared,
      maxDf: Option[Int] = Some(DefaultMaxDf)): DataFrame = {
    val shared = maxDf match {
      case None =>
        fps.as("a").join(fps.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
          .agg(count(lit(1)).as("shared"))
      case Some(k) =>
        // the shared rare+hot capped convention — see
        // cappedSelfPairCounts
        cappedSelfPairCounts(fps, "fp", k, "shared")
    }
    shared.filter(col("shared") >= minShared)
  }

  /** The rare+hot df-cap decomposition shared by the d02 and d07
    * capped faces (and mirrored cross-corpus by d08): for a
    * (doc_id, `keyCol`) posting frame, count(a,b) = countRare +
    * countHot. Rare co-occurrences (key df <= k) are counted by the
    * SAME cheap count-join shape as the exhaustive path — df-bounded,
    * so no posting list contributes more than k² pairs; the hot
    * correction joins ONLY the above-the-cap postings for the
    * candidate pairs (empty when nothing exceeds the cap, where AQE
    * collapses it to a no-op). Reported counts stay EXACT for every
    * candidate pair; the only loss is pairs sharing exclusively hot
    * keys — the documented cap semantics. All frame-side joins key on
    * the cache's `keyCol` partitioning (df agg, anti/semi prune) —
    * no extra exchange of the posting frame. Pinned by the forced-hot
    * specs and the randomized decomposition property. */
  private def cappedSelfPairCounts(frame: DataFrame, keyCol: String,
      k: Int, out: String): DataFrame = {
    // the df aggregation is the capped path's first step anyway;
    // materializing its (small) result lets one cheap isEmpty probe
    // decide ADAPTIVELY whether the cap binds at all. When nothing
    // exceeds the cap — the sf-scale corpora — rare == frame and the
    // hot correction is provably zero, so the plain exhaustive count
    // IS the capped result and the anti/semi/correction machinery is
    // pure overhead (the r9 capped-twin inversion). When something is
    // hot — d09's boilerplate shape, and any real 100 TB corpus — the
    // rare+hot decomposition runs as before. Both branches are pinned
    // by the forced-hot specs and the randomized decomposition
    // property (caps above and below the max df).
    val hot = frame.groupBy(col(keyCol)).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > k).select(col(keyCol))
      .transform(graft.CacheRegistry.register)
    if (hot.isEmpty)
      return frame.as("a").join(frame.as("b"),
          col(s"a.$keyCol") === col(s"b.$keyCol") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
        .agg(count(lit(1)).as(out))
    val rare = frame.join(hot, Seq(keyCol), "left_anti")
    // cached: consumed twice (result + the hot-correction probe) —
    // uncached, the whole rare self-join would run once per use
    val countRare = rare.as("a").join(rare.as("b"),
        col(s"a.$keyCol") === col(s"b.$keyCol") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("_cr"))
      .transform(graft.CacheRegistry.register)
    val frameHot = frame.join(hot, Seq(keyCol), "left_semi")
    val countHot = countRare.select(col("a"), col("b"))
      .join(frameHot.as("ha"), col("a") === col("ha.doc_id"))
      .join(frameHot.as("hb"), col("b") === col("hb.doc_id") &&
        col(s"ha.$keyCol") === col(s"hb.$keyCol"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("_ch"))
    countRare.join(countHot, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        (col("_cr") + coalesce(col("_ch"), lit(0L))).as(out))
  }

  def d07(s: SparkSession, dir: String): DataFrame =
    // oracle face pins maxDf = None (DuckDB replays exhaustive pairs)
    winnowPairs(Tables.documents(s, dir), maxDf = None)

  /** Shared SQL prologue: the winnow fingerprint set (doc_id, fp) of
    * the documents table — identical gram hash (md5 prefix),
    * identical min-of-window selection (full windows only; short docs
    * keep raw gram hashes — the Spark fallback). k is pinned at 3 in
    * the gram concat, as in shSql. Used by d07 and d08 (over the raw
    * documents table) and by the c07 compliance chain (over its
    * scrubbed-text CTE — hence the `src` parameter). */
  private[operators] def winnowFpsSqlFrom(src: String): String =
    raw"""toks AS (
         SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
         FROM $src),
       grams AS (
         SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
         FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS i)),
       hashes AS (
         SELECT doc_id, i, CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h
         FROM grams),
       wins AS (
         SELECT doc_id, i, h,
                min(h) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW AND ${WinnowWindow - 1} FOLLOWING) AS mh,
                count(*) OVER (PARTITION BY doc_id) AS ng
         FROM hashes),
       fps AS (
         SELECT DISTINCT doc_id, mh AS fp FROM wins
         WHERE ng >= $WinnowWindow AND i <= ng - ${WinnowWindow - 1}
         UNION
         SELECT DISTINCT doc_id, h AS fp FROM wins WHERE ng < $WinnowWindow)"""

  private lazy val winnowFpsSql: String = winnowFpsSqlFrom("documents")

  /** DuckDB replay of d07: the shared fingerprint CTE + identical
    * pair counting. */
  lazy val d07Sql: String =
    raw"""WITH $winnowFpsSql
       SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
       FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared"""

  // ---------------------------------------------------------------
  // d08: eval-set decontamination — the CROSS-corpus face of the
  // winnowing near-dup: which corpus docs share >= minShared
  // fingerprints with any benchmark/eval document. This is the
  // compliance pass every LLM training corpus runs before shipping
  // (benchmark n-gram overlap detection): near-verbatim eval material
  // in the training set inflates reported scores, and contiguous
  // overlap is exactly what winnowing guarantees to catch. Same scale
  // shape as d07 — one fp equi-join, never a cross join — with the
  // df cap decomposed rare+hot on the CORPUS side (benchmark sets are
  // small by construction), so reported counts stay exact for every
  // candidate while no posting list contributes more than
  // corpus-df × bench-df rows above the cap.
  // ---------------------------------------------------------------

  /** Production face: contaminated (doc_id, bench_id, shared) rows of
    * `corpus` against `benchmark` (both (doc_id, text) frames). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      minShared: Int = WinnowMinShared,
      maxDf: Option[Int] = Some(DefaultMaxDf)): DataFrame = {
    val cf = winnowFps(corpus)
      .repartition(col("fp"))
      .transform(graft.CacheRegistry.register)
    val bf = winnowFps(benchmark)
      .select(col("doc_id").as("bench_id"), col("fp"))
      .transform(graft.CacheRegistry.register)
    val shared = maxDf match {
      case None =>
        cf.join(bf, Seq("fp"))
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(count(lit(1)).as("shared"))
      case Some(k) =>
        // the d02/d07 capped convention, cross-corpus: rare counts by
        // the bounded join, hot correction only for candidate pairs —
        // with the same adaptive short-circuit as cappedSelfPairCounts
        // (cap not binding ⇒ the plain join IS the capped result)
        val hot = cf.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") > k).select(col("fp"))
          .transform(graft.CacheRegistry.register)
        if (hot.isEmpty)
          return cf.join(bf, Seq("fp"))
            .groupBy(col("doc_id"), col("bench_id"))
            .agg(count(lit(1)).as("shared"))
            .filter(col("shared") >= minShared)
        val rare = cf.join(hot, Seq("fp"), "left_anti")
        val sharedRare = rare.join(bf, Seq("fp"))
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(count(lit(1)).as("_sr"))
          .transform(graft.CacheRegistry.register)
        val cfHot = cf.join(hot, Seq("fp"), "left_semi")
        val sharedHot = sharedRare.select(col("doc_id"), col("bench_id"))
          .join(cfHot.select(col("doc_id"), col("fp").as("_hfp")), Seq("doc_id"))
          .join(bf.select(col("bench_id").as("_b2"), col("fp").as("_bfp")),
            col("bench_id") === col("_b2") && col("_hfp") === col("_bfp"))
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(count(lit(1)).as("_sh"))
        sharedRare.join(sharedHot, Seq("doc_id", "bench_id"), "left")
          .select(col("doc_id"), col("bench_id"),
            (col("_sr") + coalesce(col("_sh"), lit(0L))).as("shared"))
    }
    shared.filter(col("shared") >= minShared)
  }

  /** The deterministic eval split of the documents table (doc_id
    * divisible by 7 ≈ 14% of the corpus) — stands in for an external
    * benchmark set in the oracle-checked face. 7 is chosen so the
    * corpus's planted near-dup pairs actually straddle the split
    * (8 contaminated rows at sf0.01); a sparser split (e.g. %97)
    * verified vacuously with 0 rows. */
  val BenchIdMod = 7

  def d08(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // oracle face pins maxDf = None (DuckDB replays exhaustive join)
    decontaminate(
      docs.filter(col("doc_id") % BenchIdMod =!= 0),
      docs.filter(col("doc_id") % BenchIdMod === 0),
      maxDf = None)
  }

  lazy val d08Sql: String =
    raw"""WITH $winnowFpsSql
       SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS shared
       FROM fps c JOIN fps b ON c.fp = b.fp
       WHERE c.doc_id % $BenchIdMod <> 0 AND b.doc_id % $BenchIdMod = 0
       GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared"""

  // ---------------------------------------------------------------
  // d12: bloom-prefiltered decontamination — the 100 TB acceleration
  // of d08, result-identical by construction. d08's cost at scale is
  // the corpus-side fp frame entering the equi-join shuffle: EVERY
  // corpus fingerprint is hashed, shuffled and sorted even though
  // only the tiny fraction colliding with an eval fingerprint can
  // contribute. d12 builds a bloom filter over the eval fp set (a
  // distributed aggregate — the bits, never the fps, reach the
  // driver) and probes it scan-side via the codegen'd native
  // expression, so the shuffle carries only probable candidates. The
  // bloom's one-sided error is what makes this EXACT: false positives
  // are eliminated by the downstream exact join, false negatives are
  // impossible — so d12 == d08 row-for-row (spec-asserted, and the
  // oracle IS d08's), while the shuffled volume drops by ~(1 - fpp)
  // for a disjoint corpus. This is Spark's InjectRuntimeFilter made
  // explicit and artifact-shippable: the filter bytes can persist
  // next to a pinned eval set and be reused every ingest run without
  // re-aggregating (the 41f streaming gate's natural batch-side
  // companion).
  // ---------------------------------------------------------------

  /** Bloom-accelerated [[decontaminate]] (exhaustive-count semantics,
    * maxDf = None): identical output, candidate-only shuffle. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      minShared: Int = WinnowMinShared, fpp: Double = 0.01): DataFrame = {
    val s = corpus.sparkSession
    val bf = winnowFps(benchmark)
      .select(col("doc_id").as("bench_id"), col("fp"))
      .transform(graft.CacheRegistry.register)
    // build-side count is an aggregate over the (cached) eval frame —
    // eval sets are benchmark-sized by construction (the 41f rule)
    val bloom = bf.stat.bloomFilter("fp", math.max(bf.count(), 1L), fpp)
    val cf = winnowFps(corpus)
      .filter(graft.plans.GraftFunctions.bloomContains(s, col("fp"), bloom))
    cf.join(bf, Seq("fp"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  def d12(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    bloomDecontaminate(
      docs.filter(col("doc_id") % BenchIdMod =!= 0),
      docs.filter(col("doc_id") % BenchIdMod === 0))
  }

  // ---------------------------------------------------------------
  // d03: MinHash + LSH — 16 min-hashes per doc from ONE md5 per
  // shingle (a universal-hash family (a_i·h + b_i) mod p over the
  // md5-derived base value — 16 modmuls instead of 16 digests, ~5×
  // cheaper), 4 bands × 4 rows, candidates = band-key collisions
  // (equi-join), then exact-Jaccard verification of candidates only.
  // Constants are Scala-computed and inlined into both engines'
  // plans, so the oracle replays the signatures exactly.
  // ---------------------------------------------------------------
  val MinhashP = 2147483647L // 2^31 - 1; a·h + b stays well under 2^63
  def hashA(i: Int): Long = 2L * ((i.toLong * 2654435761L) % 1048573L) + 1L
  def hashB(i: Int): Long = (i.toLong * 40503L) % 65521L

  def d03(s: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(s, dir))

  /** Production face: MinHash+LSH near-dup pairs of any (doc_id,
    * text) frame. */
  def minhashPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val sh = docs
      .select(col("doc_id"),
        explode(graft.plans.GraftFunctions.shingles(s, col("text"), ShingleN))
          .as("shingle"))
      .transform(graft.CacheRegistry.register)
    // native 60-bit md5 prefix: same value as
    // conv(substring(md5(shingle),1,15),16,10) without the hex string
    // round-trip (property-pinned)
    val base = graft.plans.GraftFunctions.md5Prefix60(s, col("shingle")) % MinhashP
    val hv = sh.select(col("doc_id"), base.as("h"))
    // signature AND set size from ONE groupBy (sizes are needed again
    // for Jaccard verification — a second shuffle over the shingle set
    // would be pure waste)
    val sigAggs = (0 until NumHashes).map(i =>
      min((lit(hashA(i)) * col("h") + lit(hashB(i))) % MinhashP).as(s"h$i")) :+
      count(lit(1)).as("n")
    val sigs = hv.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
    val r = NumHashes / Bands
    val bandKeys = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until r).map(k =>
          col(s"h${b * r + k}").cast("string")): _*)).as("key"))
    }
    val banded = sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b")).distinct()

    val sizes = sigs.select(col("doc_id"), col("n"))
    // Exact-Jaccard verification stays a pairwise count-join: on a
    // templated corpus LSH band collisions reach most documents, so a
    // collect_set + array_intersect variant (measured) moves nearly
    // every posting AND pays a per-pair intersect — 2.5x slower at
    // sf0.1 than counting co-occurrences through the hash join.
    val inter = cand
      .join(sh.as("sa"), col("a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("b") === col("sb.doc_id") &&
        col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id"), col("n").as("na")), col("a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n").as("nb")), col("b") === col("doc_id")).drop("doc_id")
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jacc"))
      .filter(col("jacc") >= JaccardThreshold)
  }

  val d03Sql: String =
    raw"""WITH $shSql,
       hv AS (
         SELECT doc_id,
                CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % $MinhashP AS h
         FROM sh),
       hashes AS (
         SELECT doc_id, i,
                min(((2*((i*2654435761) % 1048573)+1) * h + (i*40503) % 65521) % $MinhashP) AS mh
         FROM hv, LATERAL (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS i)
         GROUP BY 1, 2),
       banded AS (
         SELECT doc_id, i // ${NumHashes / Bands} AS band,
                md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS key
         FROM hashes GROUP BY doc_id, i // ${NumHashes / Bands}),
       cand AS (
         SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       inter AS (
         SELECT c.a, c.b, count(*) AS inter
         FROM cand c
         JOIN sh sa ON sa.doc_id = c.a
         JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
         GROUP BY 1, 2)
       SELECT a, b, CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) AS jacc
       FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
       WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= $JaccardThreshold"""

  // ---------------------------------------------------------------
  // d04: 64-bit SimHash hamming near-dup. Signature = the native
  // SimHash64 expression (graft.plans) — a fused per-row loop, NO
  // shuffle (the explode + 64-conditional-sum aggregation needed a
  // 750k-row shuffle at sf0.1 and ~6 s; this is a narrow map). Pairs
  // via 4×16-bit band equi-join (hamming ≤ 3 guarantees one
  // identical band), hamming = bit_count(xor). Rows-only driver
  // check, semantics in DedupSpec.
  // ---------------------------------------------------------------

  /** (doc_id, sim) with sim = 64-bit SimHash as a long. Narrow map,
    * no shuffle. */
  def simhash(docs: DataFrame, docCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // explicit null-text filter + coalesce (never fires after the
    // filter) makes `sim` NON-NULLABLE — otherwise the band equi-join
    // infers isnotnull(key) and re-evaluates the whole simhash inside
    // a Filter, doubling the dominant per-row cost. Semantics
    // unchanged: null-text rows never banded either way.
    docs.filter(col(textCol).isNotNull)
      .select(col(docCol),
        coalesce(graft.plans.GraftFunctions.simhash64(
          docs.sparkSession, col(textCol)), lit(0L)).as("sim"))

  def d04(s: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(s, dir))

  /** Production face: SimHash hamming≤3 near-dup pairs of any
    * (doc_id, text) frame. */
  def simhashPairs(docsIn: DataFrame): DataFrame = {
    val docs = simhash(docsIn)
    val banded = docs.select(col("doc_id"), col("sim"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sim"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  // ---------------------------------------------------------------
  // d04b: SimHash semantics, externally checked — the same
  // tokenize → per-token hash → per-bit majority vote as the native
  // d04 expression, but over a PORTABLE 60-bit md5-derived token hash
  // (15 hex chars, the minhash trick) so DuckDB replays the signature
  // bit-for-bit. The native xxhash64 expression stays the production
  // path (narrow map, codegen); this is its correctness anchor.
  // ---------------------------------------------------------------
  val SimBits = 60

  def d04b(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        graft.plans.GraftFunctions.md5Prefix60(s, col("tok")).as("h"))
    val voteAggs = (0 until SimBits).map(k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1L) === 1L, 1).otherwise(-1))
        .as(s"v$k"))
    val votes = toks.groupBy(col("doc_id")).agg(voteAggs.head, voteAggs.tail: _*)
    votes.select(col("doc_id"),
      (0 until SimBits).map(k =>
        when(col(s"v$k") > 0, lit(1L << k)).otherwise(lit(0L))).reduce(_ + _)
        .as("sim"))
  }

  lazy val d04bSql: String = {
    val votes = (0 until SimBits).map(k =>
      s"sum(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS v$k")
      .mkString(",\n         ")
    val bits = (0 until SimBits).map(k =>
      s"CASE WHEN v$k > 0 THEN ${1L << k} ELSE 0 END").mkString(" + ")
    raw"""WITH toks AS (
         SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
         FROM documents),
       hashes AS (
         SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
         FROM toks WHERE tok <> ''),
       votes AS (
         SELECT doc_id,
         $votes
         FROM hashes GROUP BY 1)
       SELECT doc_id, $bits AS sim FROM votes"""
  }

  // ---------------------------------------------------------------
  // d05: embedding-cosine near-dup. Candidate blocking on the cluster
  // label (at scale: a coarse quantizer / IVF cell id), exact cosine
  // verification within blocks only.
  // ---------------------------------------------------------------
  val CosineThreshold = 0.4

  def d05(s: SparkSession, dir: String): DataFrame =
    embeddingNearDup(Tables.embeddings(s, dir))

  /** Production face: blocked cosine near-dup pairs of any (vec_id,
    * embedding, label) frame — `label` is the blocking key (at scale:
    * a coarse-quantizer cell id, e.g. from the s03 KMeans model). */
  def embeddingNearDup(e: DataFrame,
      threshold: Double = CosineThreshold): DataFrame = {
    val s = e.sparkSession
    val a = e.select(col("label"), col("vec_id").as("a"), col("embedding").as("ea"))
    val b = e.select(col("label"), col("vec_id").as("b"), col("embedding").as("eb"))
    a.join(b, Seq("label"))
      .filter(col("a") < col("b"))
      .select(col("label"), col("a"), col("b"),
        graft.plans.GraftFunctions.cosine(s, col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  val d05Sql: String =
    s"""SELECT a.label AS label, a.vec_id AS a, b.vec_id AS b,
         list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), x -> x[1]*x[2]))
         / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x*x)))
          * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x*x)))) AS cos
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), x -> x[1]*x[2]))
         / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x*x)))
          * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x*x)))) >= $CosineThreshold"""

  // ---------------------------------------------------------------
  // d16: dedup-method agreement audit — the comparison that tells you
  // WHICH near-dup detector to trust on a given corpus: pairwise
  // overlap (common pairs + Jaccard of the pair SETS) between the
  // three detectors (d02 shingle-Jaccard, d07 winnowing fingerprints,
  // d10 K-gram runs). Methodology face, the s12 pattern applied to
  // dedup: each method's oracle SQL composes as a CTE, so the whole
  // audit is driver-checked. Everything downstream of the three
  // (already pair-sized) frames is trivially small.
  //
  // The SHIPPED plan runs the CAPPED detectors (r13 verdict: an
  // exhaustive audit is a quadratic candidate join on whatever hot
  // shingle exists at 100 TB). The oracle still replays the
  // exhaustive CTEs: on any corpus whose max posting df sits under
  // the cap — every sf test corpus — the capped decomposition is
  // provably identical output (and, via the adaptive short-circuit,
  // the identical physical join), so capped == exhaustive is itself
  // a driver-checked fact here and spec-pinned besides. The one
  // shared documents cache feeds all three detectors (one text scan,
  // not three).
  // ---------------------------------------------------------------

  def d16(s: SparkSession, dir: String,
      maxDf: Option[Int] = Some(DefaultMaxDf)): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .transform(graft.CacheRegistry.register)
    // The three detectors are independent pipelines over the shared
    // docs cache: build AND materialize them concurrently (Spark's
    // scheduler interleaves concurrent jobs; the BlockManager's
    // per-partition compute-or-wait makes racing on the shared cache
    // safe), so the capped path's adaptive probes and the three pair
    // materializations overlap instead of serializing — audit wall
    // time tracks max(detector), not the sum.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // A dedicated 3-thread pool, NOT the global fork-join pool: on a
    // low-core host global's parallelism (= cores) could serialize
    // the three blocking count()s and silently negate the
    // max(detector) wall-time claim. The await is bounded: an
    // executor-side hang should fail loudly naming the audit, not
    // hold the driver thread forever (30 min is ~100x the sf0.1
    // audit and generous for any healthy sf). On timeout the
    // detectors' Spark jobs are CANCELLED by job group and the pool
    // threads interrupted (shutdownNow) — a plain shutdown() would
    // leave three non-daemon threads blocked in count() and the hung
    // jobs burning the cluster forever.
    val jobGroup = s"graft-d16-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val sets = try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val defs: Seq[(String, () => DataFrame)] = Seq(
        "d02_jaccard" -> (() => jaccardPairs(docs, maxDf = maxDf)),
        "d07_winnow" -> (() => winnowPairs(docs, maxDf = maxDf)),
        "d10_runs" -> (() => runOverlapPairs(docs, maxDf = maxDf)))
      val sc = docs.sparkSession.sparkContext
      try Await.result(
        Future.traverse(defs) { case (n, f) =>
          Future {
            // job-group properties are thread-local — set in the
            // worker so the timeout path can cancel exactly these jobs
            sc.setJobGroup(jobGroup,
              s"d16 dedup-compare detector $n", interruptOnCancel = true)
            val p = f().select(col("a"), col("b"))
              .transform(graft.CacheRegistry.register)
            p.count() // force the cache now, overlapped with the others
            n -> p
          }
        }, 30.minutes)
      catch {
        // CATCH-ALL, not just timeout (r15 advice): if ONE detector
        // future fails for any reason, Await rethrows immediately —
        // without cancellation the other two detectors' Spark jobs
        // and the non-daemon pool threads would run to completion
        // against a result nobody will read. Every failure path
        // releases the cluster.
        case t: Throwable =>
          docs.sparkSession.sparkContext.cancelJobGroup(jobGroup)
          pool.shutdownNow()
          t match {
            case _: java.util.concurrent.TimeoutException =>
              throw new IllegalStateException(
                "d16 dedup-compare: a detector materialization " +
                  "(d02_jaccard/d07_winnow/d10_runs) did not finish within " +
                  "30 minutes — its jobs were cancelled (group " +
                  s"$jobGroup)")
            case _ => throw t
          }
      }
    } finally pool.shutdown()
    // fully declarative: per combo, three 1-row count aggregates
    // cross-joined into one output row — no driver-side actions
    val rows = for {
      ((na, fa), i) <- sets.zipWithIndex
      ((nb, fb), j) <- sets.zipWithIndex
      if i < j
    } yield fa.agg(count(lit(1)).as("pairs_a"))
      .crossJoin(fb.agg(count(lit(1)).as("pairs_b")))
      .crossJoin(fa.join(fb, Seq("a", "b"))
        .agg(count(lit(1)).as("common")))
      .select(lit(na).as("method_a"), lit(nb).as("method_b"),
        col("pairs_a"), col("pairs_b"), col("common"),
        round(col("common").cast("double") /
          (col("pairs_a") + col("pairs_b") - col("common")), 6)
          .as("jaccard"))
    rows.reduce(_ union _)
  }

  lazy val d16Sql: String =
    s"""WITH pa AS (SELECT a, b FROM ($d02Sql)),
       pb AS (SELECT a, b FROM ($d07Sql)),
       pc AS (SELECT a, b FROM ($d10Sql)),
       ca AS (SELECT count(*) AS n FROM pa),
       cb AS (SELECT count(*) AS n FROM pb),
       cc AS (SELECT count(*) AS n FROM pc),
       ab AS (SELECT count(*) AS n FROM pa JOIN pb USING (a, b)),
       ac AS (SELECT count(*) AS n FROM pa JOIN pc USING (a, b)),
       bc AS (SELECT count(*) AS n FROM pb JOIN pc USING (a, b))
       SELECT 'd02_jaccard' AS method_a, 'd07_winnow' AS method_b,
         ca.n AS pairs_a, cb.n AS pairs_b, ab.n AS common,
         round(CAST(ab.n AS DOUBLE)/(ca.n + cb.n - ab.n), 6) AS jaccard
       FROM ca, cb, ab
       UNION ALL
       SELECT 'd02_jaccard', 'd10_runs', ca.n, cc.n, ac.n,
         round(CAST(ac.n AS DOUBLE)/(ca.n + cc.n - ac.n), 6)
       FROM ca, cc, ac
       UNION ALL
       SELECT 'd07_winnow', 'd10_runs', cb.n, cc.n, bc.n,
         round(CAST(bc.n AS DOUBLE)/(cb.n + cc.n - bc.n), 6)
       FROM cb, cc, bc"""

  // ---------------------------------------------------------------
  // d14: duplication-aware SOFT dedup — training weights instead of
  // drops. Hard dedup (d06: keep the component min) erases the
  // popularity signal entirely and bets the kept copy is the best
  // one; the soft alternative keeps every document and weights it
  // 1/|near-dup cluster|, so each unique content item contributes
  // ONE document's worth of mass to the training mixture no matter
  // how many times it was crawled — the standard duplication-aware
  // sampling posture when the sampler consumes weights (c04/c12/c14
  // all take per-doc weights downstream). Output carries the cluster
  // label, its size, the weight, and the canonical flag (the member
  // hard dedup would keep), so one frame serves both postures.
  //
  // Scale: everything past the d06 component frame is one
  // component-keyed count + a node-keyed join — the same shapes d06
  // already pays. The face pins maxDf = None so DuckDB replays the
  // exhaustive pair set (the d06 convention); production callers
  // pass capped or prefix-filtered pairs into [[softDedupWeights]].
  // ---------------------------------------------------------------

  /** Per-doc soft-dedup weights from a near-dup pair frame:
    * (doc_id, component, csize, weight = 1/csize, canonical). */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(
      pairs.select(col("a"), col("b")),
      docs.select(col("doc_id").as("id")))
    val sizes = comps.groupBy(col("component"))
      .agg(count(lit(1)).as("csize"))
    comps.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component"), col("csize"),
        round(lit(1.0) / col("csize"), 6).as("weight"),
        (col("id") === col("component")).as("canonical"))
  }

  def d14(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // routed pair stage — plain on the oracle corpora (d06's note)
    softDedupWeights(docs, autoPairs(docs))
  }

  /** The oracle wraps d06's recursive-CTE components (the c23
    * convention) with the size rollup and weight arithmetic. */
  val d14Sql: String =
    s"""WITH comp AS ($d06Sql),
       sz AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1)
       SELECT c.doc_id, c.component, sz.csize,
         round(1.0 / sz.csize, 6) AS weight,
         c.doc_id = c.component AS canonical
       FROM comp c JOIN sz ON c.component = sz.component"""

  // ---------------------------------------------------------------
  // d18: source-priority survivorship dedup — WHICH copy to keep.
  // d06's hard dedup keeps the component-min doc_id (an arbitrary
  // tie-break) and d14 keeps everything at fractional weight; real
  // corpus assembly ranks SOURCES (curated > licensed > web crawl)
  // and keeps each near-dup cluster's copy from the best one — the
  // survivorship idea f35 applies to ER records, applied to
  // documents. Output is the per-doc AUDIT frame (every member with
  // its cluster, size, priority and the keep verdict), so the drop
  // set, the survivor set, and the provenance report (c22) all read
  // off one result.
  //
  // Scale: past the d06 component frame this is one broadcast join
  // against the source-cardinality priority table plus one
  // (component)-keyed window — the shapes d06 already pays. The
  // priority table is a first-class input (the production case is a
  // curated ranking, not a derivable rule); the face derives it from
  // the source id so the oracle replays it exactly.
  // ---------------------------------------------------------------

  /** Per-doc survivorship verdicts from a near-dup pair frame and a
    * (source, priority) ranking (lower = better, broadcast-sized):
    * (doc_id, component, csize, source, priority, keep) — exactly one
    * keep per cluster: best priority, tie → doc_id asc. The join to
    * the ranking is LEFT (the audit-frame contract: EVERY member
    * appears) — a source the caller's ranking omits gets a null
    * priority that sorts LAST, so unranked copies never beat ranked
    * ones and still receive an explicit keep/drop verdict instead of
    * silently vanishing from the audit. */
  def priorityDedup(docs: DataFrame, pairs: DataFrame,
      priority: DataFrame): DataFrame = {
    val comps = connectedComponents(
      pairs.select(col("a"), col("b")),
      docs.select(col("doc_id").as("id")))
    val members = comps
      .join(docs.select(col("doc_id"), col("source")),
        col("id") === col("doc_id"))
      .join(broadcast(priority), Seq("source"), "left")
    val byComp = Window.partitionBy(col("component"))
    val w = byComp.orderBy(col("priority").asc_nulls_last, col("doc_id").asc)
    members
      .withColumn("rk", row_number().over(w))
      .withColumn("csize", count(lit(1)).over(byComp))
      .select(col("doc_id"), col("component"), col("csize"), col("source"),
        col("priority"), (col("rk") === 1).as("keep"))
  }

  /** The face's ranking: the source id's numeric suffix (src3 → 3) —
    * a stand-in for the curated source-tier list a real assembly
    * pins; derived from data so both engines replay it. */
  private def sourceSuffixPriority(docs: DataFrame): DataFrame =
    docs.select(col("source")).distinct()
      .withColumn("priority",
        substring(col("source"), 4, 10).cast("long"))

  def d18(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // routed pair stage — plain on the oracle corpora (d06's note)
    priorityDedup(docs, autoPairs(docs), sourceSuffixPriority(docs))
  }

  /** Wraps d06's recursive-CTE components with the priority join and
    * the survivorship window (the d14 convention). */
  val d18Sql: String =
    s"""WITH comp AS ($d06Sql),
       m AS (SELECT c.doc_id, c.component, d.source,
               CAST(substring(d.source, 4) AS BIGINT) AS priority
             FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
       rk AS (SELECT *,
                row_number() OVER (PARTITION BY component
                  ORDER BY priority, doc_id) AS rk,
                count(*) OVER (PARTITION BY component) AS csize
              FROM m)
       SELECT doc_id, component, CAST(csize AS BIGINT) AS csize, source,
         priority, rk = 1 AS keep
       FROM rk"""

  // ---------------------------------------------------------------
  // d19: cross-source overlap matrix — WHO copies from WHOM: the
  // corpus-forensics measurement dataset papers publish (how much of
  // source X is near-duplicated in source Y — the CommonCrawl/C4/
  // Pile-style overlap studies), and the input to a deduplication
  // ORDER decision (dedup the most-overlapping source pair first).
  // For each unordered source pair (within-source included): the
  // near-dup pair count and the number of distinct documents
  // involved. Rides the shared pair frame — the matrix is one
  // source-attach + two source-pair-keyed aggregates past whatever
  // gear produced the pairs (face pins maxDf = None, the d06 oracle
  // convention; production passes capped/prefix pairs).
  // ---------------------------------------------------------------

  /** (source_a, source_b, n_pairs, n_docs) per unordered source pair
    * with at least one near-dup pair; source_a ≤ source_b. */
  def sourceOverlap(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val m = pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("a"), col("b"))
      .transform(graft.CacheRegistry.register) // pair-sized, consumed 2×
    val nPairs = m.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = m
      .select(col("source_a"), col("source_b"),
        explode(array(col("a"), col("b"))).as("d"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count_distinct(col("d")).as("n_docs"))
    nPairs.join(nDocs, Seq("source_a", "source_b"))
  }

  def d19(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // routed pair stage — plain on the oracle corpora (d06's note)
    sourceOverlap(docs, autoPairs(docs))
  }

  /** Wraps d02's exhaustive pair replay with the source-pair rollup
    * (the d14 composition convention). */
  val d19Sql: String =
    s"""WITH p AS ($d02Sql),
       s AS (SELECT doc_id, source FROM documents),
       m AS (SELECT least(sa.source, sb.source) AS source_a,
               greatest(sa.source, sb.source) AS source_b, a, b
             FROM p JOIN s sa ON a = sa.doc_id JOIN s sb ON b = sb.doc_id),
       np AS (SELECT source_a, source_b, count(*) AS n_pairs
              FROM m GROUP BY 1, 2),
       nd AS (SELECT source_a, source_b,
                CAST(count(DISTINCT d) AS BIGINT) AS n_docs
              FROM (SELECT source_a, source_b, a AS d FROM m
                    UNION ALL SELECT source_a, source_b, b FROM m)
              GROUP BY 1, 2)
       SELECT source_a, source_b, n_pairs, n_docs
       FROM np JOIN nd USING (source_a, source_b)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d19_source_overlap" -> (d19 _),
    "d18_priority_dedup" -> (d18 _),
    "d14_soft_dedup" -> (d14 _),
    "d01_dedup_exact" -> (d01 _),
    // shipped plan is the CAPPED audit; the oracle replays the
    // exhaustive CTEs, equal by the under-cap corpus property
    "d16_dedup_compare" -> ((s: SparkSession, dir: String) => d16(s, dir)),
    "d17_threshold_curve" -> (d17 _),
    "d02_ngram_jaccard" -> ((s: SparkSession, dir: String) => d02(s, dir, maxDf = None)),
    // the prefix-filtered generator against the SAME exhaustive SQL —
    // "prefix filtering loses nothing" is a driver-checked guarantee
    "d02p_prefix_jaccard" -> (d02p _),
    "d03_minhash_lsh" -> (d03 _),
    "d04_simhash" -> (d04 _),
    "d04b_simhash_core" -> (d04b _),
    "d05_embedding_neardup" -> (d05 _),
    "d06_dedup_clusters" -> (d06 _),
    "d07_winnow_pairs" -> (d07 _),
    "d08_decontaminate" -> (d08 _),
    "d12_bloom_decontaminate" -> (d12 _),
    "d10_run_overlap" -> ((s: SparkSession, dir: String) => d10(s, dir, maxDf = None)),
    "d11_contamination_report" -> ((s: SparkSession, dir: String) => d11(s, dir)))

  val oracles: Map[String, String] = Map(
    "d19_source_overlap" -> d19Sql,
    "d18_priority_dedup" -> d18Sql,
    "d14_soft_dedup" -> d14Sql,
    "d01_dedup_exact" -> d01Sql,
    "d16_dedup_compare" -> d16Sql,
    "d17_threshold_curve" -> d17Sql,
    "d02_ngram_jaccard" -> d02Sql,
    // d02p is d02's exhaustive semantics through prefix-filtered
    // candidate generation — the oracle is therefore d02's own SQL
    // (the d12/d08 convention: equal-by-construction, driver-checked)
    "d02p_prefix_jaccard" -> d02Sql,
    "d03_minhash_lsh" -> d03Sql,
    "d04b_simhash_core" -> d04bSql,
    "d05_embedding_neardup" -> d05Sql,
    "d06_dedup_clusters" -> d06Sql,
    "d07_winnow_pairs" -> d07Sql,
    "d08_decontaminate" -> d08Sql,
    // d12 is d08 with a scan-side bloom pre-filter whose false
    // positives the exact join removes — the oracle is therefore
    // d08's own SQL, making "bloom changes nothing" a driver-checked
    // guarantee, not just a spec claim
    "d12_bloom_decontaminate" -> d08Sql,
    "d10_run_overlap" -> d10Sql,
    "d11_contamination_report" -> d11Sql)
}
