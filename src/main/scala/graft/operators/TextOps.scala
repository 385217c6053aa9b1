package graft.operators

import graft.Tables
import graft.functions.TextAnalysis._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis queries over the documents corpus (SURVEY.md §2 rows
  * 26–29). Each oracle SQL is generated from the same constants as the
  * Spark expressions, so both engines evaluate the identical function.
  *
  * Scale: every query is scan → narrow codegen'd projection → one
  * groupBy shuffle on a low-cardinality key. No UDFs, no collect.
  */
object TextOps {

  // ---- shared SQL fragments (same constants as the Column exprs) ----

  private[operators] def sqlHits(words: Seq[String]): String =
    s"len(list_distinct(regexp_extract_all(t, '${stopwordRegex(words)}', 1)))"

  /** DuckDB needs the 'g' flag for global regexp_replace (Spark is
    * global by default). */
  private[operators] val sqlFingerprint =
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"

  private[operators] val sqlNw =
    "CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"

  /** Language-ID decision CASE over hit-count columns s_en/s_es/s_de/
    * s_fr and a `han` boolean — the shared fragment of t01 and the
    * corpus-clean cascade. */
  private[operators] val sqlPredLang: String =
    """CASE WHEN han THEN 'zh'
         WHEN s_en + s_es + s_de + s_fr = 0 THEN 'und'
         WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         WHEN s_de >= s_fr THEN 'de'
         ELSE 'fr' END"""

  /** Quality-score arithmetic over columns nw/sh/pc/nc — shared by t02
    * and the corpus-clean cascade. */
  private[operators] val sqlQuality: String =
    """0.4 * CAST(least(nw, 200) AS DOUBLE)/200.0
     + 0.4 * CAST(sh AS DOUBLE)/CAST(greatest(nw, 1) AS DOUBLE)
     + 0.2 * (1.0 - least(CAST(pc AS DOUBLE)/CAST(greatest(nc, 1) AS DOUBLE), 1.0))"""

  // ---------------------------------------------------------------
  // t01: language ID confusion matrix — labeled lang × predicted.
  // ---------------------------------------------------------------
  def t01(s: SparkSession, dir: String): DataFrame =
    withLangId(Tables.documents(s, dir), col("text"), "pred_lang")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  val t01Sql: String = {
    val m = StopwordSets.toMap
    s"""WITH d AS (SELECT lang, lower(text) AS t FROM documents),
       s AS (SELECT lang, ${sqlHits(m("en"))} AS s_en, ${sqlHits(m("es"))} AS s_es,
               ${sqlHits(m("de"))} AS s_de, ${sqlHits(m("fr"))} AS s_fr,
               regexp_matches(t, '$HanRange') AS han FROM d)
       SELECT lang, $sqlPredLang AS pred_lang,
         count(*) AS n
       FROM s GROUP BY 1, 2"""
  }

  // ---------------------------------------------------------------
  // t02: quality scoring — per-bucket counts + mean score.
  // ---------------------------------------------------------------
  def t02(s: SparkSession, dir: String): DataFrame = {
    withQuality(Tables.documents(s, dir), col("text"), "quality")
      .select(col("doc_id"), col("quality"))
      .withColumn("bucket", qualityBucket(col("quality")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("quality"), 6).cast("decimal(25,8)")).cast("double") /
          count(lit(1))).as("mean_quality"))
  }

  val t02Sql: String =
    s"""WITH d AS (SELECT doc_id, lower(text) AS t, text, len(text) AS nc FROM documents),
       c AS (SELECT doc_id, $sqlNw AS nw,
               len(regexp_extract_all(t, '${stopwordRegex(QualityStopwords)}')) AS sh,
               len(regexp_extract_all(t, '[^a-z0-9\\s]')) AS pc, nc FROM d),
       q AS (SELECT doc_id, $sqlQuality AS quality
             FROM c)
       SELECT CASE WHEN quality >= 0.45 THEN 'HIGH'
                   WHEN quality >= 0.30 THEN 'MEDIUM' ELSE 'LOW' END AS bucket,
              count(*) AS n,
              CAST(sum(CAST(round(quality, 6) AS DECIMAL(25,8))) AS DOUBLE)/count(*) AS mean_quality
       FROM q GROUP BY 1"""

  // ---------------------------------------------------------------
  // t03: token counting per source — whitespace + BPE-ish regex.
  // ---------------------------------------------------------------
  def t03(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), wsTokenCount(col("text")).as("ws"),
        reTokenCount(lower(col("text"))).as("re"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("re")).as("re_tokens"))

  val t03Sql: String =
    s"""SELECT source, count(*) AS docs,
       CAST(sum($sqlNw) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(lower(text), '$ReTokenPattern'))) AS BIGINT) AS re_tokens
       FROM documents GROUP BY 1"""

  // ---------------------------------------------------------------
  // t04: document fingerprinting — canonical digest per doc.
  // ---------------------------------------------------------------
  def t04(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.plans.GraftFunctions.fingerprint(s, col("text")).as("fp"),
        col("n_chars"))

  val t04Sql: String =
    s"SELECT doc_id, $sqlFingerprint AS fp, n_chars FROM documents"

  // ---------------------------------------------------------------
  // t05: repetition-based quality signals — the Gopher-style (Rae et
  // al. 2021) repetition filters a production corpus is actually
  // gated on, which t02's length/punct/stopword score cannot see: a
  // doc that is one phrase repeated 40x reads as HIGH quality to t02
  // (long, punctuation-free, stopword-bearing) while being training
  // poison. Three signals, all token-level and engine-portable:
  //   top1_frac — share of tokens taken by the most frequent token;
  //   top2_frac — share of tokens covered by the most frequent
  //               bigram (2 x count / ntok, capped at 1; overlapping
  //               occurrences counted — a cheap upper bound);
  //   dup3_frac — fraction of trigram occurrences whose trigram
  //               appears more than once in the doc.
  // A doc is flagged `repetitive` when the top bigram repeats (count
  // >= 2) and covers >= MinTop2Frac, or dup3_frac >= MinDup3Frac.
  // Thresholds calibrated on the documents corpus: natural docs top
  // out at top2 0.31 / dup3 0.042, while a phrase-repeat doc sits at
  // 0.40 / 1.0 — clean separation, zero natural false positives.
  //
  // Scale: one narrow gram-explode (~3 struct rows per token), a
  // (doc_id, sz, gram) count with map-side combine (repeated grams —
  // the thing being measured — compress in the partial agg), then a
  // per-doc rollup whose shuffle key is a prefix of the first. No
  // UDFs, no driver involvement.
  // ---------------------------------------------------------------

  val MinTop2Frac = 0.35
  val MinDup3Frac = 0.30

  /** Planted degenerate phrase for the t05 face (every 7th doc):
    * flags via BOTH signals (top2 0.40, dup3 1.0). */
  private[graft] val RepeatPhrase = "spam offer click here now"
  private[graft] val RepeatCount = 40

  /** Per-doc repetition metrics over any (doc_id, text) frame:
    * (doc_id, ntok, top1_frac, top2_frac, dup3_frac, repetitive).
    * Docs with blank text are dropped (no tokens to measure). */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val emptyGrams = array().cast("array<struct<sz:int,g:string>>")
    // the token array MUST be staged as a column before the gram
    // lambdas consume it: every element_at reference inside a
    // transform duplicates its subtree, and lambda-bearing trees are
    // excluded from codegen subexpression elimination — the inline
    // formulation re-ran split() per element access.
    // CollapseProject refuses to re-inline a multi-referenced
    // non-cheap producer, so `w` is computed once per row.
    val w = col("w")
    val uni = transform(w, t => struct(lit(1).as("sz"), t.as("g")))
    val bi = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1), i =>
        struct(lit(2).as("sz"),
          concat_ws(" ", element_at(w, i), element_at(w, i + 1)).as("g"))))
      .otherwise(emptyGrams)
    val tri = when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2), i =>
        struct(lit(3).as("sz"),
          concat_ws(" ", element_at(w, i), element_at(w, i + 1),
            element_at(w, i + 2)).as("g"))))
      .otherwise(emptyGrams)
    val top2c = coalesce(col("top2c"), lit(0L))
    val top2Frac = round(least(lit(2.0) * top2c / col("ntok"), lit(1.0)), 6)
    val dup3Frac = round(
      coalesce(col("dup3").cast("double") / col("ntri"), lit(0.0)), 6)
    docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(concat(uni, bi, tri)).as("gr"))
      .select(col("doc_id"), col("gr.sz").as("sz"), col("gr.g").as("g"))
      .groupBy(col("doc_id"), col("sz"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("sz") === 1, col("c"))).as("ntok"),
        max(when(col("sz") === 1, col("c"))).as("top1c"),
        max(when(col("sz") === 2, col("c"))).as("top2c"),
        sum(when(col("sz") === 3, col("c"))).as("ntri"),
        sum(when(col("sz") === 3 && col("c") > 1, col("c"))).as("dup3"))
      .select(col("doc_id"), col("ntok"),
        round(col("top1c").cast("double") / col("ntok"), 6).as("top1_frac"),
        top2Frac.as("top2_frac"),
        dup3Frac.as("dup3_frac"),
        when(top2c >= 2 && top2Frac >= MinTop2Frac, 1L)
          .when(dup3Frac >= MinDup3Frac, 1L).otherwise(0L).as("repetitive"))
  }

  /** Face corpus: every 7th doc degenerates to [[RepeatPhrase]]
    * repeated [[RepeatCount]] times — t02 scores it acceptable, t05
    * must flag it; the other docs are the natural negatives. */
  def repetitionCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        rtrim(lit((RepeatPhrase + " ") * RepeatCount))).otherwise(col("text"))
        .as("text"))

  def t05(s: SparkSession, dir: String): DataFrame =
    repetitionMetrics(repetitionCorpus(Tables.documents(s, dir)))

  /** The repetition-metrics replay as CTE text over `src` (doc_id,
    * text): defines r-prefixed intermediates (composable next to the
    * cascade CTEs without name collisions) and `rep(doc_id, ntok,
    * top1_frac, top2_frac, dup3_frac, repetitive)`. */
  def repetitionCtes(src: String): String =
    raw"""rtoks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                FROM $src WHERE trim(text) <> ''),
       rgrams AS (
         SELECT doc_id, 1 AS sz, w[i] AS g FROM rtoks,
           LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
         UNION ALL
         SELECT doc_id, 2, w[i] || ' ' || w[i+1] FROM rtoks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-1, 0))) AS i)
         UNION ALL
         SELECT doc_id, 3, w[i] || ' ' || w[i+1] || ' ' || w[i+2] FROM rtoks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS i)),
       rcnt AS (SELECT doc_id, sz, g, count(*) AS c FROM rgrams GROUP BY 1, 2, 3),
       rm AS (SELECT doc_id,
               sum(CASE WHEN sz = 1 THEN c END) AS ntok,
               max(CASE WHEN sz = 1 THEN c END) AS top1c,
               max(CASE WHEN sz = 2 THEN c END) AS top2c,
               sum(CASE WHEN sz = 3 THEN c END) AS ntri,
               sum(CASE WHEN sz = 3 AND c > 1 THEN c END) AS dup3
             FROM rcnt GROUP BY 1),
       rep AS (SELECT doc_id, CAST(ntok AS BIGINT) AS ntok,
         round(CAST(top1c AS DOUBLE)/ntok, 6) AS top1_frac,
         round(least(2.0*coalesce(top2c, 0)/ntok, 1.0), 6) AS top2_frac,
         round(coalesce(CAST(dup3 AS DOUBLE)/ntri, 0.0), 6) AS dup3_frac,
         CAST(CASE WHEN (coalesce(top2c, 0) >= 2
                         AND round(least(2.0*coalesce(top2c, 0)/ntok, 1.0), 6) >= $MinTop2Frac)
                     OR round(coalesce(CAST(dup3 AS DOUBLE)/ntri, 0.0), 6) >= $MinDup3Frac
              THEN 1 ELSE 0 END AS BIGINT) AS repetitive
       FROM rm)"""

  val t05Sql: String =
    raw"""WITH src AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN rtrim(repeat('$RepeatPhrase ', $RepeatCount))
                  ELSE text END AS text FROM documents),
       ${repetitionCtes("src")}
       SELECT doc_id, ntok, top1_frac, top2_frac, dup3_frac, repetitive
       FROM rep"""

  /** The quality-model feature frame as CTE text (the ml02b serving
    * twin's oracle input): repetition corpus → lang/quality scoring +
    * repetition metrics, joined into `qfeat(doc_id, n_chars, ntok,
    * top1_frac, top2_frac, dup3_frac, label)` — exactly
    * ml.QualityModel.features' columns, built from the same shared
    * fragments the t01/t02/t05/c01 oracles replay hash-exact. */
  private[graft] def qualityFeatureCtes: String = {
    val m = StopwordSets.toMap
    raw"""qsrc AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN rtrim(repeat('$RepeatPhrase ', $RepeatCount))
                  ELSE text END AS text FROM documents),
       ${repetitionCtes("qsrc")},
       qd0 AS (SELECT doc_id, text, lower(text) AS t, len(text) AS nc FROM qsrc),
       qhits AS (SELECT *, ${sqlHits(m("en"))} AS s_en, ${sqlHits(m("es"))} AS s_es,
                ${sqlHits(m("de"))} AS s_de, ${sqlHits(m("fr"))} AS s_fr,
                regexp_matches(t, '$HanRange') AS han,
                $sqlNw AS nw,
                len(regexp_extract_all(t, '${stopwordRegex(QualityStopwords)}')) AS sh,
                len(regexp_extract_all(t, '[^a-z0-9\s]')) AS pc
                FROM qd0),
       qscored AS (SELECT doc_id, nc, $sqlPredLang AS pred_lang,
                     $sqlQuality AS quality FROM qhits),
       qfeat AS (SELECT s.doc_id,
           CAST(s.nc AS DOUBLE) AS n_chars,
           CAST(r.ntok AS DOUBLE) AS ntok,
           r.top1_frac, r.top2_frac, r.dup3_frac,
           CASE WHEN s.pred_lang <> 'und' AND s.quality >= ${Corpus.MinQuality}
                     AND r.repetitive = 0 THEN 1 ELSE 0 END AS label
         FROM qscored s JOIN rep r ON s.doc_id = r.doc_id)"""
  }

  // ---------------------------------------------------------------
  // t06: Unicode normalization pass — the canonical first stage of a
  // web-scale text pipeline (before fingerprinting/dedup, so that
  // "Café" composed and "Cafe" + U+0301 hash identically): NFC
  // composition (native `graft_nfc` — Spark has no built-in
  // normalizer; the expression stays codegen'd), strip C0/DEL control
  // characters except tab/newline, collapse space runs, trim. DuckDB
  // replays it with utf8proc's `nfc_normalize` — canonical
  // composition is Unicode-stability-guaranteed, so JDK and utf8proc
  // agree bit-exactly (the spec pins the composed case).
  //
  // Scale: scan -> narrow codegen'd projection, no shuffle at all.
  // The isNormalized fast path makes already-clean text (the corpus
  // majority) a single allocation-free scan.
  // ---------------------------------------------------------------

  /** Planted denormalization (every 5th doc): a combining-accent
    * sequence NFC must compose, a BEL control char, and double-space
    * runs — each exercising one normalization stage. */
  private[graft] val DenormPrefix = "Cafe\u0301\u0007  "
  private[graft] val DenormSuffix = "  ."

  def denormCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lit(DenormPrefix), col("text"), lit(DenormSuffix)))
        .otherwise(col("text")).as("text"))

  /** The normalization pipeline over a text column. */
  def normalizeText(s: SparkSession, c: Column): Column =
    trim(regexp_replace(regexp_replace(
      graft.plans.GraftFunctions.nfc(s, c),
      "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""), " {2,}", " "))

  def t06(s: SparkSession, dir: String): DataFrame =
    denormCorpus(Tables.documents(s, dir))
      .select(col("doc_id"), col("text"),
        normalizeText(s, col("text")).as("norm"))
      .select(col("doc_id"),
        (col("norm") =!= col("text")).cast("long").as("changed"),
        length(col("text")).cast("long").as("n_before"),
        length(col("norm")).cast("long").as("n_after"),
        md5(col("norm").cast("binary")).as("fp"))

  val t06Sql: String =
    raw"""WITH src AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN 'Cafe' || chr(769) || chr(7) || '  ' || text || '  .'
                  ELSE text END AS text FROM documents),
       nrm AS (SELECT doc_id, text,
                 trim(regexp_replace(regexp_replace(nfc_normalize(text),
                   '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'), ' {2,}', ' ', 'g')) AS norm
               FROM src)
       SELECT doc_id, CAST(norm <> text AS BIGINT) AS changed,
         CAST(len(text) AS BIGINT) AS n_before,
         CAST(len(norm) AS BIGINT) AS n_after,
         md5(norm) AS fp
       FROM nrm"""

  // ---------------------------------------------------------------
  // t07: TF-IDF keyword extraction — per-doc top-k characteristic
  // terms (tf·ln(N/df)), the document-tagging/labeling primitive (and
  // the classical relevance weighting BM25 refines). One (doc, term)
  // count shuffle; the vocabulary-sized df table joins back unhinted
  // (AQE broadcasts it while it fits); per-doc top-k is a
  // doc-partitioned rank window (WindowGroupLimit pushes the k-filter
  // below the shuffle, the s01 pattern — never a global sort).
  // ---------------------------------------------------------------

  val TfidfTopK = 3

  def t07(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir).filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.CacheRegistry.register)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = tf.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n"))
    val idf = round(log(col("n").cast("double") / col("df").cast("double")), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    // no broadcast hint on dfreq: it is VOCABULARY-cardinality
    // (Heaps-bounded but ~10^8 with noise tokens at 100 TB) — the
    // strategy is left to Catalyst/AQE stats, which broadcast it only
    // when it actually fits; the 1-row `n` stays hinted
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") * idf, 6).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
  }

  val t07Sql: String =
    raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
                  FROM documents WHERE trim(text) <> ''),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
       sc AS (SELECT doc_id, term,
                round(CAST(tf AS DOUBLE) * round(ln(CAST(n AS DOUBLE)/CAST(df AS DOUBLE)), 6), 6) AS score
              FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       r AS (SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
             FROM sc)
       SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
       FROM r WHERE rank <= $TfidfTopK"""

  // ---------------------------------------------------------------
  // t08: LM-perplexity quality scoring — the CCNet filter (Wenzek et
  // al. 2020): score every doc by its perplexity under a language
  // model fit on TARGET-domain exemplars; low-perplexity docs read
  // like the target. Here the LM is an add-α bigram model over the
  // labeled-en slice; per-doc cross-entropy is the mean of per-bigram
  // log-probs (each rounded and DECIMAL-summed — aggregation-order-
  // independent), ppl = exp(−H). Complements c12: DSIR reweights by a
  // bag-of-ngrams LLR, perplexity scores SEQUENCE plausibility.
  //
  // Scale: the model tables (bigram/unigram counts) are bounded by
  // target vocabulary (Heaps' law; at open-vocab scale hash tokens
  // into buckets exactly as c12 does) and join back UNHINTED — AQE
  // broadcasts them while they fit, shuffles when they don't; the
  // corpus side is one bigram explode + a per-doc rollup.
  // ---------------------------------------------------------------

  val PplAlpha = 0.1

  /** Per-doc perplexity of every doc under the bigram model fit on
    * `isTarget` docs: (doc_id, n_bigrams, ppl). Docs with fewer than
    * two tokens are not scored. */
  def perplexity(docs: DataFrame, isTarget: Column): DataFrame = {
    val w = col("w")
    val biArr = when(size(w) >= 2, transform(sequence(lit(1), size(w) - 1),
        i => struct(element_at(w, i).as("prev"),
          element_at(w, i + 1).as("cur"))))
      .otherwise(array().cast("array<struct<prev:string,cur:string>>"))
    val bg = docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), isTarget.cast("int").as("is_t"),
        split(lower(trim(col("text"))), "\\s+").as("w"))
      .select(col("doc_id"), col("is_t"), explode(biArr).as("b"))
      .select(col("doc_id"), col("is_t"),
        col("b.prev").as("prev"), col("b.cur").as("cur"))
      .transform(graft.CacheRegistry.register)
    val tc2 = bg.filter(col("is_t") === 1)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
      .transform(graft.CacheRegistry.register)
    val tc1 = tc2.groupBy(col("prev")).agg(sum(col("c2")).as("c1"))
    val vv = tc2.agg(count_distinct(col("cur")).cast("double").as("v"))
    val lp = round(log(
      (coalesce(col("c2"), lit(0L)).cast("double") + lit(PplAlpha)) /
        (coalesce(col("c1"), lit(0L)).cast("double") + lit(PplAlpha) * col("v"))), 6)
    // no broadcast hints on the LM tables: tc2 is bigram-TYPE
    // cardinality and tc1 unigram-type — both Heaps-grow with the
    // exemplar corpus, so forcing a broadcast contradicts the scale
    // posture; AQE broadcasts them while they fit (they do at any
    // test SF), shuffles when they don't. The 1-row vocab count
    // stays hinted.
    bg.join(tc2, Seq("prev", "cur"), "left")
      .join(tc1, Seq("prev"), "left")
      .crossJoin(broadcast(vv))
      .select(col("doc_id"), lp.as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp").cast("decimal(25,8)")).cast("double").as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(-(col("slp") / col("n_bigrams"))), 6).as("ppl"))
  }

  def t08(s: SparkSession, dir: String): DataFrame =
    perplexity(Tables.documents(s, dir), col("lang") === "en")

  val t08Sql: String =
    raw"""WITH toks AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS w
                  FROM documents WHERE trim(text) <> ''),
       bg AS (SELECT doc_id, lang, w[i] AS prev, w[i+1] AS cur FROM toks,
              LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-1, 0))) AS i)),
       tc2 AS (SELECT prev, cur, count(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1, 2),
       tc1 AS (SELECT prev, sum(c2) AS c1 FROM tc2 GROUP BY 1),
       vv AS (SELECT CAST(count(DISTINCT cur) AS DOUBLE) AS v FROM tc2),
       terms AS (SELECT b.doc_id,
           round(ln((CAST(coalesce(c2, 0) AS DOUBLE) + CAST('$PplAlpha' AS DOUBLE))
                  / (CAST(coalesce(c1, 0) AS DOUBLE) + CAST('$PplAlpha' AS DOUBLE) * v)), 6) AS lp
         FROM bg b LEFT JOIN tc2 ON b.prev = tc2.prev AND b.cur = tc2.cur
         LEFT JOIN tc1 ON b.prev = tc1.prev CROSS JOIN vv),
       h AS (SELECT doc_id, count(*) AS n,
               CAST(sum(CAST(lp AS DECIMAL(25,8))) AS DOUBLE) AS slp
             FROM terms GROUP BY 1)
       SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
         round(exp(-(slp / n)), 6) AS ppl
       FROM h"""

  // ---------------------------------------------------------------
  // t09: lexical-diversity quality signals — unigram Shannon entropy,
  // normalized entropy and type-token ratio per doc. The complement
  // of t05's repetition fractions: t05 catches a doc dominated by ONE
  // repeated token/phrase, entropy catches the broader degenerate
  // distributions (keyword-stuffed spam, template chatter, RNG noise)
  // whose mass is spread over a few dozen tokens — the
  // distribution-level signal corpus quality stacks (CCNet, Gopher)
  // gate on alongside repetition.
  //
  // Oracle-parity: entropy terms p·ln(p) are rounded to 6 and summed
  // through DECIMAL(25,8) (aggregation-order-independent, the t07/t08
  // ln precedent); the nats→bits conversion divides by ln2 pinned
  // once in Scala and shipped to both engines as a string-cast double
  // literal (the s10 precedent). Normalized entropy divides by the
  // 6-rounded ln(ndistinct), with the single-token doc pinned to 0.
  //
  // Scale: tokenize → one combiner-friendly shuffle on
  // (doc_id, term) → one per-doc aggregation. Nothing corpus-scale
  // survives the first aggregation; no windows, no sorts.
  // ---------------------------------------------------------------

  /** ln(2) pinned once; shortest-round-trip string form for the SQL. */
  val Ln2: Double = math.log(2.0)

  def t09(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir).filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    val perDoc = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("ntok"),
        count(lit(1)).as("ndistinct"),
        sum(col("c") * col("c")).as("sumsq"))
    val p = col("c").cast("double") / col("n").cast("double")
    val terms = tf
      .join(perDoc.select(col("doc_id"), col("ntok").as("n")), "doc_id")
      .select(col("doc_id"), round(p * log(p), 6).as("t"))
      .groupBy(col("doc_id"))
      .agg(sum(col("t").cast("decimal(25,8)")).cast("double").as("slp"))
    perDoc.join(terms, "doc_id")
      .select(col("doc_id"), col("ntok"), col("ndistinct"),
        round(col("ndistinct").cast("double") / col("ntok"), 6).as("ttr"),
        round(-col("slp") / lit(Ln2), 6).as("entropy_bits"),
        when(col("ndistinct") <= 1, lit(0.0))
          .otherwise(round(-col("slp") /
            round(log(col("ndistinct").cast("double")), 6), 6))
          .as("norm_entropy"),
        // Simpson/repeat concentration: Σ(c/n)² — 1.0 = one token
        round(col("sumsq").cast("double") / (col("ntok") * col("ntok")), 6)
          .as("concentration"))
  }

  val t09Sql: String =
    raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
                  FROM documents WHERE trim(text) <> ''),
       tf AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
       pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ntok,
                count(*) AS ndistinct, CAST(sum(c*c) AS BIGINT) AS sumsq
              FROM tf GROUP BY 1),
       tm AS (SELECT tf.doc_id,
                round((CAST(c AS DOUBLE)/ntok) * ln(CAST(c AS DOUBLE)/ntok), 6) AS t
              FROM tf JOIN pd ON tf.doc_id = pd.doc_id),
       sl AS (SELECT doc_id, CAST(sum(CAST(t AS DECIMAL(25,8))) AS DOUBLE) AS slp
              FROM tm GROUP BY 1)
       SELECT pd.doc_id, ntok, ndistinct,
         round(CAST(ndistinct AS DOUBLE)/ntok, 6) AS ttr,
         round(-slp / CAST('${Ln2}' AS DOUBLE), 6) AS entropy_bits,
         CASE WHEN ndistinct <= 1 THEN 0.0
              ELSE round(-slp / round(ln(CAST(ndistinct AS DOUBLE)), 6), 6)
         END AS norm_entropy,
         round(CAST(sumsq AS DOUBLE) / (CAST(ntok AS DOUBLE) * ntok), 6) AS concentration
       FROM pd JOIN sl ON pd.doc_id = sl.doc_id"""

  // ---------------------------------------------------------------
  // t10: readability scoring — Flesch reading ease from the three
  // classic surface counts (words, sentence-punctuation runs, vowel-
  // group syllable estimate), the remaining standard document-level
  // quality signal after t02 (composition), t05 (repetition), t08
  // (LM plausibility) and t09 (diversity): an education-level prior
  // a curriculum-ordered training mix buckets on. All three counts
  // are regex-count scans (codegen'd, engine-portable); the Flesch
  // constants ship to both engines as string-cast double literals
  // and the score is rounded to 6 before the bucket CASE, so the
  // bucket boundaries cannot tie apart. Zero-word docs are dropped;
  // sentence count floors at 1 (unpunctuated docs are one sentence).
  //
  // Scale: one narrow projection pass, no joins, no windows — the
  // per-doc row is final at the scan.
  // ---------------------------------------------------------------

  def t10(s: SparkSession, dir: String): DataFrame = {
    val nw = wsTokenCount(col("text"))
    val ns = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
    val syl = greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")), lit(1))
    val score = round(
      lit(206.835) - lit(1.015) * (nw.cast("double") / ns) -
        lit(84.6) * (syl.cast("double") / nw), 6)
    Tables.documents(s, dir)
      .filter(nw > 0)
      .select(col("doc_id"), nw.cast("bigint").as("n_words"),
        ns.cast("bigint").as("n_sentences"),
        syl.cast("bigint").as("n_syllables"),
        score.as("flesch"),
        when(score >= 90, "very_easy").when(score >= 60, "standard")
          .when(score >= 30, "difficult").otherwise("very_difficult")
          .as("bucket"))
  }

  val t10Sql: String = {
    val c0 = "CAST('206.835' AS DOUBLE)"
    val c1 = "CAST('1.015' AS DOUBLE)"
    val c2 = "CAST('84.6' AS DOUBLE)"
    raw"""WITH c AS (SELECT doc_id, $sqlNw AS nw,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
               greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syl
             FROM documents),
       f AS (SELECT doc_id, nw, ns, syl,
               round($c0 - $c1 * (CAST(nw AS DOUBLE)/ns) - $c2 * (CAST(syl AS DOUBLE)/nw), 6) AS flesch
             FROM c WHERE nw > 0)
       SELECT doc_id, CAST(nw AS BIGINT) AS n_words, CAST(ns AS BIGINT) AS n_sentences,
         CAST(syl AS BIGINT) AS n_syllables, flesch,
         CASE WHEN flesch >= 90 THEN 'very_easy'
              WHEN flesch >= 60 THEN 'standard'
              WHEN flesch >= 30 THEN 'difficult'
              ELSE 'very_difficult' END AS bucket
       FROM f"""
  }

  // ---------------------------------------------------------------
  // t11: the Gopher quality rules (Rae et al. 2021 §A1.1) — the
  // published heuristic battery a pretraining pipeline actually
  // gates on, as per-source rule-failure counts: word-count bounds,
  // mean-word-length bounds, symbol-to-word ratio (# / ellipsis),
  // bullet-start / ellipsis-end line shares, alphabetic-word share,
  // and the ≥2-distinct-stopwords check. Every ratio threshold is
  // CROSS-MULTIPLIED into integer arithmetic (10·sym > nw instead of
  // sym/nw > 0.1), so both engines compare exact BIGINTs and the
  // oracle needs no float-tolerance anywhere. One scan, one narrow
  // codegen'd projection, one low-cardinality shuffle.
  //
  // DELIBERATE DEVIATIONS from Rae et al. A1.1 (r15 advice, noted
  // rather than silently diverging): (a) the symbol rule POOLS '#'
  // and '...' into one combined count against a single 0.1
  // threshold, where the paper applies 0.1 per symbol ("either") —
  // the pooled count dominates each part, so the pooled rule fails
  // every doc the paper's rule fails and additionally mixed-symbol
  // docs whose parts each sit under 0.1 (strictly >= as strict); (b)
  // the ASCII '...' spelling only — the Unicode ellipsis '…' is
  // counted by neither f_sym nor the ellipsis-line rule. Both sides
  // of the oracle mirror these choices exactly, so engine parity is
  // unaffected; extending to per-symbol ratios or '…' means touching
  // gopherFlags AND t11Sql together.
  // ---------------------------------------------------------------

  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-doc Gopher rule-failure flags of any (…, text) frame —
    * the gate a cleaning pipeline composes; t11 aggregates them. */
  def gopherFlags(docs: DataFrame): DataFrame = {
    val nw = wsTokenCount(col("text")).cast("bigint")
    val wchars = length(regexp_replace(col("text"), "\\s", "")).cast("bigint")
    val sym = regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("bigint")
    val lines = size(split(col("text"), "\n", -1)).cast("bigint")
    val bullet = regexp_count(col("text"), lit("(?m)^[ \\t]*[-*•]")).cast("bigint")
    val ell = regexp_count(col("text"), lit("(?m)\\.\\.\\.$")).cast("bigint")
    val alphaw = regexp_count(col("text"),
      lit("[^\\s]*[A-Za-z][^\\s]*")).cast("bigint")
    val stops = stopwordHits(lower(col("text")), GopherStopwords)
    docs.withColumns(Map(
      "f_wc" -> (nw < 50 || nw > 100000),
      "f_mwl" -> (wchars < nw * 3 || wchars > nw * 10),
      "f_sym" -> (sym * 10 > nw),
      "f_line" -> (bullet * 10 > lines * 9 || ell * 10 > lines * 3),
      "f_alpha" -> (alphaw * 5 < nw * 4),
      "f_stop" -> (stops < 2)))
  }

  /** "fails ANY Gopher rule" over a [[gopherFlags]] frame — the ONE
    * definition every consumer (t11's pass count, the batch and
    * ingest gates, specs) shares; adding a rule means extending
    * gopherFlags and this disjunction, nowhere else. */
  val gopherFail: Column =
    col("f_wc") || col("f_mwl") || col("f_sym") ||
      col("f_line") || col("f_alpha") || col("f_stop")

  def t11(s: SparkSession, dir: String): DataFrame = {
    def n(c: Column): Column = sum(c.cast("long"))
    gopherFlags(Tables.documents(s, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        n(col("f_wc")).as("n_fail_wordcount"),
        n(col("f_mwl")).as("n_fail_meanwordlen"),
        n(col("f_sym")).as("n_fail_symbolratio"),
        n(col("f_line")).as("n_fail_lineshape"),
        n(col("f_alpha")).as("n_fail_alphawords"),
        n(col("f_stop")).as("n_fail_stopwords"),
        n(!gopherFail).as("n_pass"))
  }

  val t11Sql: String =
    s"""WITH c AS (SELECT source,
         $sqlNw AS nw,
         len(regexp_replace(text, '\\s', '', 'g')) AS wchars,
         len(regexp_extract_all(text, '#|\\.\\.\\.')) AS sym,
         len(string_split(text, chr(10))) AS lines,
         len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•]')) AS bullet,
         len(regexp_extract_all(text, '(?m)\\.\\.\\.$$')) AS ell,
         len(regexp_extract_all(text, '[^\\s]*[A-Za-z][^\\s]*')) AS alphaw,
         len(list_distinct(regexp_extract_all(lower(text),
           '${stopwordRegex(GopherStopwords)}', 1))) AS stops
       FROM documents),
       f AS (SELECT source,
         (nw < 50 OR nw > 100000) AS f_wc,
         (wchars < nw * 3 OR wchars > nw * 10) AS f_mwl,
         (sym * 10 > nw) AS f_sym,
         (bullet * 10 > lines * 9 OR ell * 10 > lines * 3) AS f_line,
         (alphaw * 5 < nw * 4) AS f_alpha,
         (stops < 2) AS f_stop
       FROM c)
       SELECT source, count(*) AS docs,
         CAST(sum(CAST(f_wc AS INT)) AS BIGINT) AS n_fail_wordcount,
         CAST(sum(CAST(f_mwl AS INT)) AS BIGINT) AS n_fail_meanwordlen,
         CAST(sum(CAST(f_sym AS INT)) AS BIGINT) AS n_fail_symbolratio,
         CAST(sum(CAST(f_line AS INT)) AS BIGINT) AS n_fail_lineshape,
         CAST(sum(CAST(f_alpha AS INT)) AS BIGINT) AS n_fail_alphawords,
         CAST(sum(CAST(f_stop AS INT)) AS BIGINT) AS n_fail_stopwords,
         CAST(sum(CAST(NOT f_wc AND NOT f_mwl AND NOT f_sym
           AND NOT f_line AND NOT f_alpha AND NOT f_stop AS INT)) AS BIGINT)
           AS n_pass
       FROM f GROUP BY 1"""

  // ---------------------------------------------------------------
  // t12: PMI collocation mining — multi-word-expression detection
  // (Church & Hanks 1990), the vocabulary-construction companion to
  // c17/t07: a tokenizer or phrase table wants the "new york"-style
  // bigrams whose co-occurrence beats chance, and PMI is the classic
  // score — ln of the observed bigram probability over the unigram
  // independence product (word2phrase scores the same ratio). The
  // min-count floor kills the low-count PMI pathology: hapax pairs
  // otherwise rank highest by construction.
  //
  // Float parity: the PMI arithmetic is the IDENTICAL IEEE expression
  // in both engines — double divisions in the same order, one ln,
  // one round(,6) (the t07 idf precedent); every input is an exact
  // integer count. The totals are computed as doubles (never an n_u²
  // integer product, which overflows int64 near 10¹² tokens).
  //
  // Scale: scan → codegen'd bigram transform/explode → ONE
  // combiner-friendly (x,y) aggregate; unigram counts are a second
  // vocab-cardinality aggregate joined twice (no broadcast hint —
  // t07's rule: Catalyst/AQE broadcasts it only when it fits); the
  // two 1-row totals broadcast; global top-K is TakeOrderedAndProject
  // over the count-floored candidate set, never a full sort. The doc
  // scan is deliberately read twice (unigrams, bigrams) instead of
  // caching the token arrays — a token-array cache IS a text-bearing
  // cache, the documented 100 TB hazard.
  // ---------------------------------------------------------------
  val CollocMinCount = 5
  val CollocTopK = 100

  def t12(s: SparkSession, dir: String): DataFrame =
    pmiCollocations(Tables.documents(s, dir), CollocMinCount, CollocTopK)

  /** (rank, x, y, c_xy, pmi) of the `topK` highest-PMI adjacent
    * bigrams with count ≥ `minCount` over `docs`' text column. */
  def pmiCollocations(docs: DataFrame, minCount: Int,
      topK: Int): DataFrame = {
    def toks = docs.filter(trim(col("text")) =!= "")
      .select(split(lower(trim(col("text"))), "\\s+").as("w"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .transform(graft.CacheRegistry.register) // vocab-cardinality, used 3×
    val nu = uni.agg(sum(col("c")).as("n_u"))
    val big = toks.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS x, w[i + 1] AS y))"))
        .as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      .transform(graft.CacheRegistry.register) // bigram-vocab, used 2×
    val nb = big.agg(sum(col("c_xy")).as("n_b"))
    val pmi = round(log(
      (col("c_xy").cast("double") / col("n_b").cast("double")) /
        ((col("c_x").cast("double") / col("n_u").cast("double")) *
          (col("c_y").cast("double") / col("n_u").cast("double")))), 6)
    val scored = big.filter(col("c_xy") >= minCount)
      .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
      .join(uni.select(col("t").as("y"), col("c").as("c_y")), "y")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("x"), col("y"), col("c_xy"), pmi.as("pmi"))
    graft.functions.TopK.ranked(scored, topK, "rank",
        Seq("pmi" -> true, "x" -> false, "y" -> false))
      .select(col("rank"), col("x"), col("y"), col("c_xy"), col("pmi"))
  }

  val t12Sql: String =
    raw"""WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
                  FROM documents WHERE trim(text) <> ''),
       uc AS (SELECT t, count(*) AS c
              FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
       nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_u FROM uc),
       idx AS (SELECT w, unnest(range(1, len(w))) AS i FROM toks),
       bc AS (SELECT w[i] AS x, w[i + 1] AS y, count(*) AS c_xy
              FROM idx GROUP BY 1, 2),
       nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_b FROM bc),
       sc AS (SELECT x, y, c_xy,
                round(ln((CAST(c_xy AS DOUBLE) / CAST(n_b AS DOUBLE)) /
                  ((CAST(cx.c AS DOUBLE) / CAST(n_u AS DOUBLE)) *
                   (CAST(cy.c AS DOUBLE) / CAST(n_u AS DOUBLE)))), 6) AS pmi
              FROM bc JOIN uc cx ON bc.x = cx.t JOIN uc cy ON bc.y = cy.t
              CROSS JOIN nu CROSS JOIN nb
              WHERE c_xy >= $CollocMinCount),
       r AS (SELECT x, y, c_xy, pmi,
               row_number() OVER (ORDER BY pmi DESC, x, y) AS rank FROM sc)
       SELECT CAST(rank AS BIGINT) AS rank, x, y, c_xy, pmi
       FROM r WHERE rank <= $CollocTopK"""

  // ---------------------------------------------------------------
  // t13: Zipf rank-frequency fit — the corpus-health diagnostic next
  // to c13's census: natural text follows count ∝ rank^(−s) with
  // s ≈ 1 (Zipf 1949; Piantadosi 2014 for the modern treatment), and
  // a per-source OLS fit of ln(count) on ln(rank) flags the sources
  // that AREN'T natural text — template/boilerplate farms flatten
  // the curve (|slope| ≪ 1, few terms dominate uniformly), keyword-
  // stuffed spam steepens it, and a low r² says the source isn't
  // power-law-shaped at all. The count floor trims the heavy tied
  // tail where rank is tie-break noise.
  //
  // Float parity: per-term contributions x=round(ln rank), y=
  // round(ln count) and their rounded products are DECIMAL-summed
  // (t08's discipline — aggregation-order-independent); the OLS
  // closed form runs on the exact sums as the IDENTICAL double
  // expression in both engines. vy ≤ 0 (a degenerate all-equal-count
  // source, possible only through rounding) pins r² to 0 rather than
  // dividing by zero.
  //
  // Scale: one token scan → a (source, term) combiner-friendly
  // aggregate; the rank window partitions by source over the
  // count-floored vocab (vocab-cardinality, not corpus); the OLS
  // sums are a second combiner-friendly aggregate down to one row
  // per source. Nothing touches text twice.
  // ---------------------------------------------------------------
  val ZipfMinCount = 5

  def t13(s: SparkSession, dir: String): DataFrame =
    zipfFit(Tables.documents(s, dir), ZipfMinCount)

  /** Per-source OLS fit of ln(count) on ln(rank) over terms with
    * count ≥ `minCount`: (source, n_terms, slope, intercept, r2). */
  def zipfFit(docs: DataFrame, minCount: Int): DataFrame = {
    val toks = docs.filter(trim(col("text")) =!= "")
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
    val counts = toks.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("c").desc, col("t").asc)
    val xy = counts.withColumn("rank", row_number().over(wr))
      .select(col("source"),
        round(log(col("rank").cast("double")), 6).as("x"),
        round(log(col("c").cast("double")), 6).as("y"))
    def zsum(c: Column) = sum(round(c, 6).cast("decimal(25,8)")).cast("double")
    val sums = xy.groupBy(col("source")).agg(
      count(lit(1)).as("n_terms"),
      zsum(col("x")).as("sx"), zsum(col("y")).as("sy"),
      zsum(col("x") * col("y")).as("sxy"),
      zsum(col("x") * col("x")).as("sxx"),
      zsum(col("y") * col("y")).as("syy"))
    val n = col("n_terms").cast("double")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val vx = n * col("sxx") - col("sx") * col("sx")
    val vy = n * col("syy") - col("sy") * col("sy")
    sums.filter(col("n_terms") >= 2)
      .select(col("source"), col("n_terms"),
        round(cov / vx, 6).as("slope"),
        round((col("sy") - (cov / vx) * col("sx")) / n, 6).as("intercept"),
        when(vy <= 0d, lit(0.0))
          .otherwise(round((cov * cov) / (vx * vy), 6)).as("r2"))
  }

  val t13Sql: String =
    raw"""WITH toks AS (SELECT source,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
         FROM documents WHERE trim(text) <> ''),
       counts AS (SELECT source, t, count(*) AS c FROM toks
                  GROUP BY 1, 2 HAVING count(*) >= $ZipfMinCount),
       xy AS (SELECT source,
                round(ln(CAST(row_number() OVER (PARTITION BY source
                  ORDER BY c DESC, t) AS DOUBLE)), 6) AS x,
                round(ln(CAST(c AS DOUBLE)), 6) AS y
              FROM counts),
       sums AS (SELECT source, count(*) AS n_terms,
           CAST(sum(CAST(round(x, 6) AS DECIMAL(25,8))) AS DOUBLE) AS sx,
           CAST(sum(CAST(round(y, 6) AS DECIMAL(25,8))) AS DOUBLE) AS sy,
           CAST(sum(CAST(round(x*y, 6) AS DECIMAL(25,8))) AS DOUBLE) AS sxy,
           CAST(sum(CAST(round(x*x, 6) AS DECIMAL(25,8))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(round(y*y, 6) AS DECIMAL(25,8))) AS DOUBLE) AS syy
         FROM xy GROUP BY 1)
       SELECT source, n_terms,
         round((CAST(n_terms AS DOUBLE)*sxy - sx*sy)
               / (CAST(n_terms AS DOUBLE)*sxx - sx*sx), 6) AS slope,
         round((sy - ((CAST(n_terms AS DOUBLE)*sxy - sx*sy)
               / (CAST(n_terms AS DOUBLE)*sxx - sx*sx)) * sx)
               / CAST(n_terms AS DOUBLE), 6) AS intercept,
         CASE WHEN CAST(n_terms AS DOUBLE)*syy - sy*sy <= 0 THEN 0.0
           ELSE round(((CAST(n_terms AS DOUBLE)*sxy - sx*sy)
                 * (CAST(n_terms AS DOUBLE)*sxy - sx*sy))
               / ((CAST(n_terms AS DOUBLE)*sxx - sx*sx)
                 * (CAST(n_terms AS DOUBLE)*syy - sy*sy)), 6) END AS r2
       FROM sums WHERE n_terms >= 2"""

  // ---------------------------------------------------------------
  // t14: tokenizer fertility per language — THE tokenizer-choice
  // metric of the multilingual-corpus literature (subwords per word:
  // a vocab that fragments one language 2× worse than another eats
  // that language's effective context and compute budget). Words are
  // the whitespace count (the c03 budget basis), subwords the pinned
  // WordPiece vocab's count (plans.SubwordCount — the c03c basis), so
  // the face measures exactly the expansion factor between the two
  // packing bases the engine already ships. One narrow codegen'd
  // pass + one combiner-friendly lang aggregate; the only division
  // is the final rounded ratio.
  // ---------------------------------------------------------------

  /** Per-language fertility over any (lang, text) frame:
    * (lang, n_docs, words, subwords, fertility = subwords/words). */
  def fertility(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.select(col("lang"),
        graft.functions.TextAnalysis.wsTokenCount(col("text"))
          .cast("long").as("w"),
        graft.plans.GraftFunctions.subwordCount(s, col("text"))
          .cast("long").as("sw"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("sw")).as("subwords"))
      .select(col("lang"), col("n_docs"), col("words"), col("subwords"),
        round(col("subwords").cast("double") / col("words"), 6)
          .as("fertility"))
  }

  def t14(s: SparkSession, dir: String): DataFrame =
    fertility(Tables.documents(s, dir))

  val t14Sql: String =
    s"""WITH src AS (SELECT doc_id, text FROM documents),
       ${graft.plans.SubwordCount.oracleTokensCtes},
       w AS (SELECT doc_id, lang, CAST($sqlNw AS BIGINT) AS words
             FROM documents)
       SELECT lang, count(*) AS n_docs,
         CAST(sum(words) AS BIGINT) AS words,
         CAST(sum(tokens) AS BIGINT) AS subwords,
         round(CAST(sum(tokens) AS DOUBLE) / sum(words), 6) AS fertility
       FROM w JOIN sub USING (doc_id)
       GROUP BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t14_fertility" -> (t14 _),
    "t13_zipf_fit" -> (t13 _),
    "t12_pmi_collocations" -> (t12 _),
    "t11_gopher_rules" -> (t11 _),
    "t10_readability" -> (t10 _),
    "t01_lang_id" -> (t01 _),
    "t02_quality_score" -> (t02 _),
    "t03_token_count" -> (t03 _),
    "t04_fingerprint" -> (t04 _),
    "t05_repetition" -> (t05 _),
    "t06_normalize" -> (t06 _),
    "t07_tfidf_keywords" -> (t07 _),
    "t08_perplexity" -> (t08 _),
    "t09_entropy" -> (t09 _))

  val oracles: Map[String, String] = Map(
    "t01_lang_id" -> t01Sql,
    "t02_quality_score" -> t02Sql,
    "t03_token_count" -> t03Sql,
    "t04_fingerprint" -> t04Sql,
    "t05_repetition" -> t05Sql,
    "t06_normalize" -> t06Sql,
    "t07_tfidf_keywords" -> t07Sql,
    "t08_perplexity" -> t08Sql,
    "t09_entropy" -> t09Sql,
    "t10_readability" -> t10Sql,
    "t11_gopher_rules" -> t11Sql,
    "t12_pmi_collocations" -> t12Sql,
    "t13_zipf_fit" -> t13Sql,
    "t14_fertility" -> t14Sql)
}
