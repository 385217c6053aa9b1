package graft

import graft.functions.{Geo, TextAnalysis, VectorFunctions}
import graft.operators.{Dedup, Fraud, Skew}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded randomized properties — cross-implementation equivalences
  * and invariants over generated inputs (deterministic seeds so runs
  * are reproducible). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("native graft_cosine is bit-identical to the HOF formulation") {
    val rnd = new Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
      graft.plans.GraftFunctions.cosine(spark, col("a"), col("b")).as("native"),
      VectorFunctions.cosine(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    both.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(h))
    }
  }

  test("native graft_shingles equals the HOF formulation on adversarial text") {
    // random texts biased toward tokenization edge cases: tabs,
    // newlines, multiple/trailing/leading whitespace, unicode letters,
    // empty and sub-n-token strings
    val rnd = new Random(17)
    val atoms = Seq("word", "Wort", "ação", "ΛΟΓΟΣ", "déjà", "x", "42",
      " ", "  ", "\t", "\n", "\r", "")
    val texts = (1 to 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(12)).map(_ =>
        atoms(rnd.nextInt(atoms.length))).mkString(
        if (rnd.nextBoolean()) " " else ""))
    }
    val df = texts.toDF("id", "text")
    val both = df.select(
      graft.plans.GraftFunctions.shingles(spark, col("text"), Dedup.ShingleN).as("native"),
      Dedup.shingles(col("text")).as("hof"))
      .as[(Seq[String], Seq[String])].collect()
    both.foreach { case (n, h) => assert(n == h) } // values AND order
  }

  test("native graft_fingerprint equals the Column formulation on adversarial text") {
    val rnd = new Random(23)
    val atoms = Seq("Word", "w0rd", "ação", "ΛΟΓΟΣ", "déjà", "x!", "4-2",
      "a,b", " ", "  ", "\t", "\n", "…", "€9", "🙂", "")
    val texts = (1 to 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(10)).map(_ =>
        atoms(rnd.nextInt(atoms.length))).mkString(
        if (rnd.nextBoolean()) " " else ""))
    }
    val df = texts.toDF("id", "text")
    val both = df.select(
      graft.plans.GraftFunctions.fingerprint(spark, col("text")).as("native"),
      TextAnalysis.fingerprint(col("text")).as("hof"))
      .as[(String, String)].collect()
    both.foreach { case (n, h) => assert(n == h) }
  }

  test("native md5 prefix equals the hex-conv formulation") {
    val rnd = new Random(29)
    val texts = (1 to 300).map(i =>
      (i.toLong, rnd.alphanumeric.take(rnd.nextInt(40)).mkString + "é🙂"))
      .toDF("id", "t")
    val both = texts.select(
      graft.plans.GraftFunctions.md5Prefix60(spark, col("t")).as("native"),
      conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("hexconv"))
      .as[(Long, Long)].collect()
    both.foreach { case (n, h) => assert(n == h) }
  }

  test("groupMedian equals the naive sorted-middle median") {
    val rnd = new Random(11)
    val rows = for {
      g <- 0 until 8
      _ <- 0 until (1 + rnd.nextInt(50))
    } yield (s"g$g", (rnd.nextInt(100) / 2.0 + 1))
    val df = rows.toDF("k", "v")
    val got = Fraud.groupMedian(df, Seq("k"), "v", "med")
      .as[(String, Double)].collect().toMap
    val expected = rows.groupBy(_._1).map { case (k, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      k -> (sorted((n - 1) / 2) + sorted(n / 2)) / 2.0
    }
    assert(got == expected)
  }

  test("one-plan aggregateStats equals the three-branch StagedStats") {
    // routed frames covering every branch of the stats contract: odd
    // and even groups with duplicate prices, support-1 groups (dropped),
    // flat routes of exactly 3 (dropped) and 4 rows (kept), null
    // components, keys and prices, zero-variance groups (the stdev
    // clamp) and prices that round in decimal(25,4)
    import graft.operators.{RiskEngine, StagedStats}
    val rnd = new Random(41)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val pool = Seq(Some(100.0), Some(100.0), Some(250.5), Some(19.99995),
      Some(0.00005), Some(2.71828), Some(1234.56785), Some(0.1), None)
    val random = (1 to 400).map { _ =>
      val route = pick(Seq("PRIME", "PRIME", "PRIME", "UNCERTAIN", null))
      (route, pick(Seq("GAMING", "APPLE", "WORKSTATION", null)),
        pick(Seq("NEW", "USED", "LIKE_NEW", null)),
        if (rnd.nextBoolean()) pick(pool) else Some(rnd.nextInt(200000) / 100.0),
        pick(Seq("INTEL I7", "APPLE M1", null)), pick(Seq("16GB", "8GB", null)),
        pick(Seq("NVIDIA RTX 3060", null, null)))
    }
    val planted =
      Seq[(String, String, String, Option[Double], String, String, String)](
        ("PRIME", "SOLO", "NEW", Some(10.0), "INTEL I5", null, null)) ++
      Seq.fill(5)(("PRIME", "ZERO", "USED", Some(0.1), "INTEL I3", "4GB", null)) ++
      Seq.fill(3)(("PRIME", "ZERO", "NEW", Some(33.33), null, "4GB", null)) ++
      Seq(1.5, 2.5, 2.5, 9.0).map(p =>
        ("PRIME", "EVEN", "NEW", Some(p), "INTEL I5", null, "GTX 1650")) ++
      Seq.fill(3)(("BROKEN", "GAMING", "USED", Some(40.0), null, null, null)) ++
      Seq(Some(5.0), Some(5.0), None, Some(19.99995)).map(p =>
        ("ACCESSORY", null, null, p, null, null, null))
    val routed = (random ++ planted)
      .toDF("route", "category", "cond", "price", "cpu", "ram", "gpu")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
        "pyRound" -> (c => graft.plans.GraftFunctions.pyRound(spark, c, 2)),
        "identity" -> identity).foreach { case (name, pyR) =>
      val got = RiskEngine.aggregateStats(routed, pyR)
      val want = StagedStats.aggregateStats(routed, pyR)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)), name)
      val (g, w) = (rows(got), rows(want))
      assert(g == w, s"$name: one-plan stats differ from the staged branches")
      // the planted cases are live: support-1 and 3-row flat groups
      // drop, the 4-row flat route stays, zero variance is a number
      // near 0 (never NaN)
      val cats = g.map(_.head)
      assert(!cats.contains("SOLO") && !cats.contains("BROKEN") &&
        cats.contains("ACCESSORY") && cats.contains("EVEN"), name)
      val zero = g.filter(_.head == "ZERO").map(_(6).asInstanceOf[Double])
      assert(zero.size == 5 && zero.forall(sd => sd >= 0 && sd < 1e-3), s"$name: $zero")
    }
  }

  test("statsFromCounts keeps a null-key group, as groupBy does") {
    import graft.operators.IncrementalStats
    val df = Seq[(String, Double)](("a", 1.0), ("a", 3.0), (null, 2.0),
      (null, 4.0), (null, 9.0)).toDF("k", "v")
    val got = IncrementalStats.statsFromCounts(
        IncrementalStats.valueCounts(df, Seq("k"), "v"), Seq("k"), "v")
      .select("k", "n", "median_v").as[(String, Long, Double)].collect().toSet
    assert(got == Set(("a", 2L, 2.0), (null, 3L, 4.0)))
  }

  test("geohash at lower precision is a prefix of higher precision") {
    val rnd = new Random(13)
    val pts = (1 to 200).map(_ =>
      (rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180))
    val df = pts.toDF("lat", "lon")
    val rowsOut = df.select(
      Geo.geohash(col("lat"), col("lon"), 4).as("g4"),
      Geo.geohash(col("lat"), col("lon"), 8).as("g8"))
      .as[(String, String)].collect()
    rowsOut.foreach { case (g4, g8) => assert(g8.startsWith(g4)) }
  }

  test("saltedJoin equals plain join on random skewed data") {
    val rnd = new Random(17)
    val big = (1 to 2000).map(_ =>
      (if (rnd.nextBoolean()) "hot" else s"k${rnd.nextInt(100)}", rnd.nextInt(1000)))
      .toDF("k", "v")
    val small = ((0 until 50).map(i => (s"k$i", i)) :+ (("hot", -1))).toDF("k", "w")
    for (salt <- Seq(1, 4, 16)) {
      val plain = big.join(small, Seq("k")).select("k", "v", "w")
        .as[(String, Int, Int)].collect().sorted.toSeq
      val salted = Skew.saltedJoin(big, small, Seq("k"), salt)
        .select("k", "v", "w").as[(String, Int, Int)].collect().sorted.toSeq
      assert(salted == plain, s"salt=$salt diverged")
    }
  }

  test("native graft_textstats equals the regex-staged scoring on adversarial text") {
    // the fused one-pass expression must reproduce the five regex
    // scans bit for bit — including Java-split empty-token quirks
    // (tabs beyond the space-only trim), \b over ASCII \w
    // (underscore joins runs), distinct-vs-total hit counting, Han
    // detection, supplementary code points, and ICU-lowering length
    // changes
    val rnd = new Random(31)
    val pieces = Array("the", "a", "of", "der", "die", "le", "les", "el",
      "la", "de", "y", "that_", "_a", "a1", "thea", "THE", "And", "中文",
      "漢字", "café", "İstanbul", "!!", "...", "a,b", "(the)", "x", "",
      " ", "\t", "\n", "  ", "9000", "is")
    val adversarial = Seq("", " ", "\t", "\tthe\t", " the ", "a  a  a",
      "中文 the 漢字", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 the", "the_that the.that") ++
      (1 to 120).map(_ => Seq.fill(3 + rnd.nextInt(12))(
        pieces(rnd.nextInt(pieces.length))).mkString(
        if (rnd.nextBoolean()) " " else rnd.nextInt(3) match {
          case 0 => "\t"; case 1 => ", "; case _ => " "
        }))
    val df = adversarial.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val fused = TextAnalysis.withQuality(
      TextAnalysis.withLangId(df, col("text"), "lang"), col("text"), "q")
      .select(col("id"), col("lang"), col("q"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    val staged = TextAnalysis.withQualityColumns(
      TextAnalysis.withLangIdColumns(df, col("text"), "lang"), col("text"), "q")
      .select(col("id"), col("lang"), col("q"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    fused.zip(staged).foreach { case ((i, lf, qf), (_, ls, qs)) =>
      assert(lf == ls, s"row $i lang: fused=$lf staged=$ls text=${adversarial(i.toInt)}")
      assert(java.lang.Double.doubleToLongBits(qf) ==
        java.lang.Double.doubleToLongBits(qs),
        s"row $i quality: fused=$qf staged=$qs text=${adversarial(i.toInt)}")
    }
    // the combined stage equals the two separate stages
    val combined = TextAnalysis.withLangQuality(df, col("text"), "lang", "q")
      .select(col("id"), col("lang"), col("q"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(combined.toSeq == fused.toSeq)
    // the word lists can't drift between the two definitions
    assert(graft.plans.TextStats.LangWords.map(_.toSeq).toSeq ==
      TextAnalysis.StopwordSets.map(_._2))
    assert(graft.plans.TextStats.QualityWords.toSeq == TextAnalysis.QualityStopwords)
  }

  test("native graft_specs equals the staged Column formulation on adversarial text") {
    // full and core extraction against the staged Column reference
    // (StagedSpecs): nulls and empties, CRLF and blank lines, spam lines
    // at exactly 3 and 4 keyword hits, m.2/M2 sanitization, the RAM
    // storage lookahead, core-prefixed vs bare Intel models, Ryzen and
    // Apple M suffixes, descriptions past the 400-code-point cap with
    // supplementary characters across the cut, ICU case mappings, and
    // every category rule and priority branch
    val rnd = new Random(41)
    val words = Array("portatil", "laptop", "MacBook", "mac air", "mac pro", "imac",
      "macos", "apple", "chromebook", "chrome", "surface", "microsoft surface",
      "thinkpad", "latitude", "precision", "zbook", "quadro", "xps", "spectre",
      "zenbook", "gram", "yoga", "gaming", "gamer", "rog", "msi", "razer",
      "intel", "amd", "qualcomm", "microsoft", "core i7", "core-i5", "corei9",
      "i7", "I5", "i3", "ryzen 7", "Ryzen-5", "ryzen9", "m1", "M2 Pro", "m3  max",
      "m2\tultra", "m1 max", "celeron", "pentium", "atom", "xeon", "snapdragon",
      "sq2", "rtx 4070", "RTX3060ti", "gtx-1650", "rx 580", "rx5700xt",
      "GTX 1080 Ti", "nvidia", "geforce", "radeon", "16gb", "8 GB", "32gb ram",
      "512 gb ssd", "1000gb hdd", "16gb de nvme", "8gb, 512gb - ssd",
      "64gb / hdd", "24 gigas", "13gb", "48gb", "016gb", "128gb",
      "99999999999gb", "ssd m.2", "SSD M2", "m.2 ssd", "M2 nvme", "disco m2",
      "m.2 sata", "nuevo", "precintado", "sin abrir", "como nuevo", "impecable",
      "roto", "no enciende", "para piezas", "read", "new", "garantia",
      "refurbished", "sin uso", "İstanbul", "\u212A", "ΣΟΦΟΣ", "ǅ", "ß",
      "ﬁ", "İ7", "𝔘𝔫𝔦", "🙂", "x", "")
    val seps = Array(" ", " ", " ", "\n", "\r\n", "\n\n", "\t", ", ")
    def phrase(n: Int): String =
      (0 until n).map(_ => words(rnd.nextInt(words.length)))
        .mkString(seps(rnd.nextInt(seps.length)))
    val spam3 = "rtx gtx amd en oferta"
    val spam4 = "RTX gtx amd Intel barato"
    val long = (0 until 3).map(k => ("a" * (396 + k)) + "🙂🙂 16gb i7 rtx 3060 roto")
    val fixed: Seq[(String, String)] = Seq(
      (null, null), (null, "i7 16gb nuevo"), ("portatil i7", null), ("", ""),
      ("chromebook i7 32gb", "celeron"), ("chromebook i7", "pentium 8gb"),
      ("surface 48gb", ""), ("macbook amd", ""), ("laptop amd", "macos"),
      ("laptop", "macbook m2"), ("xps 64gb", ""), ("portatil", "quadro"),
      ("portatil", "gaming"), ("portatil rtx 4070", "thinkpad"),
      ("thinkpad ssd m.2", "intel core i5"), ("portatil m2 pro", "intel"),
      ("portatil 99999999999gb ram", "99999999999 gb 16gb"),
      ("laptop", s"linea uno\r\n$spam3\r\n16gb"), ("laptop", s"ok\n$spam4\n16gb"),
      ("laptop", s"$spam4\n16gb"), ("laptop", "\n\n8gb\n"), ("ΣΟΦΟΣ", "İ7 K")) ++
      long.map(d => ("portatil", d))
    val random = (1 to 300).map { _ =>
      val title = if (rnd.nextInt(20) == 0) null else phrase(rnd.nextInt(7))
      val desc = rnd.nextInt(20) match {
        case 0 => null
        case 1 => ("b" * (390 + rnd.nextInt(12))) + "🙂" + phrase(4)
        case _ => (0 until rnd.nextInt(5)).map(_ => rnd.nextInt(6) match {
          case 0 => spam3; case 1 => spam4; case _ => phrase(1 + rnd.nextInt(6))
        }).mkString(if (rnd.nextBoolean()) "\n" else "\r\n")
      }
      (title, desc)
    }
    val texts = fixed ++ random
    val df = texts.zipWithIndex.map { case ((t, d), i) => (i.toLong, t, d) }
      .toDF("id", "title", "description")
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "cpu", "ram", "gpu", "category", "condition").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).sortBy(_._1)
    Seq(
      ("full", graft.functions.TextSpecs.withSpecs _, StagedSpecs.withSpecs _),
      ("core", graft.functions.TextSpecs.coreSpecs _, StagedSpecs.coreSpecs _))
      .foreach { case (mode, native, staged) =>
        val n = native(df, col("title"), col("description"))
        val s = staged(df, col("title"), col("description"))
        assert(n.columns.toSeq == s.columns.toSeq, s"$mode: output columns differ")
        rows(n).zip(rows(s)).foreach { case ((i, a), (_, b)) =>
          assert(a == b, s"$mode row $i: native=$a staged=$b text=${texts(i.toInt)}")
        }
      }
    // every category the rule table names is produced at least once
    val cats = rows(graft.functions.TextSpecs.withSpecs(df, col("title"), col("description")))
      .map(_._2(3)).toSet
    assert(cats == Set("APPLE", "SURFACE", "WORKSTATION", "PREMIUM_ULTRABOOK",
      "GAMING", "CHROMEBOOK", "GENERICO"), s"categories seen: $cats")
  }

  test("rare+hot df-cap decomposition stays exact over random corpora and caps") {
    // the capped pair queries promise: reported rows are a subset of
    // the exhaustive rows, every reported value is the EXACT full
    // count, and the only loss mode is pairs sharing exclusively
    // above-cap keys. Random templated corpora drive the hot
    // correction through many shapes (caps small enough that hot sets
    // are routinely nonempty).
    val rnd = new Random(23)
    val vocab = Array("alpha", "bravo", "carol", "delta", "echo", "fox",
      "golf", "hotel", "india", "julie", "kilo", "lima")
    def doc(): String = {
      // half the docs embed a shared boilerplate run => hot shingles
      val boiler = if (rnd.nextBoolean()) "common boiler plate run here " else ""
      boiler + Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    }
    for (trial <- 1 to 3; cap <- Seq(1, 3, 8)) {
      try {
        val docs = (1L to 40L).map(i => (i, doc())).toDF("doc_id", "text")
        val exJ = Dedup.jaccardPairs(docs, maxDf = None)
          .select("a", "b", "inter").as[(Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        val capJ = Dedup.jaccardPairs(docs, maxDf = Some(cap))
          .select("a", "b", "inter").as[(Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        assert(capJ.keySet.subsetOf(exJ.keySet), s"trial $trial cap $cap: extra pairs")
        capJ.foreach { case (k, v) =>
          assert(exJ(k) == v, s"trial $trial cap $cap: $k capped=$v exhaustive=${exJ(k)}") }
        val exW = Dedup.winnowPairs(docs, minShared = 1, maxDf = None)
          .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
        val capW = Dedup.winnowPairs(docs, minShared = 1, maxDf = Some(cap))
          .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
        assert(capW.keySet.subsetOf(exW.keySet), s"trial $trial cap $cap: extra winnow pairs")
        capW.foreach { case (k, v) =>
          assert(exW(k) == v, s"trial $trial cap $cap winnow: $k capped=$v exhaustive=${exW(k)}") }
      } finally CacheRegistry.unpersistAll()
    }
  }

  test("char-ngram language ID identifies natural-language samples") {
    val samples = Seq(
      ("the quick brown fox and the lazy dog went over the hill", "en"),
      ("la casa de la montaña es más grande que la del pueblo", "es"),
      ("der schnelle braune fuchs springt über den faulen hund und ein", "de"),
      ("les enfants et les parents sont heureux dans cette maison", "fr"),
      ("这是一个中文句子", "zh"),
      ("12345 67890", "und"))
    val df = samples.map(_._1).toDF("text")
    val got = df.select(TextAnalysis.langIdCharNgram(lower(col("text"))).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(got == samples.map(_._2), s"got $got")
  }

  test("PQ expressions reject wrong-dimension arrays loudly (no silent OOB/truncation)") {
    // reading past numElements() on UnsafeArrayData does NOT throw (a
    // 63-element embedding would encode garbage), and an over-length
    // embedding would be silently truncated to its first 64 components
    // — both must fail analysis-of-data loudly
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    for (n <- Seq(graft.plans.Pq.Dim - 1, graft.plans.Pq.Dim * 2)) {
      val bad = Seq((1L, Array.fill(n)(0.5f))).toDF("id", "v")
      Seq(
        graft.plans.GraftFunctions.pqCodes(spark, col("v")),
        graft.plans.GraftFunctions.pqSubDots(spark, col("v"))
      ).foreach { e =>
        val ex = intercept[Exception] { bad.select(e).collect() }
        assert(msgs(ex).exists(m => m != null && m.contains("graft PQ expressions need")),
          s"expected the dimension guard for n=$n, got: $ex")
      }
    }
    // exact-Dim input still evaluates
    val ok = Seq((1L, Array.fill(graft.plans.Pq.Dim)(0.5f))).toDF("id", "v")
      .select(graft.plans.GraftFunctions.pqCodes(spark, col("v")).as("c")).head()
    assert(ok.getSeq[Int](0).length == graft.plans.Pq.SubSpaces)
  }

  test("staged langId/quality fail loudly on staging-name collisions") {
    val df = Seq(("a", "the cat", 1)).toDF("doc_id", "text", "_ts")
    intercept[IllegalArgumentException] {
      TextAnalysis.withLangId(df, col("text"), "lang")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.withQuality(df, col("text"), "quality")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.withLangQuality(df, col("text"), "lang", "quality")
    }
    // the legacy regex-staged reference forms keep their own guard
    val df2 = Seq(("a", "the cat", 1)).toDF("doc_id", "text", "_lid_en")
    intercept[IllegalArgumentException] {
      TextAnalysis.withLangIdColumns(df2, col("text"), "lang")
    }
    val df3 = Seq(("a", "the cat", 1)).toDF("doc_id", "text", "_q_nw")
    intercept[IllegalArgumentException] {
      TextAnalysis.withQualityColumns(df3, col("text"), "quality")
    }
  }

  test("quality score stays in [0,1] on arbitrary text") {
    val rnd = new Random(19)
    val texts = (1 to 200).map { _ =>
      val len = rnd.nextInt(300)
      (1 to len).map(_ => (rnd.nextInt(94) + 32).toChar).mkString
    } :+ "" :+ "   " :+ "\n\t"
    val qs = texts.toDF("text")
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
      .as[Double].collect()
    qs.foreach(q => assert(q >= 0.0 && q <= 1.0 + 1e-12, s"q=$q out of range"))
  }

  test("minhash band collision implies candidate, jaccard bounded by 1") {
    val rows = Dedup.d03(spark, sf("sf0.001"))
      .as[(Long, Long, Double)].collect()
    rows.foreach { case (a, b, j) =>
      assert(a < b)
      assert(j >= Dedup.JaccardThreshold && j <= 1.0)
    }
  }

  test("g03 pagerank matches an in-memory integer reference on random graphs") {
    // seeded random graphs; the Spark fixpoint must agree NODE-FOR-
    // NODE with a sequential Scala replay of the identical integer
    // arithmetic — catching any distributed-aggregation or
    // join-semantics divergence the planted-graph tests can't
    import graft.operators.Graph
    val rnd = new Random(43)
    (1 to 5).foreach { trial =>
      val n = 4 + rnd.nextInt(10)
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.4
      } yield (a.toLong, b.toLong)) match {
        case e if e.isEmpty => Seq((0L, 1L))
        case e => e
      }
      val got = Graph.pagerank(edges.toDF("a", "b"))
        .select("node", "rank_e12").as[(Long, Long)].collect().toMap
      // sequential reference with the same integer ops
      val nbrs = (edges ++ edges.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nodes = nbrs.keys.toSeq.sorted
      val nn = nodes.size.toLong
      val jump = (Graph.Scale * 15L / 100L) / nn
      var rank = nodes.map(_ -> Graph.Scale / nn).toMap
      (1 to Graph.Iters).foreach { _ =>
        val contrib = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        nodes.foreach { v =>
          val share = rank(v) / nbrs(v).size
          nbrs(v).foreach(u => contrib(u) += share)
        }
        rank = nodes.map(v => v -> (jump + contrib(v) * 85L / 100L)).toMap
      }
      nodes.foreach { v =>
        assert(got(v) == rank(v), s"trial $trial node $v: ${got(v)} vs ${rank(v)}")
      }
    }
  }

  test("f24 KS matches a sequential reference on random two-sample data") {
    import graft.operators.Velocity
    val rnd = new Random(91)
    (1 to 4).foreach { trial =>
      val ref = Seq.fill(30 + rnd.nextInt(40))(rnd.nextInt(15).toDouble)
      val live = Seq.fill(30 + rnd.nextInt(40))(rnd.nextInt(15).toDouble + trial)
      val df = (ref.map(("g", true, _)) ++ live.map(("g", false, _)))
        .toDF("grp", "is_ref", "v")
      val Array((_, n1, n2, dnum, dstat, ksAt)) = Velocity.ksDrift(df)
        .as[(String, Long, Long, Long, Double, Double)].collect()
      // sequential reference: exact integer numerator over the value census
      val vs = (ref ++ live).distinct.sorted
      var c1 = 0L; var c2 = 0L; var best = -1L; var bestV = Double.NaN
      vs.foreach { v =>
        c1 += ref.count(_ == v); c2 += live.count(_ == v)
        val d = math.abs(c1 * live.size - c2 * ref.size)
        if (d > best) { best = d; bestV = v }
      }
      assert((n1, n2) == ((ref.size.toLong, live.size.toLong)))
      assert(dnum == best, s"trial $trial")
      assert(ksAt == bestV, s"trial $trial argmax")
      assert(math.abs(dstat - BigDecimal(best.toDouble / (n1 * n2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
  }

  test("sketch merge laws hold under random multiset splits") {
    import graft.operators.Sketch
    val rnd = new Random(131)
    (1 to 3).foreach { trial =>
      // random multiset with duplicates, random 3-way split
      val items = Seq.fill(1500 + rnd.nextInt(1000))(
        ("g" + rnd.nextInt(3), "item_" + rnd.nextInt(400 + trial * 300)))
      val parts = items.groupBy(_ => rnd.nextInt(3)).values.toSeq
        .filter(_.nonEmpty)
      def reg(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Long, Int)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
      // HLL: max-merge of the parts == one fit over the whole
      val hllWhole = reg(Sketch.fitRegisters(items.toDF("source", "term")))
      val hllMerged = reg(Sketch.mergeRegisters(
        parts.map(p => Sketch.fitRegisters(p.toDF("source", "term")))))
      assert(hllMerged == hllWhole, s"trial $trial hll")
      // CMS: sum-merge of the parts == one fit over the whole, and
      // estimates stay one-sided vs exact counts
      val keyed = items.map(t => t._1 + "|" + t._2)
      def cms(df: org.apache.spark.sql.DataFrame) =
        df.as[(Int, Long, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
      val cmsWhole = cms(Sketch.cmsFit(keyed.toDF("key")))
      val cmsMerged = cms(Sketch.cmsMerge(parts.map(p =>
        Sketch.cmsFit(p.map(t => t._1 + "|" + t._2).toDF("key")))))
      assert(cmsMerged == cmsWhole, s"trial $trial cms")
      val exact = keyed.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      val probes = exact.keys.take(40).toSeq.toDF("key")
      Sketch.cmsEstimate(Sketch.cmsFit(keyed.toDF("key")), probes)
        .as[(String, Long)].collect().foreach { case (k, est) =>
          assert(est >= exact(k), s"trial $trial: $k one-sidedness") }
    }
  }

  test("g06 k-core on random graphs: sound, degree-consistent, and maximal") {
    val rnd = new Random(41)
    (1 to 4).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val p = 0.05 + rnd.nextDouble() * 0.2
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < p
      } yield (a, b)).toSeq
      val k = 2 + rnd.nextInt(4)
      val got = graft.operators.Graph.kcore(edges.toDF("a", "b"), k = k,
          maxIter = n)
        .as[(Long, Long, Long)].collect()
      val core = got.map(_._1).toSet
      val full = edges.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      // soundness + degree consistency: core_degree is the true
      // induced degree, >= k; reported full degree is the true one
      got.foreach { case (v, deg, cdeg) =>
        assert(deg == full(v).size, s"trial $trial node $v full degree")
        assert(cdeg == (full(v) & core).size, s"trial $trial node $v cdeg")
        assert(cdeg >= k, s"trial $trial node $v below k")
      }
      // maximality: the simultaneous peel reaches the UNIQUE maximal
      // k-core — replay it on local sets and require the same node set
      var cur = full.keySet
      var changed = true
      while (changed) {
        val next = cur.filter(v => (full(v) & cur).size >= k)
        changed = next != cur
        cur = next
      }
      assert(core == cur, s"trial $trial: operator core != peel fixpoint")
    }
  }

  test("f32 EWMA on random series: alarms equal a local replay of the recursion") {
    val rnd = new Random(43)
    (1 to 3).foreach { trial =>
      // 2 users × 22-28 days of Poisson-ish counts with planted
      // drift tails and random silent gaps (≤ 28 keeps the literal
      // dates inside January)
      val rows = (1 to 2).flatMap { uid =>
        val days = 22 + rnd.nextInt(7)
        (1 to days).flatMap { d =>
          val base = if (d > days - 6) 4 + rnd.nextInt(6) else rnd.nextInt(5)
          val x = if (rnd.nextDouble() < 0.15) 0 else base
          (0 until x).map(i => (uid.toLong,
            java.sql.Timestamp.valueOf(f"2024-01-$d%02d ${i % 24}%02d:00:00")))
        }
      }
      val got = graft.operators.Velocity.ewmaChart(rows.toDF("user_id", "ts"))
        .as[(Long, String, Long, Double, Double, Double, String)]
        .collect().toSet
      // local replay over the same zero-filled lattice
      val expect = rows.groupBy(_._1).flatMap { case (uid, evs) =>
        val perDay = evs.groupBy(_._2.toLocalDateTime.getDayOfMonth)
          .map { case (d, es) => d -> es.size.toLong }
        val (d0, d1) = (perDay.keys.min, perDay.keys.max)
        val xs = (d0 to d1).map(d => d -> perDay.getOrElse(d, 0L))
        val nd = xs.size
        val sx = xs.map(_._2).sum
        val sxx = xs.map(t => t._2 * t._2).sum
        val mu = sx.toDouble / nd
        val sd = math.sqrt((nd * sxx - sx * sx).toDouble / (nd.toDouble * nd))
        var s = mu; var q = 1.0
        xs.flatMap { case (d, x) =>
          q *= 0.5625
          s = 0.25 * x + 0.75 * s
          val hw = 3.0 * sd * math.sqrt(0.25 / 1.75 * (1.0 - q))
          def r6(v: Double) =
            BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (s > mu + hw || s < mu - hw)
            Some((uid, f"2024-01-$d%02d", x, r6(s), r6(mu + hw), r6(mu - hw),
              if (s > mu + hw) "high" else "low"))
          else None
        }
      }.toSet
      assert(got == expect, s"trial $trial")
    }
  }
}