package graft

import graft.operators.Linkage
import org.apache.spark.sql.functions._

/** f33 record linkage: planted sibling-account geometry the oracle's
  * hash compare can't explain on its own. */
class LinkageSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterEach {

  // suite convention: every cache-registering operator call is
  // released between tests so frames never accumulate in the shared
  // suite JVM (idempotent with the per-test try/finally blocks)
  override def afterEach(): Unit =
    try CacheRegistry.unpersistAll() finally super.afterEach()

  import spark.implicits._

  test("f33: planted siblings link, block boundaries and budget hold") {
    val recs = Seq(
      // block 1: an exact-sibling pair (1 edit), a 2-edit cousin, and
      // a far name
      (1L, "mallory-shop", 1L), (2L, "mallory-shoq", 1L),
      (3L, "mallory-chop", 1L), (4L, "completely-other", 1L),
      // block 2: same name as key 1 but ANOTHER block — must not link
      (5L, "mallory-shop", 2L),
      // block 2: a lone typo pair
      (6L, "acme-store", 2L), (7L, "acme-stores", 2L))
      .toDF("key", "name", "block")
    val got = Linkage.bestMatches(recs)
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._4, r._5))).toMap
    // best match is the NEAREST, ties broken by partner key: shoq and
    // chop both sit at dist 1 from shop (one substitution each), and
    // shoq↔chop at dist 2
    assert(got(1L) == ((2L, 1L, 2L))) // tie at dist 1 -> min key 2
    assert(got(2L) == ((1L, 1L, 2L)))
    assert(got(3L) == ((1L, 1L, 2L))) // chop -> shop at dist 1
    // the far name and the cross-block twin have no verdict row
    assert(!got.contains(4L) && !got.contains(5L))
    // cross-block twin never linked: 5's name equals 1's exactly
    assert(got(6L) == ((7L, 1L, 1L)))
    assert(got(7L) == ((6L, 1L, 1L)))
  }

  test("f33 face: verdicts are symmetric-consistent and within budget") {
    val rows = Linkage.f33(spark, sf("sf0.001"))
      .as[(Long, Long, String, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byKey = rows.map(r => r._1 -> r).toMap
    rows.foreach { case (k, m, _, d, n) =>
      assert(d <= Linkage.MaxEdits && n >= 1)
      assert(k != m)
      // linkage candidacy is symmetric: my best match must itself
      // have a verdict (its own best may be a different, closer key)
      assert(byKey.contains(m), s"$k -> $m asymmetric")
    }
  }

  test("f35: survivorship merges transitive clusters under the rules") {
    val recs = Seq(
      // block 1, a TRANSITIVE chain: 1-2 dist 2, 2-3 dist 1, but
      // 1-3 dist 3 (outside the budget) — only closure links them
      (1L, "aaaaa", 1L, 10.5, "X"),
      (2L, "aaabb", 1L, 20.25, "Y"),
      (3L, "aabbb", 1L, 30.25, "Y"),
      // block 2: a pair with a SEGMENT TIE -> lexicographic min wins
      (10L, "acme-store", 2L, 1.0, "Q"),
      (11L, "acme-stores", 2L, 2.0, "P"),
      // block 2: exact twin of key 1's name — blocking must keep it
      // out of cluster 1; alone in its block, it's a singleton
      (20L, "aaaaa", 2L, 99.0, "Z"),
      // block 1 singleton: far from everything
      (30L, "completely-other", 1L, 5.0, "W"))
      .toDF("key", "name", "block", "bal", "segment")
    val got = Linkage.goldenRecords(recs)
      .as[(Long, Long, String, Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // exactly the two multi-member clusters; singletons are absent
    assert(got.keySet == Set(1L, 10L))
    // chain cluster: master key 1's name survives, balances
    // decimal-sum exactly, segment mode Y beats X
    assert(got(1L) == ((3L, "aaaaa", 1L, 61.0, "Y")))
    // tie cluster: one Q + one P -> lexicographic min P
    assert(got(10L) == ((2L, "acme-store", 2L, 3.0, "P")))
  }

  test("composite blocking is loss-free: segmented == coarse pairs " +
      "row-for-row on real names and on the demo corpus") {
    def pairs(df: org.apache.spark.sql.DataFrame, seg: Boolean) =
      Linkage.linkPairs(df, segmentBlocked = seg)
        .as[(Long, String, Long, String, Long)].collect().toSet
    val cust = graft.Tables.customer(spark, sf("sf0.001"))
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_nationkey").as("block"))
    assert(pairs(cust, seg = true) == pairs(cust, seg = false))
    assert(pairs(cust, seg = true).nonEmpty)
    val demo = Linkage.blockDemoCorpus(
      graft.Tables.customer(spark, sf("sf0.001")), 600)
    assert(pairs(demo, seg = true) == pairs(demo, seg = false))
  }

  test("posting cap: lossless when it doesn't bind (audit cap == " +
      "exhaustive at sf0.001), DETECTABLY lossy when it does (cap=1 " +
      "negative control), and rejected on the coarse gear") {
    def pairs(df: org.apache.spark.sql.DataFrame, cap: Option[Int]) =
      Linkage.linkPairs(df, postingCap = cap)
        .as[(Long, String, Long, String, Long)].collect().toSet
    val cust = graft.Tables.customer(spark, sf("sf0.001"))
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_nationkey").as("block"))
    val exhaustive = pairs(cust, None)
    assert(exhaustive.nonEmpty)
    // the audit cap sits above every measured small-SF posting
    // (max 26 at sf0.01 / 44 at sf0.1) — bit-for-bit lossless, which
    // is what makes f33b answer f33's exhaustive oracle
    assert(pairs(cust, Some(Linkage.AuditPostingCap)) == exhaustive)
    // negative control: a cap of 1 drops every shared posting of a
    // genuinely linked pair — if the cap machinery silently failed to
    // prune (e.g. the semi-join degenerated to a no-op), this set
    // would stay equal and the audit face would prove nothing
    val crippled = pairs(cust, Some(1))
    assert(crippled.size < exhaustive.size,
      "cap=1 must visibly lose pairs on dense names")
    assert(crippled.subsetOf(exhaustive),
      "the cap may only DROP pairs, never invent them")
    intercept[IllegalArgumentException] {
      Linkage.linkPairs(cust, segmentBlocked = false, postingCap = Some(8))
    }
  }

  test("composite blocking recall: every planted sibling (substitution " +
      "AND shift family) links under the segment gear") {
    val demo = Linkage.blockDemoCorpus(
      graft.Tables.customer(spark, sf("sf0.001")), 600)
      .transform(CacheRegistry.register)
    val planted = demo
      .filter(col("key") >= Linkage.DemoSiblingOffset)
      .select(col("key")).as[Long].collect().toSet
    assert(planted.exists(_ >= 2 * Linkage.DemoSiblingOffset),
      "demo corpus must contain shift-family plants")
    val got = Linkage.linkPairs(demo, segmentBlocked = true)
      .select(col("key"), col("match_key"), col("dist"))
      .as[(Long, Long, Long)].collect()
    val linkedPlants = got.map(_._2).toSet // plants carry the big keys
    planted.foreach { p =>
      val src = p % Linkage.DemoSiblingOffset
      assert(got.exists(r => r._1 == src && r._2 == p && r._3 <= 2),
        s"planted sibling ($src, $p) not recalled")
    }
    assert(planted.subsetOf(linkedPlants))
  }

  test("composite gear rejects out-of-range budgets at construction; " +
      "the coarse gear still takes them") {
    val recs = Seq((1L, "abc", 1L)).toDF("key", "name", "block")
    val e = intercept[IllegalArgumentException] {
      Linkage.linkPairs(recs, maxEdits = 3)
    }
    assert(e.getMessage.contains("segmentBlocked = false"))
    // budget 0 and 3 remain expressible on the explicit coarse gear
    assert(Linkage.linkPairs(recs, maxEdits = 0,
      segmentBlocked = false).count() == 0)
  }

  test("native deletion variants == the full <=2-deletion enumeration " +
      "as string sets (canonicalization loses nothing), incl. unicode runs") {
    import org.apache.spark.unsafe.types.UTF8String
    def native(s: String): Set[String] =
      graft.plans.DeleteVariants.compute(UTF8String.fromString(s), 2)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSet
    def reference(s: String): Set[String] = {
      val cps = s.codePoints().toArray
      def drop(ix: Set[Int]): String = new String(
        cps.zipWithIndex.filterNot(c => ix(c._2)).flatMap(c =>
          Character.toChars(c._1)))
      val d1 = cps.indices.map(i => drop(Set(i)))
      val d2 = for (i <- cps.indices; j <- cps.indices if i < j)
        yield drop(Set(i, j))
      (Seq(s) ++ d1 ++ d2).toSet
    }
    val rng = new scala.util.Random(42)
    val alphaCps = "aabbcccdxyzéα😀".codePoints().toArray // runs + 2-byte + astral
    val cases = Seq("", "a", "aa", "aaa", "aba", "Customer#000012345",
      "😀😀a") ++
      (0 until 100).map(_ => (0 until rng.nextInt(12)).map(_ =>
        new String(Character.toChars(alphaCps(rng.nextInt(alphaCps.length)))))
        .mkString)
    cases.foreach { sIn =>
      assert(native(sIn) == reference(sIn), s"variant set mismatch on '$sIn'")
    }
  }

  test("segment probe enumeration is complete for random <=2-edit " +
      "pairs including shifting indels") {
    val rng = new scala.util.Random(20260815L)
    val alpha = "abcdefg"
    def randStr(n: Int) =
      (0 until n).map(_ => alpha(rng.nextInt(alpha.length))).mkString
    def mutate(s: String): String = {
      val edits = 1 + rng.nextInt(2)
      (0 until edits).foldLeft(s) { (cur, _) =>
        if (cur.isEmpty) cur + alpha(rng.nextInt(alpha.length))
        else rng.nextInt(3) match {
          case 0 => // substitution
            val i = rng.nextInt(cur.length)
            cur.updated(i, alpha(rng.nextInt(alpha.length)))
          case 1 => // deletion (shifts everything after it)
            val i = rng.nextInt(cur.length)
            cur.take(i) + cur.drop(i + 1)
          case _ => // insertion
            val i = rng.nextInt(cur.length + 1)
            cur.take(i) + alpha(rng.nextInt(alpha.length)) + cur.drop(i)
        }
      }
    }
    val cases = (0 until 200).map { i =>
      val base = randStr(8 + rng.nextInt(13))
      (2L * i, base, 2L * i + 1, mutate(base))
    }
    val recs = cases.flatMap { case (ka, a, kb, b) =>
      // one isolated block per case so each pair is judged alone
      Seq((ka, a, ka / 2), (kb, b, ka / 2))
    }.toDF("key", "name", "block")
    val found = Linkage.linkPairs(recs, segmentBlocked = true)
      .select(col("key"), col("match_key"))
      .as[(Long, Long)].collect().toSet
    cases.foreach { case (ka, a, kb, b) =>
      // only pairs genuinely within the budget must be found (an edit
      // can undo another, and two random edits occasionally leave the
      // string unchanged — dist 0 pairs still link)
      val d = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(a, b)
      if (d <= Linkage.MaxEdits)
        assert(found.contains((ka, kb)),
          s"missed within-budget pair d=$d: '$a' vs '$b'")
      else assert(!found.contains((ka, kb)),
        s"budget violation: '$a' vs '$b' d=$d linked")
    }
  }

  test("41s gate: batch-2 alerts == bestMatches over the union; " +
      "replay changes nothing; a real stream drives the same path") {
    val b1 = Seq((1L, "mallory-shop", 1L), (2L, "mallory-shoq", 1L),
      (10L, "acme-store", 2L)).toDF("key", "name", "block")
    val b2 = Seq((3L, "mallory-chop", 1L), (11L, "acme-stores", 2L),
      (20L, "unrelated-name", 1L)).toDF("key", "name", "block")
    implicit val sqlCtx = spark.sqlContext
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Long, Long)] =
      df.select("key", "match_key", "match_name", "dist", "n_candidates")
        .as[(Long, Long, String, Long, Long)].collect().toSet
    val root = scratch("linkgate")
    Linkage.linkageBatch(b1, 0L, root)
    Linkage.linkageBatch(b2, 1L, root)
    val alerts = Linkage.readLinkageAlerts(spark, root)
    // batch 0 sees only itself: the sibling pair alerts both ways,
    // the lone acme is clean
    assert(rows(alerts.filter(col("batch") === 0)) ==
      Set((1L, 2L, "mallory-shoq", 1L, 1L), (2L, 1L, "mallory-shop", 1L, 1L)))
    // batch 1's candidate set (own members + state) is EXACTLY what
    // batch bestMatches sees over the union — verdicts must agree
    val expect = rows(Linkage.bestMatches(b1.unionByName(b2))
      .filter(col("key").isin(3L, 11L, 20L)))
    assert(rows(alerts.filter(col("batch") === 1)) == expect)
    assert(expect.map(_._1) == Set(3L, 11L)) // 20 is clean everywhere
    // crash-replay of batch 1: same alerts, same state row count
    val before = (rows(alerts), Linkage.readLinkageAlerts(spark, root).count(),
      spark.read.parquet(s"$root/state").count())
    Linkage.linkageBatch(b2, 1L, root)
    val after = Linkage.readLinkageAlerts(spark, root)
    assert((rows(after), after.count(),
      spark.read.parquet(s"$root/state").count()) == before)
    // and a REAL writeStream over MemoryStream lands the same alerts
    val root2 = scratch("linkgate2")
    val ckp = scratch("linkckp")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val q = Linkage.maintainLinkage(
      input.toDF().toDF("key", "name", "block"), root2, ckp)
    try {
      input.addData(b1.as[(Long, String, Long)].collect().toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.as[(Long, String, Long)].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(Linkage.readLinkageAlerts(spark, root2)) ==
      rows(Linkage.readLinkageAlerts(spark, root)))
  }

  test("41s gate: probe shapes agree (broadcast == shuffle), the variant " +
      "index carries exactly the slim frame, and a crash between the " +
      "varstate and state writes heals on replay") {
    val b1 = Seq((1L, "mallory-shop", 1L), (2L, "mallory-shoq", 1L),
      (10L, "acme-store", 2L)).toDF("key", "name", "block")
    val b2 = Seq((3L, "mallory-chop", 1L), (11L, "acme-stores", 2L))
      .toDF("key", "name", "block")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, String, Long)] =
      df.select(col("batch"), col("key"), col("match_key"),
        col("match_name"), col("dist"))
        .as[(Long, Long, Long, String, Long)].collect().toSet
    // broadcast (default: tiny batches) vs pinned shuffle path
    val rootB = scratch("linkgate-b")
    val rootS = scratch("linkgate-s")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      Linkage.linkageBatch(b, i.toLong, rootB)
      Linkage.linkageBatch(b, i.toLong, rootS, probeBroadcastRows = 0L)
    }
    val expect = rows(Linkage.readLinkageAlerts(spark, rootB))
    assert(expect == rows(Linkage.readLinkageAlerts(spark, rootS)))
    assert(expect.nonEmpty)
    // the maintained variant index is exactly the records' deletion
    // neighborhoods (one generation per record lifetime)
    val varRows = spark.read.parquet(s"$rootB/varstate").count()
    val wanted = b1.unionByName(b2)
      .select(explode(Linkage.deletionVariants(spark, col("name")))).count()
    assert(varRows == wanted)
    // crash window: varstate/batch=1 landed but state/batch=1 did not
    // — the stream replays id 1 and must converge to the same result
    def rm(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
    rm(s"$rootB/state/batch=1")
    rm(s"$rootB/alerts/batch=1")
    Linkage.linkageBatch(b2, 1L, rootB)
    assert(rows(Linkage.readLinkageAlerts(spark, rootB)) == expect)
    assert(spark.read.parquet(s"$rootB/varstate").count() == wanted)
  }

  test("41s gate: a pre-index state tree (state levels, no varstate) " +
      "heals itself — legacy batches still alert, index rebuilt") {
    val b1 = Seq((1L, "mallory-shop", 1L), (10L, "acme-store", 2L))
      .toDF("key", "name", "block")
    val b2 = Seq((2L, "mallory-shoq", 1L)).toDF("key", "name", "block")
    val b3 = Seq((11L, "acme-stores", 2L)).toDF("key", "name", "block")
    def alerts(root: String) =
      Linkage.readLinkageAlerts(spark, root)
        .select("batch", "key", "match_key", "dist")
        .as[(Long, Long, Long, Long)].collect().toSet
    def rm(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
    // reference: the uninterrupted gate
    val ref = scratch("linkgate-ref")
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      Linkage.linkageBatch(b, i.toLong, ref)
    }
    // legacy: run 0 and 1, then simulate a pre-r17 artifact by
    // deleting the WHOLE varstate tree; batch 2 must still see the
    // accumulated state (key 11 links to state key 10) and the index
    // must be rebuilt for the missing levels
    val leg = scratch("linkgate-leg")
    Linkage.linkageBatch(b1, 0L, leg)
    Linkage.linkageBatch(b2, 1L, leg)
    rm(s"$leg/varstate")
    Linkage.linkageBatch(b3, 2L, leg)
    assert(alerts(leg) == alerts(ref))
    assert(alerts(leg).exists { case (batch, key, mk, _) =>
      batch == 2L && key == 11L && mk == 10L })
    // healed: every committed state level has its varstate sibling
    val fs = new org.apache.hadoop.fs.Path(leg)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def levels(sub: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$leg/$sub"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).toSet
    assert(levels("varstate").intersect(levels("state")) ==
      Set("batch=0", "batch=1", "batch=2"))
  }

  test("41s gate: a pre-r18 block-partitioned state tree heals to the " +
      "flat layout on resume — alerts unchanged, whole tree readable") {
    val b1 = Seq((1L, "mallory-shop", 1L), (10L, "acme-store", 2L))
      .toDF("key", "name", "block")
    val b2 = Seq((2L, "mallory-shoq", 1L)).toDF("key", "name", "block")
    val b3 = Seq((11L, "acme-stores", 2L)).toDF("key", "name", "block")
    def alerts(root: String) =
      Linkage.readLinkageAlerts(spark, root)
        .select("batch", "key", "match_key", "dist")
        .as[(Long, Long, Long, Long)].collect().toSet
    val conf = spark.sparkContext.hadoopConfiguration
    def rm(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).delete(path, true)
    }
    // reference: the uninterrupted flat gate
    val ref = scratch("linkgate-flatref")
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      Linkage.linkageBatch(b, i.toLong, ref)
    }
    // legacy: run 0 and 1, then rewrite both committed levels the
    // pre-r18 way — block=* subdirs, key+name-only data files —
    // exactly what a pre-r18 gate left on disk (mixing that depth
    // with one flat r18 level breaks whole-tree partition discovery)
    val leg = scratch("linkgate-blk")
    Linkage.linkageBatch(b1, 0L, leg)
    Linkage.linkageBatch(b2, 1L, leg)
    Seq(0L, 1L).foreach { b =>
      val lvl = spark.read.parquet(s"$leg/state/batch=$b")
        .select("key", "name", "block")
        .as[(Long, String, Long)].collect().toSeq
      rm(s"$leg/state/batch=$b")
      lvl.toDF("key", "name", "block").write
        .partitionBy("block").parquet(s"$leg/state/batch=$b")
    }
    // plus a junk UNCOMMITTED heal tmp (no _SUCCESS): the partial-
    // write crash window — it must be dropped and the heal redone
    val junk = new org.apache.hadoop.fs.Path(s"$leg/stateheal/batch=0/part-junk")
    val fs = junk.getFileSystem(conf)
    val out = fs.create(junk); out.write(1); out.close()
    // resuming the gate heals first, then alerts as if never migrated
    Linkage.linkageBatch(b3, 2L, leg)
    assert(alerts(leg) == alerts(ref))
    assert(alerts(leg).exists { case (batch, key, mk, _) =>
      batch == 2L && key == 11L && mk == 10L })
    // the healed tree is uniformly flat: the whole-tree schema'd read
    // works (this very read threw "conflicting directory structures"
    // pre-heal), row set preserved, no block=* subdirs anywhere, and
    // the heal scratch is gone
    val state = spark.read.parquet(s"$leg/state")
    assert(state.select("key", "name", "block").as[(Long, String, Long)]
      .collect().toSet ==
      spark.read.parquet(s"$ref/state")
        .select("key", "name", "block").as[(Long, String, Long)]
        .collect().toSet)
    val stateRoot = new org.apache.hadoop.fs.Path(s"$leg/state")
    fs.listStatus(stateRoot).filter(_.isDirectory).foreach { lvl =>
      assert(!fs.listStatus(lvl.getPath).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("block=")),
        s"${lvl.getPath} still block-partitioned")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$leg/stateheal")))
    // replaying the trigger on the healed tree is a no-op heal
    Linkage.linkageBatch(b3, 2L, leg)
    assert(alerts(leg) == alerts(ref))
  }

  test("41s gate: a re-registered key never matches its own earlier " +
      "version, identically on both probe gears") {
    // key 1 registers in batch 0 and RE-registers with a 1-edit name
    // in batch 1 — the bestMatches contract (a record has no self
    // distance) must hold across batches, and the trickle-merged and
    // backfill-shuffle gears must agree row-for-row on it
    val b1 = Seq((1L, "mallory-shop", 1L), (10L, "acme-store", 2L))
      .toDF("key", "name", "block")
    val b2 = Seq((1L, "mallory-shoq", 1L), (2L, "mallory-chop", 1L))
      .toDF("key", "name", "block")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("batch"), col("key"), col("match_key"), col("dist"))
        .as[(Long, Long, Long, Long)].collect().toSet
    val rootT = scratch("linkgate-rr-t")
    val rootS = scratch("linkgate-rr-s")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      Linkage.linkageBatch(b, i.toLong, rootT)
      Linkage.linkageBatch(b, i.toLong, rootS, probeBroadcastRows = 0L)
    }
    val t = rows(Linkage.readLinkageAlerts(spark, rootT))
    assert(t == rows(Linkage.readLinkageAlerts(spark, rootS)),
      "probe gears diverged on a re-registration stream")
    // no self-match anywhere, and the re-registered key still links
    // to its GENUINE neighbors (2 is 1 edit from both versions of 1)
    assert(t.forall { case (_, k, mk, _) => k != mk })
    assert(t.exists { case (b, k, mk, _) => b == 1L && k == 2L && mk == 1L })
  }

  test("41s gate: an empty first trigger doesn't poison the state read") {
    // regression: an empty batch writes a file-less state level; the
    // next trigger's state read must not die on schema inference
    val root = scratch("linkgate-e")
    val empty = Seq.empty[(Long, String, Long)]
      .toDF("key", "name", "block")
    Linkage.linkageBatch(empty, 0L, root)
    val b1 = Seq((1L, "acme-store", 1L), (2L, "acme-stores", 1L))
      .toDF("key", "name", "block")
    Linkage.linkageBatch(b1, 1L, root)
    val alerts = Linkage.readLinkageAlerts(spark, root)
      .select("key").as[Long].collect().toSet
    assert(alerts == Set(1L, 2L))
  }
}
