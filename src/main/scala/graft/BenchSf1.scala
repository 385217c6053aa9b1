package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-up evidence run (r15 verdict item 4): the capped dedup
  * family, IVF-PQ serving and the streaming gate at ~sf1, i.e. 10×
  * the bench corpus. The driver generates no sf1 tables, so this
  * main derives one from the sf0.1 corpus — 10 replicas, each doc of
  * replica k pairing its own first word-half with the second half of
  * a DETERMINISTIC partner doc (rank-shifted by k·2999): word/shingle
  * frequency statistics scale ~10× like a real corpus growth would,
  * while cross-replica Jaccard sits near 1/3 — far under the near-dup
  * threshold — so replication does not plant a 10-member near-dup
  * cluster on every doc (the failure a verbatim copy would cause).
  * Embeddings replicate with a k-step coordinate rotation
  * (norm-preserving, decorrelated). The derived tables land under
  * /tmp and are rebuilt only when absent.
  *
  * Faces are timed exactly like graft.Bench (noop sink, cache
  * registry drained between faces) and the one JSON line mirrors its
  * shape, written to BENCH_SF1.json for the round artifact.
  */
object BenchSf1 {

  val Replicas = 10
  val Off = 1000000000L

  /** The replica-profile derivation alone (shared with the autoPairs
    * gear-routing spec, which pins the profile's census at sf0.01
    * scale): each doc of replica k pairs its own first word-half with
    * a rank-shifted partner's second half — df scales ~×replicas like
    * real corpus growth, cross-replica Jaccard sits near 1/3. */
  def deriveDocs(docs: DataFrame, replicas: Int = Replicas): DataFrame = {
    val n = docs.count()
    val w = Window.orderBy(col("doc_id"))
    val base = docs
      .withColumn("rn", row_number().over(w))
      .withColumn("ws", split(col("text"), " "))
      .withColumn("h", (size(col("ws")) / 2).cast("int"))
      .select(col("doc_id"), col("lang"), col("source"), col("rn"),
        concat_ws(" ", slice(col("ws"), lit(1), col("h"))).as("h1"),
        concat_ws(" ",
          slice(col("ws"), col("h") + 1, size(col("ws")) - col("h"))).as("h2"))
      .transform(CacheRegistry.register)
    val reps = (1 until replicas).map { k =>
      val partner = ((col("rn") - 1 + lit(k * 2999L)) % n) + 1
      base.withColumn("p", partner).as("a")
        .join(base.select(col("rn").as("prn"), col("h2").as("ph2")).as("b"),
          col("a.p") === col("b.prn"))
        .select((col("a.doc_id") + k * Off).as("doc_id"),
          concat(col("a.h1"), lit(" "), col("ph2")).as("text"),
          col("a.lang"), col("a.source"))
    }
    reps.foldLeft(
      docs.select(col("doc_id"), col("text"), col("lang"), col("source")))(
      _ union _)
  }

  private def buildDocs(s: SparkSession, srcDir: String, out: String): Unit = {
    deriveDocs(Tables.documents(s, srcDir))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    CacheRegistry.unpersistAll()
  }

  private def buildEmbeddings(s: SparkSession, srcDir: String,
      out: String): Unit = {
    val emb = Tables.embeddings(s, srcDir)
    val all = (0 until Replicas).map { k =>
      if (k == 0) emb
      else emb.select((col("vec_id") + k * Off).as("vec_id"),
        concat(slice(col("embedding"), k + 1, 10000),
          slice(col("embedding"), 1, k)).as("embedding"),
        col("label"))
    }.reduce(_ union _)
    all.repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** 10 customer replicas with per-replica SMALL key offsets (k ×
    * 20000 keeps every key inside the 9-digit name field), names
    * re-derived from the offset key by the generator's own format —
    * so replica names are genuine levenshtein neighbors of their
    * base-block siblings, not trivial duplicates, and the nation
    * blocks grow 10× (pair count 100×: the honest quadratic stress
    * the f33 scaladoc documents). */
  private def buildCustomer(s: SparkSession, srcDir: String,
      out: String): Unit = {
    val cust = Tables.customer(s, srcDir)
    val all = (0 until Replicas).map { k =>
      if (k == 0) cust
      else cust.select((col("c_custkey") + k * 20000L).as("c_custkey"),
        format_string("Customer#%09d", col("c_custkey") + k * 20000L)
          .as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }.reduce(_ unionByName _)
    all.repartition(32)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
  }

  /** 10 lineitem replicas with BOTH keys offset (k·Off on l_orderkey,
    * k·PartOff on l_partkey): the co-purchase graph becomes 10
    * structure-preserving disjoint copies — 10× nodes, 10× edges,
    * identical degree distribution — so the graph faces (g03 fixpoint,
    * g04 wedge join, g06 peel loop) measure how the ITERATIVE plans
    * scale with data volume (lineage length, shuffle bytes, cached
    * frame size) with the per-copy answer pinned to the sf0.1 one.
    * Disjoint replication is deliberate and documented: a denser
    * single graph would change the PROBLEM (wedge counts grow
    * super-linearly); copies isolate the engine-scaling question. */
  private val PartOff = 10000000L

  private def buildLineitem(s: SparkSession, srcDir: String,
      out: String): Unit = {
    val li = Tables.lineitem(s, srcDir)
    val all = (0 until Replicas).map { k =>
      if (k == 0) li
      else li
        .withColumn("l_orderkey", col("l_orderkey") + k * Off)
        .withColumn("l_partkey", col("l_partkey") + k * PartOff)
    }.reduce(_ unionByName _)
    all.repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
  }

  /** 10 part replicas with l_partkey-aligned offsets (k·PartOff, the
    * same constant buildLineitem shifts l_partkey by — q20's catalog
    * probe and any part↔lineitem join stay consistent across the
    * copies). Identical attribute rows per copy: the per-segment
    * stats keep their sf0.1 means/stdevs at 10× support — the same
    * engine-scaling-not-problem-scaling convention as the disjoint
    * graph copies. */
  private def buildPart(s: SparkSession, srcDir: String,
      out: String): Unit = {
    val p = Tables.part(s, srcDir)
    val all = (0 until Replicas).map { k =>
      if (k == 0) p
      else p.withColumn("p_partkey", col("p_partkey") + k * PartOff)
    }.reduce(_ unionByName _)
    all.repartition(32)
      .write.mode("overwrite").parquet(s"$out/part.parquet")
  }

  /** 10 events replicas with disjoint user/event-id universes —
    * sessionization (q28's window chains) scales by user count, the
    * per-user session structure is pinned to the sf0.1 answer. The
    * write goes through Tables.events' normalized TimestampType, so
    * the derived file round-trips the loader's micros branch. */
  private def buildEvents(s: SparkSession, srcDir: String,
      out: String): Unit = {
    val ev = Tables.events(s, srcDir)
    val all = (0 until Replicas).map { k =>
      if (k == 0) ev
      else ev.withColumn("event_id", col("event_id") + k * Off)
        .withColumn("user_id", col("user_id") + k * Off)
    }.reduce(_ unionByName _)
    all.repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-sf1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/documents.parquet")))
      buildDocs(spark, srcDir, out)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/embeddings.parquet")))
      buildEmbeddings(spark, srcDir, out)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/customer.parquet")))
      buildCustomer(spark, srcDir, out)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/lineitem.parquet")))
      buildLineitem(spark, srcDir, out)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/part.parquet")))
      buildPart(spark, srcDir, out)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/events.parquet")))
      buildEvents(spark, srcDir, out)
    CacheRegistry.unpersistAll()

    // generic warmup (the Bench convention, shortened): JIT +
    // codegen + columnar cache infra on synthetic rows
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$out/$t.parquet").foreach(_ => ())
    }

    val faces = Seq(
      "d02_ngram_jaccard_capped", "d07_winnow_pairs_capped",
      "d10_run_overlap_capped", "d06_dedup_clusters_capped",
      "c01_corpus_clean_capped", "s05b_ivfpq_artifact",
      "st02_gate_trigger", "d02p_prefix_jaccard",
      // r16-late: the postings serving artifact's full lifecycle at
      // 10x docs — build + write + pruned serve (the s05b sibling)
      "s15_bm25_index",
      // r16-late: the ER family's honest quadratic stress — nation
      // blocks grow 10x (block pairs 100x would be the coarse gear's
      // bill; r17's composite deletion-neighborhood blocker pays the
      // linear explode + true-candidate mass instead: 39.8 -> 27.8 s)
      "f33_dup_accounts",
      // r17 (r16 verdict item 6): the graph family's iterative plans
      // at 10x data — fixpoint (g03), wedge join behind the adaptive
      // hub gate (g04), materialized peel rounds (g06) — over the
      // structure-preserving 10-copy co-purchase graph (see
      // buildLineitem: engine scaling isolated from problem growth)
      "g03_pagerank", "g04_triangles", "g06_kcore",
      // r17: the ER family's full surface at 10x — survivorship over
      // the composite-blocked pairs, and the registration gate whose
      // per-trigger state probe is LINEAR in pruned state (the
      // composite gear's serving-edge guarantee, measured here);
      // plus the streaming ANN-index maintenance lifecycle at 10x
      // embeddings
      "f35_golden_record", "st08_linkage_gate", "st09_vector_maintain",
      // r17 (41v): the trickle serving cadence at 10x state — ten
      // customers/300-record triggers (~500 at sf1) probing a
      // ~145k-record maintained
      // variant index; the pair separates the probe JOIN SHAPE
      // (shuffle vs broadcast) at a state size where the exchange
      // saving is structural, not fixed-overhead noise
      "st08b_trickle_probe", "st08b_trickle_probe_bcast",
      // r18 (r17 verdict item 6): the fraud, relational and search
      // headliners' first sf1 evidence — composite-z scoring over the
      // replicated catalog (f04) and the full text-extraction scorer
      // against the pinned stats (f12), the co-purchase pair
      // mining with its adaptive catalog prune (q20), sessionized
      // top paths over 10x users (q28), BM25 scoring (s06; its
      // served-index sibling s15 is already above), graph risk
      // propagation (f34) and the sampled link-prediction face (g05)
      // over the 10-copy graph
      "f04_risk_score", "f12_score_items", "q20_copurchase",
      "q28_top_paths", "s06_bm25", "f34_risk_propagation",
      "g05_link_predict",
      // r19 (r18 verdict item 3): the end-to-end fraud-pipeline
      // composition at 10x — the reference's whole run_pipeline.sh is
      // this chain, so it's the headline a user scales first. fp01
      // times the full chain INCLUDING the NDJSON land+re-read hop;
      // fp02 is the oracle-expressible f01→f03→f04→f05 subchain as
      // one plan. The per-stage attribution is graft.PipeProfile's
      // measurement (quoted in SURVEY §7), not a face.
      "fp01_fraud_pipeline", "fp02_pipeline_core",
      // r19 (r18 verdict item 2): the graph mart at 10x — one fresh
      // edge/degree build (the per-refresh cost) and the two biggest
      // staged-vs-in-plan deltas served from it (their in-plan twins
      // g03/g04 are already above; benchSetup prebuilds the mart so
      // the staged faces time the serve, not the build)
      "g08_graph_mart_build", "g03_pagerank_staged",
      "g04_triangles_staged",
      // r20 (r19 verdict item 4): the ER posting-cap gear at 10x,
      // next to its exhaustive twin (f33 above) — the sf1 facts the
      // AuditPostingCap scaladoc quotes: the cap BINDS here (postings
      // reach 91) yet reads SLOWER than exhaustive while losing 1.5%
      // of true pairs, which is why it stays an audited opt-in, not a
      // router choice (the d02 cap's U-curve lesson replayed in ER)
      "f33b_capped_audit")
    val benched = SparkEntry.queries ++ SparkEntry.benchOnly
    // Cap-sizing probe for the d02 super-linear reading. The naive
    // remedy — tighten the cap so the grown posting lists fall to
    // the rare+hot decomposition — is MEASURED here, and it loses:
    // a tighter cap LOSES at sf1 (readings above),
    // because every key pushed into the hot set feeds the
    // hot-correction join (candidate pairs × hot postings), which
    // grows faster than the rare self-join shrinks on this df
    // distribution. The cost curve in the cap is U-shaped and its
    // minimum is corpus-specific — which is the honest posture
    // lesson this face exists to record: the cap is a measured
    // knob, not a dial you turn down by reflex. Output semantics
    // are the documented cap contract at any setting (exact counts
    // for every discovered candidate; only exclusively-hot-key
    // pairs out of scope).
    val custom: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "d02_ngram_jaccard_cap64" -> ((s: SparkSession, dir: String) =>
        operators.Dedup.d02(s, dir, maxDf = Some(64))),
      // The zero-loss prefix gear (d02p) measured on the same
      // df-stress corpus — and it LOSES here (192.3 vs 38.5 s capped
      // in the committed r17 sweep; 170-270 vs 37-55 historically),
      // for a structural reason worth recording next to the cap64
      // probe: the replica construction gives every doc ~19
      // "half-sibling" docs (Jaccard ≈ 1/3, below threshold) that
      // GENUINELY share ~half their RARE shingles. A prefix filter
      // can only prune pairs without rare-prefix overlap, so all
      // ~5M half-sibling pairs become candidates, and exact
      // verification pays ~|A| rows per candidate (~1e9) where the
      // direct co-occurrence count join pays only the shared-shingle
      // rows (~1e8 — it IS the optimal evaluator when collision mass
      // sits on sub-threshold pairs with rare overlap). Prefix wins
      // the opposite profile — co-occurrence mass concentrated on
      // HOT shingles (the d09 boilerplate shape: ties the cap with
      // zero loss while exhaustive pays 2x). Three measured knobs,
      // each optimal on a different co-occurrence-mass profile; none
      // dominates, which is why all three ship. (The d02p face itself
      // resolves from SparkEntry.queries via the `faces` list — one
      // definition, no drift.)
      // the full production composition on the prefix generator: the
      // d06_dedup_clusters_capped twin (67.2 s capped vs 218.4 prefix
      // in the committed r17 sweep)
      "d06_dedup_clusters_prefix" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        operators.Dedup.connectedComponents(
          operators.Dedup.jaccardPairsPrefix(docs)
            .select(col("a"), col("b")),
          docs.select(col("doc_id").as("id")))
      }),
      // r18 (r17 verdict item 3): the census-ROUTED composition on
      // the replica corpus — the router must pick the capped gear
      // here (1.38e8 pair mass, hot share 0; the pinned twins above
      // measure what the wrong gear costs: prefix 243.6 s vs capped
      // 54.7 in the committed r17 sweep). The face asserts the route
      // before timing — a silently flipped route would otherwise
      // read as a mere regression.
      "d06_dedup_clusters_auto" -> ((s: SparkSession, dir: String) => {
        val docs = Tables.documents(s, dir)
        val gear = operators.Dedup.chooseGear(
          operators.Dedup.gearCensus(docs))
        require(gear == operators.Dedup.CappedGear,
          s"replica-corpus route drifted: expected CappedGear, got $gear")
        operators.Dedup.connectedComponents(
          operators.Dedup.autoPairs(docs).select(col("a"), col("b")),
          docs.select(col("doc_id").as("id")))
      }))
    // ONE timing methodology for every bench artifact: Bench.timeFace
    // (noop sink + boundary hygiene) — so a measurement change can
    // never land in the sf0.1 dumps but not here (or vice versa).
    // SPARK_GRAFT_ONLY narrows the sweep (the Bench semantics) for
    // single-face landing runs; a partial run prints its line but
    // does NOT overwrite BENCH_SF1.json (the committed artifact stays
    // the full-sweep record — splice partial readings by hand, the
    // appendix convention).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val all = faces.map(n => n -> benched(n)) ++ custom
    val selected = only match {
      case Some(names) =>
        // fail fast like Bench.main: a typo'd or non-sf1 face name
        // must not produce a green-looking 0-second empty sweep
        val known = all.map(_._1).toSet
        val unknown = names -- known
        require(unknown.isEmpty,
          s"unknown sf1 face(s): ${unknown.mkString(", ")} — " +
            s"valid: ${known.toSeq.sorted.mkString(", ")}")
        all.filter { case (n, _) => names(n) }
      case None => all
    }
    val results = selected.map {
      case (name, fn) =>
        // untimed state construction + boundary hygiene — the ONE
        // shared Bench.runSetup contract (e.g. the st08b trickle
        // pair's seeded gate state)
        val setupOk = Bench.runSetup(spark, name, out, tag = "sf1")
        name -> (if (setupOk) Bench.timeFace(spark, name, fn, out, tag = "sf1")
                 else -1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failures = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""failures":$failures,"queries":$qs,"sf":"sf1-replica(10x $srcDir)"}"""
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SF1.json"),
        json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
