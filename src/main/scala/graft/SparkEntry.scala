package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The composite weighted-z risk engine is the reference's
    * core capability (poller.py:333-495). */
  def entry(spark: SparkSession): DataFrame =
    operators.Fraud.f04(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++ operators.Fraud.queries ++
      operators.RiskEngine.queries ++ operators.IncrementalStats.queries ++
      operators.TextOps.queries ++ operators.Dedup.queries ++
      operators.Similarity.queries ++ operators.Search.queries ++
      operators.Corpus.queries ++ operators.Upsert.queries ++
      operators.Dsir.queries ++ operators.Census.queries ++
      operators.Sampling.queries ++ operators.Benford.queries ++
      operators.Split.queries ++ operators.Redact.queries ++
      operators.Histogram.queries ++ functions.Geo.queries ++
      operators.Graph.queries ++ operators.Quota.queries ++
      operators.Velocity.queries ++ operators.Vocab.queries ++
      operators.Privacy.queries ++ operators.Sketch.queries ++
      operators.DqAudit.queries ++ operators.ZOrder.queries ++
      operators.Attribution.queries ++ operators.Paths.queries ++
      operators.Linkage.queries ++ operators.FraudPipeline.queries ++
      operators.VectorIndex.queries ++ operators.QuantileSketch.queries ++
      multimodal.Binary.queries ++ ml.FraudModel.queries ++
      streaming.Alerts.queries

  /** Bench-only faces (run by Bench, NOT by Verify — no oracle row):
    * the df-capped production paths of the quadratic-pair dedup
    * queries. The oracle faces above pin `maxDf = None` so DuckDB can
    * replay the exhaustive pair join, but the capped path is what runs
    * at 100 TB — these entries make BENCH time the plan that actually
    * scales, alongside its conservative exhaustive twin. */
  // named so each sorts immediately AFTER its exhaustive twin in
  // Bench's alphabetical order: the twin absorbs the query family's
  // one-time plan-codegen cost, making capped-vs-exhaustive a
  // like-for-like throughput comparison instead of a JIT-attribution
  // artifact
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c01_corpus_clean_capped" -> ((s, dir) =>
      operators.Corpus.clean(Tables.documents(s, dir),
        operators.Dedup.Pinned(Some(operators.Dedup.DefaultMaxDf)))),
    "d02_ngram_jaccard_capped" -> ((s, dir) => operators.Dedup.d02(s, dir)),
    // the census-routed adaptive gear (r16 verdict item 2): one
    // bounded df-census aggregate picks plain/capped/prefix per
    // corpus — on the sf bench corpus it routes PLAIN (mass 1.27e6
    // under the budget), so this face times census + the plain join
    "d02_ngram_jaccard_auto" -> ((s, dir) =>
      operators.Dedup.autoPairs(Tables.documents(s, dir))),
    // the BPE fit→pack lifecycle: learn the subword vocab from the
    // corpus (bounded merge rounds), then pack on the LEARNED pieces
    // — c03c's twin with a produced, not pinned, vocabulary (no
    // static oracle can embed a data-derived vocab; spec-pinned)
    "c03c_pack_subword_fit" -> ((s, dir) =>
      operators.BpeLearn.c03cFit(s, dir)),
    // the 32k-merge-budget fit→persist→load→pack lifecycle (r15
    // verdict item 3): the sampled fit at its production operating
    // point, through the shipped artifact
    "c03c_pack_subword_fit32k" -> ((s, dir) =>
      operators.BpeLearn.c03cFit32k(s, dir,
        s"${PidScratch.fresh(s, "graft-gatebench", "bpe32k")}/fit")),
    "d07_winnow_pairs_capped" -> ((s, dir) =>
      operators.Dedup.winnowPairs(Tables.documents(s, dir))),
    // the degree-ordering binding demonstration pair (r15 verdict
    // item 1, the d09 pattern): same triangles() both ways over the
    // planted wheel graph whose hub sits mid-id-range — id-ordered
    // pays the (deg/2)² hub wedge fan-out, degree-ordered orients
    // every spoke INTO the hub and pays ~nothing. bench_guard
    // enforces skew/ordered >= 2x; alphabetical order runs the
    // expensive twin first so it absorbs the pair's one-time
    // plan-codegen cost (the d09 convention).
    "g04_hub_skew" -> ((s, dir) => operators.Graph.g04HubSkew(s, dir)),
    "g04_hub_skew_ordered" -> ((s, dir) =>
      operators.Graph.g04HubSkewOrdered(s, dir)),
    // g05's operator on the FULL near-complete co-purchase graph
    // (no 10% face sampling): the minimal-wedge compact plan at its
    // worst documented input, under a guard ceiling
    "g05_link_predict_full" -> ((s, dir) =>
      operators.Graph.g05Full(s, dir)),
    // one fresh graph-mart build + artifact read-back: the
    // denominator of the staged-vs-in-plan graph family comparison
    // (the staged faces themselves read a benchSetup-prebuilt mart)
    "g08_graph_mart_build" -> ((s, dir) =>
      operators.Graph.g08MartBuild(s, dir)),
    // c10's composition in the 100 TB posture: the pre-stage output
    // materialized to storage (no text-bearing cache) — sorts right
    // after c10_clean_full so the pair reads as a twin comparison
    "c10_clean_staged" -> ((s, dir) =>
      operators.Corpus.c10Staged(s, dir,
        s"${PidScratch.fresh(s, "graft-gatebench", "c10stage")}/stage")),
    "d10_run_overlap_capped" -> ((s, dir) =>
      operators.Dedup.d10(s, dir,
        maxDf = Some(operators.Dedup.DefaultMaxDf))),
    // the composite-blocking binding demonstration pair (r16 verdict
    // item 1, the d09 pattern): same linkPairs over the degenerate
    // single-block corpus — coarse pays the block quadratic, the
    // segment-composite gear must beat it big with zero loss
    // (spec-pinned identical pairs). bench_guard enforces >= 2x;
    // alphabetical order runs the expensive coarse twin first (the
    // d09 plan-codegen convention).
    "f33_block_coarse" -> ((s, dir) =>
      operators.Linkage.f33BlockCoarse(s, dir)),
    "f33_block_fine" -> ((s, dir) =>
      operators.Linkage.f33BlockFine(s, dir)),
    // the cap-binding demonstration pair: same query, boilerplate-heavy
    // corpus where template-shingle df >> DefaultMaxDf — exhaustive
    // pays the quadratic candidate join, capped must beat it big
    "d09_boilerplate" -> ((s, dir) =>
      operators.Dedup.d09(s, dir, maxDf = None)),
    "d09_boilerplate_capped" -> ((s, dir) =>
      operators.Dedup.d09(s, dir, maxDf = Some(operators.Dedup.DefaultMaxDf))),
    // the third gear of the same demonstration: prefix-filtered
    // candidate generation on the identical boilerplate corpus —
    // template shingles (df == corpus size) sort LAST in the rarity
    // order and never enter a prefix, so the quadratic the exhaustive
    // face pays (and the cap prunes lossily) is avoided with ZERO
    // semantic loss (spec-pinned equal to exhaustive on this corpus)
    "d09_boilerplate_prefix" -> ((s, dir) =>
      operators.Dedup.jaccardPairsPrefix(
        operators.Dedup.boilerplateCorpus(Tables.documents(s, dir), 1500))),
    // d14's production gear: capped pairs → CC → the soft-dedup
    // weight rollup (the oracle face pins maxDf = None, the d06
    // convention); sorts right after the exhaustive twin
    "d14_soft_dedup_capped" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Dedup.softDedupWeights(docs,
        operators.Dedup.jaccardPairs(docs,
          maxDf = Some(operators.Dedup.DefaultMaxDf)))
    }),
    // the production dedup COMPOSITION at its production settings:
    // capped candidate pairs feeding connected-components clustering
    // (the oracle face d06 pins maxDf = None for the DuckDB replay)
    "d06_dedup_clusters_capped" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Dedup.connectedComponents(
        operators.Dedup.jaccardPairs(docs,
          maxDf = Some(operators.Dedup.DefaultMaxDf))
          .select(org.apache.spark.sql.functions.col("a"),
            org.apache.spark.sql.functions.col("b")),
        docs.select(org.apache.spark.sql.functions.col("doc_id").as("id")))
    }),
    // the streaming near-dup gate, bench-measurable and SPLIT (r11
    // verdict #3): r10/r11 benched one `st02_neardup_gate_e2e` face
    // bundling gate triggers AND the census/compaction maintenance
    // pass, so a regression in either was unattributable. Both faces
    // measure per-trigger/per-pass LATENCY (a dozen small jobs), not
    // throughput — round-over-round regression signals for the gate's
    // fixed costs. Their sum approximately covers what the old st02
    // did, but not exactly: the old face ran maintain(belowBatch=1)
    // BETWEEN the two triggers, so its second trigger probed compacted
    // batch-0 state, while st02's second trigger now probes the
    // uncompacted layout — read round-over-round deltas against r11's
    // bundled number accordingly.
    //
    // st02_gate_trigger: the documents table ingested as 2
    // micro-batches through gateBatch — within-batch pair drop, then
    // the cross-batch broadcast gate against the sealed first
    // half. The returned frame is the accepted corpus, so the count
    // the bench takes reads the real output.
    "st02_gate_trigger" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val root = PidScratch.fresh(s, "graft-gatebench", "trig")
      val docsDir = s"$root/docs"; val fpDir = s"$root/fp"
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      (0L to 1L).foreach { b =>
        streaming.Ingest.gateBatch(
          docs.filter(pmod(col("doc_id"), lit(2)) === b), b, docsDir, fpDir)
      }
      s.read.parquet(docsDir)
    }),
    // st04_upsert_cdc: the streaming CDC upsert lifecycle at corpus
    // scale — full corpus lands as the first delta generation, folds
    // into a base snapshot, the c11 update batch lands as a second
    // generation, and the timed read is the merge-on-read view.
    "st04_upsert_cdc" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit}
      val root = PidScratch.fresh(s, "graft-gatebench", "upsert")
      val base = s"$root/base"; val delta = s"$root/delta"
      val docs = graft.Tables.documents(s, dir)
      streaming.UpsertStream.upsertBatch(
        docs.select(col("doc_id"), col("text"), lit(1L).as("version"),
          lit("put").as("op")), 0L, delta)
      streaming.UpsertStream.compactUpserts(s, base, delta)
      streaming.UpsertStream.upsertBatch(
        operators.Upsert.updatesFor(docs), 1L, delta)
      streaming.UpsertStream.snapshotView(s, base, delta)
    }),
    // st06_alert_sink: the ElastAlert → index → ILM path at corpus
    // scale — the full st05 alert frame written through the
    // rolled-segment sink in two generations (tiny maxBytes forces a
    // real seal between them, so the timed face pays append + roll +
    // retention + the merged read-back, the whole lifecycle)
    "st06_alert_sink" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      val root = PidScratch.fresh(s, "graft-gatebench", "alertsink")
      val alerts = streaming.Alerts.st05(s, dir)
        .transform(graft.CacheRegistry.register)
      (0L to 1L).foreach { b =>
        streaming.Alerts.alertSinkBatch(
          alerts.filter(pmod(xxhash64(col("wstart")), lit(2)) === b),
          root, maxBytes = 1L, keep = 8)
      }
      s.read.parquet(root)
    }),
    // st07_index_maintain: the streaming serving-index lifecycle at
    // corpus scale — the documents table lands as two postings
    // micro-batches (positional), the lexicon folds through its
    // generations, and the timed read serves the s06 match query
    // from the maintained artifact
    "st07_index_maintain" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val root = PidScratch.fresh(s, "graft-gatebench", "idxmaint")
      val docs = Tables.documents(s, dir)
      (0L to 1L).foreach { b =>
        operators.Search.indexBatch(
          docs.filter(pmod(col("doc_id"), lit(2)) === b), b, root,
          positions = true)
      }
      operators.Search.queryBm25Index(s, root, operators.Search.QueryTerms)
    }),
    // st08_linkage_gate: f33's record linkage enforced at
    // registration — the customer table lands as two micro-batches
    // through the maintained gate (within-batch pairs + the blocked
    // probe against the accumulated state), alerts read back
    "st08_linkage_gate" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val root = PidScratch.fresh(s, "graft-gatebench", "linkgate")
      val recs = Tables.customer(s, dir)
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_nationkey").cast("long").as("block"))
      (0L to 1L).foreach { b =>
        operators.Linkage.linkageBatch(
          recs.filter(pmod(col("key"), lit(2)) === b), b, root)
      }
      operators.Linkage.readLinkageAlerts(s, root)
    }),
    // st08b trickle pair: the SERVING-CADENCE binding demonstration
    // for the gate's adaptive probe (the d09/g04 pattern). A live
    // registration gate sees hundreds of records per trigger against
    // a large accumulated state; per trigger the broadcast probe
    // scans+explodes the state ONCE with no exchange, where the
    // symmetric shuffle join re-exchanges+sorts the ~1.8M-row state
    // variant frame every time. The 29/30-backfill seed trigger is
    // UNTIMED benchSetup (its cost is st08_linkage_gate's
    // measurement); the timed face is ten trickle triggers of
    // 1/300 of the customer table each (key % 30 == 0 split ten
    // ways — ~50 records at sf0.1, ~500 at sf1) + the alert read. The `_bcast` twin takes the
    // adaptive gate's broadcast path, the unsuffixed twin pins the
    // shuffle path (probeBroadcastRows = 0); alphabetical order runs
    // the expensive shuffle twin first so it absorbs the pair's
    // one-time plan-codegen cost.
    "st08b_trickle_probe" -> ((s, dir) =>
      trickleGate(s, dir, "trickleshuf", probeBroadcastRows = 0L)),
    "st08b_trickle_probe_bcast" -> ((s, dir) =>
      trickleGate(s, dir, "tricklebc",
        probeBroadcastRows = operators.Linkage.BroadcastProbeRows)),
    // st09_vector_maintain: the streaming ANN-index lifecycle at
    // corpus scale (41u — the 41r posture on the vector artifact):
    // the embeddings table lands as two codes micro-batches through
    // the maintained index, and the timed read serves the s05 query
    // set from the maintained artifact
    "st09_vector_maintain" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val root = PidScratch.fresh(s, "graft-gatebench", "vecmaint")
      val e = Tables.embeddings(s, dir)
      (0L to 1L).foreach { b =>
        operators.VectorIndex.vectorBatch(
          e.filter(pmod(col("vec_id"), lit(2)) === b), b, root)
      }
      operators.VectorIndex.queryIndex(
        operators.VectorIndex.readMeta(s, root),
        operators.VectorIndex.readCodes(s, root), e,
        e.filter(org.apache.spark.sql.functions.col("vec_id")
            % operators.Similarity.QueryStride === 0)
          .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
            org.apache.spark.sql.functions.col("embedding").as("qe")))
    }),
    // st03_maintain: the maintenance pass alone (recoverSwaps +
    // compactCensus + foldBatches×2 + docs-dir compacts) over gate
    // state built UNTIMED by the benchSetup hook of the same name —
    // the stream-stopped pass an operator runs between triggers.
    "st03_maintain" -> ((s, dir) => {
      // gate state built by the benchSetup hook of the same name
      val root = PidScratch.path("graft-gatebench", "maint")
      streaming.Ingest.maintain(s, s"$root/docs", s"$root/fp",
        belowBatch = 1L)
      s.read.parquet(s"$root/docs")
    }))

  /** Untimed per-face setup, run by Bench immediately before timing
    * the same-named face (isolated SPARK_GRAFT_ONLY runs included):
    * state construction whose cost is ANOTHER face's measurement —
    * st03 must not be charged the gate triggers st02 already times. */
  def benchSetup: Map[String, (SparkSession, String) => Unit] = Map(
    "st03_maintain" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val root = PidScratch.fresh(s, "graft-gatebench", "maint")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      streaming.Ingest.gateBatch(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0L), 0L,
        s"$root/docs", s"$root/fp")
    }),
    "st08b_trickle_probe" -> ((s, dir) => trickleSeed(s, dir, "trickleshuf")),
    "st08b_trickle_probe_bcast" -> ((s, dir) =>
      trickleSeed(s, dir, "tricklebc")),
    // staged graph faces read a prebuilt mart: the build is
    // g08_graph_mart_build's measurement, not theirs
    "g03_pagerank_staged" -> ((s, dir) =>
      { operators.Graph.ensureGraphMart(s, dir); () }),
    "g04_triangles_staged" -> ((s, dir) =>
      { operators.Graph.ensureGraphMart(s, dir); () }),
    "g06_kcore_staged" -> ((s, dir) =>
      { operators.Graph.ensureGraphMart(s, dir); () }),
    "g07_census_staged" -> ((s, dir) =>
      { operators.Graph.ensureGraphMart(s, dir); () }),
    "f34_propagation_staged" -> ((s, dir) =>
      { operators.Graph.ensureGraphMart(s, dir); () }))

  /** (key, name, block) registration records for the trickle pair. */
  private def trickleRecs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.customer(s, dir)
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_nationkey").cast("long").as("block"))
  }

  /** Untimed seed: 29/30 of the customer table lands as the gate's
    * batch 0 — the accumulated state the timed trickles probe. */
  private def trickleSeed(s: SparkSession, dir: String, tag: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = PidScratch.fresh(s, "graft-gatebench", tag)
    operators.Linkage.linkageBatch(
      trickleRecs(s, dir).filter(pmod(col("key"), lit(30)) =!= 0L), 0L, root)
  }

  /** Timed trickle cadence: ten triggers of customers/300 records
    * each (scale-dependent: ~50 at sf0.1, ~500 at sf1) against the
    * seeded state, then the alert read. */
  private def trickleGate(s: SparkSession, dir: String, tag: String,
      probeBroadcastRows: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = PidScratch.path("graft-gatebench", tag)
    val recs = trickleRecs(s, dir)
    (1L to 10L).foreach { b =>
      operators.Linkage.linkageBatch(
        recs.filter(pmod(col("key"), lit(30)) === 0L &&
          pmod(col("key") / 30, lit(10)) === (b - 1)),
        b, root, probeBroadcastRows = probeBroadcastRows)
    }
    operators.Linkage.readLinkageAlerts(s, root)
  }

  /** Bench faces whose CONSTRUCTION runs real jobs and/or writes
    * scratch artifacts (multi-stage lifecycles built eagerly inside
    * the face lambda). Plan-only tooling (Explain) must skip these —
    * "explaining" one would execute the whole workload and mutate
    * /tmp state instead of printing a plan (r16 advice item 3). */
  val effectfulBench: Set[String] = Set(
    "st02_gate_trigger", "st03_maintain", "st04_upsert_cdc",
    "st06_alert_sink", "st07_index_maintain", "st08_linkage_gate",
    "st08b_trickle_probe", "st08b_trickle_probe_bcast",
    "st09_vector_maintain",
    "c03c_pack_subword_fit", "c03c_pack_subword_fit32k",
    "c10_clean_staged",
    // artifact-lifecycle QUERY faces (from `queries`, not benchOnly):
    // each wipes pid scratch and writes a full index artifact during
    // face construction
    "s05b_ivfpq_artifact", "s15_bm25_index", "s16_phrase_index",
    // r18: lands the corpus as NDJSON in pid scratch before the chain
    "fp01_fraud_pipeline",
    // r18: plan CONSTRUCTION trains the LR model (L-BFGS jobs) — no
    // cheap plan to print, and Explain must not launch a fit
    "ml01_rule_distill", "ml02_quality_distill",
    // r19: construction ensures (first call: builds) the graph mart
    "g03_pagerank_staged", "g04_triangles_staged", "g06_kcore_staged",
    "g07_census_staged", "f34_propagation_staged", "g08_graph_mart_build")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracles ++ operators.Fraud.oracles ++
      operators.RiskEngine.oracles ++ operators.IncrementalStats.oracles ++
      operators.TextOps.oracles ++ operators.Dedup.oracles ++
      operators.Similarity.oracles ++ operators.Search.oracles ++
      operators.Corpus.oracles ++ operators.Upsert.oracles ++
      operators.Dsir.oracles ++ operators.Census.oracles ++
      operators.Sampling.oracles ++ operators.Benford.oracles ++
      operators.Split.oracles ++ operators.Redact.oracles ++
      operators.Histogram.oracles ++ functions.Geo.oracles ++
      operators.Graph.oracles ++ operators.Quota.oracles ++
      operators.Velocity.oracles ++ operators.Vocab.oracles ++
      operators.Privacy.oracles ++ operators.Sketch.oracles ++
      operators.DqAudit.oracles ++ operators.ZOrder.oracles ++
      operators.Attribution.oracles ++ operators.Paths.oracles ++
      operators.Linkage.oracles ++ operators.FraudPipeline.oracles ++
      operators.VectorIndex.oracles ++ operators.QuantileSketch.oracles ++
      multimodal.Binary.oracles ++
      streaming.Alerts.oracles ++ ml.FraudModel.oracles
}
