package graft

/** Physical-plan shape guards: the scale properties SURVEY.md §5
  * promises (pushdown, broadcast, no pre-aggregation shuffles) are
  * asserted here so a refactor can't silently regress them. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  /** Spec extractions in a plan: its `graft_specs` calls. `foreach`
    * never descends into an InMemoryRelation's cached plan, so on an
    * optimized plan this counts the LIVE extractions only. */
  private def extractions(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    var n = 0
    p.foreach { node =>
      node.expressions.foreach(e => n += e.collect { case x: graft.plans.Specs => x }.size)
    }
    n
  }

  /** (live, cached) spec extractions in a face's optimized plan. */
  private def extractionTrees(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val opt = df.queryExecution.optimizedPlan
    (extractions(opt), opt.collect {
      case r: InMemoryRelation => extractions(r.cacheBuilder.logicalPlan)
    }.sum)
  }

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), "filters not pushed")
    assert(!p.contains("l_comment"), "unused columns not pruned")
  }

  test("q03: dimension joins broadcast, no shuffle join") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("f03/f04: stats joined back via broadcast only") {
    Seq("f03_zscore", "f04_risk_score").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to shuffle join")
    }
  }

  test("s01: broadcast query set + rank pushed down (WindowGroupLimit)") {
    val p = plan("s01_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("graft_cosine"), "native expression not in plan")
  }

  test("s20: exclusion predicate rides the broadcast join, rank pushed " +
      "down, corpus never exchanged") {
    val p = plan("s20_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query set not broadcast into the candidate join")
    assert(p.contains("WindowGroupLimit"), "negatives top-k not pushed down")
    assert(p.contains("graft_cosine"), "native expression not in plan")
    // the label exclusion must sit IN the join condition, not in a
    // post-filter above the rank window (a post-filter would
    // under-fill k when positives crowd the head)
    assert(!p.contains("SortMergeJoin"), "corpus fell to a shuffle join")
  }

  test("f28: rank-1 touch pick rides WindowGroupLimit, no cross join") {
    val p = plan("f28_last_touch")
    assert(p.contains("WindowGroupLimit"), "argmax touch not pushed down")
    assert(!p.contains("CartesianProduct"), "attribution fell to cross join")
  }

  test("f27/f29: sketch shuffles are combiner-friendly (partial agg present)") {
    Seq("f27_hll_users", "f29_cms_counts").foreach { q =>
      val p = plan(q)
      // max/count registers must combine map-side: a partial_
      // aggregate before the exchange is what keeps the shuffle
      // register-sized instead of stream-sized
      assert(p.contains("partial_max") || p.contains("partial_count"),
        s"$q: no map-side combine before the register shuffle")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q28: both session windows ride ONE user-keyed exchange") {
    val p = plan("q28_top_paths")
    // the session-flag window and the step window partition by
    // (user_id) and (user_id, session_id) — the second is a
    // restriction of the first, so no second corpus exchange for it.
    // Count DISTINCT exchange plan ids: the cached counts subtree
    // prints in both consumer branches.
    val exchanges = "Exchange hashpartitioning[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(exchanges.size <= 2,
      s"q28 plan has ${exchanges.size} distinct hash exchanges (user " +
        s"shuffle + path count expected; total rides SinglePartition)")
  }

  test("z01: the interleave is pure projection — no join, no extra shuffle") {
    val p = plan("z01_zorder")
    assert(!p.contains("Join"), "z-value must not need a join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"z01: $exchanges exchanges, expected the " +
      "single block rollup")
  }

  test("d04: simhash signature is a narrow map (no aggregate before banding)") {
    val p = plan("d04_simhash")
    assert(p.contains("graft_simhash64"))
    assert(!p.contains("HashAggregate(keys=[doc_id"),
      "signature should not need a per-doc aggregation")
  }

  test("s03b/s04: probe/candidate joins broadcast the small side, rank pushed down") {
    val ivf = plan("s03b_ivf_core")
    assert(ivf.contains("BroadcastHashJoin"), "cell probe join not broadcast")
    assert(!ivf.contains("SortMergeJoin"), "IVF corpus got shuffled for a join")
    assert(ivf.contains("WindowGroupLimit"), "top-k rank not pushed down")
    val pq = plan("s04_pq_adc")
    // the re-rank fetch must build on the candidate list, never the corpus
    assert(pq.contains("BroadcastHashJoin"), "candidate fetch join not broadcast")
    assert(!pq.contains("SortMergeJoin"), "PQ re-rank shuffled the corpus")
    assert(pq.contains("WindowGroupLimit"), "ADC top-R not pushed down")
  }

  test("c08: hot-line set broadcast into the anti-join, bounded exchanges") {
    val p = plan("c08_strip_boilerplate")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      "boilerplate-line removal must broadcast the hot set, not shuffle the corpus")
    assert(!p.contains("SortMergeJoin"), "line anti-join fell back to shuffle join")
    // census (2-phase distinct agg) + reassembly: <= 3 data exchanges
    val exchanges = "(?<!Broadcast)Exchange hashpartitioning".r
      .findAllIn(p).size
    assert(exchanges <= 3, s"c08 plan grew to $exchanges exchanges:\n$p")
  }

  test("t05: staged gram pipeline keeps exactly two exchanges, no joins") {
    val p = plan("t05_repetition")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"t05 should pay the (doc,sz,gram) count + per-doc rollup only, got $exchanges:\n$p")
    assert(!p.contains("Join"), "t05 needs no join")
    // the split() stage must survive optimization as ONE producer —
    // an inlined split re-evaluates per element_at (28.8 s vs 1.8 s
    // at sf0.1, r13); the plan re-inlining it would show a split per
    // gram lambda
    assert("split\\(".r.findAllIn(p).size <= 2,
      "token-array stage was re-inlined into the gram lambdas")
  }

  test("c09: shuffle rank is windowed per out_shard — never a global sort") {
    val p = plan("c09_seq_shuffle")
    assert(!p.contains("Exchange SinglePartition"),
      "c09 must not funnel sequences through one partition")
    assert(!p.contains("rangepartitioning"),
      "c09 must not global-sort; order is per-out_shard")
    // c03b window + out_shard rank window; the sequence rollup rides
    // the shard partitioning without its own exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"c09 grew to $exchanges exchanges:\n$p")
  }

  test("s06/s08: search stats ride broadcasts, top-k is TakeOrdered") {
    try Seq("s06_bm25", "s08_match_phrase").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q top-k must be TakeOrdered, never a global sort+window")
      assert(!p.contains("SortMergeJoin"), s"$q joined by shuffle")
    } finally CacheRegistry.unpersistAll()
  }

  test("c11/c12: upsert base side and DSIR LLR table stay broadcast") {
    try {
      val p = plan("c11_corpus_upsert")
      assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
        "the base snapshot must flow through a broadcast anti-join")
      assert(!p.contains("SortMergeJoin"))
      val p2 = plan("c12_dsir")
      assert(p2.contains("BroadcastHashJoin"), "LLR table lost its broadcast")
      assert(!p2.contains("SortMergeJoin"))
      assert(p2.contains("TakeOrderedAndProject"))
    } finally CacheRegistry.unpersistAll()
  }

  test("t06: pure narrow projection — zero exchanges, zero joins") {
    val p = plan("t06_normalize")
    assert(!p.contains("Exchange"), s"t06 must not shuffle:\n$p")
    assert(!p.contains("Join"), "t06 needs no join")
  }

  test("d11: eval gram set broadcast — no self-join, no shuffle join") {
    try {
      val p = plan("d11_contamination_report")
      assert(p.contains("BroadcastHashJoin"), "eval set lost its broadcast")
      assert(!p.contains("SortMergeJoin"))
    } finally CacheRegistry.unpersistAll()
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"))
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("q15/q16: custom joins stay equi-join shaped (no cross product)") {
    // q15 as-of = union + running last-non-null over ONE shuffle;
    // q16 interval = bounded day-bucket binning. Neither may regress
    // to a cartesian/nested-loop plan — that's the difference between
    // surviving 100x and not.
    Seq("q15_asof_join", "q16_interval_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q went nested-loop")
    }
    val exchanges = "Exchange".r.findAllIn(plan("q15_asof_join")).length
    assert(exchanges <= 2, s"q15 shuffles grew to $exchanges")
  }

  test("g04/g05: every wedge generation is an equi join — no cross " +
      "product, and the compact g05 keeps all three case branches") {
    Seq("g04_triangles", "g05_link_predict").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: wedge generation fell off the equi-join path")
    }
    // the compact plan's three wedge cases must all survive
    // optimization — a collapsed branch would silently halve counts
    // on inputs whose wedges concentrate in one id-position case
    // (the oracle would catch it at sf0.01; this catches it at
    // plan-build time with a readable failure)
    val g5 = plan("g05_link_predict")
    val unions = "\\bUnion\\b".r.findAllIn(g5).length
    assert(unions >= 1, "compact wedge union missing")
  }

  test("c10 staged: the cascade reads the STAGE parquet, and no text " +
      "column rides an in-memory cache") {
    val root = scratch("graft-planstage")
    val p = graft.operators.Corpus
      .c10Staged(spark, sf("sf0.001"), s"$root/stage")
      .queryExecution.executedPlan.toString
    // the staged posture: pre-stage output consumed as a columnar
    // file scan of the stage dir
    assert(p.contains("planstage"), "cascade is not reading the stage dir")
    // the only caches in the staged plan are the slim scored frame
    // (doc_id, pred_lang, quality) — assert no InMemory scan carries
    // the text column
    val cached = p.split("\n").filter(_.contains("InMemoryTableScan"))
    assert(cached.forall(!_.contains("text")),
      "a text-bearing cache survived in the staged plan")
  }

  test("all native functions are SQL-callable after registration") {
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_cosine(array(3.0F, 4.0F), array(3.0F, 4.0F)) AS c,
         graft_simhash64('hello world') AS s,
         graft_pyround(CAST(2.675 AS DOUBLE), 2) AS p,
         graft_shingles('a b c d', 3) AS g,
         graft_dot(array(3.0F, 4.0F), array(2.0F, 1.0F)) AS d,
         graft_textstats('the cat and the hat').en AS ts_en,
         graft_subword_count('the table dup') AS sw,
         graft_specs('macbook pro m2 16gb', 'nuevo').cpu AS sp_cpu,
         graft_specs('portatil 16gb', '512gb ssd', true).ram AS sp_ram""").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(4) == 10.0)
    assert(r.getLong(1) == graft.plans.SimHash64.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))
    assert(r.getDouble(2) == 2.67) // python banker's rounding
    assert(r.getSeq[String](3) == Seq("a b c", "b c d"))
    assert(r.getInt(5) == 2) // distinct hits: "the", "and"
    assert(r.getLong(6) == 4L) // the(1) + tab/##le(2) + [UNK](1)
    assert(r.getString(7) == "APPLE M2")
    assert(r.getString(8) == "16GB") // the RE2 twin drops the ssd size
  }

  test("native functions register once: later calls keep the first registration") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.functions.lit
    val functions = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(graft.plans.GraftFunctions.PyRoundName)
    graft.plans.GraftFunctions.pyRound(spark, lit(2.675), 2)
    val info = functions.lookupFunction(id).get
    val builder = functions.lookupFunctionBuilder(id).get
    graft.plans.GraftFunctions.pyRound(spark, lit(2.675), 2)
    assert(functions.lookupFunction(id).get eq info,
      "graft_pyround was registered again")
    assert(functions.lookupFunctionBuilder(id).get eq builder,
      "graft_pyround was registered again")
  }

  test("extraction plan holds exactly one graft_specs") {
    // The five spec columns read ONE staged graft_specs column. If
    // CollapseProject inlined it into each field, or a caller rebuilt
    // the extraction per column, the plan would hold (and run) several.
    import org.apache.spark.sql.functions.col
    val items = operators.RiskEngine.f12Items(spark, sf())
    Seq(
      graft.functions.TextSpecs.withSpecs(items, col("title"), col("description")),
      graft.functions.TextSpecs.coreSpecs(items, col("title"), col("description")))
      .foreach { df =>
        val n = extractions(df.queryExecution.optimizedPlan)
        assert(n == 1, s"extraction plan holds $n graft_specs calls, want exactly one")
      }
  }

  test("fp01 plans spec extraction once, inside the specced cache") {
    // Stats and scoring both read ONE cached withSpecs frame. A second,
    // uncached extraction would put a graft_specs call back into the
    // live plan, where the scoring joins key on its aliases.
    try {
      val (live, cached) = extractionTrees(operators.FraudPipeline.fp01(spark, sf()))
      assert(live == 0, s"fp01 plans $live uncached spec-extraction tree(s)")
      assert(cached >= 1, "no cached plan holds the extraction — guard disarmed")
    } finally CacheRegistry.unpersistAll()
  }

  /** Market stats planned over a cached, materialized specced frame
    * of f12's items. */
  private def statsOverCachedSpecs(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val specced = graft.functions.TextSpecs.withSpecs(
        operators.RiskEngine.f12Items(spark, sf()), col("title"), col("description"))
      .transform(CacheRegistry.register)
    specced.count()
    operators.RiskEngine.marketStatsOf(specced)
  }

  test("market stats over a cached specced frame: one plan, no cache, no join, at most two exchanges") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    try {
      val stats = statsOverCachedSpecs()
      val opt = stats.queryExecution.optimizedPlan
      val cached = opt.collect { case r: InMemoryRelation => r }.size
      assert(cached == 1, s"stats plan reads $cached cached relations, want its input only")
      val joins = opt.collect { case j: Join => j }.size
      assert(joins == 0, s"stats plan holds $joins joins")
      val helper = new AdaptiveSparkPlanHelper {}
      val shuffles = helper.collect(stats.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }.size
      assert(shuffles <= 2, s"stats plan shuffles $shuffles times")
    } finally CacheRegistry.unpersistAll()
  }

  test("market stats over a cached specced frame collect in at most five jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    try {
      val stats = statsOverCachedSpecs()
      org.apache.spark.GraftTestBus.drain(sc)
      sc.addSparkListener(l)
      assert(stats.collect().nonEmpty)
      org.apache.spark.GraftTestBus.drain(sc)
      assert(jobs.get <= 5, s"market stats ran ${jobs.get} jobs")
    } finally {
      sc.removeSparkListener(l)
      CacheRegistry.unpersistAll()
    }
  }

  test("f12 plans spec extraction once") {
    // scoreItems/scoreItemsWith/f12 share one extraction → scoring
    // path: its four broadcast lookup joins must read ONE cached
    // withSpecs frame, never a live extraction tree (the fp01 guard
    // above, applied to the standalone scorer)
    try {
      val (live, cached) = extractionTrees(operators.RiskEngine.f12(spark, sf()))
      assert(live == 0, s"f12 plans $live uncached spec-extraction tree(s)")
      assert(cached == 1, s"f12 caches $cached extraction tree(s), want exactly one")
    } finally CacheRegistry.unpersistAll()
  }

  test("f19/f20: no scoring tree inside any Filter (scored-cache boundary holds)") {
    // r7 regression: the null-bucket drop was substituted through the
    // projection and the physical Filter carried the ENTIRE
    // composite-z/risk-score CASE tree (~9 evaluations per row). The
    // fix is two-fold — post-agg null drop + the f04Cached leaf — and
    // both are observable here: every Filter condition stays small,
    // and the scored cache appears in the plan.
    try {
      Seq("f19_risk_heatmap", "f20_risk_distribution").foreach { q =>
        val p = plan(q)
        assert(p.contains("InMemoryTableScan"), s"$q lost the scored-cache boundary")
        p.linesIterator.filter(_.contains("Filter ")).foreach { l =>
          assert(l.length < 2000,
            s"$q carries a ${l.length}-char Filter line (scoring tree re-inlined?): ${l.take(160)}…")
        }
      }
    } finally CacheRegistry.unpersistAll()
  }

  test("d07: fingerprint build shuffles once — per-doc dedup reuses the doc_id exchange") {
    try {
      val p = plan("d07_winnow_pairs")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        "d07 pair join regressed from broadcast/hash shape")
      assert(p.contains("InMemoryTableScan"), "d07 lost the fingerprint cache boundary")
      // hashpartitioning(doc_id) satisfies the (doc_id, fp) distinct's
      // clustering, so the whole query holds THREE physical shuffles:
      // the fingerprint build's doc_id exchange, the cache's fp
      // re-key (repartition so the pair self-join consumes the
      // cache's partitioning at scale instead of exchanging each join
      // side), and the (a, b) shared-count exchange. The cached
      // subplan renders once per scan, so count DISTINCT plan ids —
      // a 4th distinct exchange means the per-doc dedup stopped
      // reusing the window's exchange or the join started
      // re-exchanging the cached frame.
      val shuffles = raw"Exchange hashpartitioning[^\n]*\[plan_id=(\d+)\]".r
        .findAllMatchIn(p).map(_.group(1)).toSet.size
      // fail CLOSED: if a Spark upgrade stops printing plan_id, zero
      // matches must break the guard, not vacuously pass it
      assert(shuffles >= 1, s"plan_id regex matched no exchanges — guard disarmed:\n${p.take(1000)}")
      assert(shuffles <= 3, s"d07 grew to $shuffles distinct hash exchanges:\n${p.take(2000)}")
    } finally CacheRegistry.unpersistAll()
  }

  test("d02: shingle cache is pre-partitioned on the join key") {
    // the r9 contract: the cached shingle frame carries
    // hashpartitioning(shingle) (REPARTITION_BY_COL under the
    // InMemoryRelation), so the pair self-join and the capped path's
    // df aggregation never re-exchange the frame per consumer
    try {
      val p = plan("d02_ngram_jaccard")
      assert(raw"Exchange hashpartitioning\(shingle[^\n]*REPARTITION_BY_COL".r
        .findFirstIn(p).isDefined,
        s"shingle cache lost its pre-partitioning:\n${p.take(2000)}")
    } finally CacheRegistry.unpersistAll()
  }

  test("d02p: prefix frame cached once pre-partitioned, equi-join only") {
    // the prefix gear's fixed cost is the df join + rank sort; without
    // the pre cache that whole pipeline re-ran once PER SELF-JOIN SIDE
    // (plan-audited at landing: two identical Window/Sort subtrees,
    // 7.6 -> 6.5 s at sf0.1 when collapsed to one cached build)
    try {
      val qe = SparkEntry.queries("d02p_prefix_jaccard")(spark, sf("sf0.001"))
        .queryExecution
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        "prefix candidate generation fell off the equi-join path")
      // TWO DISTINCT caches — the shingle frame and the prefix frame.
      // Counted as distinct InMemoryRelation cache builders (reference
      // equality — scans of one cache share the builder instance) in
      // the optimized plan, NOT as text matches: the shingle cache's
      // REPARTITION_BY_COL exchange prints once per scan site, so a
      // text count stays >= 2 even with the prefix cache removed —
      // exactly the regression this pin exists for (prefix build
      // re-running once per self-join side).
      val builders = qe.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cacheBuilder
      }.toSet
      assert(builders.size == 2,
        s"expected the shingle + prefix caches, got ${builders.size} " +
          "distinct cached relations")
      // and the PREFIX cache (the one whose build plan carries the
      // rarity rank window) must itself be pre-partitioned on the
      // join key — the r9 contract the d02 test pins for the shingle
      // cache, asserted here on the cache's own build plan so losing
      // the repartition can't hide behind the shingle cache's exchange
      val preBuild = builders.map(_.cachedPlan.toString)
        .find(_.contains("row_number"))
      assert(preBuild.isDefined,
        "prefix cache (rarity rank window) not found among the caches")
      assert(raw"Exchange hashpartitioning\(shingle[^\n]*REPARTITION_BY_COL".r
        .findFirstIn(preBuild.get).isDefined,
        "prefix cache lost its pre-partitioning on the join key")
    } finally CacheRegistry.unpersistAll()
  }

  test("f05/f10/f19/f20 consume ONE shared scored cache, not four") {
    // All four consume Fraud.f04Cached. What makes that one cache
    // instead of four look-alikes is the sameResult dedup in
    // CacheRegistry.register + Spark's CacheManager: every consumer's
    // plan must resolve to the SAME CachedRDDBuilder instance (i.e.
    // one materialization shared by reference, not four equal copies).
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    try {
      val builders = Seq("f05_high_risk_alerts", "f10_top_risk_factors",
        "f19_risk_heatmap", "f20_risk_distribution").map { q =>
        val qe = SparkEntry.queries(q)(spark, sf()).queryExecution
        val bs = qe.optimizedPlan.collect { case r: InMemoryRelation => r.cacheBuilder }
        assert(bs.nonEmpty, s"$q lost its InMemoryRelation boundary")
        q -> bs
      }
      val (_, ref) = builders.head
      builders.tail.foreach { case (q, bs) =>
        assert(bs.exists(b => ref.exists(_ eq b)),
          s"$q resolves to a different cache than ${builders.head._1} — " +
            "the scored frame is being materialized more than once")
      }
    } finally CacheRegistry.unpersistAll()
  }

  test("t01/t02/c01: fused textstats reference counts stay bounded") {
    // the fused pass must appear once or twice (the staged struct +
    // at most one re-render), never once per consumer field: t01/t02
    // rely on CollapseProject keeping the staging boundary, and c01
    // gates on a pre-filter slim CACHE precisely so predicate
    // pushdown cannot substitute the scoring tree into the Filter
    // (it held 45 static references when the gate sat directly on
    // the scoring projection — the f19/f20 blowup class).
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val seenCaches = scala.collection.mutable.Set.empty[AnyRef]
    def countIn(plan: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int = {
      var total = 0
      plan.foreach {
        // descend into each DISTINCT cache's build plan once (the
        // same cached frame renders under every consuming scan);
        // AQE wraps cached plans, and nested caches appear as
        // PHYSICAL scans inside other caches' build plans
        case r: InMemoryRelation =>
          if (seenCaches.add(r.cacheBuilder)) total += countIn(r.cachedPlan)
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCaches.add(s.relation.cacheBuilder))
            total += countIn(s.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          total += countIn(a.inputPlan)
        case node: org.apache.spark.sql.catalyst.plans.QueryPlan[_] =>
          total += "graft_textstats".r
            .findAllIn(node.expressions.map(_.toString).mkString).length
        case _ =>
      }
      total
    }
    try {
      Seq("t01_lang_id" -> 2, "t02_quality_score" -> 2,
          "c01_corpus_clean" -> 3).foreach { case (q, bound) =>
        seenCaches.clear()
        val total = countIn(
          SparkEntry.queries(q)(spark, sf()).queryExecution.optimizedPlan)
        assert(total >= 1, s"$q no longer uses the fused pass")
        assert(total <= bound,
          s"$q holds $total graft_textstats references (bound $bound) — substitution blowup")
      }
    } finally CacheRegistry.unpersistAll()
  }

  test("f33: composite ER blocking plan shape — native variant generator " +
      "in the plan, slim hashed-key join, no cross join") {
    val p = plan("f33_dup_accounts")
    assert(p.contains("graft_delete_variants"),
      "native deletion-variant generator not in the plan (HOF fallback?)")
    assert(p.contains("xxhash64"), "variant join key is not hashed")
    assert(!p.contains("CartesianProduct"), "ER fell to cross join")
    // the collision stream must be slim: the name column stays out of
    // the variant self-join and re-attaches candidate-sized — if a
    // Sort for the pair join carries `name`, the slim contract broke
    val sortsWithName = p.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("skey"))
      .filter(_.contains("name"))
    assert(sortsWithName.isEmpty,
      "variant-join sort carries the name column — slim frame regressed")
  }

  test("driver contract: oracle keys ⊆ queries, benchOnly disjoint, rows-only pinned") {
    // the driver verifies every `queries` entry and hash-compares the
    // oracle rows; a stray oracle key or a benchOnly name colliding
    // with a verified query would silently corrupt the round's
    // correctness artifact. The rows-only set is pinned so a new
    // query can't lose its oracle unnoticed.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val b = SparkEntry.benchOnly.keySet
    assert(o.subsetOf(q), s"oracle without query: ${(o -- q).toSeq.sorted}")
    assert((b & q).isEmpty, s"benchOnly collides with queries: ${(b & q).toSeq.sorted}")
    assert((q -- o) == Set("d04_simhash", "f11_extract_specs",
      "f12_score_items", "f13_generate_stats", "s03_ann_ivf",
      // r18: the pipeline composition (its f11/f12 stages force it —
      // the oracle'd subchain is fp02) and the two ML train+score
      // faces (L-BFGS float-reduction order)
      "fp01_fraud_pipeline", "ml01_rule_distill", "ml02_quality_distill"),
      s"rows-only set drifted: ${(q -- o).toSeq.sorted}")
  }

  test("native expressions reject wrong input types at analysis time") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // graft_cosine reads 4-byte float slots; an array<double> child
    // must fail analysis, not silently return garbage similarities
    val doubles = Seq((Seq(1.0, 2.0), Seq(2.0, 3.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      doubles.select(graft.plans.GraftFunctions.cosine(spark, col("a"), col("b")))
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      doubles.select(graft.plans.GraftFunctions.dot(spark, col("a"), col("b")))
    }
    val longs = Seq(1L).toDF("x")
    intercept[org.apache.spark.sql.AnalysisException] {
      longs.select(graft.plans.GraftFunctions.simhash64(spark, col("x")))
    }
    // the correct types still analyze
    val floats = Seq((Seq(1.0f, 2.0f), Seq(2.0f, 3.0f))).toDF("a", "b")
    floats.select(graft.plans.GraftFunctions.cosine(spark, col("a"), col("b")))
  }

  test("q20: item-count semi-prune engages ABOVE the catalog threshold " +
      "and stays out of the way below it — identical rows either way") {
    // Above CatalogPruneThreshold the lift joins may broadcast ONLY
    // the pruned count frame (≤ 2·|pairs| rows), never the
    // catalog-sized itemCnt: each broadcast side must itself be built
    // by a prune join of broadcast(pairParts) into itemCnt, so the
    // plan carries the two lift BHJs PLUS at least one prune BHJ
    // inside each broadcast subtree (4+ total). Below the threshold
    // (the default path at test scale) the prune joins must be ABSENT
    // — small scale doesn't pay big-scale insurance. Neither path may
    // fall back to a shuffle join, and both produce identical rows.
    import graft.operators.Relational
    try {
      val direct = plan("q20_copurchase")
      assert(!direct.contains("SortMergeJoin"), "q20 fell back to shuffle join")
      val directBhj = "BroadcastHashJoin".r.findAllIn(direct).size
      assert(directBhj <= 3,
        s"q20 small-catalog path still pays the prune probe joins " +
          s"($directBhj BHJs):\n${direct.take(2000)}")
      CacheRegistry.unpersistAll()
      val prunedDf = Relational.q20Adaptive(spark, sf("sf0.001"), 0L)
      val pruned = prunedDf.queryExecution.executedPlan.toString
      assert(!pruned.contains("SortMergeJoin"), "pruned q20 fell back to shuffle join")
      val prunedBhj = "BroadcastHashJoin".r.findAllIn(pruned).size
      assert(prunedBhj >= 4,
        s"q20 lost the itemCnt semi-prune joins ($prunedBhj BHJs):\n${pruned.take(2000)}")
      val a = prunedDf.collect().map(_.toSeq).toSet
      CacheRegistry.unpersistAll()
      val b = SparkEntry.queries("q20_copurchase")(spark, sf("sf0.001"))
        .collect().map(_.toSeq).toSet
      assert(a == b, "pruned and direct q20 paths disagree on rows")
    } finally CacheRegistry.unpersistAll()
  }

  test("q21: three grains in ONE pass — a single Expand, no union of scans") {
    val df = SparkEntry.queries("q21_grouping_sets")(spark, sf("sf0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Expand"), "grouping sets lost the Expand strategy")
    // one scan of orders, not one per grain
    assert("(?s)FileScan parquet".r.findAllIn(p).size == 1, "orders scanned more than once")
    // semantics: grand-total row aggregates every order exactly once
    import org.apache.spark.sql.functions.col
    val total = df.filter(col("g_status") === 1 && col("g_priority") === 1)
      .select("n_orders").collect().map(_.getLong(0))
    val nOrders = Tables.orders(spark, sf("sf0.001")).count()
    assert(total.toSeq == Seq(nOrders))
  }

  test("t11: the ideal scan shape — one scan, one exchange, " +
      "all six rule flags inside the projection") {
    val p = plan("t11_gopher_rules")
    assert("(?s)FileScan parquet".r.findAllIn(p).size == 1,
      "documents scanned more than once")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"t11 grew extra shuffles:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "t11 should be pure scan→agg, no join")
  }

  test("f31: single event scan (cached counts reused) and " +
      "WindowGroupLimit top-k — no global sort") {
    try {
      val p = plan("f31_dow_anomaly")
      // BOTH consumers (baseline aggregate + join probe) must read
      // the cached day-count frame, so the event scan executes once
      // (the relation's stored plan prints per consumer — count the
      // cache hits, not the textual FileScan occurrences)
      assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
        s"f31 lost the shared day-count cache:\n${p.take(1200)}")
      assert(p.contains("WindowGroupLimit"),
        "f31 top-k lost the WindowGroupLimit pushdown")
      assert(!p.contains("SortMergeJoin"),
        "the 7-per-type baseline join fell back to shuffle join")
    } finally CacheRegistry.unpersistAll()
  }

  test("st05: conditional aggregation keeps the threshold out of the " +
      "pre-agg filter (the watermark-stall shape)") {
    val p = plan("st05_alert_rule")
    assert("(?s)FileScan parquet".r.findAllIn(p).size == 1)
    // the threshold must live INSIDE the aggregate expressions
    // (count(CASE WHEN risk >= 80 ...)), never in a Filter node —
    // that shape is what pushed below EventTimeWatermark and stalled
    // the stream on a quiet tail (r15 fix). The scan-side IsNotNull
    // filter is fine; a Filter carrying the threshold is the bug.
    val thresholdFilter = p.linesIterator
      .filter(l => l.contains("Filter") && l.contains(">= 80"))
    assert(thresholdFilter.isEmpty,
      "st05 threshold moved back into a pre-agg Filter")
    assert(p.contains("CASE WHEN"), "st05 lost the conditional aggregation")
  }

  test("runtime bloom filter prunes the fact side of a selective " +
      "shuffle join (the 100 TB dim-join posture)") {
    import org.apache.spark.sql.functions._
    // at real scale a selective dim filter should reach the fact scan
    // as a runtime bloom filter; the size thresholds that gate it are
    // tuned for TBs, so the test pins them open to prove the session
    // CONFIG PATH (and our plans) don't break the injection
    val keys = Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force shuffle join
    val saved = (keys.keys.toSeq :+
      "spark.sql.optimizer.runtime.bloomFilter.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      def q = Tables.lineitem(spark, sf())
        .select(col("l_partkey"), col("l_quantity"))
        .join(Tables.part(spark, sf()).filter(col("p_size") === 1)
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
      val opt = q.queryExecution.optimizedPlan.toString
      // creation side aggregates the dim keys into the filter; the
      // application side probes it ON THE FACT SCAN branch
      assert(opt.contains("bloom_filter_agg"), "no bloom creation side")
      assert(opt.contains("might_contain"), "no fact-side bloom probe")
      val expected = q.count()
      // correctness is untouched by the runtime filter
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      assert(q.count() == expected)
      assert(!q.queryExecution.optimizedPlan.toString
        .contains("might_contain"), "negative control: bloom off")
    } finally {
      // bloomFilter.enabled rides the saved map too: a blind unset
      // would clear any pre-existing session override for later tests
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
