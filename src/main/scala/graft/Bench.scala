package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** The ONE face-timing methodology, shared by every bench main
    * (Bench, BenchSf1): run the face to the noop sink (full query,
    * every output column materialized, rows discarded — see the
    * epoch comment at the call site below), report seconds or -1 on
    * failure, and leave the session cache-clean so the next face
    * starts cold. A second copy of this loop is how the r16
    * count()-elimination bug would sneak back into one artifact but
    * not the other. */
  private[graft] def timeFace(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, tag: String = "bench"): Double = {
    val t0 = System.nanoTime()
    val ok = try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      true
    } catch {
      // NonFatal only: a VirtualMachineError (OOM, stack overflow,
      // internal JVM error) leaves the JVM degraded — every face
      // timed after it would be measured in that wreckage and its
      // reading could be committed as an honest-epoch number the
      // guard then calibrates on. Fatal errors propagate and abort
      // the sweep instead (r16 advice item 4).
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"[$tag] $name FAILED: ${t.getMessage}")
        false
    }
    val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    CacheRegistry.unpersistAll()
    System.gc()
    dt
  }
  /** The ONE untimed-setup contract, shared by Bench and BenchSf1
    * (the timeFace rationale applied to state seeding): run the
    * face's benchSetup entry if any, tag a failure as
    * setup-originated and report false so the caller SKIPS timing (a
    * face timed against missing/partial state would read as a query
    * failure — or worse, a bogus fast number), and leave the session
    * cache-clean either way. */
  private[graft] def runSetup(spark: SparkSession, name: String,
      sfDir: String, tag: String = "bench"): Boolean =
    SparkEntry.benchSetup.get(name).forall { setup =>
      val ok = try { setup(spark, sfDir); true } catch {
        case t: Throwable =>
          System.err.println(
            s"[$tag] $name setup FAILED (face skipped): ${t.getMessage}")
          false
      }
      CacheRegistry.unpersistAll()
      System.gc()
      ok
    }

  def main(args: Array[String]): Unit = {
    // face-name listing for tools/bench_isolated.sh (no session spin-up);
    // value-gated like SPARK_GRAFT_ONLY — empty or "0" means off, so an
    // exported-but-disabled variable can't silently turn a bench run
    // into a listing
    if (sys.env.get("SPARK_GRAFT_LIST").exists(v => v.nonEmpty && v != "0")) {
      (SparkEntry.queries ++ SparkEntry.benchOnly).keys.toSeq.sorted
        .foreach(println)
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt).getOrCreate()
    // Untimed generic warmup: JVM/classloader/codegen-infra/parquet
    // reader spin-up PLUS the hot runtime codepaths every query family
    // exercises — all on synthetic data (none of the sf tables), so
    // whichever benched query hits a codepath first isn't charged its
    // one-time JIT. Measured skew without this: c01 9-13 s benched vs
    // ~3.5 s steady-state, f05 8 s vs ~1.3 s — per-query numbers were
    // JIT-attribution noise, not throughput.
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    // Untimed warm scan of every REAL sf table (~17 MB at sf0.1): the
    // first timed face otherwise absorbs cold page-cache IO for its
    // tables — on a churned driver host that read as a 4x inflation of
    // the head face (r12: c01 18.2 s driver vs 4.4 s idle full-run,
    // with the oracle gate run minutes earlier evicting the cache).
    // A count() drives a full-file read of every column-chunk's pages
    // cheaply; correctness of the timed numbers is unchanged (faces
    // are timed against warm storage either way on a healthy host).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").foreach(_ => ())
    }
    // events has its own loader (nanos/NTZ normalization)
    Tables.events(spark, sfDir).foreach(_ => ())
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      // columnar cache write/read (~4-5 s first use in a fresh JVM)
      val cacheWarm = spark.range(100000).toDF("id").cache()
      cacheWarm.count(); cacheWarm.unpersist(blocking = true)
      val base = spark.range(20000).select(col("id"), (col("id") % 997).as("k"),
        concat(lit("the quick brown fox jumps over a lazy dog "),
          col("id").cast("string")).as("txt"))
      // regex scan + split/explode + shuffle agg
      base.select(explode(split(col("txt"), " ")).as("t"))
        .groupBy(col("t")).agg(count(lit(1))).count()
      base.select(size(regexp_extract_all(col("txt"),
          lit("\\b(the|a|of)\\b"), lit(1))).as("h"))
        .agg(sum(col("h"))).collect()
      // shuffle join + broadcast join + window rank
      base.as("a").join(base.as("b").hint("merge"), "k")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k") % 32).orderBy(col("n").desc)))
        .filter(col("rn") <= 5).count()
      base.as("a").join(broadcast(base.as("b")), "k").count()
      // graft-native expression family (fused shingle loop, md5-prefix
      // hashing, canonical fingerprint, simhash) + the winnow window
      // shape + the lang-id/quality scoring trees — the corpus/text
      // queries' shared hot codepaths, still on synthetic rows only
      val docs = spark.range(2000).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map(i =>
          concat(lit("tok"), pmod(col("id") * 31 + i, lit(211)))): _*).as("text"))
      graft.operators.Dedup.winnowPairs(docs, maxDf = None).count()
      graft.operators.Dedup.exactDedup(docs).count()
      // graph-family hot codepaths (r20): the adjacency build
      // (collect_list), the array_intersect probe and the HOF credit
      // explode of the triangle core, still on synthetic edges only —
      // without this the first graph face pays the family's one-time
      // JIT (measured: g04 first-run ~2x its steady state on a slow
      // host, the r19 verdict's g04 variance item)
      val wedges = spark.range(30000).select(
        pmod(col("id") * 7919, lit(3000)).as("a"),
        pmod(col("id") * 104729, lit(3000)).as("b"))
        .filter(col("a") < col("b")).distinct()
      graft.operators.Graph.triangles(wedges).count()
      docs.select(graft.plans.GraftFunctions.simhash64(spark, col("text"))).count()
      graft.functions.TextAnalysis.withQuality(
        graft.functions.TextAnalysis.withLangId(docs, col("text"), "pl"),
        col("text"), "q").agg(sum(col("q"))).collect()
      graft.CacheRegistry.unpersistAll()
    }
    // Sorted-name order: Map hash order made per-query round-over-round
    // deltas meaningless (whichever query ran first paid shared JIT /
    // codegen warmup). Deterministic order makes them comparable.
    // Optional comma-separated name filter for isolated profiling runs
    // (fresh-JVM per-query timings without cross-query cache effects).
    val benched = SparkEntry.queries ++ SparkEntry.benchOnly
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- benched.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries/benchOnly: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = only match {
      case Some(names) => benched.filter { case (n, _) => names(n) }
      case None => benched
    }
    // The d09 cap-demonstration pair is the bench's biggest churn
    // source (a quadratic candidate join built BY DESIGN); in r10 its
    // alphabetical slot front-ran the f/q families and their driver-run
    // numbers inflated 2-2.6x from its heap/JIT wake. Run the pair LAST
    // (still adjacent, exhaustive before capped, so the twin comparison
    // stays like-for-like) so its churn can't contaminate anything.
    val runLast = Set("d09_boilerplate", "d09_boilerplate_capped",
      "d09_boilerplate_prefix")
    val results = selected.toSeq.sortBy { case (n, _) => (runLast(n), n) }
      .map { case (name, fn) =>
      // untimed state construction (e.g. st03's gate state — its
      // trigger cost is st02's measurement, not st03's); boundary
      // hygiene after so the timed face starts from the same clean
      // state a setup-less face does
      val setupOk = runSetup(spark, name, sfDir)
      // a failed query must be VISIBLE in the output (value -1), never
      // reported as its time-to-throw — that reads as a perf win.
      //
      // noop WRITE, not count() (r16 bench-fidelity fix): count()
      // lets the optimizer column-prune every output expression and
      // then ELIMINATE whole subtrees — a left join whose right side
      // is a unique-key aggregate contributes no rows and no
      // referenced columns to count(1), so Catalyst drops the join
      // AND everything feeding it. Measured on g04_triangles at
      // sf0.1: count() 0.58 s (the wedge enumeration never ran —
      // three rounds of guard history pinned a number that measured
      // only the degree rollup) vs 16.5 s with every column
      // materialized. The noop sink runs the FULL query — every
      // operator, every output column — and discards rows at the
      // sink, which is exactly what a bench must time. timeFace also
      // handles the per-query boundary hygiene: every registered
      // cache pin dropped (blocking) + a GC nudge, so each query is
      // timed against the cold-cache state an isolated fresh-JVM run
      // sees instead of inheriting earlier queries' memory pressure.
      val dt = if (setupOk) timeFace(spark, name, fn, sfDir) else -1.0
      name -> dt
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // a failed query reports -1 per-entry; summing that into the total
    // would let a failing run read as a perf WIN, so the total covers
    // successes only and the headline carries an explicit failure count
    val failures = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","failures":$failures,"queries":$qs,"sf":"$sfDir"}"""
    // The full JSON line can exceed the driver's log-tail capture (r8 lost
    // its "total" to mid-line truncation), so persist it to a file too and
    // BRACKET it with a short headline line — printed before AND after the
    // full dump, so whichever end of the log a tail/head capture keeps,
    // one intact parseable summary survives. The file is written FIRST
    // and the headline only advertises it on success — a failed write
    // must not point consumers at a stale previous run.
    val wrote = try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, json.getBytes("UTF-8"))
      true
    } catch { case t: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: ${t.getMessage}")
      false
    }
    val fullRef = if (wrote) ""","full":"target/bench.json"""" else ""
    val headline =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"failures":$failures$fullRef}"""
    println(headline)
    println(json)
    println(headline)
    // The driver's log capture keeps only the LAST ~2 KB, which
    // truncated the full per-face line mid-line in r18/r19 and left
    // "parsed": null — the host-sensitive faces' driver readings were
    // unrecoverable, forcing retained guard bars (r19 verdict item
    // 2). Tail-robust epilogue, ordered so whatever survives a
    // last-N-bytes capture is parseable line-by-line: (1) the full
    // compact per-face map (may lose its head), (2) ONE short line
    // with the slowest 16 faces — the host-sensitive ones are by
    // construction among them and this line plus the final headline
    // fit any plausible tail budget, (3) the headline again.
    val compact = results.map { case (k, v) =>
      "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"perface","unit":"sec","queries":$compact}""")
    val top = results.sortBy(-_._2).take(16)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"top16","unit":"sec","queries":$top}""")
    println(headline)
    spark.stop()
  }
}
