package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.Path

/** Checkpointed incremental collection — the Spark analog of the
  * reference's resumable collector (analist_poller.py:206
  * save_checkpoint: atomic temp-file writes every N pages so a crash
  * resumes without data loss or duplicates).
  *
  * In Structured Streaming both halves are engine guarantees instead
  * of hand-rolled file renames:
  *   - the `checkpointLocation` WAL records which input files/offsets
  *     each micro-batch committed (the "checkpoint" itself), and
  *   - the file sink's transaction log makes output exactly-once, so
  *     killing the process mid-batch and calling [[resume]] again
  *     continues from the last committed batch — the atomic-rename
  *     property, but per-batch and distributed.
  *
  * Dedup state (canonical-fingerprint, [[dedupStream]]) lives in the
  * same checkpoint, so a duplicate arriving after a restart is still
  * dropped as long as it lands within the watermark. State is bounded
  * by the watermark horizon — O(docs per watermark window), not
  * O(corpus) — which is what survives an unbounded stream.
  */
object Ingest {

  /** Exact streaming dedup on the canonical text fingerprint (same
    * canonicalization as the batch d01 operator, so batch backfill and
    * streaming ingest drop the same duplicates). */
  def dedupStream(input: DataFrame, tsCol: String = "ts",
      textCol: String = "text", watermark: String = "10 minutes"): DataFrame = {
    // same reserved-name convention as the gate's "batch" guard: a
    // user column named fp would be silently overwritten by the
    // derived fingerprint AND persisted under the user's name
    require(!input.columns.contains("fp"),
      "dedupStream input must not carry an 'fp' column (reserved for the derived fingerprint)")
    input
      .withColumn("fp", graft.plans.GraftFunctions.fingerprint(
        input.sparkSession, col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Start — or resume from `checkpointDir`, if it exists — the
    * deduplicated NDJSON→parquet ingestion. Calling this again after a
    * crash or stop with the same three directories is the reference's
    * resume-on-failure loop: already-committed batches are skipped,
    * the in-flight one replays, output stays exactly-once. */
  def resume(spark: SparkSession, inDir: String, schema: StructType,
      outDir: String, checkpointDir: String,
      tsCol: String = "ts", textCol: String = "text",
      watermark: String = "10 minutes"): StreamingQuery =
    dedupStream(spark.readStream.schema(schema).json(inDir),
        tsCol, textCol, watermark)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  // ---------------------------------------------------------------
  // Streaming NEAR-dup gate — the missing composition between the
  // batch dedup stack (d07 winnowing) and a continuously-ingesting
  // pipeline. Exact dedup ([[dedupStream]]) only drops bit-identical
  // re-crawls; a near-duplicate arriving a day later sails through.
  // This gate runs the c01-style cascade per micro-batch:
  //   1. within-batch near-dup pairs via Dedup.winnowPairs (capped
  //      production path) — drop the higher doc_id of each pair;
  //   2. cross-batch gate: a batch doc sharing >= minShared winnow
  //      fingerprints with ANY already-accepted doc is dropped.
  //   3. survivors' docs and fingerprints land in batch=<id>
  //      subdirectories via OVERWRITE — a replayed micro-batch
  //      rewrites exactly the same directories from exactly the same
  //      corpus view (only batches < its own id), so crash-replay is
  //      idempotent: no duplicates, no self-matching.
  //
  // State layout. Invariants the gate relies on:
  //
  //   fpDir/batch=<id>/                  the accepted (doc_id, fp) rows
  //     of one sealed micro-batch (or of one generation, see below) as
  //     plain parquet files with no subdirectories: one file per
  //     micro-batch, more only when a batch exceeds StateFileRows.
  //     A sealed dir holding subdirectories (such as the fpb=<b>
  //     buckets of an older layout) fails the gate fast. Partition
  //     discovery therefore walks only the batch dirs, so a trigger
  //     starts no parallel listing job, and the cross-batch probe
  //     reads one file per live sealed dir, streamed into a hash join
  //     against the broadcast batch side with no state-side exchange.
  //     File and directory counts are bounded (generation folding);
  //     rows read per trigger grow with the state.
  //
  //   fpDir/_census/delta/batch=<id>/    per-batch (fp, df) counts of
  //     that batch's accepted fingerprints: the document-frequency
  //     census, kept incrementally instead of re-aggregating the whole
  //     (doc_id, fp) corpus every trigger. Underscore-prefixed, so
  //     corpus reads of fpDir never see it.
  //
  //   fpDir/_census/merged/              compact-and-swap merge of all
  //     deltas <= the id recorded in merged/_max (written inside the
  //     directory before the atomic swap, so the merge and its
  //     frontier are never observable out of sync). One row per fp;
  //     every file is sorted by df descending, so the already-hot
  //     probe (df > k) skips cold row groups via parquet min/max
  //     stats.
  // ---------------------------------------------------------------

  /** Rows per sealed fingerprint file: 8M (doc_id, fp) pairs, about
    * 128 MB before compression. A micro-batch writes one file; only a
    * backfill-sized batch spills into more. */
  private val StateFileRows = (128L << 20) / 16

  /** Census deltas are folded into `merged` every this many batches
    * (from inside [[gateBatch]], which may only compact batches below
    * its own id — those are the ones foreachBatch has committed). */
  val CensusCompactInterval = 16

  private def censusDir(fpDir: String) = s"$fpDir/_census"

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ---------------------------------------------------------------
  // Generation folding — bounds the DIRECTORY count of the gate state
  // the way the census bounds its per-trigger row work. Every sealed
  // batch is one batch=<id> dir; per-trigger driver metadata
  // (partition discovery + the layout check) walks those dirs, so a
  // stream running for years accumulates O(#batches) metadata work
  // per trigger. maintain() folds FoldGroup same-level dirs into ONE
  // level-up "generation" dir — LSM-style tiered compaction on the
  // batch axis: level-0 dirs are plain sealed batches, a level-1
  // generation holds FoldGroup of them, level-2 holds FoldGroup
  // level-1 generations, and so on. Directory count stays
  // <= FoldGroup x levels = O(log #batches); each state row is
  // rewritten once per level it climbs (the LSM write-amplification
  // tradeoff, paid in the maintenance window, never per trigger).
  //
  // A generation keeps the HIGHEST folded id as its directory name
  // (batch=<maxId>) and records "<loId>,<level>" in a `_gen` marker
  // file written into the new dir BEFORE the swap. The gate's
  // `batch < batchId` partition filter stays correct with no row
  // rewrites: every folded row's partition value becomes the
  // generation id, which is below any batch the stream gates next
  // (folds only cover ids below the committed frontier). Because
  // folds always take the OLDEST FoldGroup dirs of a level, marker
  // ranges [lo, id] never interleave — any OTHER existing dir whose
  // id falls inside one is a not-yet-deleted fold source.
  //
  // Swap protocol (the census's compact-and-swap, applied to dirs):
  // write consolidated rows to .batch=<k>._fold_tmp, write `_gen`
  // last, rename batch=<k> -> .batch=<k>._fold_old, rename tmp in,
  // delete the other covered originals, delete trash. A crash in any
  // window leaves either the originals intact (tmp discarded) or a
  // complete generation alongside not-yet-deleted originals — both
  // [[recoverFolds]] (roll forward + delete) and the gate's
  // stale-source exclusion (markers identify originals covered by an
  // existing generation) handle that, so gating stays correct even
  // if the stream restarts before maintenance recovery runs.
  // ---------------------------------------------------------------

  /** Same-level sealed dirs that fold into one generation. Smaller in
    * tests via the maintain/foldBatches parameter; 16 keeps directory
    * count logarithmic with gentle write amplification. */
  val FoldGroup = 16

  /** One sealed batch=<id> dir: fold coverage ((lo, level) from the
    * `_gen` marker; (id, 0) for a plain un-folded batch) plus the
    * dir's mtime, which keys the per-trigger metadata caches — a fold
    * or compact replaces the directory via rename, changing its
    * mtime, so a warm JVM cannot trust cached metadata across another
    * process's maintenance run. */
  private case class SealedDir(id: Long, lo: Long, level: Int, mtime: Long)

  private def genMarkerPath(root: String, id: Long) =
    new Path(s"$root/batch=$id/_gen")

  /** Parse "<lo>,<level>" from a marker file; None when the file is
    * missing OR unparseable — a crash between creating and writing
    * the tiny marker leaves an empty file, which must read as
    * "fold incomplete", not blow up every later listing. */
  private def parseGenMarker(fs: org.apache.hadoop.fs.FileSystem,
      m: Path): Option[(Long, Int)] =
    if (!fs.exists(m)) None
    else scala.util.Try {
      scala.util.Using.resource(fs.open(m)) { in =>
        val parts = new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.split(",")
        (parts(0).toLong, parts(1).toInt)
      }
    }.toOption

  private def readGenMarker(spark: SparkSession, root: String,
      id: Long): Option[(Long, Int)] = {
    val (fs, _) = hadoopFs(spark, root)
    parseGenMarker(fs, genMarkerPath(root, id))
  }

  // (root, id, dir mtime) -> (lo, level); mtime in the key makes the
  // cache self-invalidating when maintenance (this JVM's or another
  // process's) replaces the directory — see ADVICE r10: per-trigger
  // metadata reads must not grow with stream lifetime, but a plain
  // id-keyed cache would go silently stale across an external fold
  private val sealedDirMeta = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), SealedDir]
  // (root, id, dir mtime) -> layout validated (flat: files only)
  private val layoutValidated = java.util.concurrent.ConcurrentHashMap
    .newKeySet[(String, Long, Long)]

  /** Drop cached sealed-dir metadata for `root` — called by the
    * maintenance entry points before they rewrite directories. */
  private def invalidateSealedMeta(root: String): Unit = {
    sealedDirMeta.keySet.removeIf(_._1 == root)
    layoutValidated.removeIf(_._1 == root)
  }

  /** All sealed batch dirs under `root` with fold coverage, via ONE
    * root listStatus plus cached marker reads. With
    * `failOnOrphanFolds` (the gate's per-trigger posture), a
    * fold-swap crash state whose generation's only copy sits in a
    * dot-prefixed dir — which parquet readers silently skip — fails
    * loudly instead of gating against a corpus view missing rows;
    * recovery entry points pass false because they run AFTER fixing
    * exactly those states. */
  private def sealedDirs(spark: SparkSession, root: String,
      failOnOrphanFolds: Boolean = false): Seq[SealedDir] = {
    val (fs, rootPath) = hadoopFs(spark, root)
    if (!fs.exists(rootPath)) return Seq.empty
    val entries = fs.listStatus(rootPath).toSeq.filter(_.isDirectory)
    if (failOnOrphanFolds)
      entries.filter { e =>
        val n = e.getPath.getName
        n.endsWith("._fold_tmp") || n.endsWith("._fold_old")
      }.foreach { e =>
        val n = e.getPath.getName
        val target = n.stripPrefix(".")
          .stripSuffix("._fold_tmp").stripSuffix("._fold_old")
        require(fs.exists(new Path(rootPath, target)),
          s"$root holds an interrupted generation fold ($n with no $target) " +
            "— run maintain() (or recoverFolds) to recover before gating")
      }
    entries.flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith("batch=")) None
      else scala.util.Try(n.stripPrefix("batch=").toLong).toOption.map { id =>
        val key = (root, id, st.getModificationTime)
        Option(sealedDirMeta.get(key)).getOrElse {
          val meta = readGenMarker(spark, root, id) match {
            case Some((lo, level)) =>
              SealedDir(id, lo, level, st.getModificationTime)
            case None => SealedDir(id, id, 0, st.getModificationTime)
          }
          sealedDirMeta.put(key, meta)
          meta
        }
      }
    }
  }

  /** Ids covered by an EXISTING generation other than itself — fold
    * sources whose deletion a crash interrupted. Their rows are
    * duplicated inside the covering generation, so readers must
    * exclude them (double-counted fps would inflate shared counts and
    * change drop decisions). */
  private def staleFoldSources(dirs: Seq[SealedDir]): Set[Long] = {
    val ids = dirs.map(_.id).toSet
    dirs.filter(_.level > 0)
      .flatMap(g => ids.filter(i => i >= g.lo && i < g.id)).toSet
  }

  /** Crash recovery for [[foldBatches]]' swap: completes an
    * interrupted swap-in (tmp holds the generation's only copy),
    * discards stale tmps, restores an orphaned trash, and deletes
    * fold sources covered by a completed generation. After this, the
    * state is either pre-fold or post-fold — never partial. */
  def recoverFolds(spark: SparkSession, root: String): Unit = {
    val (fs, rootPath) = hadoopFs(spark, root)
    if (!fs.exists(rootPath)) return
    invalidateSealedMeta(root)
    val entries = fs.listStatus(rootPath).toSeq.filter(_.isDirectory)
    entries.filter(_.getPath.getName.endsWith("._fold_tmp")).foreach { st =>
      val target = new Path(rootPath,
        st.getPath.getName.stripPrefix(".").stripSuffix("._fold_tmp"))
      // completeness = a PARSEABLE marker (an empty _gen from a crash
      // mid-marker-write counts as incomplete; the originals are
      // intact, so discarding the tmp and re-folding later is safe)
      val complete = parseGenMarker(fs, new Path(st.getPath, "_gen")).isDefined
      if (!fs.exists(target) && complete)
        require(fs.rename(st.getPath, target),
          s"recoverFolds: could not complete interrupted swap of ${st.getPath}")
      else fs.delete(st.getPath, true)
    }
    entries.filter(_.getPath.getName.endsWith("._fold_old")).foreach { st =>
      val target = new Path(rootPath,
        st.getPath.getName.stripPrefix(".").stripSuffix("._fold_old"))
      // an orphaned trash with no completed swap-in holds the old
      // generation's only copy — restore it (its sources were already
      // deleted by the fold that created it)
      if (!fs.exists(target))
        require(fs.rename(st.getPath, target),
          s"recoverFolds: could not restore orphaned $target")
      else fs.delete(st.getPath, true)
    }
    val dirs = sealedDirs(spark, root)
    staleFoldSources(dirs).foreach { id =>
      fs.delete(new Path(s"$root/batch=$id"), true)
    }
    invalidateSealedMeta(root)
  }

  /** Fold sealed batch dirs below `belowBatch` into generations until
    * no level holds `foldGroup` dirs — see the design block above.
    * Both gate roots (docs and fingerprints) are flat, and each
    * generation is written at `targetBytes` file size. Returns the
    * (lo, id, level) of each generation written. */
  def foldBatches(spark: SparkSession, root: String, belowBatch: Long,
      foldGroup: Int = FoldGroup,
      targetBytes: Long = 128L << 20): Seq[(Long, Long, Int)] = {
    require(foldGroup >= 2, s"foldGroup must be >= 2, got $foldGroup")
    recoverFolds(spark, root)
    val (fs, _) = hadoopFs(spark, root)
    val done = scala.collection.mutable.ListBuffer.empty[(Long, Long, Int)]
    var continue = true
    while (continue) {
      val dirs = sealedDirs(spark, root).filter(_.id < belowBatch)
      dirs.groupBy(_.level).toSeq.sortBy(_._1)
        .find(_._2.size >= foldGroup) match {
        case None => continue = false
        case Some((level, atLevel)) =>
          val group = atLevel.sortBy(_.id).take(foldGroup)
          val k = group.map(_.id).max
          val lo = group.map(_.lo).min
          val sources = group.map(d => s"$root/batch=${d.id}")
          // an all-dropped micro-batch seals an EMPTY dir (no data
          // files) — unreadable by schema inference and contributing
          // nothing; fold only the non-empty sources
          val nonEmpty = sources.filter { p =>
            val d = new Path(p)
            fs.exists(d) && {
              val it = fs.listFiles(d, true)
              var found = false
              while (!found && it.hasNext) {
                val n = it.next().getPath.getName
                if (!n.startsWith("_") && !n.startsWith(".")) found = true
              }
              found
            }
          }
          val tmp = new Path(s"$root/.batch=$k._fold_tmp")
          fs.delete(tmp, true)
          if (nonEmpty.isEmpty)
            // the generation still has to exist to carry its marker
            fs.mkdirs(tmp)
          else {
            // per-dir reads + union (a multi-root partitioned read
            // would need a basePath dance; schemas are identical by
            // writer)
            val rows = nonEmpty.map(p => spark.read.parquet(p))
              .reduce(_ unionByName _)
            // generations are written AT target file size here
            // (maintain never re-compacts them — a whole-dir rewrite
            // would drop the `_gen` marker)
            val totalBytes = nonEmpty.map { p =>
              fs.getContentSummary(new Path(p)).getLength
            }.sum
            val nFiles =
              math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
            rows.coalesce(nFiles)
              .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          }
          // marker LAST: tmp-with-_gen means fully written
          scala.util.Using.resource(
              fs.create(new Path(tmp, "_gen"), true)) { out =>
            out.write(s"$lo,${level + 1}".getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
          }
          val target = new Path(s"$root/batch=$k")
          val trash = new Path(s"$root/.batch=$k._fold_old")
          fs.delete(trash, true)
          require(fs.rename(target, trash),
            s"foldBatches: could not swap out $target")
          require(fs.rename(tmp, target),
            s"foldBatches: could not swap in $tmp")
          group.map(_.id).filter(_ != k).foreach { id =>
            fs.delete(new Path(s"$root/batch=$id"), true)
          }
          fs.delete(trash, true)
          invalidateSealedMeta(root)
          done += ((lo, k, level + 1))
      }
    }
    done.toSeq
  }

  private def censusDeltaSchema: StructType = StructType(Seq(
    StructField("fp", LongType), StructField("df", LongType),
    StructField("batch", LongType)))

  private def censusMergedSchema: StructType = StructType(Seq(
    StructField("fp", LongType), StructField("df", LongType)))

  /** Crash recovery for the census compact-and-swap. The swap is two
    * renames (merged→trash, tmp→merged); a crash between them leaves
    * merged ABSENT while the complete new merge sits in tmp (its
    * `_max` marker is written only after the data, so tmp-with-_max
    * means fully written) and the old merged sits in trash. Every
    * census reader/writer calls this first: it completes an
    * interrupted swap (rename tmp→merged), discards a stale tmp from
    * a crash BEFORE the swap-out (merged still present — the deltas
    * were not yet deleted, so the next compaction simply re-merges),
    * and clears leftover trash. After this runs, the census is always
    * either the pre-compaction or the post-compaction state — never
    * lost. */
  private def recoverCensus(spark: SparkSession, fpDir: String): Unit = {
    val cDir = censusDir(fpDir)
    val (fs, _) = hadoopFs(spark, cDir)
    val merged = new Path(s"$cDir/merged")
    val tmp = new Path(s"$cDir/.merged._compact_tmp")
    val trash = new Path(s"$cDir/.merged._compact_old")
    if (fs.exists(tmp)) {
      val tmpComplete = fs.exists(new Path(tmp, "_max"))
      if (!fs.exists(merged) && tmpComplete)
        require(fs.rename(tmp, merged),
          s"recoverCensus: could not complete interrupted swap of $tmp")
      else fs.delete(tmp, true)
    }
    fs.delete(trash, true)
  }

  /** The merged census's frontier: highest batch id folded into
    * `merged`, or -1 when no merge has happened. Lives INSIDE the
    * merged directory so the atomic swap updates data and frontier
    * together. */
  private def mergedMaxBatch(spark: SparkSession, fpDir: String): Long = {
    val (fs, _) = hadoopFs(spark, fpDir)
    val marker = new Path(s"${censusDir(fpDir)}/merged/_max")
    if (!fs.exists(marker)) -1L
    else scala.util.Using.resource(fs.open(marker)) { in =>
      new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    }
  }

  /** The accepted-corpus fingerprint view a gate for batch
    * `belowBatch` must see: all state rows of earlier batches (the
    * frontier is the scan's PartitionFilter, not a post-read filter). */
  def corpusView(spark: SparkSession, fpDir: String, belowBatch: Long,
      docIdType: DataType, excludeIds: Set[Long] = Set.empty): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", docIdType), StructField("fp", LongType),
      StructField("batch", LongType)))
    val base = spark.read.schema(schema).parquet(fpDir)
      .filter(col("batch") < belowBatch)
    // stale fold sources: their rows are duplicated inside a covering
    // generation, so reading both would double-count shared fps
    (if (excludeIds.isEmpty) base
      else base.filter(!col("batch").isin(excludeIds.toSeq: _*)))
      .select(col("doc_id").as("corpus_id"), col("fp"))
  }

  /** Fingerprints whose accepted-corpus document frequency over
    * batches < `belowBatch` exceeds `k` — from the CENSUS, never from
    * the per-doc state. Merged rows answer with one pushed-down scan
    * (df > k, row-group-skippable); delta rows are re-aggregated only
    * over the uncompacted recent batches; fps that may have CROSSED
    * the threshold since the last compaction are resolved by joining
    * the merged census against the broadcast delta aggregate. None =
    * no census yet (no earlier batch). */
  def hotFps(spark: SparkSession, fpDir: String, belowBatch: Long,
      k: Int): Option[DataFrame] = {
    recoverCensus(spark, fpDir)
    val (fs, _) = hadoopFs(spark, fpDir)
    val mergedMax = mergedMaxBatch(spark, fpDir)
    require(mergedMax < belowBatch,
      s"census already compacted through batch $mergedMax but batch $belowBatch is " +
        "being gated/replayed — compaction must only cover batches below the " +
        "stream's committed frontier")
    val mergedPath = new Path(s"${censusDir(fpDir)}/merged")
    val merged =
      if (!fs.exists(mergedPath)) None
      else Some(spark.read.schema(censusMergedSchema)
        .parquet(mergedPath.toString))
    val deltaPath = new Path(s"${censusDir(fpDir)}/delta")
    val deltas =
      if (!fs.exists(deltaPath) || fs.listStatus(deltaPath).isEmpty) None
      else Some(spark.read.schema(censusDeltaSchema)
        .parquet(deltaPath.toString)
        .filter(col("batch") > mergedMax && col("batch") < belowBatch))
    (merged, deltas) match {
      case (None, None) => None
      case (Some(m), None) =>
        Some(m.filter(col("df") > k).select(col("fp")))
      case (None, Some(d)) =>
        Some(d.groupBy(col("fp")).agg(sum(col("df")).as("ddf"))
          .filter(col("ddf") > k).select(col("fp")))
      case (Some(m), Some(d)) =>
        // recent-delta aggregate: O(uncompacted batches), cached
        // because it feeds both the crossed-threshold probe and the
        // delta-only branch
        val dAgg = d.groupBy(col("fp")).agg(sum(col("df")).as("ddf"))
          .transform(graft.CacheRegistry.register)
        val alreadyHot = m.filter(col("df") > k).select(col("fp"))
        val crossed = m.join(broadcast(dAgg), Seq("fp"))
          .filter(col("df") + col("ddf") > k).select(col("fp"))
        // delta-only fps (not in merged): ddf alone decides; a fp
        // ALSO present in merged lands in `crossed` too — the final
        // distinct() collapses it
        val newlyHot = dAgg.filter(col("ddf") > k).select(col("fp"))
        Some(alreadyHot.union(crossed).union(newlyHot).distinct())
    }
  }

  /** Pin an eval/benchmark set's winnow fingerprints for the
    * streaming decontamination gate: (bench_id, fp) parquet at
    * `evalFpDir`. The set is derived ONCE, ahead of ingestion, from
    * the (doc_id, text) projection of the eval docs — eval sets are
    * benchmark-sized by construction, so [[gateBatch]] broadcasts the
    * whole file per trigger. */
  def writeEvalFps(evalDocs: DataFrame, evalFpDir: String): Unit =
    graft.operators.Dedup.winnowFps(
        evalDocs.select(col("doc_id"), col("text")))
      .select(col("doc_id").as("bench_id"), col("fp"))
      .write.mode(SaveMode.Overwrite).parquet(evalFpDir)

  /** The per-trigger decontamination drop set — the streaming face of
    * batch d08/c07 compliance: doc_ids of `keptFps` sharing >=
    * `minShared` winnow fingerprints with any pinned eval doc
    * ([[writeEvalFps]]). The eval side is broadcast (small by
    * construction) and the probe rides the batch's cached fp frame —
    * NO state scan, NO state-side shuffle; the only exchange is the
    * pair aggregation of the matched (micro-batch-sized) subset. No
    * df cap is applied: the join fanout is bounded by the eval set's
    * size, not the corpus df. Exposed separately from [[gateBatch]]
    * so the plan shape is assertable in specs. */
  def evalGateDrops(keptFps: DataFrame, evalFpDir: String,
      minShared: Int = graft.operators.Dedup.WinnowMinShared): DataFrame = {
    val evalFps = keptFps.sparkSession.read.parquet(evalFpDir)
    keptFps
      .join(broadcast(evalFps.select(col("bench_id"), col("fp"))), Seq("fp"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("doc_id")).distinct()
  }

  /** The cross-batch drop set for one micro-batch: doc_ids of
    * `keptFps` (the batch survivors' (doc_id, fp) fingerprints)
    * sharing >= `minShared` non-hot fingerprints with any accepted
    * corpus doc. Exposed separately from [[gateBatch]] so its plan
    * shape — broadcast batch side, exchange-free state side — is
    * assertable in specs. None = no drops possible (no earlier
    * state). */
  def crossGateDrops(keptFps: DataFrame, fpDir: String, batchId: Long,
      docIdType: DataType, minShared: Int,
      maxDf: Option[Int]): Option[DataFrame] = {
    val spark = keptFps.sparkSession
    // one root listing: sealed dirs + fold coverage (markers cached by
    // (dir, mtime)), loud failure on unrecovered fold-swap crashes
    val dirs = sealedDirs(spark, fpDir, failOnOrphanFolds = true)
    val stale = staleFoldSources(dirs)
    val live = dirs.filterNot(d => stale(d.id)).filter(_.id < batchId)
    if (live.isEmpty) return None
    // fail fast on a sealed dir that is not flat (the fpb=<b>
    // bucketed layout of an older state, or a foreign nested write):
    // partition discovery would read its subdirectories as another
    // partition level, which this gate's schema does not have. EVERY
    // live earlier batch is checked, but the verdict is CACHED by
    // (dir, mtime): a sealed dir is immutable except for maintenance
    // rewrites, which replace it via rename and so change its mtime,
    // so a trigger lists only the dirs sealed since the last one.
    // Underscore AND dot prefixes are ignored — parquet readers skip
    // both (markers, checksums).
    locally {
      val (fs, _) = hadoopFs(spark, fpDir)
      live.foreach { d =>
        val key = (fpDir, d.id, d.mtime)
        if (!layoutValidated.contains(key)) {
          val nested = fs.listStatus(new Path(s"$fpDir/batch=${d.id}"))
            .filter { st =>
              val n = st.getPath.getName
              st.isDirectory && !n.startsWith("_") && !n.startsWith(".")
            }
          require(nested.isEmpty,
            s"fingerprint state batch=${d.id} under $fpDir holds subdirectories " +
              s"(${nested.map(_.getPath.getName).take(3).mkString(", ")}, ...), " +
              "not flat (doc_id, fp) files — rebuild the state with this layout")
          layoutValidated.add(key)
        }
      }
    }
    // The hot-df cap guards the fp equi-join's fanout: a boilerplate
    // fingerprint in df corpus docs would contribute (df × batch
    // occurrences) join rows. Dropping above-cap fps from the BATCH
    // side is equivalent to dropping them from the corpus side (a
    // match needs the fp on both sides) and filters the small frame.
    val hot = maxDf.flatMap(k => hotFps(spark, fpDir, batchId, k))
    // gateBatch writes a census delta with every state batch, so a
    // defined cap with existing state but NO census is corruption —
    // running uncapped would both lose the fanout guard and change
    // drop decisions (hot fps would count toward shared) silently
    require(maxDf.isEmpty || hot.isDefined,
      s"df cap $maxDf configured but no census exists under $fpDir " +
        "despite sealed state batches — census lost or foreign state")
    val gateFps = hot.fold(keptFps)(h =>
      keptFps.join(broadcast(h), Seq("fp"), "left_anti"))
    // batch side is micro-batch-sized -> broadcast; the state scan
    // streams straight into the hash probe
    Some(corpusView(spark, fpDir, batchId, docIdType, excludeIds = stale)
      .join(broadcast(gateFps), Seq("fp"))
      .groupBy(col("corpus_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("doc_id")).distinct()
      .transform(graft.CacheRegistry.register))
  }

  /** One micro-batch of the near-dup gate (the foreachBatch body —
    * public so a replay is testable as a plain call). Reads corpus
    * fingerprint state from `fpDir` (batches BELOW `batchId` only),
    * writes survivors to `docsDir/batch=<id>`, their fingerprints to
    * `fpDir/batch=<id>` (one flat file) and the batch's df census
    * delta to `fpDir/_census/delta/batch=<id>`. Returns the survivor
    * count.
    *
    * doc_id must be GLOBALLY UNIQUE for the stream's lifetime (the
    * upstream collector's contract — reference item ids): the gate
    * keys corpus state by doc_id alone, so a reused id would merge
    * two documents' fingerprints under one corpus_id in the shared
    * count and could inflate it past minShared. */
  def gateBatch(batch: DataFrame, batchId: Long, docsDir: String,
      fpDir: String, minShared: Int = graft.operators.Dedup.WinnowMinShared,
      maxDf: Option[Int] = Some(graft.operators.Dedup.DefaultMaxDf),
      evalFpDir: Option[String] = None,
      repetitionGate: Boolean = false,
      gopherGate: Boolean = false): Long = {
    import graft.operators.Dedup
    // "batch" is this sink's partition-directory column; an input
    // column of the same name would silently shadow the corpus-view
    // filter on re-read
    require(!batch.columns.contains("batch"),
      "near-dup gate input must not carry a 'batch' column (reserved for the sink layout)")
    // a cache SCOPE, not a global unpersistAll: a trigger boundary must
    // release exactly the caches this call pinned — clearing the whole
    // registry from a stream-execution thread would clobber caches a
    // concurrent stream or host query is mid-flight on
    graft.CacheRegistry.scoped {
      // ALL input columns survive the gate (metadata — timestamps,
      // urls — rides along to the sink); the fingerprint pipeline runs
      // on the (doc_id, text) projection only
      val raw = batch.transform(graft.CacheRegistry.register)
      // 0. OPTIONAL repetition gate — the t05 quality gate the batch
      // chain applies in Corpus.clean(repetitionGate), enforced AT
      // INGEST: phrase-repeat degenerates are rejected before their
      // fingerprints exist, so they never reach the corpus, the
      // fingerprint state, or the census (the 41f pattern). Pure
      // per-batch aggregation over micro-batch-sized frames — no
      // state interaction, no broadcast, nothing to replay.
      val afterRep =
        if (!repetitionGate) raw
        else raw.join(
          graft.operators.TextOps.repetitionMetrics(
              raw.select(col("doc_id"), col("text")))
            .filter(col("repetitive") === 1L).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
          .transform(graft.CacheRegistry.register)
      // 0b. OPTIONAL Gopher quality gate (t11's rule battery,
      // enforced AT INGEST like the repetition gate): a doc failing
      // ANY rule is rejected before its fingerprints exist. Pure
      // per-batch projection+join over micro-batch-sized frames.
      val docs =
        if (!gopherGate) afterRep
        else afterRep.join(
          graft.operators.TextOps.gopherFlags(
              afterRep.select(col("doc_id"), col("text")))
            .filter(graft.operators.TextOps.gopherFail)
            .select(col("doc_id")),
          Seq("doc_id"), "left_anti")
          .transform(graft.CacheRegistry.register)
      // ONE fingerprint derivation feeds everything in the trigger:
      // the within-batch pair join, the cross-batch gate probe, and
      // the state/census writes all consume this cached fp-partitioned
      // frame (deriving keptFps via winnowFps(kept) instead re-ran the
      // gram/window pipeline a second time per batch)
      val fps = Dedup.winnowFps(docs.select(col("doc_id"), col("text")))
        .repartition(col("fp"))
        .transform(graft.CacheRegistry.register)
      // 1. within-batch near-dups: keep the lower doc_id of each pair
      // (same cap as the cross gate — one knob governs both joins).
      // innerDrops is tiny but gates every downstream frame — cached
      // so the pair aggregation runs once, not once per consumer.
      val innerDrops = Dedup.winnowPairsFromFps(fps, minShared, maxDf)
        .select(col("b").as("doc_id")).distinct()
        .transform(graft.CacheRegistry.register)
      val kept = docs.join(innerDrops, Seq("doc_id"), "left_anti")
      // winnowFps is per-doc deterministic, so filtering the fp frame
      // by surviving doc_id IS winnowFps(kept)
      val keptFps = fps.join(innerDrops, Seq("doc_id"), "left_anti")
        .transform(graft.CacheRegistry.register)
      // 2. cross-batch gate against the sealed fingerprint state.
      // Restricting to batch < batchId is what makes replay
      // idempotent: the rerun sees the same corpus as the first run,
      // not its own previous output.
      val crossDrops = crossGateDrops(keptFps, fpDir, batchId,
        batch.schema("doc_id").dataType, minShared, maxDf)
      // 2b. OPTIONAL streaming decontamination against the pinned
      // eval set — the same compliance the batch chain (d08/c07)
      // enforces, applied at ingest so a contaminated doc never
      // reaches the corpus, its fingerprint state, or the census
      val evalDrops = evalFpDir.map(d =>
        evalGateDrops(keptFps, d, minShared))
      val extDrops = (crossDrops.toSeq ++ evalDrops.toSeq)
        .reduceOption(_ unionByName _)
        .map(_.distinct().transform(graft.CacheRegistry.register))
      val survivors = extDrops.fold(kept)(d =>
          kept.join(d, Seq("doc_id"), "left_anti"))
      // register only a NEW frame: with no external drops the
      // survivors' fingerprints are keptFps, already cached
      val survFps = extDrops.fold(keptFps)(d =>
        keptFps.join(d, Seq("doc_id"), "left_anti")
          .transform(graft.CacheRegistry.register))
      // 3. idempotent per-batch writes: overwrite, never append. The
      // state and census writes run CONCURRENTLY with the survivors
      // write: the three sinks are independent (all consume the
      // shared caches, whose concurrent fill is the BlockManager's
      // compute-or-wait; every reader of the state/census trees
      // filters batch < id, so a trigger's own in-flight levels are
      // invisible), and the trigger's commit point is this call's
      // RETURN (foreachBatch logs the batch after the body finishes),
      // so relative write order does not matter for crash-replay: a
      // crash anywhere replays the whole batch and every level is
      // overwrite-idempotent. Both futures run under this trigger's
      // job group (SinkPool), so stopping the query cancels them, and
      // both are settled on every exit path, so no write outlives its
      // trigger into a replay.
      val spark = batch.sparkSession
      // one file per sealed dir (see the state layout block)
      val stateWrite = graft.SinkPool.submit(spark) {
        survFps.coalesce(1).write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", StateFileRows)
          .parquet(s"$fpDir/batch=$batchId")
      }
      // census delta: this batch's contribution to the per-fp df —
      // winnowFps is distinct per doc, so count == docs carrying fp
      val censusWrite = graft.SinkPool.submit(spark) {
        survFps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"${censusDir(fpDir)}/delta/batch=$batchId")
      }
      // The survivor count comes from the WRITTEN level's parquet
      // footers (schema'd, zero-column projection — a metadata-sized
      // job), so the text-bearing survivor frame is neither cached
      // nor read twice. NOT Dataset.observe: registering an
      // Observation initializes the session's ObservationManager,
      // which is non-serializable and from then on breaks every
      // closure that captures a SparkSession-bearing object (e.g. an
      // ML model carrying its training summary).
      try survivors.write.mode(SaveMode.Overwrite)
        .parquet(s"$docsDir/batch=$batchId")
      finally {
        scala.concurrent.Await.ready(stateWrite,
          scala.concurrent.duration.Duration.Inf)
        scala.concurrent.Await.ready(censusWrite,
          scala.concurrent.duration.Duration.Inf)
      }
      // surface the futures' own outcomes after all three settled
      scala.concurrent.Await.result(stateWrite,
        scala.concurrent.duration.Duration.Inf)
      scala.concurrent.Await.result(censusWrite,
        scala.concurrent.duration.Duration.Inf)
      // periodic census maintenance over COMMITTED batches only
      // (everything below this batch's id); idempotent under replay
      if (batchId > 0 && batchId % CensusCompactInterval == 0)
        compactCensus(spark, fpDir, belowBatch = batchId)
      spark.read.schema(batch.schema)
        .parquet(s"$docsDir/batch=$batchId").count()
    }
  }

  /** Fold census deltas of batches below `belowBatch` into the
    * compacted `merged` census (compact-and-swap: written to a temp
    * directory WITH its new `_max` frontier, atomically renamed in,
    * merged deltas deleted last — a crash at any point leaves a state
    * a later run reads consistently or re-compacts). Every file is
    * sorted by df descending, so the gate's already-hot probe reads
    * only hot row groups. Returns the new
    * frontier, or None when there was nothing to fold. */
  def compactCensus(spark: SparkSession, fpDir: String,
      belowBatch: Long = Long.MaxValue): Option[Long] = {
    recoverCensus(spark, fpDir)
    val cDir = censusDir(fpDir)
    val (fs, _) = hadoopFs(spark, cDir)
    val deltaRoot = new Path(s"$cDir/delta")
    val mergedMax = mergedMaxBatch(spark, fpDir)
    val deltaIds =
      if (!fs.exists(deltaRoot)) Seq.empty[Long]
      else fs.listStatus(deltaRoot).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
    val toMerge = deltaIds.filter(id => id > mergedMax && id < belowBatch)
    if (toMerge.isEmpty) return None
    val newMax = toMerge.max
    val deltas = spark.read.schema(censusDeltaSchema)
      .parquet(deltaRoot.toString)
      .filter(col("batch") > mergedMax && col("batch") <= newMax)
      .select(col("fp"), col("df"))
    val mergedPath = new Path(s"$cDir/merged")
    val all =
      if (!fs.exists(mergedPath)) deltas
      else spark.read.schema(censusMergedSchema).parquet(mergedPath.toString)
        .select(col("fp"), col("df")).unionByName(deltas)
    // recoverCensus above guarantees no tmp/trash leftovers exist here
    val tmp = new Path(s"$cDir/.merged._compact_tmp")
    all.groupBy(col("fp")).agg(sum(col("df")).as("df"))
      .sortWithinPartitions(col("df").desc)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    scala.util.Using.resource(
        fs.create(new Path(tmp, "_max"), true)) { out =>
      out.write(newMax.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val trash = new Path(s"$cDir/.merged._compact_old")
    if (fs.exists(mergedPath))
      require(fs.rename(mergedPath, trash),
        s"compactCensus: could not swap out $mergedPath")
    require(fs.rename(tmp, mergedPath),
      s"compactCensus: could not swap in $tmp")
    fs.delete(trash, true)
    // everything at or below the new frontier is folded in — including
    // any stale deltas a crash between a previous swap and its delete
    // left behind (they were already part of that merge)
    deltaIds.filter(_ <= newMax)
      .foreach(id => fs.delete(new Path(deltaRoot, s"batch=$id"), true))
    Some(newMax)
  }

  /** Highest batch id the stream's checkpoint has COMMITTED, plus
    * one — the safe `belowBatch` frontier for [[maintain]]: batches
    * at or above it may REPLAY after a crash-stop even though their
    * state and census writes already landed (foreachBatch side
    * effects run BEFORE the commit-log entry), so maintenance must
    * never fold them. 0 when nothing has committed yet. */
  def committedFrontier(spark: SparkSession, checkpointDir: String): Long = {
    val (fs, commits) = hadoopFs(spark, s"$checkpointDir/commits")
    if (!fs.exists(commits)) 0L
    else {
      val ids = fs.listStatus(commits).toSeq.filter(_.isFile)
        .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      if (ids.isEmpty) 0L else ids.max + 1L
    }
  }

  /** Rebuild the census from the per-batch fingerprint state — the
    * recovery path for a census that ran AHEAD of the stream (e.g. an
    * r10-era maintenance pass folded a written-but-uncommitted
    * batch's delta into `merged`; the replay then fails hotFps'
    * frontier check on every restart) or was lost entirely (the
    * state-but-no-census corruption crossGateDrops refuses). Deletes
    * `_census` and regenerates one delta per sealed state dir from
    * its (doc_id, fp) rows — the same per-fp counts gateBatch wrote,
    * so gate decisions are unchanged; the next compaction re-merges.
    * Run while the stream is stopped. */
  def rebuildCensus(spark: SparkSession, fpDir: String): Unit = {
    recoverFolds(spark, fpDir)
    val (fs, _) = hadoopFs(spark, fpDir)
    fs.delete(new Path(censusDir(fpDir)), true)
    val schema = StructType(Seq(StructField("fp", LongType)))
    sealedDirs(spark, fpDir).map(_.id).foreach { id =>
      spark.read.schema(schema).parquet(s"$fpDir/batch=$id")
        .groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"${censusDir(fpDir)}/delta/batch=$id")
    }
  }

  /** The gate state's maintenance pass — run while the stream is
    * stopped. `belowBatch` is the stream's committed frontier and is
    * MANDATORY: r10 defaulted it to Long.MaxValue, which after a
    * crash-stop could fold a written-but-uncommitted batch's census
    * delta into `merged` — the replay then permanently failed hotFps'
    * frontier check with no recovery API. Pass
    * `committedFrontier(spark, checkpointDir)` (see
    * [[maintainFromCheckpoint]], which does exactly that), or
    * [[rebuildCensus]] as the escape hatch for state already bricked
    * that way.
    *
    * Work done: fold census deltas ([[compactCensus]]), fold sealed
    * batch DIRECTORIES of both roots into generations
    * ([[foldBatches]] — keeps the gate's per-trigger driver metadata
    * O(log batches) instead of O(batches)), then small-file-compact
    * the level-0 docs dirs via [[graft.sources.Ingest.compact]] (the
    * survivors write lands one file per task). Fingerprint dirs need
    * no compaction: each is sealed as one file. Docs GENERATIONS are
    * skipped too: foldBatches already wrote them at target file size,
    * and compact's whole-dir rewrite would drop the `_gen` coverage
    * marker. */
  def maintain(spark: SparkSession, docsDir: String, fpDir: String,
      belowBatch: Long,
      targetBytes: Long = 128L << 20,
      foldGroup: Int = FoldGroup): Unit = {
    // recover orphaned swaps at the docs ROOT first: a batch dir
    // renamed to .batch=N._compact_old by a crashed compact is
    // invisible to the name-based enumerations below, so without this
    // sweep the per-batch compact calls would never reach (or
    // restore) it
    graft.sources.Ingest.recoverSwaps(spark, docsDir)
    compactCensus(spark, fpDir, belowBatch)
    foldBatches(spark, fpDir, belowBatch, foldGroup, targetBytes)
    foldBatches(spark, docsDir, belowBatch, foldGroup, targetBytes)
    sealedDirs(spark, docsDir)
      .filter(d => d.level == 0 && d.id < belowBatch)
      .foreach { d =>
        graft.sources.Ingest.compact(spark, s"$docsDir/batch=${d.id}", targetBytes)
      }
    invalidateSealedMeta(fpDir); invalidateSealedMeta(docsDir)
  }

  /** [[maintain]] with the frontier read from the stream's own
    * checkpoint — the safe default for the advertised
    * "run while the stream is stopped" usage. */
  def maintainFromCheckpoint(spark: SparkSession, docsDir: String,
      fpDir: String, checkpointDir: String,
      targetBytes: Long = 128L << 20): Unit =
    maintain(spark, docsDir, fpDir,
      belowBatch = committedFrontier(spark, checkpointDir), targetBytes)

  /** Start — or resume — the near-dup-gated NDJSON ingestion:
    * exact dups are assumed handled upstream ([[dedupStream]] /
    * batch d01); this gate drops near-duplicates within each
    * micro-batch and against everything accepted before it. */
  def resumeNearDupGated(spark: SparkSession, inDir: String,
      schema: StructType, docsDir: String, fpDir: String,
      checkpointDir: String,
      minShared: Int = graft.operators.Dedup.WinnowMinShared,
      maxDf: Option[Int] = Some(graft.operators.Dedup.DefaultMaxDf),
      evalFpDir: Option[String] = None,
      repetitionGate: Boolean = false,
      gopherGate: Boolean = false): StreamingQuery = {
    // start/resume-time fold recovery: if the last maintenance pass
    // crashed mid-fold, roll its swaps forward and drop covered
    // originals BEFORE any trigger runs — the gate's own stale
    // exclusion would keep fp decisions correct regardless, but
    // readers of docsDir have no such filter and would see folded
    // documents twice
    recoverFolds(spark, docsDir)
    recoverFolds(spark, fpDir)
    spark.readStream.schema(schema).json(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch(batch, batchId, docsDir, fpDir, minShared, maxDf,
          evalFpDir, repetitionGate, gopherGate); ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
