package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** ScalaCheck-generated interleavings of batch appends, generation
  * folds, and the three fold crash windows. The scenario specs in
  * StreamingSpec pin each window once, in a fixed order; this
  * property composes them RANDOMLY and asserts the fold lattice's
  * invariants hold from any reachable state after recovery:
  *
  *  - coverage exactness — every ingested row readable exactly once
  *    (nothing lost by a fold or a recovery, nothing duplicated by a
  *    resurfaced source);
  *  - disjoint coverage — live dirs' [lo, id] intervals never
  *    overlap, and their union is exactly the set of sealed ids (no
  *    id reuse, no gap);
  *  - crash states are transient — tmp-stranded and trash-stranded
  *    generations are restored by recoverFolds, stale sources are
  *    deleted, and none of it changes the readable corpus.
  *
  * Generators are applied with fixed seeds (Gen.pureApply) so every
  * run replays the same interleavings — a failure names its seed. */
class FoldLatticeSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Op
  private case class Add(docs: Int) extends Op
  private case class Fold(group: Int) extends Op
  private case object CrashTmp extends Op // generation stranded in ._fold_tmp
  private case object CrashTrash extends Op // stranded in ._fold_old
  private case object StaleSrc extends Op // covered source resurfaces

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> Gen.choose(1, 3).map(Add.apply),
    5 -> Gen.choose(2, 3).map(Fold.apply),
    2 -> Gen.const(CrashTmp),
    2 -> Gen.const(CrashTrash),
    2 -> Gen.const(StaleSrc))
  private val opsGen: Gen[List[Op]] =
    Gen.choose(9, 14).flatMap(n => Gen.listOfN(n, opGen))

  // each injection is conditional on reachable state (e.g. CrashTmp
  // needs a live generation), so the property must prove it is not
  // vacuous: every window fired at least once across the seeds
  private val fired = scala.collection.mutable.Map(
    "fold" -> 0, "crashTmp" -> 0, "crashTrash" -> 0, "staleSrc" -> 0)

  test("fold lattice invariants hold under random op/crash interleavings") {
    // both gate roots' schemas: docs rows and (doc_id, fp) rows
    (1 to 4).foreach(runScenario(_, fpSchema = false))
    (5 to 8).foreach(runScenario(_, fpSchema = true))
    fired.foreach { case (k, n) =>
      assert(n > 0, s"injection '$k' never fired — property is vacuous " +
        s"for it (fired=$fired); retune seeds or frequencies")
    }
  }

  private def runScenario(seed: Int, fpSchema: Boolean): Unit = {
    val ops = opsGen.pureApply(Gen.Parameters.default, rng.Seed(seed.toLong))
    val root = scratch(s"graft-foldprop$seed")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    val rnd = new scala.util.Random(seed)
    var nextBatch = 0L
    var nextDoc = 0L
    val expected = scala.collection.mutable.Set.empty[Long]
    // pre-fold copies of level-0 sources, for StaleSrc injection
    val aside = scala.collection.mutable.Map.empty[Long, Path]

    def liveIds(): Seq[Long] = {
      if (!fs.exists(new Path(root))) return Seq.empty
      fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(n =>
          scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
        .sorted
    }
    // independent re-derivation of the generation marker (the test
    // must not trust the code under test to describe its own lattice)
    def markerOf(id: Long): Option[(Long, Int)] = {
      val p = new Path(s"$root/batch=$id/_gen")
      if (!fs.exists(p)) None
      else scala.util.Try {
        val in = fs.open(p)
        val s =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val Array(lo, lvl) = s.trim.split(",")
        (lo.toLong, lvl.toInt)
      }.toOption
    }
    def generations(): Seq[Long] = liveIds().filter(markerOf(_).isDefined)
    def ctx(msg: String) = s"seed=$seed ops=$ops: $msg"

    ops.foreach {
      case Add(n) =>
        val rows = (0 until n).map(_ => { val d = nextDoc; nextDoc += 1; d })
        val df =
          if (fpSchema)
            // the fp-state rows: a fingerprint derived from doc_id, so
            // the check below can tell a row kept its own
            rows.toDF("doc_id").withColumn("fp", col("doc_id") * 31L + 7L)
          else rows.toDF("doc_id").withColumn("src", lit(nextBatch))
        df.coalesce(1).write.parquet(s"$root/batch=$nextBatch")
        expected ++= rows
        nextBatch += 1

      case Fold(g) =>
        // keep a pre-fold copy of one random level-0 source — if the
        // fold consumes it, the copy can later resurface as the
        // "deletion interrupted by a crash" stale source
        val lvl0 = liveIds().filter(markerOf(_).isEmpty)
        if (lvl0.nonEmpty && aside.size < 2) {
          val id = lvl0(rnd.nextInt(lvl0.size))
          val cp = new Path(s"$root/.aside_$id")
          if (!aside.contains(id) && !fs.exists(cp)) {
            FileUtil.copy(fs, new Path(s"$root/batch=$id"), fs, cp,
              false, conf)
            aside(id) = cp
          }
        }
        val wrote = streaming.Ingest.foldBatches(spark, root,
          belowBatch = nextBatch, foldGroup = g)
        if (wrote.nonEmpty) fired("fold") += 1

      case CrashTmp =>
        val gens = generations()
        if (gens.nonEmpty) {
          val id = gens(rnd.nextInt(gens.size))
          require(fs.rename(new Path(s"$root/batch=$id"),
            new Path(s"$root/.batch=$id._fold_tmp")))
          fired("crashTmp") += 1
          streaming.Ingest.recoverFolds(spark, root)
          assert(fs.exists(new Path(s"$root/batch=$id")),
            ctx(s"tmp-stranded generation $id not rolled forward"))
        }

      case CrashTrash =>
        val ids = liveIds()
        if (ids.nonEmpty) {
          val id = ids(rnd.nextInt(ids.size))
          require(fs.rename(new Path(s"$root/batch=$id"),
            new Path(s"$root/.batch=$id._fold_old")))
          fired("crashTrash") += 1
          streaming.Ingest.recoverFolds(spark, root)
          assert(fs.exists(new Path(s"$root/batch=$id")),
            ctx(s"trash-stranded dir $id not restored"))
        }

      case StaleSrc =>
        // resurface a copy whose original a fold consumed (and whose
        // id a live generation therefore covers)
        aside.find { case (id, _) =>
          !fs.exists(new Path(s"$root/batch=$id")) &&
            liveIds().exists(g => markerOf(g)
              .exists { case (lo, _) => lo <= id && id < g })
        }.foreach { case (id, cp) =>
          require(fs.rename(cp, new Path(s"$root/batch=$id")))
          aside.remove(id)
          fired("staleSrc") += 1
          streaming.Ingest.recoverFolds(spark, root)
          assert(!fs.exists(new Path(s"$root/batch=$id")),
            ctx(s"stale fold source $id not deleted by recovery"))
        }
    }

    streaming.Ingest.recoverFolds(spark, root)

    // coverage exactness: every ingested doc, exactly once (and, for
    // the fp rows, still paired with its own fingerprint)
    if (expected.nonEmpty) {
      val got = spark.read.parquet(root)
        .select("doc_id").as[Long].collect().toSeq
      if (fpSchema)
        assert(spark.read.parquet(root)
          .filter(col("fp") =!= col("doc_id") * 31L + 7L).isEmpty,
          ctx("fold separated a doc_id from its fingerprint"))
      assert(got.size == expected.size,
        ctx(s"read ${got.size} rows, ingested ${expected.size}"))
      assert(got.toSet == expected, ctx("coverage mismatch"))
    }

    // lattice shape: [lo, id] intervals disjoint, union == sealed ids
    val intervals = liveIds().map(id =>
      markerOf(id).map { case (lo, _) => (lo, id) }.getOrElse((id, id)))
    val covered = intervals.flatMap { case (lo, hi) => lo to hi }
    assert(covered.size == covered.distinct.size,
      ctx(s"overlapping coverage: $intervals"))
    assert(covered.toSet == (0L until nextBatch).toSet,
      ctx(s"coverage gap or reuse: $intervals vs 0..${nextBatch - 1}"))

    fs.delete(new Path(root), true)
  }
}
