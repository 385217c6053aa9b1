package graft

import graft.streaming.UpsertStream
import org.apache.spark.sql.functions._

/** st04 streaming CDC upsert: merge semantics, replay idempotency,
  * fold equivalence + crash recovery, and the NDJSON stream entry. */
class StreamingUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def root(): String =
    scratch("graft-upsert")

  private def upd(rows: (Long, String, Long, String)*) =
    rows.toDF("doc_id", "text", "version", "op")

  private def view(base: String, delta: String): Set[(Long, String, Long)] =
    UpsertStream.snapshotView(spark, base, delta)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("st04: version precedence merges out-of-order batches correctly") {
    val r = root(); val base = s"$r/base"; val delta = s"$r/delta"
    // batch 0: initial puts; batch 1: an update, a tombstone, and a
    // LATE-ARRIVING STALE version of doc 3 that must NOT clobber
    UpsertStream.upsertBatch(
      upd((1L, "one", 1L, "put"), (2L, "two", 1L, "put"),
        (3L, "three-v5", 5L, "put")), 0L, delta)
    UpsertStream.upsertBatch(
      upd((1L, "one-b", 2L, "put"), (2L, null, 2L, "delete"),
        (3L, "three-v4-stale", 4L, "put")), 1L, delta)
    assert(view(base, delta) == Set(
      (1L, "one-b", 2L), // newer version replaces
      (3L, "three-v5", 5L)), // stale late arrival rejected (ES semantics)
      s"got ${view(base, delta)}")
  }

  test("st04: foreachBatch replay (same batch id) is a no-op") {
    val r = root(); val base = s"$r/base"; val delta = s"$r/delta"
    UpsertStream.upsertBatch(upd((1L, "one", 1L, "put")), 0L, delta)
    val b1 = upd((1L, "one-b", 2L, "put"), (4L, "four", 1L, "put"))
    UpsertStream.upsertBatch(b1, 1L, delta)
    val before = view(base, delta)
    UpsertStream.upsertBatch(b1, 1L, delta) // crash-replay of batch 1
    assert(view(base, delta) == before, "replay must not change state")
  }

  test("st04: folding deltas preserves the view; later deltas still apply") {
    val r = root(); val base = s"$r/base"; val delta = s"$r/delta"
    UpsertStream.upsertBatch(
      upd((1L, "one", 1L, "put"), (2L, "two", 1L, "put")), 0L, delta)
    UpsertStream.upsertBatch(
      upd((2L, null, 2L, "delete"), (5L, "five", 1L, "put")), 1L, delta)
    val before = view(base, delta)
    UpsertStream.compactUpserts(spark, base, delta)
    assert(view(base, delta) == before, "fold must be view-invariant")
    assert(spark.read.parquet(base).count() == before.size,
      "after the fold the base IS the snapshot")
    // delta dirs consumed
    assert(new java.io.File(delta).listFiles() == null ||
      !new java.io.File(delta).listFiles().exists(_.getName.startsWith("batch=")))
    // post-fold traffic still lands (incl. a tombstone against folded base)
    UpsertStream.upsertBatch(upd((1L, null, 2L, "delete")), 2L, delta)
    assert(view(base, delta) == before.filterNot(_._1 == 1L))
  }

  test("st04: interrupted swap is restored before the next fold") {
    val r = root(); val base = s"$r/base"; val delta = s"$r/delta"
    UpsertStream.upsertBatch(upd((1L, "one", 1L, "put")), 0L, delta)
    UpsertStream.compactUpserts(spark, base, delta)
    val expect = view(base, delta)
    // simulate a crash between swap-out and swap-in: the base's only
    // copy sits in the trash name
    val basePath = new java.io.File(base)
    val trash = new java.io.File(basePath.getParent, s".base._compact_old")
    assert(basePath.renameTo(trash))
    UpsertStream.upsertBatch(upd((6L, "six", 1L, "put")), 1L, delta)
    UpsertStream.compactUpserts(spark, base, delta) // recovers, then folds
    assert(view(base, delta) == expect + ((6L, "six", 1L)))
  }

  test("st04: NDJSON stream entry point applies CDC exactly-once") {
    val r = root(); val base = s"$r/base"; val delta = s"$r/delta"
    val in = s"$r/in"; val ckpt = s"$r/ckpt"
    new java.io.File(in).mkdirs()
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    write("b0.json",
      """{"doc_id":1,"text":"one","version":1,"op":"put"}""",
      """{"doc_id":2,"text":"two","version":1,"op":"put"}""")
    val q = UpsertStream.resumeUpsert(spark, in, delta, ckpt)
    try {
      q.processAllAvailable()
      write("b1.json",
        """{"doc_id":1,"text":"one-b","version":2,"op":"put"}""",
        """{"doc_id":2,"version":2,"op":"delete"}""")
      q.processAllAvailable()
    } finally q.stop()
    assert(view(base, delta) == Set((1L, "one-b", 2L)))
    // resume from the checkpoint: nothing replays, nothing changes
    val q2 = UpsertStream.resumeUpsert(spark, in, delta, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(view(base, delta) == Set((1L, "one-b", 2L)))
  }
}
