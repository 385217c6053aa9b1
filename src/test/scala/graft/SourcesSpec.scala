package graft

import graft.sources.Ingest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Sources/sinks (SURVEY.md §2 rows 42–43): schema'd NDJSON/CSV
  * roundtrips and the date-partitioned write + retention expiry that
  * re-expresses the reference's ILM policy. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    scratch("graft-sources")

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("price", DoubleType)))

  test("NDJSON roundtrip with explicit schema (bulk_ingest analog)") {
    val dir = tmp() + "/nd"
    val df = Seq((1L, "a", 9.5), (2L, "b", 3.25)).toDF("id", "name", "price")
    Ingest.writeNdjson(df, dir)
    val back = Ingest.readNdjson(spark, dir, schema)
    assert(back.schema == schema)
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 9.5), (2L, "b", 3.25)))
  }

  test("CSV roundtrip with header") {
    val dir = tmp() + "/csv"
    val df = Seq((1L, "x,y", 1.5)).toDF("id", "name", "price")
    Ingest.writeCsv(df, dir)
    val back = Ingest.readCsv(spark, dir, schema)
    assert(back.as[(Long, String, Double)].collect().toSeq == Seq((1L, "x,y", 1.5)))
  }

  test("ORC roundtrip with pushdown reaching the scan") {
    val dir = tmp() + "/orc"
    val df = (1L to 100L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "price")
    Ingest.writeOrc(df, dir)
    val back = Ingest.readOrc(spark, dir, schema).filter(col("id") > 90)
    assert(back.count() == 10)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90"),
      s"filter not pushed to ORC scan:\n$plan")
  }

  test("date-partitioned write + retention expiry (ILM analog)") {
    val dir = tmp() + "/part"
    val df = Seq(
      (1L, "2026-01-01 10:00:00"), (2L, "2026-01-15 10:00:00"),
      (3L, "2026-02-01 10:00:00"))
      .toDF("id", "ts0").withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")
    Ingest.writeDatePartitioned(df, "ts", dir)
    assert(spark.read.parquet(dir).count() == 3)

    val removed = Ingest.expireRetention(spark, dir, keepDays = 30,
      asOf = java.time.LocalDate.parse("2026-02-02"))
    assert(removed.toSet == Set("dt=2026-01-01"))
    val left = spark.read.parquet(dir)
    assert(left.count() == 2)
    // partition pruning still works on the surviving layout — and it
    // must be PLAN-level pruning (PartitionFilters on the scan), not a
    // post-scan filter: at 100 TB this is the difference between
    // reading one day and reading the whole table
    val pruned = left.filter(col("dt") === "2026-02-01")
    assert(pruned.count() == 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt"),
      s"dt filter not pushed to partition pruning:\n$plan")
  }

  test("size-triggered rollover seals the active segment (ILM max_size analog)") {
    val dir = tmp() + "/roll"
    Ingest.appendActive((1L to 100L).toDF("id"), dir)
    // below threshold: no roll
    assert(Ingest.rollPartition(spark, dir, maxBytes = 1L << 30).isEmpty)
    // at/over threshold: active is sealed as seg=s000001, fresh active
    assert(Ingest.rollPartition(spark, dir, maxBytes = 1L).contains("seg=s000001"))
    // second roll finds an empty active segment — no-op
    assert(Ingest.rollPartition(spark, dir, maxBytes = 1L).isEmpty)
    // the seg partition column must stay a STRING while active is
    // empty — all-numeric sealed names would flip inference to int
    // and null out the 'active' comparison until the next append
    assert(spark.read.parquet(dir).schema("seg").dataType ==
      org.apache.spark.sql.types.StringType)
    // new writes land in the fresh active segment; next seal increments
    Ingest.appendActive((101L to 150L).toDF("id"), dir)
    assert(Ingest.rollPartition(spark, dir, maxBytes = 1L).contains("seg=s000002"))
    Ingest.appendActive((151L to 160L).toDF("id"), dir)
    // one uniform read sees sealed segments + active, nothing lost
    val all = spark.read.parquet(dir)
    assert(all.select("id").as[Long].collect().toSet == (1L to 160L).toSet)
    assert(all.filter(col("seg") === "s000001").count() == 100)
    assert(all.filter(col("seg") === "active").count() == 10)
    // sealed segments are per-directory immutable units: retention/
    // compaction style maintenance can target them like date partitions
    assert(Ingest.compact(spark, dir, targetBytes = 1L << 30, minFiles = 0)
      .map(_._1).toSet.contains("seg=s000001"))
    // counter is monotonic across retention: deleting sealed segments
    // must never reissue their names (incremental consumers key on them)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "seg=s000001"), true)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "seg=s000002"), true)
    assert(Ingest.rollPartition(spark, dir, maxBytes = 1L).contains("seg=s000003"))
  }

  test("compaction rewrites small files per partition, data intact") {
    val dir = tmp() + "/cmp"
    val df = (1L to 200L).map(i =>
        (i, if (i % 2 == 0) "2026-03-01 08:00:00" else "2026-03-02 08:00:00"))
      .toDF("id", "ts0").withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")
    // simulate a chatty streaming sink: many tiny files per partition
    Ingest.writeDatePartitioned(df.repartition(16), "ts", dir)
    val before = spark.read.parquet(dir).select("id").as[Long].collect().toSet

    val report = Ingest.compact(spark, dir, targetBytes = 1L << 30)
    assert(report.map(_._1).toSet == Set("dt=2026-03-01", "dt=2026-03-02"))
    report.foreach { case (d, nBefore, nAfter) =>
      assert(nBefore > 1 && nAfter == 1, s"$d: $nBefore -> $nAfter")
    }
    // identical data, identical partition layout, pruning intact
    val back = spark.read.parquet(dir)
    assert(back.select("id").as[Long].collect().toSet == before)
    assert(back.filter(col("dt") === "2026-03-01").count() == 100)
    // idempotent: nothing left to compact
    assert(Ingest.compact(spark, dir, targetBytes = 1L << 30).isEmpty)
  }

  test("compaction swap crash windows recover: orphaned trash restored, stale tmp discarded") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    // partition-dir case: crash between the two swap renames leaves
    // the partition absent with its only copy in trash — the next
    // compact run must restore it, not lose a batch of data
    val dir = tmp() + "/crash"
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .withColumn("p", (col("id") % 2).cast("int"))
    df.repartition(4).write.partitionBy("p").parquet(dir)
    val before = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    require(fs.rename(new Path(s"$dir/p=0"), new Path(s"$dir/.p=0._compact_old")))
    Ingest.compact(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet == before,
      "interrupted swap lost partition p=0")
    // stale tmp next to a live partition is discarded, not swapped in
    fs.mkdirs(new Path(s"$dir/.p=1._compact_tmp"))
    Ingest.compact(spark, dir, targetBytes = 1L << 30)
    assert(!fs.exists(new Path(s"$dir/.p=1._compact_tmp")))
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet == before)
    // unpartitioned case: the swap uses SIBLINGS of the target dir and
    // a crash leaves the dir itself absent — restored from its trash
    val flat = tmp() + "/flatcrash"
    (1L to 50L).toDF("id").repartition(3).write.parquet(flat)
    val flatBefore = spark.read.parquet(flat).select("id").as[Long].collect().toSet
    val parent = new Path(flat).getParent
    require(fs.rename(new Path(flat), new Path(parent, s".flatcrash._compact_old")))
    Ingest.compact(spark, flat, targetBytes = 1L << 30)
    assert(spark.read.parquet(flat).select("id").as[Long].collect().toSet == flatBefore,
      "interrupted unpartitioned swap lost the directory")
  }

  test("segment lifecycle composes: roll -> append -> roll -> compact -> expire") {
    // The full ILM story on ONE table: sealed segments are immutable
    // per-directory units, so compaction and retention must operate on
    // them without disturbing reads, and the rollover counter must
    // stay monotonic across expiry.
    val dir = tmp() + "/life"
    def ids(): Set[Long] =
      spark.read.parquet(dir).select("id").as[Long].collect().toSet

    Ingest.appendActive((1L to 50L).toDF("id").repartition(4), dir)
    assert(Ingest.rollPartition(spark, dir, maxBytes = 1L).contains("seg=s000001"))
    assert(ids() == (1L to 50L).toSet)

    // chatty appends into the fresh active segment, then seal them too
    Ingest.appendActive((51L to 80L).toDF("id").repartition(4), dir)
    Ingest.appendActive((81L to 100L).toDF("id").repartition(4), dir)
    assert(Ingest.rollPartition(spark, dir, maxBytes = 1L).contains("seg=s000002"))
    Ingest.appendActive((101L to 110L).toDF("id"), dir)
    assert(ids() == (1L to 110L).toSet)

    // compaction rewrites the many-file sealed segment in place;
    // the read is stable across the atomic swap
    val report = Ingest.compact(spark, dir, targetBytes = 1L << 30, minFiles = 1)
    assert(report.map(_._1).contains("seg=s000002"),
      s"sealed segment not compacted: $report")
    report.foreach { case (d, nBefore, nAfter) =>
      assert(nAfter < nBefore, s"$d: $nBefore -> $nAfter files") }
    assert(ids() == (1L to 110L).toSet)

    // retention drops the oldest sealed segment only — active and the
    // newest sealed segment survive
    assert(Ingest.expireSegments(spark, dir, keep = 1) == Seq("seg=s000001"))
    assert(ids() == (51L to 110L).toSet)

    // the counter never reissues an expired name: the next seal is
    // s000003 even though s000001 is gone
    assert(Ingest.rollPartition(spark, dir, maxBytes = 1L).contains("seg=s000003"))
    assert(ids() == (51L to 110L).toSet)
    // expire everything sealed; the (now empty) active dir remains,
    // so the table reads as empty rather than failing
    assert(Ingest.expireSegments(spark, dir, keep = 0).toSet ==
      Set("seg=s000002", "seg=s000003"))
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = Tables.orders(spark, sf("sf0.001"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf("sf0.001"))
      .select("l_orderkey", "l_quantity")
    Ingest.writeBucketed(o, "b_orders", 4, Seq("o_orderkey"))
    Ingest.writeBucketed(l, "b_lineitem", 4, Seq("l_orderkey"))
    try {
      val j = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // result parity with the plain-parquet join
      assert(j.count() ==
        o.join(l, col("o_orderkey") === col("l_orderkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("events ts normalizes to a session-tz TIMESTAMP (nanos or NTZ source)") {
    val e = Tables.events(spark, sf("sf0.001"))
    assert(e.schema("ts").dataType == TimestampType)
    assert(e.count() > 0)
  }

  // Value-level coverage of BOTH physical ts variants (r11 ADVICE):
  // the checked-in sf data only carries whichever variant the driver
  // last generated, and a timezone misinterpretation passes a
  // type+count check. Synthesize each variant and pin a known epoch.
  test("events NTZ variant: naive micros reinterpreted as UTC epoch micros") {
    val dir = tmp() + "/ntz"
    // 2020-01-01T00:00:00 naive == 1577836800000000 epoch-micros in UTC
    Seq(java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0))
      .toDF("ts").write.parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    val got = Tables.events(spark, dir)
      .select(unix_micros(col("ts"))).as[Long].head()
    assert(got == 1577836800000000L, s"NTZ branch shifted the epoch: $got")
  }

  test("events nanos variant: int64 nanos truncated to epoch micros") {
    val dir = tmp() + "/nanos"
    // Spark reads parquet TIMESTAMP(NANOS) as LongType under
    // nanosAsLong, so a raw int64 ts column exercises the same branch.
    Seq(1577836800123456789L).toDF("ts")
      .write.parquet(s"$dir/events.parquet")
    val got = Tables.events(spark, dir)
      .select(unix_micros(col("ts"))).as[Long].head()
    assert(got == 1577836800123456L, s"nanos branch lost precision: $got")
  }

  test("events fails fast off a non-UTC session (NTZ cast guard)") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Madrid")
    try intercept[IllegalArgumentException] {
      Tables.events(spark, sf("sf0.001"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("events accepts semantically-UTC session zone aliases") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try Seq("Etc/UTC", "GMT", "+00:00", "Z").foreach { z =>
      spark.conf.set("spark.sql.session.timeZone", z)
      // same value-pinned read as the UTC case: no shift under aliases
      assert(Tables.events(spark, sf("sf0.001")).limit(1).count() == 1L,
        s"alias $z rejected or unreadable")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("binaryFile media ingest feeds the dHash pipeline end-to-end") {
    import graft.multimodal.Binary
    val dir = new java.io.File(scratch("media"))
    // three real BMPs + one decoy the glob must skip
    Seq(3L, 6L, 9L).foreach { id =>
      java.nio.file.Files.write(
        new java.io.File(dir, s"img_$id.bmp").toPath, Binary.syntheticBmp(id))
    }
    java.nio.file.Files.write(
      new java.io.File(dir, "notes.txt").toPath, "not an image".getBytes)
    val media = graft.sources.Ingest.readMedia(spark, dir.toString,
      glob = "*.bmp", mediaType = "image/bmp")
    val got = Binary.imageDHash(media)
      .select("media_id", "dhash", "real_decode")
      .as[(Long, Long, Boolean)].collect()
      .map { case (k, h, r) => k -> ((h, r)) }.toMap
    assert(got.keySet == Set(3L, 6L, 9L)) // decoy pruned at listing
    Seq(3L, 6L, 9L).foreach { id =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Binary.syntheticBmp(id)))
      assert(got(id) == ((Binary.dHash64(img), true)), s"media $id")
    }
  }
}