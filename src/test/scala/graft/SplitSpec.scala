package graft

import graft.operators.Split
import org.apache.spark.sql.functions._

/** Dataset-assembly operators (SURVEY.md §2: c02 deterministic splits,
  * c03 sequence packing). */
class SplitSpec extends SparkSpec {
  import spark.implicits._

  test("c09: shuffle is salt-deterministic, partition-independent, total-ordered") {
    val chunks = Split.packChunks(Tables.documents(spark, sf()))
    val base = Split.sequenceFrame(chunks)
    val one = Split.shuffleSequences(base)
      .select("shard", "seq", "out_shard", "ord")
      .as[(Long, Long, Long, Long)].collect().toSet
    // same rows in a different physical layout shuffle identically
    val two = Split.shuffleSequences(base.repartition(7).sortWithinPartitions("seq"))
      .select("shard", "seq", "out_shard", "ord")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(one == two, "shuffle order must not depend on partitioning")
    // ord is a dense 1..n rank within every out_shard
    val byShard = one.groupBy(_._3)
    byShard.foreach { case (os, rows) =>
      assert(rows.map(_._4).toSeq.sorted == (1L to rows.size).toSeq,
        s"out_shard $os rank not dense")
    }
    // a different salt produces a genuinely different order
    val other = Split.shuffleSequences(base, salt = "epoch1")
      .select("shard", "seq", "out_shard", "ord")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(other != one, "epoch salt must reshuffle")
    assert(other.map(r => (r._1, r._2)) == one.map(r => (r._1, r._2)),
      "reshuffle must keep the same sequence set")
  }

  test("c09: writeTrainingShards lifecycle — manifest matches data, rerun idempotent") {
    val dir = scratch("graft-shards")
    val seqs = Split.shuffleSequences(
      Split.sequenceFrame(Split.packChunks(Tables.documents(spark, sf()))))
    Split.writeTrainingShards(seqs, dir, targetBytes = 4L << 20)
    val data = spark.read.parquet(dir)
    val manifest = spark.read.parquet(s"$dir/_manifest")
      .select("out_shard", "n_seqs", "n_docs", "total_tokens")
      .as[(Long, Long, Long, Long)].collect().toSet
    // manifest says exactly what the data holds, shard by shard
    val recomputed = data.groupBy(col("out_shard"))
      .agg(count(lit(1)).as("a"), sum(col("n_docs")).as("b"),
        sum(col("seq_tokens")).as("c"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(manifest == recomputed)
    // totals cover every packed sequence exactly once
    assert(manifest.toSeq.map(_._2).sum == seqs.count())
    // the partition read back in file order IS the training order
    val shard0 = data.filter(col("out_shard") === manifest.head._1)
      .select("ord").as[Long].collect().toSeq
    assert(shard0.sorted == shard0, "shard rows must be stored in rank order")
    // rerun overwrites to the identical state (no duplicate shards)
    Split.writeTrainingShards(seqs, dir, targetBytes = 4L << 20)
    assert(spark.read.parquet(dir).count() == seqs.count())
  }

  test("c02: split is a pure function of doc_id — rerun- and partitioning-independent") {
    val one = Split.c02(spark, sf("sf0.001"))
      .as[(Long, Long, String)].collect().toSet
    // same corpus arriving in a different physical layout must split
    // identically (the property rand()/row-position splits lack)
    val reshuffled = Split.assignSplits(
        Tables.documents(spark, sf("sf0.001")).repartition(7))
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect().toSet
    assert(one == reshuffled)
    // hash buckets land near the 80/10/10 design on any real corpus
    val n = one.size.toDouble
    val frac = one.groupBy(_._3).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.80) < 0.06, s"train ${frac("train")}")
    assert(math.abs(frac("val") - 0.10) < 0.05, s"val ${frac.get("val")}")
    assert(math.abs(frac("test") - 0.10) < 0.05, s"test ${frac.get("test")}")
    // and the assignment matches the cutoff contract exactly
    one.foreach { case (_, bucket, split) =>
      val expected =
        if (bucket < Split.TrainPct) "train"
        else if (bucket < Split.TrainPct + Split.ValPct) "val"
        else "test"
      assert(split == expected)
    }
  }

  test("c23: no near-dup pair straddles splits; singletons match c02 exactly") {
    try {
      val docs = Tables.documents(spark, sf("sf0.001"))
      val pairs = operators.Dedup.jaccardPairs(docs, maxDf = None)
        .select(col("a"), col("b"))
        .transform(CacheRegistry.register)
      // clusterSplit over the SAME cached pair frame (not the c23
      // face, which would rebuild the exhaustive pair join a second
      // time): the straddle check then uses the identical pair set by
      // construction, and the test pays the heavy join once
      val assigned = Split.clusterSplit(docs, pairs)
        .transform(CacheRegistry.register)
      // the leak c02 manufactures and c23 closes: every near-dup edge
      // (and transitively, every cluster) lands in ONE split
      val straddling = pairs
        .join(assigned.select(col("doc_id").as("a"), col("split").as("sa")), "a")
        .join(assigned.select(col("doc_id").as("b"), col("split").as("sb")), "b")
        .filter(col("sa") =!= col("sb"))
      assert(straddling.isEmpty, "a near-dup pair straddles splits")
      assert(pairs.count() > 0, "corpus must contain planted near-dups")
      // singleton docs (no near-dup edge → component == own id) get
      // their exact c02 assignment — the cluster split only ever
      // moves docs that NEEDED moving
      val members = pairs.select(col("a").as("doc_id"))
        .union(pairs.select(col("b").as("doc_id"))).distinct()
      val singles = assigned.join(members, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("bucket"), col("split"))
        .as[(Long, Long, String)].collect().toSet
      val c02For = Split.c02(spark, sf("sf0.001"))
        .as[(Long, Long, String)].collect().toSet
      assert(singles.nonEmpty && singles.subsetOf(c02For))
    } finally CacheRegistry.unpersistAll()
  }

  test("c23: a transitive near-dup chain lands whole in the min-id's split") {
    // A~B and B~C near-dup, A vs C below threshold (the d06 chain
    // shape): all three must carry component = min id and ONE split,
    // even though no direct A-C pair exists
    try {
      // sliding 18-token windows over one 26-token stream: adjacent
      // docs share 12 of 20 distinct trigrams (jacc 0.6 >= 0.5), the
      // chain ends share 8 of 24 (0.33 < 0.5) — a genuine A~B~C chain
      // with no direct A-C edge
      def win(from: Int): String =
        (from until from + 18).map(i => s"w$i").mkString(" ")
      val docs = Seq(
        (10L, win(1)), (20L, win(5)), (30L, win(9)),
        (40L, "totally unrelated text about completely different things " +
          "carrying not a single shared trigram with the chain docs at all"))
        .toDF("doc_id", "text")
      val pairs = operators.Dedup.jaccardPairs(docs, maxDf = None)
        .select(col("a"), col("b"))
      val got = pairs.as[(Long, Long)].collect().toSet
      assert(got == Set((10L, 20L), (20L, 30L)),
        s"chain shape not as planted: $got")
      val assigned = Split.clusterSplit(docs, pairs)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._4)).toMap
      assert(Seq(10L, 20L, 30L).map(assigned(_)._1).toSet == Set(10L),
        "chain not labeled by its min id")
      assert(Seq(10L, 20L, 30L).map(assigned(_)._2).toSet.size == 1,
        "chain straddles splits")
      // the singleton keeps its own component (and thus its c02 split)
      assert(assigned(40L)._1 == 40L)
    } finally CacheRegistry.unpersistAll()
  }

  test("c04: mixture weights give exact integer epochs and deterministic fractional copies") {
    val rows = Split.c04(spark, sf("sf0.001"))
      .as[(Long, String, Int)].collect()
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val copies = rows.groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    def widx(src: String) = src.filter(_.isDigit).toInt % 4
    docs.foreach { case (id, src) =>
      val c = copies.getOrElse((id, src), Seq.empty)
      widx(src) match {
        case 3 => assert(c == Seq(1, 2, 3), s"w=3.0 doc $id got $c") // exactly 3 epochs
        case 1 => assert(c == Seq(1) || c == Seq(1, 2)) // 1.5 epochs
        case 2 => assert(c == Seq(1, 2) || c == Seq(1, 2, 3)) // 2.25
        case 0 => assert(c.isEmpty || c == Seq(1)) // 0.75 downsample
      }
    }
    // fractional parts realize close to their targets over the corpus
    def frac(i: Int): Double = {
      val pool = docs.filter(d => widx(d._2) == i)
      pool.count(d => copies.getOrElse((d._1, d._2), Seq.empty).size ==
        (i match { case 0 => 1; case 1 => 2; case 2 => 3; case 3 => 3 })).toDouble / pool.size
    }
    assert(math.abs(frac(0) - 0.75) < 0.15, s"w=0.75 kept ${frac(0)}")
    assert(math.abs(frac(1) - 0.50) < 0.15, s"w=1.5 extra ${frac(1)}")
    assert(math.abs(frac(2) - 0.25) < 0.15, s"w=2.25 extra ${frac(2)}")
    // deterministic across physical layouts, like c02
    val reshuffled = Split.mixtureEpochs(
        Tables.documents(spark, sf("sf0.001"))
          .select($"doc_id", $"source").repartition(5))
      .as[(Long, String, Int)].collect().toSet
    assert(reshuffled == rows.toSet)
    // a source with no digit index gets the neutral 1-epoch weight —
    // not silently dropped (and the oracle's TRY_CAST agrees)
    val noIdx = Split.mixtureEpochs(
        Seq((1L, "web"), (2L, "books")).toDF("doc_id", "source"))
      .as[(Long, String, Int)].collect().toSeq.sorted
    assert(noIdx == Seq((1L, "web", 1), (2L, "books", 1)).sorted)
  }

  test("plan shapes: split/mixture are narrow (no exchange); packing pays exactly one") {
    val pc02 = Split.c02(spark, sf()).queryExecution.executedPlan.toString
    assert(!pc02.contains("Exchange"), "c02 split should be a narrow map")
    val pc04 = Split.c04(spark, sf()).queryExecution.executedPlan.toString
    assert(!pc04.contains("Exchange"), "c04 mixture should be a narrow map")
    val pc03 = Split.c03(spark, sf()).queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(pc03).length
    assert(n == 1, s"c03 packing should pay exactly the shard-window exchange, saw $n")
  }

  test("c06: the assembly chain composes — train-only docs, epoch-adjacent packing") {
    import graft.operators.Redact
    val out = Split.c06(spark, sf("sf0.001"))
      .as[(Long, Int, Long, Long, Long, Long)].collect() // doc_id, copy, shard, tokens, seq, offset
    assert(out.nonEmpty)
    // only train-bucket doc_ids appear (the split gate held)
    val trainIds = Split.c02(spark, sf("sf0.001"))
      .filter(col("split") === "train").select("doc_id").as[Long].collect().toSet
    assert(out.map(_._1).toSet.subsetOf(trainIds))
    // token counts are taken on the REDACTED text
    val (_, _, _, red) = Redact.redactions(col("text"))
    val redTokens = Redact.plantedDocs(spark, sf("sf0.001"))
      .select(col("doc_id"),
        graft.functions.TextAnalysis.wsTokenCount(red).cast("long").as("t"))
      .as[(Long, Long)].collect().toMap
    out.foreach { case (id, _, _, tokens, _, _) =>
      assert(tokens == redTokens(id), s"doc $id tokens not from redacted text")
    }
    // the packing replays the sequential greedy packer over the
    // (doc_id, copy) epoch stream within each shard
    out.groupBy(_._3).foreach { case (shard, rows) =>
      var running = 0L
      rows.sortBy(r => (r._1, r._2)).foreach { case (id, copy, _, tokens, seq, offset) =>
        assert(seq == running / Split.PackBudget, s"shard $shard doc $id copy $copy")
        assert(offset == running % Split.PackBudget)
        running += tokens
      }
    }
  }

  test("c03: packing replays the sequential greedy packer within every shard") {
    val rows = Split.c03(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long)].collect() // doc_id, shard, seq, tokens, offset
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (shard, docs) =>
      var running = 0L
      docs.sortBy(_._1).foreach { case (id, _, seq, tokens, offset) =>
        // the doc's sequence and offset are exactly what a sequential
        // greedy packer over the shard's doc_id order assigns
        assert(seq == running / Split.PackBudget,
          s"shard $shard doc $id: seq $seq != ${running / Split.PackBudget}")
        assert(offset == running % Split.PackBudget,
          s"shard $shard doc $id: offset $offset != ${running % Split.PackBudget}")
        assert(offset >= 0 && offset < Split.PackBudget)
        running += tokens
      }
    }
    // shards partition the corpus: every doc packed exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
  }

  test("c19: the report card matches a hand-audit of the packing") {
    val packed = Split.c03(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long)].collect() // doc_id, shard, seq, tokens, offset
    val report = Split.c19(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(report.nonEmpty)
    packed.groupBy(_._2).foreach { case (shard, docs) =>
      val (nd, tt, ns, sd, fill) = {
        val r = report(shard); (r._2, r._3, r._4, r._5, r._6)
      }
      assert(nd == docs.length)
      val total = docs.map(_._4).sum
      assert(tt == total)
      assert(ns == (total - 1) / Split.PackBudget + 1)
      // a doc crosses a boundary iff its offset + tokens overflow
      assert(sd == docs.count(d => d._5 + d._4 > Split.PackBudget))
      assert(math.abs(fill -
        math.rint(total.toDouble / (ns * Split.PackBudget) * 1e6) / 1e6) < 1e-9)
      assert(fill > 0.0 && fill <= 1.0)
    }
    // fill must price the padding honestly: Σ tokens over all shards
    // equals Σ n_seqs·budget·fill within rounding
    val lhs = packed.map(_._4).sum.toDouble
    val rhs = report.values.map(r => r._4 * Split.PackBudget * r._6).sum
    assert(math.abs(lhs - rhs) / lhs < 1e-4)
  }

  test("c07: decontaminated assembly — eval split carved out, contaminated train docs dropped") {
    import graft.operators.{Dedup, Redact}
    try {
      val out = Split.c07(spark, sf("sf0.001"))
        .as[(Long, Int, Long, Long, Long, Long)].collect() // doc_id, copy, shard, tokens, seq, offset
      assert(out.nonEmpty)
      val ids = out.map(_._1).toSet
      // no eval-split doc is ever packed
      assert(ids.forall(_ % Dedup.BenchIdMod != 0), "eval docs packed")
      // contaminated train docs are DROPPED — and the check is not
      // vacuous: the corpus's planted near-dups straddle the % 7 split
      val (_, _, _, red) = Redact.redactions(col("text"))
      val scrubbed = Redact.plantedDocs(spark, sf("sf0.001"))
        .select(col("doc_id"), red.as("text"))
      val contaminated = Dedup.decontaminate(
          scrubbed.filter(col("doc_id") % Dedup.BenchIdMod =!= 0),
          scrubbed.filter(col("doc_id") % Dedup.BenchIdMod === 0),
          maxDf = None)
        .select("doc_id").as[Long].collect().toSet
      val trainIds = Split.c02(spark, sf("sf0.001"))
        .filter(col("split") === "train").select("doc_id").as[Long].collect().toSet
      assert((contaminated & trainIds).nonEmpty,
        "no in-train contamination — decontamination untested")
      assert((ids & contaminated).isEmpty, "contaminated docs were packed")
      // c07's doc set is exactly c06's minus the eval split and the
      // contaminated docs
      val c06ids = Split.c06(spark, sf("sf0.001"))
        .select("doc_id").as[Long].collect().toSet
      assert(ids == c06ids.filter(_ % Dedup.BenchIdMod != 0) -- contaminated)
      // the packing still replays the sequential greedy packer over
      // the reduced epoch stream
      out.groupBy(_._3).foreach { case (shard, rows) =>
        var running = 0L
        rows.sortBy(r => (r._1, r._2)).foreach {
          case (id, copy, _, tokens, seq, offset) =>
            assert(seq == running / Split.PackBudget, s"shard $shard doc $id copy $copy")
            assert(offset == running % Split.PackBudget)
            running += tokens
        }
      }
    } finally CacheRegistry.unpersistAll()
  }

  test("c03b: chunks honor the budget exactly and reassemble every document") {
    val chunks = Split.c03b(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long, Long)].collect() // doc_id, shard, seq, chunk_idx, chunk_tokens, offset
    assert(chunks.nonEmpty)
    val assign = Split.c03(spark, sf("sf0.001"))
      .as[(Long, Long, Long, Long, Long)].collect() // doc_id, shard, seq, tokens, offset
      .map(r => r._1 -> r).toMap

    // THE budget invariant chunking exists for: every emitted sequence
    // sums to exactly PackBudget tokens — except each shard's final
    // partial sequence — and none ever exceeds it
    chunks.groupBy(c => (c._2, c._3)).foreach { case ((shard, seq), cs) =>
      val filled = cs.map(_._5).sum
      val lastSeq = chunks.filter(_._2 == shard).map(_._3).max
      assert(filled <= Split.PackBudget, s"shard $shard seq $seq over budget: $filled")
      if (seq != lastSeq)
        assert(filled == Split.PackBudget,
          s"shard $shard seq $seq underfilled mid-shard: $filled")
    }

    // chunks of one doc are contiguous (idx 0..n-1, seqs consecutive)
    // and reassemble its full token count
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (0L until cs.length).toSeq, s"doc $id chunk idxs")
      assert(sorted.map(_._3).toSeq == (sorted.head._3 until sorted.head._3 + cs.length).toSeq,
        s"doc $id seqs not consecutive")
      val (_, _, seq0, _, _, off0) = sorted.head
      // chunk 0 sits exactly where c03 assigned the doc
      val (_, _, aSeq, aTokens, aOff) = assign(id)
      assert(seq0 == aSeq && off0 == aOff, s"doc $id chunk 0 disagrees with c03")
      assert(sorted.map(_._5).sum == aTokens, s"doc $id chunk tokens != doc tokens")
      // non-first chunks start at offset 0 (they begin a fresh sequence)
      sorted.tail.foreach { c => assert(c._6 == 0L, s"doc $id chunk ${c._4} offset") }
    }

    // over-budget docs genuinely chunk: the sf0.001 corpus must contain
    // at least one doc spanning a boundary, else the test is vacuous
    assert(chunks.groupBy(_._1).exists(_._2.length > 1),
      "corpus has no boundary-spanning doc — chunking untested")

    // same plan cost as c03: exactly the one shard-window exchange
    val plan = Split.c03b(spark, sf()).queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(plan).length
    assert(n == 1, s"c03b should pay exactly the shard-window exchange, saw $n")
  }
}
