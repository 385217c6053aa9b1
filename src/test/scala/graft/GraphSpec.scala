package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** PageRank semantics the DuckDB oracle can't pin alone: structural
  * properties on planted graphs, mass accounting under the integer
  * fixpoint, and partition-independence of the iterative plan. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("coEdges: distinct undirected pairs per order, no self-edges") {
    val li = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 10L), // dup line in order 1
      (2L, 10L), (2L, 20L),
      (3L, 40L)) // single-item order → no edge
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.coEdges(li).as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 20L), (10L, 30L), (20L, 30L)))
    assert(got.forall { case (a, b) => a < b })
  }

  test("coEdges: null order keys emit no edges (join semantics)") {
    // the pre-r20 self-join on l_orderkey equality was null-rejecting;
    // the basket aggregation must not resurrect a shared null basket
    val li = Seq(
      (Some(1L), 10L), (Some(1L), 20L),
      (None, 30L), (None, 40L), (None, 50L))
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.coEdges(li).as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 20L)))
  }

  test("coEdges: a mega-basket streams on bounded per-row memory " +
      "and matches the join formulation") {
    // one degenerate 4000-item order → C(4000,2) = 7,998,000 pairs.
    // The r20 in-row flatten materialized all of them inside ONE row
    // before the explode (O(basket²) per-row memory — the r20 verdict
    // item 6 scale hazard); the chained-generator shape streams them
    // with O(basket) per-row state. Row count + set equality against
    // the null-rejecting self-join prove the rewrite emits exactly
    // the join's pairs.
    val n = 4000
    val li = (0 until n).map(p => (1L, p.toLong)).toDF("l_orderkey", "l_partkey")
    val edges = Graph.coEdges(li)
    assert(edges.count() == n.toLong * (n - 1) / 2)
    val liD = li.distinct()
    val join = liD.as("x").join(liD.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
    assert(edges.exceptAll(join).isEmpty && join.exceptAll(edges).isEmpty)
  }

  test("star graph: hub outranks every leaf; ranks are plausible") {
    // hub 1 connected to leaves 2..9
    val edges = (2L to 9L).map(l => (1L, l)).toDF("a", "b")
    val pr = Graph.pagerank(edges)
      .select(col("node"), col("rank_e12")).as[(Long, Long)]
      .collect().toMap
    val hub = pr(1L)
    (2L to 9L).foreach(l => assert(pr(l) < hub, s"leaf $l >= hub"))
    // leaves are symmetric → identical ranks
    assert((2L to 9L).map(pr).toSet.size == 1)
  }

  test("rank mass is conserved up to integer-division truncation") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("a", "b")
    val total = Graph.pagerank(edges)
      .agg(sum(col("rank_e12"))).as[Long].head()
    // each of the |nodes| + |sym edges| integer divisions per
    // iteration truncates < 1 unit of 1e-12 mass; with 4 nodes, 10
    // directed edges, 5 iterations the loss is far under 100 units
    assert(total <= Graph.Scale)
    assert(total > Graph.Scale - 100L)
  }

  test("g04: hand-counted triangles and clustering on a planted graph") {
    import graft.operators.Graph
    // K4 on {1,2,3,4} (4 triangles, cc=1 everywhere) plus a pendant 5-1
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(1L,5L))
      .toDF("a","b")
    val got = Graph.triangles(k4)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // node 1: degree 4 (incl. pendant), 3 triangles, cc = 6/12 = 0.5
    assert(got(1L) == ((4L, 3L, 0.5)))
    // nodes 2..4: degree 3, 3 triangles, cc = 6/6 = 1.0
    (2L to 4L).foreach(n => assert(got(n) == ((3L, 3L, 1.0)), s"node $n"))
    // pendant: degree 1, no triangles, cc pinned 0
    assert(got(5L) == ((1L, 0L, 0.0)))
  }

  test("g05: link prediction scores a planted missing edge, skips real ones") {
    import graft.operators.Graph
    // two hubs 1 and 2 share neighbors 10..14 but are NOT connected
    // themselves — the classic "should be linked" configuration
    val edges = (10L to 14L).flatMap(m => Seq((1L, m), (2L, m)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("a", "b")
    val got = Graph.linkPredict(edges, minCommon = 3)
      .select("a", "b", "cn", "jaccard", "adamic_adar")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(got.length == 1)
    val (a, b, cn, j, aa) = got.head
    assert((a, b, cn) == ((1L, 2L, 5L)))
    assert(j == 1.0) // identical neighborhoods: 5/(5+5-5)
    // each shared neighbor m has degree 2 → 5 × round(1/ln 2, 6)
    assert(math.abs(aa - 5 * 1.442695) < 1e-5)
    // and no (1, m) / (2, m) real edge is ever "predicted"
  }

  test("orientByDegree: lower-degree endpoint first, edge set preserved") {
    // path 1-2-3-4-5 plus hub 9 joined to 1..5: hub degree 5 beats
    // everything, interior path nodes degree 3, ends degree 2
    val edges = (Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L)) ++
      (1L to 5L).map(n => (n, 9L))).toDF("a", "b")
    val deg = Seq(1L->2L,2L->3L,3L->3L,4L->3L,5L->2L,9L->5L).toMap
    val got = Graph.orientByDegree(edges).as[(Long, Long)].collect()
    got.foreach { case (x, y) =>
      assert(deg(x) < deg(y) || (deg(x) == deg(y) && x < y),
        s"edge $x->$y violates (degree, id) order")
    }
    val undirected = got.map { case (x, y) =>
      (math.min(x, y), math.max(x, y)) }.toSet
    assert(undirected ==
      edges.as[(Long, Long)].collect().toSet, "edge set drifted")
  }

  test("degree-ordered triangles == id-ordered, on sf data and the wheel") {
    val co = Graph.coEdges(Tables.lineitem(spark, sf("sf0.001")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSet
    val ordered = rows(Graph.triangles(co, degreeOrdered = Some(true)))
    assert(ordered == rows(Graph.triangles(co, degreeOrdered = Some(false))))
    assert(ordered == rows(Graph.triangles(co)), "adaptive gear diverged")
    assert(ordered.nonEmpty)
    // and on the hub-skew wheel (the bench pair's own input): every
    // path edge closes a triangle with the hub, so n_triangles > 0
    val wheel = Graph.wheelEdges(spark, sf("sf0.001"), maxNodes = 120)
    val w1 = rows(Graph.triangles(wheel)) // adaptive: the gate fires here
    assert(w1 == rows(Graph.triangles(wheel, degreeOrdered = Some(false))))
    // wheel structure is exact: n nodes → n-1 spokes + n-2 path
    // edges, and every triangle is (i, i+1, hub) — one per path edge
    val n = w1.size
    assert(n >= 20, s"sf0.001 part table too small for the wheel ($n)")
    assert(w1.toSeq.map(_._3).sum / 3 == n - 2,
      "wheel should carry exactly one triangle per path edge")
    // the hub is the unique max-degree node and sits in EVERY triangle
    val hub = w1.maxBy(_._2)
    assert(hub._2 == n - 1 && hub._3 == n - 2)
  }

  test("compact linkPredict == legacy symmetric-frame plan, row-for-row") {
    val co = Graph.coEdges(
      Tables.lineitem(spark, sf("sf0.001"))
        .filter(col("l_partkey") % 10 === 0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Double, Double)].collect().toSet
    val compact = rows(Graph.linkPredict(co))
    assert(compact == rows(Graph.linkPredictLegacy(co)))
    assert(compact.nonEmpty)
    // and the UNPACKED key gear (node ids past 31 bits disable the
    // single-long (x,y) packing) must be the identical function:
    // shift every id by 2^40 — degrees, wedge structure, and scores
    // are invariant under the id translation
    val shift = 1L << 40
    val big = co.select((col("a") + shift).as("a"),
      (col("b") + shift).as("b"))
    val unpacked = rows(Graph.linkPredict(big)).map {
      case (a, r, b, cn, j, aa) => (a - shift, r, b - shift, cn, j, aa) }
    assert(unpacked == compact, "unpacked-key gear diverged")
    // PENDANT totality: a degree-1 node's Adamic–Adar term is
    // 1/ln(1) = Infinity if evaluated — the cached edge frame
    // materializes the term column for every row, so the operator
    // must be total on graphs with pendants (the co-purchase test
    // graphs happen to have min degree ≥ 2, which would hide a
    // regression here). Pendants hang off both hub sides; the
    // prediction for the shared-neighborhood pair is unaffected.
    val pend = ((10L to 14L).flatMap(m => Seq((1L, m), (2L, m))) ++
      Seq((1L, 100L), (2L, 101L)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("a", "b")
    val got = Graph.linkPredict(pend, minCommon = 3)
      .select("a", "b", "cn").as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 5L)))
    // ID-TYPE totality (r18 advice): the gear probe's min/max pull
    // must not assume LongType node ids — an IntegerType edge frame
    // threw ClassCastException on getLong before the in-agg cast
    val intIds = pend.select(col("a").cast("int").as("a"),
      col("b").cast("int").as("b"))
    // output ids ride as long (the packed-key gear unpacks to long);
    // the point is totality — the probe's min/max pull must not
    // assume LongType input (getLong threw on IntegerType pre-fix)
    val gotInt = Graph.linkPredict(intIds, minCommon = 3)
      .select("a", "b", "cn").as[(Long, Long, Long)].collect()
    assert(gotInt.toSeq == Seq((1L, 2L, 5L)))
  }

  test("g06: hand-peeled k-core on planted graphs") {
    // K4 {1..4} + pendant 5-1 + a 2-chain 5-6: k=3 keeps exactly the
    // K4; node 1 shows full degree 4 (3 in-K4 + the pendant edge) vs
    // core degree 3
    val g = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
        (1L,5L),(5L,6L)).toDF("a","b")
    val got = Graph.kcore(g, k = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((4L, 3L)))
    (2L to 4L).foreach(n => assert(got(n) == ((3L, 3L)), s"node $n"))
    // cascade: a triangle has no 3-core once any k=3 threshold hits
    // (every node sits at degree 2) — whole graph peels, empty result
    val tri = Seq((1L,2L),(2L,3L),(1L,3L)).toDF("a","b")
    assert(Graph.kcore(tri, k = 3).isEmpty)
    // k at-or-below min degree: zero peel rounds, graph == its core
    val whole = Graph.kcore(tri, k = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(whole == Set((1L,2L,2L),(2L,2L,2L),(3L,2L,2L)))
  }

  test("g06: slow-peel path trips the fail-fast; enough rounds converge") {
    // a path peels only its 2 endpoints per round at k=2 — the
    // documented pathological depth; 12 nodes need 6 rounds to empty
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
    val err = intercept[IllegalArgumentException] {
      Graph.kcore(path, k = 2, maxIter = 3)
    }
    assert(err.getMessage.contains("no fixpoint"))
    assert(Graph.kcore(path, k = 2, maxIter = 8).isEmpty)
  }

  test("g06 face: sf0.001 core empties without tripping the fail-fast") {
    // the sf0.001 co-purchase graph peels to nothing at k=80 (max
    // degree ~100 but the cascade runs away) — the face must return
    // the honest empty core, converged, inside the oracle's unroll
    // budget (the sf0.01/sf0.1 convergence is driver-checked)
    val out = Graph.g06(spark, sf("sf0.001"))
    assert(out.isEmpty)
  }

  test("f34: teleport confinement — unreachable component reads exactly 0") {
    // two disjoint triangles; seed in the first only. Integer
    // arithmetic makes "no mass leaks" provable as == 0, not ≈ 0.
    val edges = Seq((1L,2L),(2L,3L),(1L,3L), (10L,11L),(11L,12L),(10L,12L))
      .toDF("a", "b")
    val seeds = Seq(1L).toDF("node")
    val pr = Graph.personalizedPagerank(edges, seeds)
      .select(col("node"), col("is_seed"), col("rank_e12"))
      .as[(Long, Boolean, Long)].collect()
    val byNode = pr.map(r => r._1 -> r._3).toMap
    Seq(10L, 11L, 12L).foreach(n =>
      assert(byNode(n) == 0L, s"unreachable node $n holds mass"))
    // the seed keeps the largest rank (all teleport returns to it);
    // its symmetric non-seed neighbors tie
    assert(byNode(1L) > byNode(2L) && byNode(2L) == byNode(3L))
    assert(pr.count(_._2) == 1)
    // mass conservation: Scale in, ≤ Scale out (integer truncation)
    val total = pr.map(_._3).sum
    assert(total <= Graph.Scale && total > Graph.Scale - 100L)
  }

  test("f34: out-of-graph seeds don't dilute the teleport mass") {
    val edges = Seq((1L,2L),(2L,3L),(1L,3L)).toDF("a", "b")
    def ranks(seedIds: Seq[Long]) =
      Graph.personalizedPagerank(edges, seedIds.toDF("node"))
        .select(col("node"), col("rank_e12"))
        .as[(Long, Long)].collect().toMap
    // node 99 is isolated — |S| must count in-graph seeds only, so
    // the distribution is identical with or without it
    assert(ranks(Seq(1L)) == ranks(Seq(1L, 99L)))
  }

  test("partition-independence: same ranks from a shuffled edge frame") {
    val docs = Tables.lineitem(spark, sf("sf0.001"))
    val edges = Graph.coEdges(docs)
    val a = Graph.pagerank(edges)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    val b = Graph.pagerank(edges.repartition(7, col("b")))
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("g07 census: hand-computable on a triangle+tail; identities hold " +
      "on the real graph") {
    // K3 on {1,2,3} plus tail 3-4: 4 nodes, 4 edges, degrees 2,2,3,1
    // → wedges C(2,2)+C(2,2)+C(3,2)+0 = 1+1+3 = 5, one triangle,
    // gcc = 3·1/5 = 0.6
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Graph.graphCensus(edges)
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(got == ((4L, 4L, 3L, 5L, 1L, 0.6)))
    // identities on the sf0.001 co-purchase graph: Σdeg/2 == |E|,
    // and gcc stays in [0, 1]
    val e = Graph.coEdges(Tables.lineitem(spark, sf("sf0.001")))
    val census = Graph.graphCensus(e)
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(census._2 == e.count())
    assert(census._6 >= 0.0 && census._6 <= 1.0)
  }
}
