package graft

import graft.operators.{Dedup, Graph, Rounds, Sketches}
import org.apache.spark.sql.functions._

/** Semantic invariants for the graph-analytics pack (gr1-gr3) and the
  * HLL intersection audit (a30). Cross-engine value parity is the
  * oracle gate's job; these pin internal consistency, an independent
  * recomputation of the triangle count, and the plan shapes that
  * must hold at scale.
  */
class GraphSpec extends SparkTestBase {

  test("gr1: every rank >= teleport mass, total mass bounded by n*scale") {
    val rows = Graph.pageRank(spark, sf).collect()
    assert(rows.nonEmpty)
    val teleport = 15L * 1000000000L / 100L
    rows.foreach(r => assert(r.getAs[Long]("pr") >= teleport))
    // floor division only ever loses mass, never creates it
    val total = rows.map(_.getAs[Long]("pr")).sum
    assert(total <= rows.length.toLong * 1000000000L)
  }

  test("gr1: node space is the interleaved cust/supp encoding, both sides present") {
    val nodes = Graph.pageRank(spark, sf).select("node").collect().map(_.getLong(0))
    assert(nodes.exists(_ % 2 == 0), "no customer nodes")
    assert(nodes.exists(_ % 2 == 1), "no supplier nodes")
    assert(nodes.distinct.length == nodes.length)
  }

  test("gr2: degree-oriented count equals the naive id-ordered triangle join") {
    val got = Graph.triangleCount(spark, sf).head.getAs[Long]("n_triangles")
    // independent recomputation: enumerate (a,b,c), a<b<c, all three
    // edges present — the textbook definition, no orientation trick
    val und = Graph.supportedEdges(spark, sf, 2)
    val naive = und.as("e1")
      .join(und.as("e2"), col("e1.pb") === col("e2.pa"))
      .join(und.as("e3"),
        col("e1.pa") === col("e3.pa") && col("e2.pb") === col("e3.pb"))
      .count()
    assert(got == naive, s"oriented=$got naive=$naive")
  }

  test("gr3: support counts are consistent (pair_n <= min(a_n, b_n), canonical order)") {
    val rows = Graph.copurchaseSupport(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    rows.foreach { r =>
      assert(r.getAs[Long]("pa") < r.getAs[Long]("pb"))
      assert(r.getAs[Long]("pair_n") <=
        math.min(r.getAs[Long]("a_n"), r.getAs[Long]("b_n")))
    }
    // descending support with full-key tie-break = strict total order
    val keys = rows.map(r => (-r.getAs[Long]("pair_n"),
      r.getAs[Long]("pa"), r.getAs[Long]("pb")))
    assert(keys.sameElements(keys.sorted))
  }

  test("gr2/gr3: wedge and support joins are shuffled equi-joins, never nested loops") {
    // the 1-row audit crossJoins in gr2's FINAL select are broadcast
    // and harmless; the wedge/support pipelines themselves must not
    // contain any nested loop, which is what copurchaseSupport (no
    // audit tail) pins exactly
    val plan = Graph.copurchaseSupport(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested loop in gr3 plan:\n$plan")
  }

  test("a30: audit row internally consistent and in-bounds") {
    val r = Sketches.hllIntersect(spark, sf).head
    assert(r.getAs[Boolean]("est_ok"))
    val (a, b, both) = (r.getAs[Long]("exact_a"), r.getAs[Long]("exact_b"),
      r.getAs[Long]("exact_both"))
    assert(both <= math.min(a, b))
    assert(a > 0 && b > 0)
  }

  test("gr4: BFS distances — unique zero at the seed, bipartite parity holds") {
    val rows = Graph.hopDistance(spark, sf).collect()
    assert(rows.nonEmpty)
    val zeros = rows.filter(_.getAs[Long]("dist") == 0L)
    assert(zeros.length == 1)
    val seed = zeros.head.getAs[Long]("node")
    assert(seed == rows.map(_.getAs[Long]("node")).min)
    // customer↔supplier edges only ⇒ dist parity tracks node-side parity
    rows.foreach { r =>
      val sameSide = (r.getAs[Long]("node") - seed) % 2 == 0
      assert((r.getAs[Long]("dist") % 2 == 0) == sameSide)
    }
  }

  test("gr5: seeded teleport — every seed holds its floor, non-seeds only inherit flow") {
    val rows = Graph.personalizedPageRank(spark, sf).collect()
    assert(rows.nonEmpty)
    val teleport = 15L * 1000000000L / 100L
    val seedIds = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING")
      .select((col("c_custkey") * 2).as("node"))
      .collect().map(_.getLong(0)).toSet
    val ranked = rows.map(r => (r.getAs[Long]("node"), r.getAs[Long]("pr"))).toMap
    // every ACTIVE seed keeps at least its own teleport mass
    ranked.foreach { case (n, pr) =>
      if (seedIds.contains(n)) assert(pr >= teleport)
    }
    assert(ranked.keys.exists(seedIds.contains), "no active seed in result")
    assert(ranked.keys.exists(n => !seedIds.contains(n)),
      "flow never reached a non-seed — propagation broken")
    // personalization concentrates mass: total is bounded by what the
    // seeds inject (|seeds|·scale is a loose ceiling; floor-div only loses)
    assert(ranked.values.sum <= seedIds.size.toLong * 1000000000L)
  }

  test("gr13: closeness seeds are top-degree hubs; distances are BFS-consistent") {
    val rows = Graph.closeness(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (reached, sumDist, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(reached > 0 && sumDist >= reached,
        "every reached node is at distance >= 1")
      assert(c > 0.0 && c <= 1.0)
      assert(math.abs(c - BigDecimal(reached.toDouble / sumDist)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // on the connected trade graph every seed reaches the same node set
    assert(rows.map(_.getLong(1)).distinct.length == 1)
    // seeds must be the (deg DESC, node ASC) top-3 of the same graph
    val hop = Graph.hopDistance(spark, sf).collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(hop.contains(r.getLong(0)),
      "seeds live in the trade-graph node space"))
  }

  test("gr16: double sweep tightens gr4's eccentricity within the 2x bound") {
    val r = Graph.doubleSweep(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val eccSeed = row.getAs[Long]("ecc_seed")
    val diamLb = row.getAs[Long]("diameter_lb")
    // sweep-1 consistency: ecc_seed IS the max gr4 distance (same seed)
    val gr4Max = Graph.hopDistance(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("dist"))).head.getLong(0)
    assert(eccSeed == gr4Max)
    // double-sweep guarantees: ecc(peak) >= ecc(seed) (distance back to
    // the seed's peak is itself >= ecc_seed) and <= diameter <= 2*ecc_seed
    assert(diamLb >= eccSeed && diamLb <= 2 * eccSeed,
      s"bounds violated: ecc_seed=$eccSeed diameter_lb=$diamLb")
    // the peak nodes are reachable graph nodes
    val nodes = Graph.hopDistance(spark, sf).collect().map(_.getLong(0)).toSet
    assert(nodes.contains(row.getAs[Long]("peak_node")))
    assert(nodes.contains(row.getAs[Long]("peak2_node")))
    assert(row.getAs[Long]("n_reached") == nodes.size - 1)
  }

  test("gr17: lcc in [0,1]; per-node triangles sum to 3x gr2's global count") {
    val rows = Graph.localClustering(spark, sf, 2, 1000000).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dg, tri, lcc) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dg >= 2, s"deg-1 nodes have no defined lcc: $r")
      assert(lcc >= 0.0 && lcc <= 1.0, s"lcc out of range: $r")
      assert(tri <= dg * (dg - 1) / 2, s"triangles exceed wedge count: $r")
      assert(math.abs(lcc - 2.0 * tri / (dg.toDouble * (dg - 1))) <= 5.1e-5,
        s"lcc must derive from (tri, deg): $r")
    }
    // every triangle has three corners of degree >= 2, so the unbounded
    // per-node sum is exactly three times gr2's global triangle count
    val global = Graph.triangleCount(spark, sf)
      .collect().head.getAs[Long]("n_triangles")
    assert(rows.map(_.getLong(2)).sum == 3 * global,
      "per-node credit must total 3 triangles each")
  }

  test("gr8: the support-3 k-core equals a driver-side peel that takes four rounds") {
    // the default support-2 graph is already a 3-core at this scale, so
    // support 3 is the graph on which the loop actually peels
    val und = Graph.supportedEdges(spark, sf, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var edges = (und ++ und.map(_.swap)).toSet
    var rounds = 0
    var stable = false
    while (!stable) {
      val keep = edges.groupBy(_._1).collect { case (n, es) if es.size >= 3 => n }.toSet
      val next = edges.filter { case (a, b) => keep(a) && keep(b) }
      stable = next == edges
      edges = next
      rounds += 1
    }
    assert(rounds == 4, s"the support-3 peel settles in round 4, took $rounds")
    val expected = edges.groupBy(_._1).map { case (n, es) => (n, es.size.toLong) }
      .toSeq.sorted
    assert(expected.nonEmpty, "the 3-core must not peel away entirely")
    val got = Graph.kCore(spark, sf, k = 3, minSupport = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("gr1: fixed-point iteration is deterministic across partitionings") {
    val a = Graph.pageRank(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = Graph.pageRank(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(a.sameElements(b))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("fixpoint loops fail loudly past maxIter, naming the loop") {
    import spark.implicits._
    // dd8's core on a 200-node chain: four rounds of plain propagation
    // (pointer jumping starts at round 4) reach 4 hops of 199
    val chainNodes = (0L until 200L).toDF("doc_id")
    val chainPairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // each maxIter is too few rounds for its loop on the test data
    val cases = Seq[(String, () => Any)](
      "BFS" -> (() => Graph.hopDistance(spark, sf, maxIter = 1).collect()),
      // support >= 3 with k = 3 peels for three rounds and settles in
      // the fourth (the default support-2 graph is a 3-core already)
      "k-core peeling" -> (() =>
        Graph.kCore(spark, sf, k = 3, minSupport = 3, maxIter = 3).collect()),
      "multi-source BFS" -> (() => Graph.closeness(spark, sf, maxIter = 1).collect()),
      "component propagation" ->
        (() => Dedup.componentsFromPairs(chainNodes, chainPairs, maxIter = 4).collect()))
    cases.foreach { case (loop, run) =>
      val e = withClue(s"$loop: ")(intercept[IllegalArgumentException](run()))
      assert(e.getMessage.contains(s"$loop did not"), s"$loop: ${e.getMessage}")
    }
  }

  test("withLoopConf scopes AQE + width inside, restores after, escapes on adaptive") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val widthKey = "spark.sql.shuffle.partitions"
    val aqe0 = spark.conf.get(aqeKey)
    val width0 = spark.conf.get(widthKey)
    // scoped off: both knobs pinned inside the body, restored after
    Rounds.withLoopConf(spark, 3, adaptive = false) {
      assert(spark.conf.get(aqeKey) == "false", "AQE must be off in scope")
      assert(spark.conf.get(widthKey) == "3", "loop width must be pinned")
    }
    assert(spark.conf.get(aqeKey) == aqe0, "AQE must be restored")
    assert(spark.conf.get(widthKey) == width0, "width must be restored")
    // restoration must survive a body that throws
    intercept[RuntimeException] {
      Rounds.withLoopConf(spark, 3, adaptive = false) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(aqeKey) == aqe0 &&
      spark.conf.get(widthKey) == width0,
      "conf must be restored when the round body throws")
    // adaptive escape (state past the broadcast cap): a no-op scope —
    // AQE stays on so the shuffle-join rounds keep skew splitting
    Rounds.withLoopConf(spark, 3, adaptive = true) {
      assert(spark.conf.get(aqeKey) == aqe0, "adaptive=true must not touch AQE")
      assert(spark.conf.get(widthKey) == width0, "or the width")
    }
    // partsFor is data-proportional and capped at the cluster default
    val cap = spark.sparkContext.defaultParallelism
    assert(Rounds.partsFor(1L, spark) == 1)
    assert(Rounds.partsFor(300000L, spark) == 1)
    assert(Rounds.partsFor(300001L, spark) == 2)
    assert(Rounds.partsFor(Long.MaxValue / 2, spark) == cap)
  }
}
