package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over relations derived from the sales
  * tables — the iterative-propagation family beyond dd8's connected
  * components. The reference has no graph surface (its only multi-row
  * "analytics" are Chart.vue's client-side GROUP BYs,
  * `movie_ticket_website/src/components/Chart.vue:96-111`); these are
  * extension operators a 100 TB pipeline needs once relationships —
  * who-bought-from-whom, what-sells-with-what — become first-class.
  *
  * Design stances shared by the family:
  *  - Graphs are plain DataFrames of edges; every iteration is a
  *    join + hash-agg that Catalyst plans like any other query (no
  *    vertex-program runtime, no driver-side adjacency).
  *  - Iterative ranks use INTEGER fixed-point arithmetic (`div`, the
  *    integral division) so every engine — Spark partial/final aggs in
  *    any partition order, DuckDB replaying the same chain — produces
  *    bit-identical values. Floating-point PageRank cannot be
  *    hash-oracled across engines; scaled-long PageRank can, because
  *    integer sums are associative-commutative exactly.
  *  - Every round loop goes through [[Rounds]]: the loop conf, the
  *    per-round lineage cut, the convergence read, the `maxIter`
  *    failure and the early-exit argument against the unrolled
  *    oracles live there; each operator here keeps only its round
  *    body and its measure.
  */
object Graph {
  import Rounds.{guardedBroadcast, iterRelation}

  /** Undirected customer↔supplier trade graph: an edge per DISTINCT
    * (customer, supplier) pair that shares at least one order line.
    * Ids are disambiguated into one node space (cust → 2k,
    * supp → 2k+1) because the two key domains overlap. Both directions
    * are materialized (undirected = symmetric edge relation), which
    * also guarantees no dangling nodes: every node with an out-edge
    * has in-edges, so no teleport-mass correction is needed.
    */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val one = graft.sources.GraphIndex.tradeEdges(s, d)
    one.unionByName(one.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The inline (index-free) trade-edge derivation — what
    * [[graft.sources.GraphIndex.tradeEdges]] persists; kept for
    * GraphIndexSpec's bit-transparency assertion.
    */
  private[graft] def tradeEdgesInline(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()

  // --- GR1: PageRank, integer-exact. rank_{k+1}(v) =
  // (15·SCALE) div 100  +  (85 · Σ_{u→v} rank_k(u) div outdeg(u)) div 100,
  // all in scaled longs (SCALE = 1e9 → 9 fractional digits — headroom:
  // even 1e8 nodes keep 85·Σ ranks < 2^63). Each round is one
  // edges⋈ranks join shuffled on the edge key plus one hash-agg
  // shuffled on dst — the canonical message-passing shape; nothing is
  // collected, the driver loop only counts rounds. Fixed iteration
  // count (default 5) because fixed-point iteration is deterministic —
  // no convergence read needed for correctness, and at corpus scale a
  // power-iteration budget is what a scheduler allocates anyway.
  // Ranks carry outdeg along so the per-round join count stays at one.
  // The DuckDB oracle replays the identical unrolled chain (generated
  // by [[pageRankOracleSql]] from the same parameters). ---
  def pageRank(s: SparkSession, d: String,
               iters: Int = 5, scale: Long = 1000000000L): DataFrame =
    scaledRank(s, d, None, iters, scale)

  /** gr1 and gr5's one chain: r0 = share·scale and
    * r_{k+1} = share·teleport + (85·Σ r_k div outdeg) div 100, where
    * `share` is gr5's 0/1 seed flag and the literal 1 for gr1 (every
    * node a seed, exact in integers). gr1's deg carries no seed column:
    * the literal folds into the projections, so its plans are the
    * unseeded ones. gr1's ranks are all >= teleport, so the final
    * `pr > 0` filter (gr5's unreachable nodes) drops none of them.
    * deg is state-sized (one row per node) — broadcast under the same
    * guard as the rank vector, so each round is exactly one exchange
    * (the contribution hash-agg).
    */
  private def scaledRank(s: SparkSession, d: String, seeds: Option[DataFrame],
                         iters: Int, scale: Long): DataFrame = {
    val (edges, _, parts) = iterRelation(tradeEdges(s, d), "src")
    val deg0 = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("node"), col("outdeg"))
    val (deg, share) = seeds match {
      // shared subplan: its count and every round read deg
      case None => (deg0.localCheckpoint(), lit(1L))
      case Some(ids) =>
        (deg0.join(ids.withColumn("is_seed", lit(1L)), Seq("node"), "left_outer")
          .na.fill(0L, Seq("is_seed"))
          .localCheckpoint(), col("is_seed"))
    }
    val nNodes = deg.count() // rank-vector size: one row per node
    val teleport = 15L * scale / 100L
    val carried = deg.columns.toSeq.map(col)
    val ranks0 = deg.select(carried :+ (share * scale).as("pr"): _*)
    Rounds.fixed(parts, nNodes, iters)(ranks0) { (ranks, _) =>
      val rside = guardedBroadcast(ranks, nNodes)
      val contrib = rside
        .join(edges, rside("node") === edges("src"))
        .select(col("dst").as("node"), expr("pr div outdeg").as("c"))
      guardedBroadcast(deg, nNodes).join(
          contrib.groupBy("node")
            .agg(expr("(85 * sum(c)) div 100").as("flow")),
          "node")
        .select(carried :+ (share * teleport + col("flow")).as("pr"): _*)
    }.filter(col("pr") > 0)
      .select(col("node"), col("pr")).orderBy("node")
  }

  /** The oracle twin of [[pageRank]]: unrolled CTE chain in ANSI SQL
    * (DuckDB `//` = integral division on BIGINT, matching Spark `div`
    * for the all-positive ranks). `sum()` promotes to HUGEINT in
    * DuckDB, so each round casts back to BIGINT — exact, the values
    * never exceed 2^63.
    */
  def pageRankOracleSql(iters: Int = 5, scale: Long = 1000000000L): String = {
    val teleport = 15L * scale / 100L
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT d.node, d.outdeg,
         |    CAST($teleport + (85 * sum(r.pr // r.outdeg)) // 100 AS BIGINT) AS pr
         |  FROM r${i - 1} r JOIN edges e ON e.src = r.node
         |  JOIN deg d ON d.node = e.dst
         |  GROUP BY d.node, d.outdeg)""".stripMargin
    }.mkString(",\n")
    // edges/deg are referenced by every round — MATERIALIZED, or an
    // inlining engine re-derives the distinct-join prefix per round
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT src, dst FROM e0
       |  UNION ALL SELECT dst, src FROM e0),
       |deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY 1),
       |r0 AS (SELECT node, outdeg, CAST($scale AS BIGINT) AS pr FROM deg),
       |$rounds
       |SELECT node, pr FROM r$iters ORDER BY node""".stripMargin
  }

  // --- GR5: PERSONALIZED PageRank — gr1 with the teleport mass
  // restricted to a seed set (here: the BUILDING-segment customers),
  // the topic-sensitive variant [Haveliwala, WWW'02] a curation
  // pipeline uses to rank a corpus "from the perspective of" a target
  // domain slice. Same scaled-long fixed-point chain as gr1, two
  // deltas: r0 is `scale` on seeds / 0 elsewhere, and the per-round
  // additive term is `is_seed · teleport` instead of a uniform
  // constant. Zero-rank nodes cost nothing extra (their contributions
  // are exact integer zeros flowing through the same join), and the
  // plan shape is identical to gr1's — one join + one agg per round.
  // Nodes unreachable from the seed set keep rank exactly 0 and are
  // filtered from the output (bipartite trade graph: both sides
  // reachable in 2 hops wherever connected). ---
  def personalizedPageRank(s: SparkSession, d: String,
                           segment: String = "BUILDING",
                           iters: Int = 5, scale: Long = 1000000000L): DataFrame =
    scaledRank(s, d, Some(Tables.customer(s, d)
      .filter(col("c_mktsegment") === segment)
      .select((col("c_custkey") * 2).as("node"))), iters, scale)

  /** Oracle twin of [[personalizedPageRank]] — gr1's unrolled chain
    * with the seeded r0 and seeded teleport term.
    */
  def personalizedPageRankOracleSql(segment: String = "BUILDING",
                                    iters: Int = 5,
                                    scale: Long = 1000000000L): String = {
    val teleport = 15L * scale / 100L
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT d.node, d.outdeg, d.is_seed,
         |    CAST(d.is_seed * $teleport
         |         + (85 * sum(r.pr // r.outdeg)) // 100 AS BIGINT) AS pr
         |  FROM r${i - 1} r JOIN edges e ON e.src = r.node
         |  JOIN deg d ON d.node = e.dst
         |  GROUP BY d.node, d.outdeg, d.is_seed)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT src, dst FROM e0
       |  UNION ALL SELECT dst, src FROM e0),
       |deg AS MATERIALIZED (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg,
       |    CAST(CASE WHEN src IN (SELECT c_custkey*2 FROM customer
       |                           WHERE c_mktsegment = '$segment')
       |         THEN 1 ELSE 0 END AS BIGINT) AS is_seed
       |  FROM edges GROUP BY 1),
       |r0 AS (SELECT node, outdeg, is_seed,
       |    CAST(is_seed * $scale AS BIGINT) AS pr FROM deg),
       |$rounds
       |SELECT node, pr FROM r$iters WHERE pr > 0 ORDER BY node""".stripMargin
  }

  // --- GR4: single-source hop distance (BFS / min-plus relaxation) —
  // the frontier-expansion primitive next to gr1's power iteration and
  // dd8's label propagation. dist_{r+1}(v) = min(dist_r(v),
  // min_{u→v} dist_r(u) + 1), seeded at the smallest node id (always
  // present, no hardcoded key). Each round is one edges⋈dist join +
  // one min hash-agg; the sentinel 999999 stands in for ∞ (integer min
  // is exact, so the whole iteration hash-oracles). On the dense trade
  // graph the eccentricity is 4-5 hops, inside the 8-round budget. ---
  private val HopInf = 999999L

  /** Shared single-source min-plus loop with FRONTIER (delta)
    * relaxation: each round only the nodes whose distance improved
    * last round offer `dist+w` to their neighbors. Per-round state is
    * PROVABLY identical to relaxing every node (a non-improved node's
    * offer was already absorbed the round after it last improved, and
    * distances only decrease — so the omitted offers are dominated),
    * which is why the unrolled full-relaxation DuckDB oracles replay
    * this loop bit-for-bit. The win is total work: Σ|frontier·deg|
    * ≈ |E| across the whole run instead of |E| PER ROUND — on a
    * cluster the late rounds touch only the BFS wavefront's
    * partitions. Convergence = empty frontier (same round as the
    * monotone-sum read).
    */
  private def minPlusDistances(edgesRaw: DataFrame, maxIter: Int,
                               algo: String,
                               seedOpt: Option[Long] = None): DataFrame = {
    val (edges, _, parts) = iterRelation(edgesRaw, "src")
    minPlusPrepared(edges, parts, maxIter, algo, seedOpt)
  }

  /** The relaxation loop over an ALREADY-prepared (iterRelation'd)
    * edge frame — split out so multi-sweep callers (gr16) pay the
    * edge shuffle + checkpoint once, not once per sweep.
    */
  private def minPlusPrepared(edges: DataFrame, parts: Int, maxIter: Int,
                              algo: String,
                              seedOpt: Option[Long]): DataFrame = {
    val seed = seedOpt.getOrElse(edges.agg(min(col("src"))).head.getLong(0))
    // the state carries `old`, each node's distance before the round
    // that produced `dist` (HopInf in round 0), so the frontier stays a
    // LAZY filter over the checkpointed state — its count (needed for
    // convergence AND the broadcast guard) is a scan of cached blocks,
    // and re-deriving it inside the broadcast build costs the same
    // scan again instead of a third job
    def frontier(dist: DataFrame) =
      dist.filter(col("dist") < col("old")).select("node", "dist")
    val dist0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"),
        when(col("node") === seed, 0L).otherwise(HopInf).as("dist"),
        lit(HopInf).as("old"))
      .localCheckpoint() // shared subplan: its frontier count and round 0
    Rounds.fixpoint(algo, parts, maxIter, dist0, frontier(dist0).count())(
        rows = identity, measure = dist => frontier(dist).count(),
        stable = (_, nDelta) => nDelta == 0) { (dist, nDelta, _) =>
      val dside = guardedBroadcast(frontier(dist), nDelta)
      val offers = dside.join(edges, dside("node") === edges("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("v"),
          lit(HopInf).as("old"))
      dist
        .select(col("node"), col("dist").as("v"), col("dist").as("old"))
        .unionByName(offers)
        .groupBy("node")
        .agg(min(col("v")).as("dist"), min(col("old")).as("old"))
    }.filter(col("dist") < HopInf).select("node", "dist").orderBy("node")
  }

  def hopDistance(s: SparkSession, d: String, maxIter: Int = 8): DataFrame =
    minPlusDistances(
      tradeEdges(s, d).withColumn("w", lit(1L)),
      maxIter, "BFS")

  // --- GR6: single-source CHEAPEST route — gr4's min-plus relaxation
  // with integer edge weights (Bellman–Ford as relational algebra).
  // The trade edge (cust, supp) is weighted by the SMALLEST l_quantity
  // on any order line linking the pair — "cheapest hand-off on that
  // relationship" — so weights are small exact integers and every
  // relaxation is integer min/plus, which hash-oracles across engines.
  // Weighted shortest paths can use MORE hops than the BFS
  // eccentricity (a chain of cheap edges beats one expensive hop), so
  // the round budget is higher than gr4's. Per round: one
  // edges⋈dist join + one min hash-agg — identical scale shape to gr4. ---
  def cheapestRoute(s: SparkSession, d: String, maxIter: Int = 12): DataFrame = {
    val e0 = graft.sources.GraphIndex.tradeWeightedEdges(s, d)
    minPlusDistances(
      e0.unionByName(
          e0.select(col("dst").as("src"), col("src").as("dst"), col("w"))),
      maxIter, "Bellman-Ford")
  }

  /** Oracle twin of [[cheapestRoute]]: the weighted min-plus chain
    * unrolled to `iters` rounds (≥ rounds-to-convergence; [[Rounds]]
    * states why the early exit agrees).
    */
  def cheapestRouteOracleSql(iters: Int = 12): String = {
    val rounds = (1 to iters).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, CAST(min(v) AS BIGINT) AS dist FROM (
         |    SELECT node, dist AS v FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst, r.dist + e.w FROM d${i - 1} r
         |    JOIN edges e ON e.src = r.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT o_custkey*2 AS src, l_suppkey*2+1 AS dst,
       |    CAST(min(l_quantity) AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |edges AS MATERIALIZED (SELECT src, dst, w FROM e0
       |  UNION ALL SELECT dst, src, w FROM e0),
       |d0 AS (SELECT src AS node,
       |    CAST(CASE WHEN src = (SELECT min(src) FROM edges)
       |         THEN 0 ELSE $HopInf END AS BIGINT) AS dist
       |  FROM (SELECT DISTINCT src FROM edges)),
       |$rounds
       |SELECT node, dist FROM d$iters WHERE dist < $HopInf ORDER BY node""".stripMargin
  }

  // --- GR16: DOUBLE-SWEEP diameter audit [Magnien, Latapy & Habib,
  // JEA 2009] — the standard cheap diameter bound: BFS from an
  // arbitrary seed (the smallest node id, gr4's seed), hop to the
  // FARTHEST node found (tie-break (dist DESC, node ASC) — exact), BFS
  // again from there; the second sweep's eccentricity is a diameter
  // LOWER bound that is empirically tight on real graphs, at the cost
  // of exactly TWO BFS runs instead of |V| (what an exact diameter
  // would need — never run that at 100 TB). Both sweeps are gr4's
  // frontier-relaxed min-plus loop; the only driver traffic is the
  // two single-row argmax reads (the sim3 tiny-key pattern). The
  // audit row is all exact integers, so the whole two-sweep chain —
  // including the argmax handoff between sweeps — hash-oracles
  // against a DuckDB replay that computes the peak node INSIDE SQL. ---
  def doubleSweep(s: SparkSession, d: String, maxIter: Int = 12): DataFrame = {
    // one edge prep serves both sweeps (the per-sweep shuffle +
    // checkpoint was ~20% of the query before the split)
    val (edges, _, parts) = iterRelation(
      tradeEdges(s, d).withColumn("w", lit(1L)), "src")
    val sweep1 = minPlusPrepared(edges, parts, maxIter, "BFS (sweep 1)", None)
    val peak1 = sweep1.orderBy(col("dist").desc, col("node").asc).head
    val (peakNode, eccA) = (peak1.getLong(0), peak1.getLong(1))
    val sweep2 = minPlusPrepared(edges, parts, maxIter, "BFS (sweep 2)",
      Some(peakNode))
    val peak2 = sweep2.orderBy(col("dist").desc, col("node").asc).head
    sweep2.agg(count(lit(1)).as("n_reached"))
      .select(
        lit(eccA).as("ecc_seed"),
        lit(peakNode).as("peak_node"),
        lit(peak2.getLong(1)).as("diameter_lb"),
        lit(peak2.getLong(0)).as("peak2_node"),
        (col("n_reached") - 1).as("n_reached"))
  }

  /** Oracle twin of [[doubleSweep]]: two unrolled min-plus chains with
    * the second seeded on the first's (dist DESC, node ASC) argmax —
    * the handoff computed in SQL, so a wrong peak pick flips the hash.
    */
  def doubleSweepOracleSql(iters: Int = 12): String = {
    def chain(p: String, seedSql: String) = {
      val rounds = (1 to iters).map { i =>
        s"""$p$i AS MATERIALIZED (SELECT node, CAST(min(v) AS BIGINT) AS dist FROM (
           |    SELECT node, dist AS v FROM $p${i - 1}
           |    UNION ALL
           |    SELECT e.dst, r.dist + 1 FROM $p${i - 1} r
           |    JOIN edges e ON e.src = r.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""${p}0 AS (SELECT src AS node,
         |    CAST(CASE WHEN src = ($seedSql)
         |         THEN 0 ELSE $HopInf END AS BIGINT) AS dist
         |  FROM (SELECT DISTINCT src FROM edges)),
         |$rounds""".stripMargin
    }
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT src, dst FROM e0
       |  UNION ALL SELECT dst, src FROM e0),
       |${chain("a", "SELECT min(src) FROM edges")},
       |peak1 AS (SELECT node, dist FROM a$iters WHERE dist < $HopInf
       |  ORDER BY dist DESC, node ASC LIMIT 1),
       |${chain("b", "SELECT node FROM peak1")},
       |peak2 AS (SELECT node, dist FROM b$iters WHERE dist < $HopInf
       |  ORDER BY dist DESC, node ASC LIMIT 1)
       |SELECT
       |  CAST((SELECT dist FROM peak1) AS BIGINT) AS ecc_seed,
       |  CAST((SELECT node FROM peak1) AS BIGINT) AS peak_node,
       |  CAST((SELECT dist FROM peak2) AS BIGINT) AS diameter_lb,
       |  CAST((SELECT node FROM peak2) AS BIGINT) AS peak2_node,
       |  CAST((SELECT count(*) - 1 FROM b$iters WHERE dist < $HopInf)
       |    AS BIGINT) AS n_reached""".stripMargin
  }

  // --- GR15: incremental EDGE-INDEX maintenance — the graph leg of
  // the ingest story dd17 (band index) and sim10 (ANN index) already
  // tell. A new order batch lands (o_orderkey is the ingest axis);
  // its edges derive from the BATCH's join only, published as a delta
  // directory beside the untouched base, and base ∪ delta re-minned
  // is answer-identical to the monolithic weighted edge relation
  // because `min` is a merge-able aggregate. Per-batch cost is
  // proportional to the batch, never the corpus. Boundary =
  // max_orderkey·4/5 + 1, exact integer arithmetic (dd17's rule:
  // parameters scale with the corpus). The audit row carries exact
  // counts + weight extremes + the full weight sum, so any dropped,
  // duplicated, or mis-merged edge flips the hash; the DuckDB oracle
  // computes the same row from the MONOLITHIC derivation — the match
  // IS the incremental == monolithic proof. w_sum stays BIGINT:
  // weights are l_quantity values (≤ 50), so overflow needs ~2·10^17
  // edges. ---
  def incrementalEdgeAudit(s: SparkSession, d: String): DataFrame = {
    val maxKey = Tables.orders(s, d)
      .agg(max(col("o_orderkey"))).head.getLong(0)
    val boundary = maxKey * 4 / 5 + 1
    graft.sources.GraphIndex.tradeWeightedMerged(s, d, boundary)
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("src")).as("n_src"),
        countDistinct(col("dst")).as("n_dst"),
        sum(col("w")).as("w_sum"),
        min(col("w")).as("w_min"),
        max(col("w")).as("w_max"))
  }

  /** Oracle twin of [[incrementalEdgeAudit]]: the MONOLITHIC weighted
    * edge derivation (no slices) aggregated to the same audit row —
    * matching hashes prove base ∪ delta min-merge loses nothing.
    */
  def incrementalEdgeAuditOracleSql: String =
    """WITH e AS (
      |  SELECT o_custkey*2 AS src, l_suppkey*2+1 AS dst,
      |    CAST(min(l_quantity) AS BIGINT) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_edges,
      |  CAST(count(DISTINCT src) AS BIGINT) AS n_src,
      |  CAST(count(DISTINCT dst) AS BIGINT) AS n_dst,
      |  CAST(sum(w) AS BIGINT) AS w_sum,
      |  CAST(min(w) AS BIGINT) AS w_min,
      |  CAST(max(w) AS BIGINT) AS w_max
      |FROM e""".stripMargin

  /** Oracle twin of [[hopDistance]]: the same min-plus chain unrolled
    * to `iters` rounds (≥ the graph eccentricity; [[Rounds]] states why
    * the early exit agrees). Each round references the previous one TWICE (keep-old ∪ relax),
    * so the CTEs are forced MATERIALIZED — inlining would duplicate
    * the whole prefix per reference, exponential in `iters`.
    */
  def hopDistanceOracleSql(iters: Int = 8): String = {
    val rounds = (1 to iters).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, CAST(min(v) AS BIGINT) AS dist FROM (
         |    SELECT node, dist AS v FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst, r.dist + 1 FROM d${i - 1} r
         |    JOIN edges e ON e.src = r.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT src, dst FROM e0
       |  UNION ALL SELECT dst, src FROM e0),
       |d0 AS (SELECT src AS node,
       |    CAST(CASE WHEN src = (SELECT min(src) FROM edges)
       |         THEN 0 ELSE $HopInf END AS BIGINT) AS dist
       |  FROM (SELECT DISTINCT src FROM edges)),
       |$rounds
       |SELECT node, dist FROM d$iters WHERE dist < $HopInf ORDER BY node""".stripMargin
  }

  // --- GR7: community detection by synchronous label propagation
  // [Raghavan et al., 2007] over the support-thresholded co-purchase
  // graph — "which products cluster into baskets together", the
  // segmentation step after gr2/gr3 quantify pairwise affinity.
  // label_0(v) = v; each round every node adopts the label most
  // frequent among its neighbors (tie → smallest label — the
  // deterministic variant; synchronous fixed-round schedule because
  // async LPA is order-dependent and cannot be replayed cross-engine).
  // Per round: one edges⋈labels join + one (node, label) hash-agg +
  // one per-node window argmax — all partitioned on real keys; the
  // thresholded graph saturates in size (gr2's finding), so rounds
  // are near-constant cost at any corpus scale. Labels are node ids
  // (exact integers) and the argmax is count-then-label lexicographic,
  // so every round hash-oracles; the DuckDB twin unrolls the same
  // rounds. ---
  def labelPropagation(s: SparkSession, d: String,
                       minSupport: Int = 2, rounds: Int = 4): DataFrame = {
    val (edges, _, parts) =
      iterRelation(bothWays(supportedEdges(s, d, minSupport)), "src")
    val labels0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint() // shared subplan: its count and round 0
    val nNodes = labels0.count() // label-vector size: one row per node
    val byNode = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("cnt").desc, col("lbl").asc)
    Rounds.fixed(parts, nNodes, rounds)(labels0) { (labels, _) =>
      val lside = guardedBroadcast(labels, nNodes)
      lside.join(edges, lside("node") === edges("src"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(byNode))
        .filter(col("rn") === 1)
        .select("node", "lbl")
    }.orderBy("node")
  }

  /** Oracle twin of [[labelPropagation]] — the same synchronous
    * majority-label rounds unrolled (row_number argmax with the
    * identical (count DESC, label ASC) total order).
    */
  /** The label-propagation CTE chain (edges + unrolled rounds ending
    * in `l\$rounds`) — shared by the gr7 oracle and gr14's modularity
    * audit so the partition definition cannot drift between them.
    */
  private def labelPropCtes(minSupport: Int, rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, l.lbl, count(*) AS cnt
         |  FROM l${i - 1} l JOIN edges e ON e.src = l.node
         |  GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |      ORDER BY cnt DESC, lbl ASC) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |pr AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b
       |  ON a.ok = b.ok AND a.pk < b.pk),
       |e0 AS MATERIALIZED (SELECT pa, pb FROM pr GROUP BY pa, pb
       |  HAVING count(*) >= $minSupport),
       |edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0
       |  UNION ALL SELECT pb, pa FROM e0),
       |l0 AS (SELECT node, node AS lbl FROM
       |  (SELECT DISTINCT src AS node FROM edges)),
       |$rs""".stripMargin
  }

  def labelPropagationOracleSql(minSupport: Int = 2, rounds: Int = 4): String =
    s"""WITH ${labelPropCtes(minSupport, rounds)}
       |SELECT node, lbl FROM l$rounds ORDER BY node""".stripMargin

  // --- GR14: modularity of the gr7 partition — the one-number answer
  // to "are these communities real?" [Newman & Girvan 2004]:
  // Q = Σ_c [m_c/m − (d_c/2m)²], here in the directed-both-ways edge
  // representation where E = 2m, so Q = (E·intra − Σ_c d_c²)/E² —
  // ONE per-row double of three exact integer aggregates (intra-
  // community directed edge count, per-community degree-sum squares,
  // edge count), no cross-row FP anywhere. Plan: the saturating
  // thresholded graph joined twice to the label relation + two tiny
  // aggs; at any corpus scale this costs two keyed joins over the
  // signal graph. The evaluation step a clustering pipeline runs
  // AFTER gr7 before acting on its communities. ---
  def modularity(s: SparkSession, d: String,
                 minSupport: Int = 2, rounds: Int = 4): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val labels = labelPropagation(s, d, minSupport, rounds)
      .select(col("node"), col("lbl"))
    val edges = bothWays(supportedEdges(s, d, minSupport))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val intra = edges
      .join(labels.select(col("node").as("src"), col("lbl").as("la")), "src")
      .join(labels.select(col("node").as("dst"), col("lbl").as("lb")), "dst")
      .filter(col("la") === col("lb"))
      .agg(count(lit(1)).as("intra_directed"))
    val degsq = deg
      .join(labels.select(col("node").as("src"), col("lbl")), "src")
      .groupBy("lbl").agg(sum(col("deg")).as("dsum"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("dsum") * col("dsum")).as("degsq_sum"))
    val ecnt = edges.agg(count(lit(1)).as("e_directed"))
    degsq.crossJoin(broadcast(ecnt)).crossJoin(broadcast(intra))
      .select(col("n_communities"), col("e_directed"),
        col("intra_directed"), col("degsq_sum"),
        round((dbl(col("e_directed")) * dbl(col("intra_directed"))
            - dbl(col("degsq_sum")))
          / (dbl(col("e_directed")) * dbl(col("e_directed"))), 6)
          .as("modularity"))
  }

  /** Oracle twin of [[modularity]] — gr7's CTE chain + the exact
    * integer modularity aggregates.
    */
  def modularityOracleSql(minSupport: Int = 2, rounds: Int = 4): String =
    s"""WITH ${labelPropCtes(minSupport, rounds)},
       |lp AS (SELECT node, lbl FROM l$rounds),
       |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY 1),
       |intra AS (SELECT CAST(count(*) AS BIGINT) AS intra_directed
       |  FROM edges e JOIN lp a ON e.src = a.node
       |  JOIN lp b ON e.dst = b.node WHERE a.lbl = b.lbl),
       |dc AS (SELECT l.lbl, CAST(sum(d.deg) AS BIGINT) AS dsum
       |  FROM dg d JOIN lp l ON d.src = l.node GROUP BY 1),
       |agg2 AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |  CAST(sum(dsum * dsum) AS BIGINT) AS degsq_sum FROM dc),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS e_directed FROM edges)
       |SELECT agg2.n_communities, m.e_directed, intra.intra_directed,
       |  agg2.degsq_sum,
       |  round((CAST(m.e_directed AS DOUBLE)
       |      * CAST(intra.intra_directed AS DOUBLE)
       |      - CAST(agg2.degsq_sum AS DOUBLE))
       |    / (CAST(m.e_directed AS DOUBLE)
       |      * CAST(m.e_directed AS DOUBLE)), 6) AS modularity
       |FROM agg2, m, intra""".stripMargin

  // --- GR8: k-core decomposition (the k-core subgraph) — iterative
  // peeling: repeatedly drop nodes with degree < k until the
  // remaining subgraph is stable; what survives is the graph's
  // cohesive backbone (every member has ≥ k neighbors INSIDE the
  // core), the standard denoising step before community/influence
  // analysis and a different lens than gr2's triangles or gr7's
  // labels. Runs on the support-thresholded basket graph. Each round
  // is one degree hash-agg + two semi-joins (keep-set on both edge
  // endpoints); peeling is MONOTONE (edges only shrink), so an
  // unchanged edge count is an unchanged edge set. All-integer, so the
  // surviving (node, core degree) relation hash-oracles. ---
  def kCore(s: SparkSession, d: String, k: Int = 3,
            minSupport: Int = 2, maxIter: Int = 12): DataFrame = {
    val (edges0, nEdges0, parts) =
      iterRelation(bothWays(supportedEdges(s, d, minSupport)), "src")
    // the measure is the edge count, and round 0's is iterRelation's
    Rounds.fixpoint("k-core peeling", parts, maxIter, edges0, nEdges0)(
        rows = identity, measure = _.count()) { (edges, nEdges, _) =>
      val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("node"))
        .localCheckpoint() // shared subplan: both semi-joins read it
      // the keep set never exceeds the previous round's edge count
      val kside = guardedBroadcast(keep, nEdges)
      edges
        .join(kside.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(kside.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
    }.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .orderBy("node")
  }

  /** Oracle twin of [[kCore]]: the peeling rounds unrolled. */
  def kCoreOracleSql(k: Int = 3, minSupport: Int = 2,
                     iters: Int = 12): String = {
    val rs = (1 to iters).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT src AS node FROM e${i - 1}
         |  GROUP BY src HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON e.src = a.node
         |  JOIN k$i b ON e.dst = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |pr AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b
       |  ON a.ok = b.ok AND a.pk < b.pk),
       |s0 AS MATERIALIZED (SELECT pa, pb FROM pr GROUP BY pa, pb
       |  HAVING count(*) >= $minSupport),
       |e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM s0
       |  UNION ALL SELECT pb, pa FROM s0),
       |$rs
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM e$iters GROUP BY 1 ORDER BY node""".stripMargin
  }

  // --- GR9: link prediction by common-neighbor / Jaccard scoring —
  // rank the node pairs most likely to become edges: for non-adjacent
  // (a, c), cn = |Γ(a) ∩ Γ(c)| and jaccard = cn / (deg_a + deg_c −
  // cn), the classic neighborhood-overlap predictors [Liben-Nowell &
  // Kleinberg, 2003] — "products that SHOULD co-sell but don't yet",
  // the recommendation primitive one step past gr3's observed support.
  // One wedge join through the shared neighbor (the gr2 shape — the
  // support threshold keeps wedge fan-out bounded), an anti-join to
  // drop existing edges, exact integer counts, and a 6-decimal
  // Jaccard with (cn DESC, pair) ordering — fully hash-oracled. ---
  def linkPrediction(s: SparkSession, d: String, minSupport: Int = 2,
                     topK: Int = 25): DataFrame = {
    val e0 = supportedEdges(s, d, minSupport)
    // shared subplan: each read of the bare filter rescans basket_pairs
    val edges = bothWays(e0).localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val wedges = edges.as("x").join(edges.as("y"),
        col("x.dst") === col("y.src") && col("x.src") < col("y.dst"))
      .select(col("x.src").as("a"), col("y.dst").as("c"))
    val cand = wedges.groupBy("a", "c").agg(count(lit(1)).as("cn"))
      .join(e0.select(col("pa").as("a"), col("pb").as("c")),
        Seq("a", "c"), "left_anti")
    cand
      .join(deg.select(col("src").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("src").as("c"), col("deg").as("deg_c")), "c")
      .select(col("a"), col("c"), col("cn"),
        round(col("cn").cast("double")
          / (col("deg_a") + col("deg_c") - col("cn")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("cn").desc, col("a").asc, col("c").asc)
      .limit(topK)
  }

  /** Oracle twin of [[linkPrediction]] — identical wedge/anti-join/
    * degree chain.
    */
  def linkPredictionOracleSql(minSupport: Int = 2, topK: Int = 25): String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |pr AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b
       |  ON a.ok = b.ok AND a.pk < b.pk),
       |e0 AS MATERIALIZED (SELECT pa, pb FROM pr GROUP BY pa, pb
       |  HAVING count(*) >= $minSupport),
       |edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0
       |  UNION ALL SELECT pb, pa FROM e0),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY 1),
       |wg AS (
       |  SELECT x.src AS a, y.dst AS c, CAST(count(*) AS BIGINT) AS cn
       |  FROM edges x JOIN edges y ON x.dst = y.src AND x.src < y.dst
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT w.a, w.c, w.cn FROM wg w
       |  WHERE NOT EXISTS (SELECT 1 FROM e0
       |                    WHERE e0.pa = w.a AND e0.pb = w.c))
       |SELECT cd.a, cd.c, cd.cn,
       |  round(CAST(cd.cn AS DOUBLE)
       |        / CAST(da.deg + dc.deg - cd.cn AS DOUBLE), 6) AS jaccard
       |FROM cand cd
       |JOIN deg da ON da.src = cd.a
       |JOIN deg dc ON dc.src = cd.c
       |ORDER BY cd.cn DESC, cd.a ASC, cd.c ASC LIMIT $topK""".stripMargin

  /** The SUPPORT-THRESHOLDED basket graph: part pairs co-purchased in
    * at least `minSupport` distinct orders. On uniform purchase data
    * the raw pair graph is noise-dense (sf0.1: 1.196M edges, nearly
    * all support-1 coincidences) while the thresholded signal graph
    * SATURATES (~3.5k edges at every measured SF) — thresholding is
    * both the standard market-basket practice and what keeps
    * triangle counting output-meaningful and near-constant-cost as
    * the corpus grows: the expensive part (the support count) is one
    * bounded per-basket self-join + hash-agg, linear in baskets.
    */
  private[graft] def supportedEdges(s: SparkSession, d: String,
                                    minSupport: Int): DataFrame =
    graft.sources.GraphIndex.basketPairCounts(s, d)
      .filter(col("pair_n") >= minSupport)
      .select("pa", "pb")

  /** The symmetric closure of an undirected (pa, pb) edge set: each
    * edge in both orientations, as (src, dst).
    */
  private def bothWays(und: DataFrame): DataFrame =
    und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(und.select(col("pb").as("src"), col("pa").as("dst")))

  /** Inline (index-free) twin of [[supportedEdges]] — kept for
    * GraphIndexSpec's bit-transparency assertion.
    */
  private[graft] def supportedEdgesInline(s: SparkSession, d: String,
                                          minSupport: Int): DataFrame = {
    val op = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    pairRowsOf(op).groupBy("pa", "pb").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
      .select("pa", "pb")
  }

  // --- GR2: triangle counting, degree-oriented, over the support-
  // thresholded basket graph (min co-purchase support 2 — see
  // [[supportedEdges]] for why raw support-1 edges are noise). The
  // naive wedge join explodes on hub nodes (a part in f baskets
  // contributes f² wedges); the classic fix (Schank–Wagner /
  // Suri–Vassilvitskii's MR version) orients every edge from the
  // (degree, id)-smaller endpoint to the larger, bounding out-degree
  // by O(√m), so the wedge relation is near-linear in edges. Wedges =
  // oriented⋈oriented on the common low node; each wedge is closed by
  // an equi-join back to the edge set. Every triangle is counted
  // exactly once (its unique degree-ordering). Output is one audit
  // row (nodes, edges, triangles) — the clustering shape of the
  // co-purchase signal graph. ---
  def triangleCount(s: SparkSession, d: String, minSupport: Int = 2): DataFrame = {
    val und = supportedEdges(s, d, minSupport)
    val (deg, closed) = orientedTriangles(und)
    deg.agg(count(lit(1)).as("n_nodes")).crossJoin(
        und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** GR2/GR17's shared degree-oriented triangle machinery
    * (Schank–Wagner / Suri–Vassilvitskii): given the canonical
    * undirected edge set (pa < pb),
    * returns (degree relation, triangle relation). Orientation runs
    * every edge from its (deg, id)-smaller endpoint, bounding
    * out-degree by O(√m) so the wedge self-join is near-linear in
    * edges; wedges (hi1, hi2 canonicalized by id order) are closed by
    * ONE equi semi-join against the canonical edge set (an OR over
    * both orientations would degrade to a nested-loop). The output has
    * exactly one row per triangle — its unique degree-ordering — as
    * (v0, w1, w2) with v0 the (deg, id)-smallest corner, so gr2 can
    * count rows and gr17 can credit corners, off the SAME definition.
    */
  private def orientedTriangles(und: DataFrame): (DataFrame, DataFrame) = {
    val deg = und.select(col("pa").as("n"))
      .unionByName(und.select(col("pb").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): lo = smaller endpoint under the total order
    val e = und
      .join(deg.withColumnRenamed("n", "pa").withColumnRenamed("deg", "da"), "pa")
      .join(deg.withColumnRenamed("n", "pb").withColumnRenamed("deg", "db"), "pb")
    val before = col("da") < col("db") ||
      (col("da") === col("db") && col("pa") < col("pb"))
    val oriented = e.select(
        when(before, col("pa")).otherwise(col("pb")).as("lo"),
        when(before, col("pb")).otherwise(col("pa")).as("hi"))
      .localCheckpoint() // shared subplan: both wedge self-join sides
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.lo") === col("y.lo") && col("x.hi") < col("y.hi"))
      .select(col("x.lo").as("v0"), col("x.hi").as("w1"), col("y.hi").as("w2"))
    // semi keeps each wedge row at most once; two wedges closing the
    // same (w1, w2) from different v0's are different triangles and
    // stay distinct rows
    (deg, wedges.join(und,
      col("w1") === col("pa") && col("w2") === col("pb"), "left_semi"))
  }

  // --- GR17: per-node LOCAL CLUSTERING COEFFICIENT (Watts–Strogatz)
  // over the same support-thresholded graph — lcc(v) =
  // 2·t(v)/(deg(v)·(deg(v)−1)), the node-level texture GR2's single
  // global count averages away (a node in one dense clique scores 1.0;
  // a same-degree broker bridging communities scores ≈ 0). Triangle
  // enumeration is GR2's [[orientedTriangles]] helper — ONE shared
  // definition (one row per triangle, O(√m) out-degree bound), so a
  // tie-break change can never silently strand one of the two hash
  // oracles; each triangle is
  // credited to its three corners by a 3-array explode — integer
  // counts all the way, one identical-in-both-engines division per
  // output row, bounded top-K presentation. ---
  def localClustering(s: SparkSession, d: String, minSupport: Int = 2,
                      topK: Int = 20): DataFrame = {
    // shared subplan: each read of the bare filter rescans basket_pairs
    val und = supportedEdges(s, d, minSupport).localCheckpoint()
    val (deg, closed) = orientedTriangles(und)
    val perNode = closed
      .select(explode(array(col("v0"), col("w1"), col("w2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("n"), "left_outer")
      .select(col("n").as("part"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("tri"), lit(0L)).cast("double")
          / (col("deg").cast("double") * (col("deg").cast("double") - 1.0)),
          4).as("lcc"))
      .orderBy(col("lcc").desc, col("deg").desc, col("part").asc)
      .limit(topK)
  }

  // --- GR18: RICH-CLUB coefficient — do high-degree parts co-purchase
  // preferentially with EACH OTHER? φ(k) = 2·E_k / (N_k·(N_k−1)) over
  // the subgraph induced by nodes with degree > k, for a fixed k
  // ladder [Colizza et al., Nat. Phys. 2006] — the hub-interconnection
  // diagnostic gr10's assortativity summarizes to one number and this
  // resolves into a curve. Shape: the degree relation and one
  // edge-with-degrees join (gr2's first stage), each exploded over the
  // BOUNDED k ladder — integer counts per k, one final per-row
  // division; zero-node rungs report φ = 0 on both engines rather
  // than a null-vs-NaN divergence. ---
  def richClub(s: SparkSession, d: String, minSupport: Int = 2,
               ks: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    // shared subplan: each read of the bare filter rescans basket_pairs
    val und = supportedEdges(s, d, minSupport).localCheckpoint()
    val deg = und.select(col("pa").as("n"))
      .unionByName(und.select(col("pb").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val ksCol = array(ks.map(lit): _*)
    val e = und
      .join(deg.withColumnRenamed("n", "pa").withColumnRenamed("deg", "da"), "pa")
      .join(deg.withColumnRenamed("n", "pb").withColumnRenamed("deg", "db"), "pb")
    val ek = e.select(explode(ksCol).as("k"), col("da"), col("db"))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    val nk = deg.select(explode(ksCol).as("k"), col("deg"))
      .filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val base = s.range(1).select(explode(ksCol).as("k"))
    base.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi", when(col("n_nodes") >= 2,
        round(lit(2.0) * col("n_edges").cast("double")
          / (col("n_nodes").cast("double")
            * (col("n_nodes").cast("double") - 1.0)), 6))
        .otherwise(lit(0.0)))
      .orderBy("k")
  }

  // --- GR19: DEGREE-CORRELATION curve — the edge-weighted average
  // neighbor degree knn(k) = (Σ_{v: deg v = k} Σ_{u∈N(v)} deg u)
  // / (k·n_k) per degree class k [Pastor-Satorras et al., PRL 2001 —
  // the edge-weighted form, chosen over the node-averaged one
  // because it keeps BOTH sums exact integers until one final
  // division]. Rising knn(k) = assortative wiring (hubs prefer
  // hubs), falling = disassortative; gr10's single coefficient is
  // this curve's correlation summary, gr18's rich-club its top-end
  // zoom. Shape: the undirected edge list doubled into incidence
  // (bounded ×2), two degree joins, one hash-agg per degree class —
  // the output is degree-domain-sized, never edge-sized. ---
  def neighborDegree(s: SparkSession, d: String,
                     minSupport: Int = 2): DataFrame = {
    // shared subplan: each read of the bare filter rescans basket_pairs
    val und = supportedEdges(s, d, minSupport).localCheckpoint()
    val deg = und.select(col("pa").as("n"))
      .unionByName(und.select(col("pb").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val inc = und.select(col("pa").as("v"), col("pb").as("u"))
      .unionByName(und.select(col("pb").as("v"), col("pa").as("u")))
    val perNode = inc
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
      .groupBy("v").agg(sum(col("du")).as("snd"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "k"), "v")
    perNode.groupBy("k")
      .agg(count(lit(1)).as("n_nodes"), sum(col("snd")).as("sum_nbr_deg"))
      .select(col("k"), col("n_nodes"),
        round(col("sum_nbr_deg").cast("double")
          / (col("k").cast("double") * col("n_nodes").cast("double")), 6)
          .as("knn"))
      .orderBy("k")
  }

  /** Oracle twin of [[neighborDegree]] — same incidence doubling,
    * degree joins, and edge-weighted division.
    */
  def neighborDegreeOracleSql(minSupport: Int = 2): String =
    s"""WITH op AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT pa, pb FROM (
       |    SELECT a.pk AS pa, b.pk AS pb, count(*) AS n
       |    FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |    GROUP BY 1, 2)
       |  WHERE n >= $minSupport),
       |deg AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM
       |    (SELECT pa AS n FROM und UNION ALL SELECT pb FROM und)
       |  GROUP BY 1),
       |inc AS (
       |  SELECT pa AS v, pb AS u FROM und
       |  UNION ALL
       |  SELECT pb AS v, pa AS u FROM und),
       |pn AS (
       |  SELECT inc.v, CAST(sum(du.dg) AS BIGINT) AS snd
       |  FROM inc JOIN deg du ON du.n = inc.u
       |  GROUP BY inc.v)
       |SELECT dv.dg AS k, CAST(count(*) AS BIGINT) AS n_nodes,
       |  round(CAST(sum(snd) AS DOUBLE)
       |    / (CAST(dv.dg AS DOUBLE) * CAST(count(*) AS DOUBLE)), 6) AS knn
       |FROM pn JOIN deg dv ON dv.n = pn.v
       |GROUP BY dv.dg ORDER BY k""".stripMargin

  /** Oracle twin of [[richClub]] — gr2's und/deg CTEs, the same
    * k-ladder unnest, counts, and guarded division.
    */
  def richClubOracleSql(minSupport: Int = 2,
                        ks: Seq[Int] = Seq(1, 2, 4, 8)): String = {
    val kList = ks.mkString(", ")
    s"""WITH op AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT pa, pb FROM (
       |    SELECT a.pk AS pa, b.pk AS pb, count(*) AS n
       |    FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |    GROUP BY 1, 2)
       |  WHERE n >= $minSupport),
       |deg AS MATERIALIZED (SELECT n, count(*) AS dg FROM
       |    (SELECT pa AS n FROM und UNION ALL SELECT pb FROM und)
       |  GROUP BY 1),
       |ks AS (SELECT unnest([$kList]) AS k),
       |nk AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM ks JOIN deg ON deg.dg > ks.k GROUP BY k),
       |ek AS (
       |  SELECT k, CAST(count(*) AS BIGINT) AS n_edges
       |  FROM ks JOIN (
       |    SELECT d1.dg AS da, d2.dg AS db
       |    FROM und JOIN deg d1 ON d1.n = und.pa
       |    JOIN deg d2 ON d2.n = und.pb) ed
       |    ON ed.da > ks.k AND ed.db > ks.k
       |  GROUP BY k)
       |SELECT ks.k, coalesce(n_nodes, 0) AS n_nodes,
       |  coalesce(n_edges, 0) AS n_edges,
       |  CASE WHEN coalesce(n_nodes, 0) >= 2 THEN
       |    round(2.0 * CAST(coalesce(n_edges, 0) AS DOUBLE)
       |      / (CAST(n_nodes AS DOUBLE) * (CAST(n_nodes AS DOUBLE) - 1.0)), 6)
       |  ELSE 0.0 END AS phi
       |FROM ks LEFT JOIN nk ON ks.k = nk.k LEFT JOIN ek ON ks.k = ek.k
       |ORDER BY ks.k""".stripMargin
  }

  /** Oracle twin of [[localClustering]] — gr2's edge/orientation CTEs
    * with the wedge anchor kept, corners exploded, same division.
    */
  def localClusteringOracleSql(minSupport: Int = 2, topK: Int = 20): String =
    s"""WITH op AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |und AS MATERIALIZED (
       |  SELECT pa, pb FROM (
       |    SELECT a.pk AS pa, b.pk AS pb, count(*) AS n
       |    FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |    GROUP BY 1, 2)
       |  WHERE n >= $minSupport),
       |deg AS MATERIALIZED (SELECT n, count(*) AS dg FROM
       |    (SELECT pa AS n FROM und UNION ALL SELECT pb FROM und)
       |  GROUP BY 1),
       |oriented AS MATERIALIZED (
       |  SELECT CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND pa < pb)
       |              THEN pa ELSE pb END AS lo,
       |         CASE WHEN d1.dg < d2.dg OR (d1.dg = d2.dg AND pa < pb)
       |              THEN pb ELSE pa END AS hi
       |  FROM und JOIN deg d1 ON d1.n = und.pa JOIN deg d2 ON d2.n = und.pb),
       |closed AS (
       |  SELECT x.lo AS v0, x.hi AS w1, y.hi AS w2
       |  FROM oriented x JOIN oriented y ON x.lo = y.lo AND x.hi < y.hi
       |  WHERE EXISTS (SELECT 1 FROM und WHERE pa = x.hi AND pb = y.hi)),
       |pn AS (SELECT unnest([v0, w1, w2]) AS n FROM closed),
       |tc AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM pn GROUP BY 1)
       |SELECT d.n AS part, CAST(d.dg AS BIGINT) AS deg,
       |  CAST(coalesce(tri, 0) AS BIGINT) AS n_triangles,
       |  round(2.0 * CAST(coalesce(tri, 0) AS DOUBLE)
       |    / (CAST(d.dg AS DOUBLE) * (CAST(d.dg AS DOUBLE) - 1.0)), 4)
       |    AS lcc
       |FROM deg d LEFT JOIN tc ON tc.n = d.n
       |WHERE d.dg >= 2
       |ORDER BY lcc DESC, deg DESC, part ASC LIMIT $topK""".stripMargin

  // --- GR3: market-basket pair mining — co-purchase support counts.
  // pair_n = orders containing both parts; a_n / b_n = orders
  // containing each part alone (the ingredients of confidence
  // pair_n/a_n and lift; emitted as exact counts — ratios are the
  // caller's division). One bounded per-basket self-join (same shape
  // as GR2's edge build) + one hash-agg; item counts join in by key.
  // Top 100 by support with full-key tie-break keeps the output
  // stable and small at any scale. ---
  def copurchaseSupport(s: SparkSession, d: String, topK: Int = 100): DataFrame = {
    val op = graft.sources.GraphIndex.basketItems(s, d)
    supportFromCounts(
      graft.sources.GraphIndex.basketPairCounts(s, d),
      op.groupBy("pk").agg(count(lit(1)).as("item_n")),
      topK)
  }

  /** The support computation over any distinct (ok, pk) basket-item
    * relation. The per-basket pair derivation here and the ranked
    * tail in [[supportFromCounts]] are exactly what the streaming
    * index maintains incrementally (Streams.supportIndexMaintainStream
    * publishes the pair rows per batch; its read side aggregates them
    * and enters [[supportFromCounts]] with the same shapes).
    */
  private[graft] def supportFromItems(op: DataFrame, topK: Int): DataFrame = {
    val itemN = op.groupBy("pk").agg(count(lit(1)).as("item_n"))
    val pairN = pairRowsOf(op)
      .groupBy("pa", "pb").agg(count(lit(1)).as("pair_n"))
    supportFromCounts(pairN, itemN, topK)
  }

  /** Per-basket canonical pair rows (pa < pb, one row per basket the
    * pair co-occurs in) of a distinct (ok, pk) relation.
    */
  private[graft] def pairRowsOf(op: DataFrame): DataFrame =
    op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("pa"), col("b.pk").as("pb"),
        col("a.ok").as("ok"))

  /** Ranked support tail over aggregated (pa, pb, pair_n) and
    * (pk, item_n) relations.
    */
  private[graft] def supportFromCounts(pairN: DataFrame, itemN: DataFrame,
                                       topK: Int): DataFrame =
    pairN
      .join(itemN.select(col("pk").as("pa"), col("item_n").as("a_n")), "pa")
      .join(itemN.select(col("pk").as("pb"), col("item_n").as("b_n")), "pb")
      .select("pa", "pb", "pair_n", "a_n", "b_n")
      .orderBy(col("pair_n").desc, col("pa").asc, col("pb").asc)
      .limit(topK)

  // --- GR12: HITS hubs & authorities — on the bipartite
  // customer→supplier trade graph the two sides of the mutual
  // endorsement: a good hub (customer) buys from good authorities
  // (suppliers), a good authority is bought from by good hubs
  // [Kleinberg 1999]. Each half-step is one edges⋈scores join + one
  // hash-agg (gr1's message-passing shape); the L1 normalization that
  // keeps power iteration from overflowing runs in INTEGER fixed
  // point: score ← raw div (total div SCALE), all positive, so
  // Spark's `div` and DuckDB's `//` agree bit-for-bit and the oracle
  // replays the identical unrolled chain. Fixed iteration budget like
  // gr1 (deterministic fixed-point iteration; at corpus scale an
  // iteration budget is what a scheduler allocates anyway). ---
  def hits(s: SparkSession, d: String,
           iters: Int = 4, scale: Long = 1000000000L): DataFrame = {
    // tradeEdges' node encoding (cust·2 / supp·2+1): the raw key
    // spaces overlap numerically, and hub/authority ids must not
    val (e, _, parts) =
      iterRelation(graft.sources.GraphIndex.tradeEdges(s, d), "src")
    def normalize(raw: DataFrame): DataFrame = {
      val tot = raw.agg(sum(col("raw")).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("node"), expr("raw div (tot div " + scale + "L)").as("score"))
    }
    val h0 = e.select(col("src").as("node")).distinct()
      .withColumn("score", lit(scale))
    val nH = h0.count()
    val nA = e.select(col("dst").as("node")).distinct().count()
    // half-round i: even i scores authorities from hubs, odd i hubs
    // from authorities; 2·iters − 1 half-rounds end on a_iters, and one
    // more hub half-round gives h_iters
    require(iters >= 1, s"hits needs at least one round, got $iters")
    def half(scores: DataFrame, i: Int): DataFrame =
      if (i % 2 == 0)
        normalize(e.join(guardedBroadcast(scores, nH), e("src") === scores("node"))
          .groupBy(col("dst").as("node")).agg(sum(col("score")).as("raw")))
      else
        normalize(e.join(guardedBroadcast(scores, nA), e("dst") === scores("node"))
          .groupBy(col("src").as("node")).agg(sum(col("score")).as("raw")))
    val stateRows = math.max(nH, nA)
    val a = Rounds.fixed(parts, stateRows, 2 * iters - 1)(h0)(half)
    val h = Rounds.fixed(parts, stateRows, 1)(a)((scores, _) => half(scores, 1))
    h.select(lit("hub").as("kind"), col("node"), col("score"))
      .unionByName(
        a.select(lit("auth").as("kind"), col("node"), col("score")))
      .orderBy("kind", "node")
  }

  def hitsOracleSql(iters: Int = 4, scale: Long = 1000000000L): String = {
    val rounds = (1 to iters).map { i =>
      s"""a${i}raw AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(sum(h.score) AS BIGINT) AS raw
         |  FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
         |a${i}tot AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM a${i}raw),
         |a$i AS MATERIALIZED (
         |  SELECT node, raw // (tot // $scale) AS score
         |  FROM a${i}raw CROSS JOIN a${i}tot),
         |h${i}raw AS MATERIALIZED (
         |  SELECT e.src AS node, CAST(sum(a.score) AS BIGINT) AS raw
         |  FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY 1),
         |h${i}tot AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM h${i}raw),
         |h$i AS MATERIALIZED (
         |  SELECT node, raw // (tot // $scale) AS score
         |  FROM h${i}raw CROSS JOIN h${i}tot)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS (SELECT DISTINCT src AS node, CAST($scale AS BIGINT) AS score
       |  FROM edges),
       |$rounds
       |SELECT 'hub' AS kind, node, score FROM h$iters
       |UNION ALL SELECT 'auth', node, score FROM a$iters
       |ORDER BY kind, node""".stripMargin
  }

  // --- GR11: association rules — gr3's support counts upgraded to
  // directed rules with the two standard strengths: confidence
  // P(b|a) = pair_n/ante_n and lift P(a,b)/(P(a)·P(b)) =
  // pair_n·n_baskets/(ante_n·cons_n). Every count is the exact
  // integer the engines agree on; confidence/lift are per-row double
  // ratios (one identical expression both engines — no cross-row FP).
  // Both rule directions are emitted from each canonical pair, ranked
  // by lift. Shape: the same distinct (basket, item) relation and one
  // pair hash-agg gr3 uses; the basket total is a 1-row agg broadcast
  // by the optimizer. At 100 TB the support threshold bounds the rule
  // relation exactly as it bounds the gr2 graph. ---
  def associationRules(s: SparkSession, d: String,
                       minSupport: Int = 3, topK: Int = 25): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    val op = graft.sources.GraphIndex.basketItems(s, d)
    val itemN = op.groupBy("pk").agg(count(lit(1)).as("item_n"))
    val pairN = graft.sources.GraphIndex.basketPairCounts(s, d)
      .filter(col("pair_n") >= minSupport)
    val baskets = op.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val rules = pairN
      .select(col("pa").as("ante"), col("pb").as("cons"), col("pair_n"))
      .unionByName(pairN.select(col("pb").as("ante"), col("pa").as("cons"),
        col("pair_n")))
    rules
      .join(itemN.select(col("pk").as("ante"), col("item_n").as("ante_n")), "ante")
      .join(itemN.select(col("pk").as("cons"), col("item_n").as("cons_n")), "cons")
      .crossJoin(broadcast(baskets))
      .withColumn("confidence",
        round(dbl(col("pair_n")) / dbl(col("ante_n")), 6))
      .withColumn("lift",
        round(dbl(col("pair_n")) * dbl(col("n_baskets"))
          / (dbl(col("ante_n")) * dbl(col("cons_n"))), 6))
      .orderBy(col("lift").desc, col("confidence").desc,
        col("ante").asc, col("cons").asc)
      .limit(topK)
      .select("ante", "cons", "pair_n", "ante_n", "cons_n",
        "confidence", "lift")
  }

  def associationRulesOracleSql(minSupport: Int = 3, topK: Int = 25): String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |itemn AS (SELECT pk, CAST(count(*) AS BIGINT) AS item_n
       |  FROM op GROUP BY 1),
       |pairn AS (
       |  SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS pair_n
       |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM op),
       |rules AS (
       |  SELECT pa AS ante, pb AS cons, pair_n FROM pairn
       |  UNION ALL SELECT pb, pa, pair_n FROM pairn)
       |SELECT r.ante, r.cons, r.pair_n,
       |  a.item_n AS ante_n, c.item_n AS cons_n,
       |  round(CAST(r.pair_n AS DOUBLE) / CAST(a.item_n AS DOUBLE), 6)
       |    AS confidence,
       |  round(CAST(r.pair_n AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
       |    / (CAST(a.item_n AS DOUBLE) * CAST(c.item_n AS DOUBLE)), 6)
       |    AS lift
       |FROM rules r
       |JOIN itemn a ON r.ante = a.pk
       |JOIN itemn c ON r.cons = c.pk
       |CROSS JOIN nb
       |ORDER BY lift DESC, confidence DESC, ante ASC, cons ASC
       |LIMIT $topK""".stripMargin

  // --- GR10: degree assortativity — does the basket graph wire hubs
  // to hubs (r > 0) or hubs to leaves (r < 0)? The one-number mixing
  // summary [Newman 2002]: Pearson correlation of the degrees at the
  // two ends of every directed edge (each undirected edge counted in
  // both orientations, the standard convention). Relationally it is
  // degrees (one hash agg) joined back onto the edge relation (two
  // keyed equi-joins — a broadcast once the thresholded graph
  // saturates, see supportedEdges), then a26's exact-integer power
  // sums with the same double association, so r is bit-identical
  // across engines. Scale: edges and degrees of the support-
  // thresholded graph grow sublinearly in the corpus (noise pairs are
  // cut); the power sums are one partial+final agg. ---
  def assortativity(s: SparkSession, d: String, minSupport: Int = 2): DataFrame = {
    def dbl(c: Column) = c.cast("double")
    // shared subplan: each read of the bare filter rescans basket_pairs
    val e0 = bothWays(supportedEdges(s, d, minSupport)).localCheckpoint()
    val deg = e0.groupBy("src").agg(count(lit(1)).cast("long").as("deg"))
    e0.join(deg.select(col("src"), col("deg").as("dj")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dk")), "dst")
      .agg(count(lit(1)).cast("long").as("m"),
        sum(col("dj")).as("sj"), sum(col("dk")).as("sk2"),
        sum(col("dj") * col("dj")).as("sjj"),
        sum(col("dj") * col("dk")).as("sjk"),
        sum(col("dk") * col("dk")).as("skk"))
      .withColumn("num",
        dbl(col("m")) * dbl(col("sjk")) - dbl(col("sj")) * dbl(col("sk2")))
      .withColumn("djj",
        dbl(col("m")) * dbl(col("sjj")) - dbl(col("sj")) * dbl(col("sj")))
      .withColumn("dkk",
        dbl(col("m")) * dbl(col("skk")) - dbl(col("sk2")) * dbl(col("sk2")))
      .select(col("m"), col("sj"), col("sjk"),
        round(col("num") / sqrt(col("djj") * col("dkk")), 6).as("r"))
  }

  // --- GR13: closeness centrality for the top-degree hubs —
  // multi-source BFS: the state is (seed, node, dist) for the K
  // highest-degree seeds SIMULTANEOUSLY, one relaxation join per round
  // for ALL seeds (K independent BFS frontiers sharing every shuffle —
  // how a 1000-executor cluster amortizes landmark selection, vs K
  // sequential sweeps). Seeds are chosen relationally (top-K by
  // (degree DESC, node ASC) — no driver-side collect); distances are
  // exact integers under gr4's min-plus monotone loop with the
  // sum-convergence read, so the (seed, n_reached, sum_dist) tuple
  // hash-oracles and closeness [Bavelas 1950] is one per-row double:
  // (n_reached − 1) / sum_dist. ---
  def closeness(s: SparkSession, d: String,
                numSeeds: Int = 3, maxIter: Int = 8): DataFrame = {
    val (edges, _, parts) = iterRelation(tradeEdges(s, d), "src")
    val nodes = edges.select(col("src").as("node")).distinct()
    // seed selection is relational (top-K by (deg DESC, node ASC));
    // only the K chosen ids are collected — the sim3 "tiny key set"
    // pattern — so the state can carry one LANDMARK-VECTOR column per
    // seed: every round then joins the edge relation ONCE for all
    // seeds (state and message volume N rows, not K·N — the point of
    // running landmarks together on a cluster).
    val seedIds = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node").asc)
      .limit(numSeeds)
      .collect().map(_.getLong(0))
    val dcols = seedIds.indices.map(i => s"d$i")
    val dist0 = nodes.select(col("node") +: seedIds.zipWithIndex.map {
      case (sid, i) =>
        when(col("node") === sid, 0L).otherwise(HopInf).as(s"d$i")
    }: _*).localCheckpoint() // shared subplan: its count and round 0
    val nNodes = dist0.count() // landmark-vector state: one row per node
    def totalOf(df: DataFrame): Long =
      df.agg(dcols.map(c => sum(col(c))).reduce(_ + _)).head.getLong(0)
    val dist = Rounds.fixpoint("multi-source BFS", parts, maxIter, dist0,
        totalOf(dist0))(rows = _ => nNodes, measure = totalOf) { (dist, _, _) =>
      val dside = guardedBroadcast(dist, nNodes)
      val relaxed = dside.join(edges, dside("node") === edges("src"))
        .select(col("dst").as("node") +:
          dcols.map(c => (col(c) + 1).as(c)): _*)
      dist.unionByName(relaxed)
        .groupBy("node")
        .agg(min(col(dcols.head)).as(dcols.head),
          dcols.tail.map(c => min(col(c)).as(c)): _*)
    }
    // unpivot the K landmark columns back into (seed, …) audit rows
    seedIds.zipWithIndex.map { case (sid, i) =>
      dist.filter(col(s"d$i") < HopInf)
        .agg((count(lit(1)) - 1).as("n_reached"),
          sum(col(s"d$i")).as("sum_dist"))
        .select(lit(sid).as("seed"), col("n_reached"), col("sum_dist"),
          round(col("n_reached").cast("double")
            / col("sum_dist").cast("double"), 6).as("closeness"))
    }.reduce(_ unionByName _)
      .orderBy("seed")
  }

  /** Oracle twin of [[closeness]]: seeds CTE + the seed-keyed min-plus
    * chain unrolled.
    */
  def closenessOracleSql(numSeeds: Int = 3, iters: Int = 8): String = {
    val rounds = (1 to iters).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT seed, node, CAST(min(v) AS BIGINT) AS dist FROM (
         |    SELECT seed, node, dist AS v FROM d${i - 1}
         |    UNION ALL
         |    SELECT r.seed, e.dst, r.dist + 1 FROM d${i - 1} r
         |    JOIN edges e ON e.src = r.node)
         |  GROUP BY seed, node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS MATERIALIZED (SELECT src, dst FROM e0
       |  UNION ALL SELECT dst, src FROM e0),
       |seeds AS (SELECT src AS seed FROM edges
       |  GROUP BY 1 ORDER BY count(*) DESC, seed ASC LIMIT $numSeeds),
       |d0 AS (
       |  SELECT s.seed, n.node,
       |    CAST(CASE WHEN n.node = s.seed THEN 0 ELSE $HopInf END AS BIGINT)
       |      AS dist
       |  FROM (SELECT DISTINCT src AS node FROM edges) n CROSS JOIN seeds s),
       |$rounds
       |SELECT seed, CAST(count(*) - 1 AS BIGINT) AS n_reached,
       |  CAST(sum(dist) AS BIGINT) AS sum_dist,
       |  round(CAST(count(*) - 1 AS DOUBLE) / CAST(sum(dist) AS DOUBLE), 6)
       |    AS closeness
       |FROM d$iters WHERE dist < $HopInf
       |GROUP BY seed ORDER BY seed""".stripMargin
  }

  def assortativityOracleSql(minSupport: Int = 2): String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |pr AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b
       |  ON a.ok = b.ok AND a.pk < b.pk),
       |s0 AS MATERIALIZED (SELECT pa, pb FROM pr GROUP BY pa, pb
       |  HAVING count(*) >= $minSupport),
       |e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM s0
       |  UNION ALL SELECT pb, pa FROM s0),
       |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM e0 GROUP BY 1),
       |j AS (SELECT a.deg AS dj, b.deg AS dk
       |  FROM e0 JOIN dg a ON e0.src = a.src JOIN dg b ON e0.dst = b.src),
       |t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(dj) AS BIGINT) AS sj, CAST(sum(dk) AS BIGINT) AS sk2,
       |    CAST(sum(dj * dj) AS BIGINT) AS sjj,
       |    CAST(sum(dj * dk) AS BIGINT) AS sjk,
       |    CAST(sum(dk * dk) AS BIGINT) AS skk
       |  FROM j)
       |SELECT m, sj, sjk,
       |  round((CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
       |      - CAST(sj AS DOUBLE) * CAST(sk2 AS DOUBLE))
       |    / sqrt((CAST(m AS DOUBLE) * CAST(sjj AS DOUBLE)
       |        - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
       |      * (CAST(m AS DOUBLE) * CAST(skk AS DOUBLE)
       |        - CAST(sk2 AS DOUBLE) * CAST(sk2 AS DOUBLE))), 6) AS r
       |FROM t""".stripMargin
}
