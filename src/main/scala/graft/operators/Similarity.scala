package graft.operators

import graft.Tables
import graft.functions.Vectors
import graft.plans.VectorExpressions.vecCosine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (north-star,
  * SURVEY.md §7.2 M6): brute-force cosine top-k as the exact baseline,
  * random-hyperplane LSH bucketing as the approximate scale path, and
  * exact near-dup pair mining on a keyed subsample.
  *
  * Scale design: brute-force is a broadcast of the (small) query set
  * against a full scan — linear, no shuffle of the corpus. The LSH
  * and IVF variants probe a PERSISTED index (sources.VectorIndex:
  * bucket/cell-sorted parquet, built once per dataset) through
  * pushed-down IN filters, so a query reads only its own buckets —
  * the corpus is never re-bucketed at query time.
  */
object Similarity {

  /** Deterministic seed centroids: the first k corpus vectors, as
    * driver-side literals (k·dim floats — not data-scale). One
    * definition shared by KM1/KM2/IVF so the cell/cluster assignment
    * rule can never drift between the E-step, the M-step, and the
    * index build.
    */
  private def seedCentroids(e: DataFrame, k: Int): Array[(Int, Array[Float])] =
    e.filter(col("vec_id") < k)
      .orderBy("vec_id")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0).toInt,
        r.getSeq[Float](r.fieldIndex("embedding")).toArray))

  /** Argmax-by-cosine assignment as a pure codegen'd projection:
    * returns the (sim, neg_cid) struct whose max picks the highest
    * similarity, ties broken to the SMALLER centroid id (max of
    * negated id). `.getField("sim")` / `-getField("neg_cid")` extract
    * the pieces.
    */
  private def bestCentroid(centroids: Array[(Int, Array[Float])],
                           v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_max(array(centroids.map { case (cid, cvec) =>
      struct(
        vecCosine(v, array(cvec.map(lit): _*)).as("sim"),
        lit(-cid).as("neg_cid"))
    }: _*))

  // --- SIM1: brute-force cosine top-k for one query vector.
  // The query row is broadcast; corpus is scanned once, ranked with
  // TakeOrderedAndProject (no full sort). ---
  def cosineTopK(s: SparkSession, d: String,
                 queryId: Long = 0L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(vecCosine(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // --- SIM2: exact most-similar pairs on a keyed subsample (every
  // 5th vector) — the oracle-checkable slice of all-pairs similarity. ---
  def topSimilarPairs(s: SparkSession, d: String,
                      sampleMod: Long = 5L, topN: Int = 20): DataFrame = {
    val e = Tables.embeddings(s, d)
      .filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(vecCosine(col("a.embedding"), col("b.embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)
      .limit(topN)
  }

  // --- DD6: embedding-cosine near-dup pairs — the vector leg of the
  // dedup family (exact on a keyed subsample; at 100 TB the candidate
  // generation comes from the LSH buckets of SIM3 with this same
  // threshold verify). ---
  def embeddingNearDupPairs(s: SparkSession, d: String,
                            threshold: Double = 0.3,
                            sampleMod: Long = 5L): DataFrame = {
    val e = Tables.embeddings(s, d)
      .filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cs", vecCosine(col("a.embedding"), col("b.embedding")))
      .filter(col("cs") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cs"), 4).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  /** M-steps the IVF coarse quantizer trains for (sim4/sim8) — part
    * of the index identity AND of the oracle SQL, which unrolls
    * exactly this many iterations (OracleGen.lloydCtes).
    */
  val IvfLloydIters = 8

  /** km3's training shape — like [[IvfLloydIters]], referenced by BOTH
    * the Spark operator and its OracleGen registration (SparkEntry), so
    * the two sides cannot drift.
    */
  val Km3K = 4
  val Km3Iters = 8

  /** PQ shape (sim12): 4 subspaces × 16 dims, 16-centroid codebooks,
    * 3 Lloyd M-steps each — referenced by BOTH the Spark operator and
    * its OracleGen registration so the two sides cannot drift.
    */
  val PqM = 4
  val PqSubDim = 16
  val PqK = 16
  val PqIters = 3

  // --- SIM4: IVF-style ANN over the PERSISTED cell index. Centroids
  // are LLOYD-TRAINED at index-build time (VectorIndex.lloydCentroids:
  // IvfLloydIters grid-rounded M-steps from the deterministic seeds),
  // and the corpus is assigned to cells ONCE at index-build time
  // (VectorIndex.ivfIndex — one codegen'd projection, trained
  // centroids inlined as literals), not per query. A query computes
  // its nProbe nearest cells (an nq-row projection), collects those
  // few cell ids, and probes the index with an IN filter that prunes
  // at parquet row-group level — at 100 TB each query READS
  // ~nProbe/k of the corpus rather than scanning and re-assigning all
  // of it. Exact cosine re-ranks the probed rows. ---
  def ivfAnn(s: SparkSession, d: String,
             numQueryVecs: Int = 5, k: Int = 3,
             numCells: Int = 16, nProbe: Int = 2): DataFrame = {
    import graft.functions.Vectors.{nearestCellByDot, nearestCellsByDot}
    val e = Tables.embeddings(s, d)
    // trained coarse centroids — a k-row read of the persisted
    // centroid table (training ran once, at build)
    val centroids = graft.sources.VectorIndex.lloydCentroidArrays(
      s, d, numCells, IvfLloydIters)
    def cellOf(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      nearestCellByDot(centroids)(v)
    def cellsOf(v: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
      nearestCellsByDot(centroids, n)(v)

    val idx = graft.sources.VectorIndex.ivfIndex(s, d, numCells,
      s"ivf_lloyd_${numCells}x${IvfLloydIters}t${graft.sources.VectorIndex.LloydTrainCap}")(cellOf)
    val queries = e.filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(cellsOf(col("embedding"), nProbe)).as("probe_cell"))
    // nq × nProbe cell ids — a legitimately tiny driver-side collect
    // that turns the probe into a pushed-down IN scan filter.
    val probeCells = queries.select("probe_cell").distinct()
      .collect().map(_.getInt(0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    idx.filter(col("cell").isin(probeCells.map(Integer.valueOf): _*))
      .join(broadcast(queries),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(vecCosine(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "vec_id", "cos_sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  // --- DD15: semantic (embedding-cluster) dedup — the SemDeDup shape:
  // the Lloyd-TRAINED coarse quantizer bounds the quadratic. Candidate
  // pairs exist only WITHIN a cell of the persisted IVF index (the
  // same index sim4 probes), so the pair join is corpus²/k-ish instead
  // of corpus², and the cell-sorted parquet layout makes the self-join
  // effectively partition-local. Exact cosine verifies candidates; at
  // 100 TB this is the standard embedding-dedup recipe (cluster, then
  // pairwise only inside clusters). Fully oracled: DuckDB replays the
  // training chain + cell assignment + explicit left-assoc dots. ---
  def semanticDedupPairs(s: SparkSession, d: String,
                         threshold: Double = 0.3,
                         numCells: Int = 16): DataFrame = {
    import graft.functions.Vectors.nearestCellByDot
    val cents = graft.sources.VectorIndex.lloydCentroidArrays(
      s, d, numCells, IvfLloydIters)
    val idx = graft.sources.VectorIndex.ivfIndex(s, d, numCells,
      s"ivf_lloyd_${numCells}x${IvfLloydIters}t${graft.sources.VectorIndex.LloydTrainCap}")(nearestCellByDot(cents))
    idx.as("a").join(idx.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cs", vecCosine(col("a.embedding"), col("b.embedding")))
      .filter(col("cs") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cs"), 4).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  // --- SIM9: IVF kNN SELF-join — every vector's top-k neighbors, the
  // kNN-GRAPH builder (the substrate of graph-based dedup, HNSW-style
  // index construction, and cluster refinement). Brute force is
  // corpus² dots; here candidates exist only WITHIN a vector's cell of
  // the persisted Lloyd-trained IVF index (the dd15 candidate shape),
  // so the join is corpus²/cells-ish and cell-local over the
  // cell-sorted parquet; one window per vector ranks its candidate
  // stream (the sim6 ranking shape). nProbe=1 by construction — a
  // production build probes adjacent cells for recall; the shape is
  // unchanged. Fully oracled: DuckDB replays training + assignment +
  // explicit dots + the same (cs DESC, id ASC) rank. ---
  def ivfKnnJoin(s: SparkSession, d: String,
                 k: Int = 3, numCells: Int = 16): DataFrame = {
    import graft.functions.Vectors.nearestCellByDot
    val cents = graft.sources.VectorIndex.lloydCentroidArrays(
      s, d, numCells, IvfLloydIters)
    val idx = graft.sources.VectorIndex.ivfIndex(s, d, numCells,
      s"ivf_lloyd_${numCells}x${IvfLloydIters}t${graft.sources.VectorIndex.LloydTrainCap}")(nearestCellByDot(cents))
    val w = Window.partitionBy(col("a.vec_id"))
      .orderBy(col("cs").desc, col("b.vec_id").asc)
    idx.as("a").join(idx.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cs", vecCosine(col("a.embedding"), col("b.embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        round(col("cs"), 4).as("cos_sim"), col("rnk"))
      .orderBy("vec_id", "rnk")
  }

  // --- SIM5: cosine range search — every vector within a similarity
  // radius of the query (the "find all near neighbors" primitive;
  // top-k's threshold twin). Broadcast query, one corpus scan. ---
  def rangeSearch(s: SparkSession, d: String,
                  queryId: Long = 0L, threshold: Double = 0.25): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cs", vecCosine(col("embedding"), col("q_emb")))
      .filter(col("cs") >= threshold)
      .select(col("vec_id"), col("label"), round(col("cs"), 4).as("cos_sim"))
      .orderBy("vec_id")
  }

  // --- KM1: nearest-centroid assignment (the E-step of k-means /
  // the cell-assignment primitive IVF builds on). Centroids are the
  // first k corpus vectors, inlined as literals — the assignment is
  // a pure codegen'd projection, no join, no shuffle until the final
  // per-cluster rollup. Deterministic argmax: ties break to the
  // smaller centroid id via (sim, -cid) struct ordering. ---
  def nearestCentroid(s: SparkSession, d: String, k: Int = 4): DataFrame =
    clusterAssignments(s, d, k)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("sim")), 4).as("avg_sim"),
        round(min(col("sim")), 4).as("min_sim"))
      .orderBy("cluster")

  /** KM1's E-step as a relation — one row per vector with its nearest
    * seed centroid: (vec_id, label, cluster, sim). Shared by KM1's
    * rollup and dp22's cluster-balanced sampler so the assignment rule
    * cannot drift between the audit and the consumer. Still a pure
    * codegen'd projection (k·dim literal centroids, no join).
    */
  private[graft] def clusterAssignments(s: SparkSession, d: String,
                                        k: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
    val best = bestCentroid(seedCentroids(e, k), col("embedding"))
    e.select(col("vec_id"), col("label"),
      (-best.getField("neg_cid")).as("cluster"),
      best.getField("sim").as("sim"))
  }

  // --- KM2: centroid update (the M-step that completes KM1's E-step
  // into one full Lloyd iteration): re-assign every vector to its
  // nearest centroid with the same literal-inlined argmax projection
  // as KM1, then recompute each centroid as the per-dimension mean of
  // its members. posexplode turns (cluster, vec[dim]) into (cluster,
  // dim, v) rows so the mean is ONE hash-agg keyed by (cluster, dim) —
  // k·dim cells, partial-aggregated map-side; nothing but the k·dim
  // result ever leaves the executors, which is why this iterates at
  // 100 TB (each Lloyd round = one scan + one tiny shuffle). ---
  def centroidUpdate(s: SparkSession, d: String, k: Int = 4): DataFrame = {
    val e = Tables.embeddings(s, d)
    val best = bestCentroid(seedCentroids(e, k), col("embedding"))
    e.select((-best.getField("neg_cid")).as("cluster"), col("embedding"))
      .select(col("cluster"), posexplode(col("embedding")))
      .groupBy(col("cluster"), col("pos").cast("int").as("dim"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("col").cast("double")), 4).as("centroid"))
      .orderBy("cluster", "dim")
  }

  // --- KM3: Lloyd convergence audit — the loop that composes KM1's
  // E-step and KM2's M-step into actual k-means training (the
  // componentsFromPairs-style iterate-with-a-guard, applied to the
  // quantizer). Iterations 1..iters-1 run through the PERSISTED
  // trainer (VectorIndex.lloydCentroids — grid-rounded, replay-safe);
  // the query itself executes the FINAL E/M step in-plan and reports,
  // per (cluster, dim): member count, the updated centroid, the shift
  // against the previous iterate, and whether that dimension has
  // reached the float fixed point. The DuckDB oracle unrolls the same
  // iters M-steps as CTEs and hash-matches every column — the
  // convergence claim is cross-engine-verified, not asserted. ---
  def lloydConvergence(s: SparkSession, d: String,
                       k: Int = Km3K, iters: Int = Km3Iters): DataFrame = {
    import graft.functions.Vectors.nearestCellByDot
    require(iters >= 2, "need at least one persisted step plus the reported one")
    val prev = graft.sources.VectorIndex.lloydCentroidArrays(s, d, k, iters - 1)
    val e = Tables.embeddings(s, d)
    import s.implicits._
    val prevDF = (for { c <- 0 until k; i <- prev(c).indices }
      yield (c, i + 1, prev(c)(i))).toDF("cluster", "dim", "prev")
    val step = e.select(nearestCellByDot(prev)(col("embedding")).as("cluster"),
        col("embedding"))
      .select(col("cluster"), posexplode(col("embedding")))
      .groupBy(col("cluster"), (col("pos") + lit(1)).as("dim"))
      .agg(count(lit(1)).as("n"), avg(col("col").cast("double")).as("m"))
    // grid snap exactly as the trainer: floor(avg·1e6 + 0.5)/1e6 → FLOAT
    val snapped = (floor(col("m") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
      .cast("float")
    val centroid = coalesce(snapped, col("prev")) // empty cluster carries over
    // broadcast the RIGHT side: a left-outer BHJ can only build on it
    prevDF.join(broadcast(step), Seq("cluster", "dim"), "left_outer")
      .select(col("cluster"), col("dim"),
        coalesce(col("n"), lit(0L)).as("n_members"),
        centroid.as("centroid"),
        (floor(abs(centroid.cast("double") - col("prev").cast("double"))
          * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("shift"),
        (centroid === col("prev")).as("dim_converged"))
      .orderBy("cluster", "dim")
  }

  // --- SIM6: exact kNN JOIN — top-k neighbors for a whole batch of
  // query vectors in one pass (the batch twin of SIM1). The query set
  // broadcasts; the corpus is scanned once; per-query ranking is a
  // window over the (small) per-query candidate stream. At 100 TB the
  // corpus side stays partition-parallel and nothing but the query
  // batch is replicated. ---
  def knnJoin(s: SparkSession, d: String,
              numQueryVecs: Int = 8, k: Int = 3): DataFrame = {
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.filter(col("vec_id") >= numQueryVecs)
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(vecCosine(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "vec_id", "cos_sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  // --- SIM3: LSH-bucketed ANN over the PERSISTED bucket index — the
  // scale path. Candidates come from hyperplane-sign bucket
  // collisions, exact cosine re-ranks them.
  // MULTI-TABLE LSH (the standard hyperplane-LSH design, same math as
  // MinHash banding): L independent tables of p planes each. A single
  // p=8 table measured 0.00 recall@3 on this corpus (sim8_ann_recall)
  // — near-orthogonal 64-dim data rarely agrees on 8 sign bits — while
  // L tables only need ONE table to collide: P[hit] = 1-(1-s^p)^L.
  // The trade is an L× larger index (one (table,bucket) row per table
  // per vector), the classic LSH space-for-recall exchange.
  // The index is built ONCE (VectorIndex.lshIndex, bkey-sorted
  // parquet); a query reads its own ≤ nq·L bucket rows via a
  // pushed-down IN filter and re-ranks — it never re-buckets the
  // corpus (round 3's 0.28→1.28 s regression was exactly that cost,
  // paid inside every query). Deterministic planes ⇒ identical
  // results to the inline form; the DuckDB oracle (OracleGen.sim3)
  // replays the whole chain, so this is hash-checked, not rows-only. ---
  def lshAnn(s: SparkSession, d: String,
             numQueryVecs: Int = 5, k: Int = 3,
             numTables: Int = 8, planesPerTable: Int = 4,
             dim: Int = 64): DataFrame =
    lshProbe(graft.sources.VectorIndex.lshIndex(
      s, d, numTables, planesPerTable, dim), numQueryVecs, k)

  /** The sim3 probe over ANY lsh-index relation — shared with the
    * incremental base ∪ delta form (sim10) and the metadata-filtered
    * form (sim15), so the paths can never drift. `gate`, when present,
    * is a (vec_id) keep-set semi-joined onto the candidates BEFORE
    * scoring — the candidate stream is already bucket-pruned and
    * small, so the gate costs one keyed semi-join, not a corpus scan.
    */
  private def lshProbe(idx: DataFrame, numQueryVecs: Int, k: Int,
                       gate: Option[DataFrame] = None): DataFrame = {
    val queries = idx.filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("bkey").as("q_bkey"))
    // nq × L probe keys — tiny driver-side collect that becomes the
    // pushed-down IN filter (parquet row-group pruning on sorted bkey).
    val probeKeys = queries.select("q_bkey").distinct()
      .collect().map(_.getLong(0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    val cands = idx
      .filter(col("bkey").isin(probeKeys.map(java.lang.Long.valueOf): _*))
      .join(broadcast(queries),
        col("bkey") === col("q_bkey") && col("vec_id") =!= col("query_id"))
      // a pair can collide in several tables — dedup BEFORE scoring so
      // the cosine runs once per candidate
      .select(col("query_id"), col("vec_id"), col("embedding"), col("q_emb"))
      .dropDuplicates("query_id", "vec_id")
    gate.fold(cands)(g => cands.join(g, Seq("vec_id"), "left_semi"))
      .select(col("query_id"), col("vec_id"),
        round(vecCosine(col("embedding"), col("q_emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "vec_id", "cos_sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  // --- SIM15: metadata-FILTERED ANN — the "vector search with a WHERE
  // clause" every production store must answer (filtered top-k is NOT
  // top-k then filter: a post-filter can return < k or nothing). This
  // is post-filtering at the CANDIDATE level: the LSH bucket probe
  // runs as sim3, then the label keep-set gates candidates before the
  // exact re-rank, so rank k is computed among label-eligible vectors
  // only. At 100 TB the gate is a keyed semi-join against the (tiny,
  // bucket-pruned) candidate stream; a heavily-selective production
  // filter would instead partition the index BY label — same probe,
  // layout-level gate. Fully oracled: DuckDB replays buckets + gate +
  // explicit-dot re-rank. ---
  def lshAnnFiltered(s: SparkSession, d: String,
                     labelValue: Int = 7,
                     numQueryVecs: Int = 5, k: Int = 3,
                     numTables: Int = 8, planesPerTable: Int = 4,
                     dim: Int = 64): DataFrame =
    lshProbe(
      graft.sources.VectorIndex.lshIndex(s, d, numTables, planesPerTable, dim),
      numQueryVecs, k,
      gate = Some(Tables.embeddings(s, d)
        .filter(col("label") === labelValue).select("vec_id")))

  // --- SIM10: incremental ANN index maintenance — the embedding twin
  // of dd17. A batch of new vectors (ids >= max·4/5 + 1) is bucketed
  // ALONE and published as a delta directory; the probe runs over
  // base ∪ delta. Hyperplane bucketing is a pure per-vector function,
  // so the split index is row-identical to the monolithic one — the
  // oracle is literally sim3's (same answer, different physical
  // layout), which hash-proves the equivalence. Per-batch ingest cost
  // scales with the batch; the base is never read-modified-rewritten. ---
  def lshAnnIncremental(s: SparkSession, d: String,
                        numQueryVecs: Int = 5, k: Int = 3,
                        numTables: Int = 8, planesPerTable: Int = 4,
                        dim: Int = 64): DataFrame = {
    val maxId = Tables.embeddings(s, d)
      .agg(max(col("vec_id"))).head.getLong(0)
    val boundary = maxId * 4 / 5 + 1
    val base = graft.sources.VectorIndex.lshIndexBase(
      s, d, boundary, numTables, planesPerTable, dim)
    val delta = graft.sources.VectorIndex.lshIndexDelta(
      s, d, boundary, numTables, planesPerTable, dim)
    lshProbe(base.unionByName(delta), numQueryVecs, k)
  }

  // --- SIM8: ANN recall audit — brute-force top-k truth for the probe
  // queries vs what the LSH-bucket and IVF-probe indexes return: the
  // recall@k gate a pipeline runs on a sample before trusting an
  // approximate index at corpus scale (the vector twin of the DD12
  // dedup audit). Truth is one broadcast crossJoin over the PROBE SET
  // only (queries × corpus, never corpus²), checkpointed because it
  // feeds both method branches. ---
  def annRecallAudit(s: SparkSession, d: String,
                     numQueryVecs: Int = 5, k: Int = 3): DataFrame = {
    val truth = exactTruth(s, d, numQueryVecs, k)
    def recallOf(method: String, approx: DataFrame): DataFrame =
      truth.join(
          approx.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
          Seq("query_id", "vec_id"), "left_outer")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
        .select(lit(method).as("method"), col("n_truth"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"))
    recallOf("ivf", ivfAnn(s, d, numQueryVecs, k))
      .unionByName(recallOf("lsh", lshAnn(s, d, numQueryVecs, k)))
      .orderBy("method")
  }

  /** The brute-force top-k ground truth sim8/sim18 audit against —
    * ONE definition (checkpointed: it feeds every method/probe leg),
    * so two recall audits can never disagree on what "truth" means.
    */
  private def exactTruth(s: SparkSession, d: String,
                         numQueryVecs: Int, k: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
    val queries = e.filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        vecCosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "vec_id")
      .localCheckpoint() // shared subplan: every method or sweep leg joins it
  }

  // --- SIM18: IVF nProbe SWEEP — recall@k as a function of how many
  // cells each query probes: THE tuning curve an ANN deployment reads
  // before fixing nProbe (FAISS's nprobe knob; more probes = more
  // recall = more raw reads, and the curve says where it saturates).
  // sim8 reports one point of this curve; the sweep reuses its exact
  // ground truth (one checkpointed brute-force leg feeds every probe
  // level) and the SAME persisted IVF index — probe sets are nested
  // by construction, so the sweep costs |probes| index probes, never
  // |probes| corpus scans. Integer hit counts; recall must be
  // non-decreasing in nProbe (the spec asserts it). ---
  def ivfProbeSweep(s: SparkSession, d: String,
                    numQueryVecs: Int = 5, k: Int = 3,
                    probes: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    import graft.functions.Vectors.{nearestCellByDot, nearestCellsByDot}
    val truth = exactTruth(s, d, numQueryVecs, k)
    // ONE index probe at the WIDEST sweep setting serves every level:
    // probe sets are nested (nearestCellsByDot returns cells
    // best-first, so a query's np-probe cell set is exactly the first
    // np entries of its maxNp list), and each vector lives in one cell
    // of the index, so tagging every candidate with the POSITION `pr`
    // of the cell that found it makes the np leg the `pr < np` slice
    // of one checkpointed candidate relation. Before, each level ran
    // its own ivfAnn — three index probe joins, three cosine passes,
    // and three driver-side probe-cell collects for one sweep (the
    // sweep's whole point is that levels share everything but the
    // cut). Per-level results are bit-identical: cos_sim is a pure
    // function of (query, vector), so the min over the (single)
    // matching row equals ivfAnn's dropDuplicates pick.
    val numCells = 16
    val centroids = graft.sources.VectorIndex.lloydCentroidArrays(
      s, d, numCells, IvfLloydIters)
    val idx = graft.sources.VectorIndex.ivfIndex(s, d, numCells,
      s"ivf_lloyd_${numCells}x${IvfLloydIters}t${graft.sources.VectorIndex.LloydTrainCap}")(
      nearestCellByDot(centroids))
    val maxNp = probes.max
    val queries = Tables.embeddings(s, d)
      .filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        posexplode(nearestCellsByDot(centroids, maxNp)(col("embedding"))))
      .withColumnRenamed("pos", "pr")
      .withColumnRenamed("col", "probe_cell")
    // nq × maxNp cell ids — the same sanctioned tiny collect ivfAnn
    // does, now once per sweep instead of once per level
    val probeCells = queries.select("probe_cell").distinct()
      .collect().map(_.getInt(0))
    val cand = idx
      .filter(col("cell").isin(probeCells.map(Integer.valueOf): _*))
      .join(broadcast(queries),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("pr")).as("pr"),
        min(round(vecCosine(col("embedding"), col("q_emb")), 4)).as("cos_sim"))
      .localCheckpoint() // shared subplan: one read per probe count
    probes.map { np =>
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      val approx = cand.filter(col("pr") < np)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
      truth.join(
          approx.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
          Seq("query_id", "vec_id"), "left_outer")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
        .select(lit(np).as("n_probe"), col("n_truth"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_truth"), 4)
            .as("recall"))
    }.reduce(_ unionByName _)
      .orderBy("n_probe")
  }

  // --- SIM19: MATRYOSHKA DIMENSION SWEEP — recall@k of
  // PREFIX-dimension cosine retrieval against the full-width truth at
  // dims 16/32/64: the calibration curve adaptive-retrieval serving
  // reads before picking a truncation (MRL-style embeddings pack most
  // signal into prefixes; the sweep measures what THESE embeddings
  // lose at each cut — at serving a 16-dim prefix scan reads a
  // quarter of the bytes). dims' last entry = the full width is a
  // built-in self-check: that leg IS the truth, recall exactly 1.
  // One checkpointed truth leg (sim18's discipline); each prefix leg
  // is the same bounded nq × corpus scan over a narrower slice. ---
  def dimSweepRecall(s: SparkSession, d: String,
                     numQueryVecs: Int = 5, k: Int = 10,
                     dims: Seq[Int] = Seq(16, 32, 64)): DataFrame = {
    val truth = exactTruth(s, d, numQueryVecs, k)
    val e = Tables.embeddings(s, d)
    dims.map { m =>
      val q = e.filter(col("vec_id") < numQueryVecs)
        .select(col("vec_id").as("query_id"),
          slice(col("embedding"), 1, m).as("q_emb"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cs").desc, col("vec_id").asc)
      val leg = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          vecCosine(slice(col("embedding"), 1, m), col("q_emb")).as("cs"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      truth.join(leg, Seq("query_id", "vec_id"), "left_outer")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
        .select(lit(m).as("dim"), col("n_truth"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_truth"), 4)
            .as("recall"))
    }.reduce(_ unionByName _)
      .orderBy("dim")
  }

  // --- SIM7: vector preprocessing audit — L2 norm, max-|x|, and the
  // mean reconstruction error of symmetric int8 quantization
  // (scale = 127/max|x|, level = floor(x·scale + 0.5)). The numbers a
  // pipeline checks before shipping embeddings to a quantized ANN
  // index. Pure per-row projection (no shuffle, no join); the HOF
  // folds run left-to-right over the array in BOTH engines, so the
  // double sums are bit-identical and oracle-exact. floor(x+0.5), not
  // round(): engines disagree on round()'s tie rule, floor doesn't. ---
  def vecQuantizeAudit(s: SparkSession, d: String): DataFrame = {
    val dv = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(s, d)
      .withColumn("dv", dv)
      .withColumn("max_abs_raw",
        array_max(transform(col("dv"), x => abs(x))))
      .withColumn("scale", lit(127.0) / col("max_abs_raw"))
      .select(col("vec_id"), col("label"),
        round(sqrt(aggregate(col("dv"), lit(0.0),
          (acc, x) => acc + x * x)), 4).as("l2_norm"),
        round(col("max_abs_raw"), 6).as("max_abs"),
        round(aggregate(col("dv"), lit(0.0),
          (acc, x) => acc + abs(x - floor(x * col("scale") + lit(0.5))
            / col("scale")))
          / size(col("dv")).cast("double"), 8).as("mean_qerr"))
      .orderBy("vec_id")
  }

  // --- SIM11: MMR diversified top-k — maximal marginal relevance
  // [Carbonell & Goldstein, SIGIR'98]: greedily pick k results
  // maximizing relW·rel(q,c) − divW·max_{s∈picked} sim(c,s), the
  // retrieval-diversification step a RAG / curation pipeline runs on
  // top of plain top-k so near-duplicate hits don't crowd the result.
  // Scale shape: the DISTRIBUTED work is the candidate prune (one
  // corpus scan → top-`poolN` by relevance, TakeOrderedAndProject);
  // the greedy selection then runs as k tiny DataFrame rounds over the
  // bounded pool (poolN rows, poolN² pairwise sims) — O(poolN·k) work
  // independent of corpus size, nothing collected. Relevance and
  // pairwise sims are rounded to 4 decimals first (the sim1/sim2
  // portability contract), so scores live on a coarse lattice and the
  // greedy argmax (ties → smaller vec_id) is engine-exact. ---
  def mmrDiversify(s: SparkSession, d: String, queryId: Long = 0L,
                   poolN: Int = 24, k: Int = 8,
                   relW: Double = 0.7, divW: Double = 0.3): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    val cand = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        round(vecCosine(col("embedding"), col("q_emb")), 4).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(poolN)
      .localCheckpoint() // shared subplan: both sims sides and the pool
    val sims = cand.as("a").join(cand.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        round(vecCosine(col("a.embedding"), col("b.embedding")), 4).as("sim"))
      .localCheckpoint() // shared subplan: every greedy round reads it
    val pool = cand.select(col("vec_id"), col("rel"))
    var sel = pool
      .select(col("vec_id"), col("rel"), lit(0.0).as("score"),
        lit(0).as("pick_order"))
      .limit(0).localCheckpoint() // lineage cut: the union chain's root
    for (i <- 1 to k) {
      val ms = sims.join(sel.select(col("vec_id").as("ib")), Seq("ib"))
        .groupBy(col("ia").as("vec_id")).agg(max(col("sim")).as("maxsim"))
      val pick = pool
        .join(sel.select("vec_id"), Seq("vec_id"), "left_anti")
        .join(ms, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("rel"),
          (lit(relW) * col("rel")
            - lit(divW) * coalesce(col("maxsim"), lit(0.0))).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(1)
        .select(col("vec_id"), col("rel"), col("score"),
          lit(i).as("pick_order"))
      sel = sel.unionByName(pick).localCheckpoint() // lineage cut per round
    }
    sel.select(col("pick_order"), col("vec_id"), col("rel"), col("score"))
      .orderBy("pick_order")
  }

  /** Oracle twin of [[mmrDiversify]]: the greedy argmax chain unrolled
    * to k rounds. Round i's candidate scores LEFT JOIN the max-sim
    * against the picked set s_{i-1} (empty for i=1 → coalesce 0 — the
    * plain relevance argmax), so every round is the same shape. All
    * inputs to the score are 4-decimal-rounded doubles and the weights
    * print exactly (shortest-repr round-trip), so the argmax and the
    * score itself are bit-identical across engines.
    */
  def mmrOracleSql(queryId: Long = 0L, poolN: Int = 24, k: Int = 8,
                   relW: Double = 0.7, divW: Double = 0.3): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT c.vec_id, c.rel,
         |    $relW * c.rel - $divW * coalesce(ms.maxsim, 0.0) AS score
         |  FROM cand c
         |  LEFT JOIN (SELECT ia, max(sim) AS maxsim FROM sims
         |             WHERE ib IN (SELECT vec_id FROM s${i - 1})
         |             GROUP BY ia) ms ON ms.ia = c.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s${i - 1})),
         |s$i AS MATERIALIZED (
         |  SELECT * FROM s${i - 1} UNION ALL
         |  SELECT vec_id, rel, score, CAST($i AS INTEGER) FROM (
         |    SELECT * FROM p$i ORDER BY score DESC, vec_id ASC LIMIT 1))""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = $queryId),
       |cand AS MATERIALIZED (
       |  SELECT b.vec_id, b.embedding,
       |    round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
       |                                 CAST(q.embedding AS DOUBLE[])), 4) AS rel
       |  FROM embeddings b, q WHERE b.vec_id <> $queryId
       |  ORDER BY rel DESC, b.vec_id ASC LIMIT $poolN),
       |sims AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                                 CAST(b.embedding AS DOUBLE[])), 4) AS sim
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |s0 AS (SELECT CAST(NULL AS BIGINT) AS vec_id,
       |         CAST(NULL AS DOUBLE) AS rel, CAST(NULL AS DOUBLE) AS score,
       |         CAST(NULL AS INTEGER) AS pick_order WHERE FALSE),
       |$rounds
       |SELECT pick_order, vec_id, rel, score FROM s$k ORDER BY pick_order""".stripMargin
  }

  // --- SIM12: product-quantization ADC top-k — the FAISS-PQ memory
  // path: every corpus vector is reduced to PqM codebook ids (16
  // bytes → 4 ids here; mSub·log₂ k bits in general) at index-build
  // time (sources.VectorIndex.pqIndex: per-subspace Lloyd codebooks +
  // one codegen argmax-dot encode pass, persisted). A query then
  // never touches raw corpus vectors: it computes its own
  // |Q|·PqM·PqK distance LUT (tiny — broadcast), joins it to the code
  // table on (subspace, code), and the asymmetric-distance score is
  // the LUT-sum over subspaces — reconstructed in a FIXED left-assoc
  // order (s0+s1+s2+s3, one pivoted agg row per (q, vec)) so the
  // double is bit-identical across engines. The in_exact flag joins
  // the brute-force dot top-k (queries × corpus broadcast scan) so
  // the approximation quality itself is hash-oracled. At 100 TB: the
  // scan is over 16-byte codes instead of 256-byte vectors, the LUT
  // join is a broadcast hash join, and the per-query rank is a
  // TakeOrdered-sized window — the standard IVF-PQ recipe minus the
  // coarse stage (compose with sim4's cell probe to add it). ---
  /** Per-query ADC lookup tables: (q_id, lut0..lut{PqM-1}), lut_m =
    * the PqK subspace dots in cid order. Tiny (nq·PqM·PqK doubles) —
    * always broadcast. Each element is the SAME vecDot double the
    * long-format LUT join produced, so every ADC score built from
    * these by element_at is bit-identical to the join+groupBy shape.
    */
  private def queryLuts(s: SparkSession, d: String,
                        numQueryVecs: Int): DataFrame = {
    import graft.plans.VectorExpressions.vecDot
    // one unioned collect for all PqM codebooks (was one driver job
    // per subspace per query construction)
    val books = graft.sources.VectorIndex.pqCodebookArraysAll(
      s, d, PqM, PqK, PqIters, PqSubDim)
    val lutCols = (0 until PqM).map { m =>
      array((0 until PqK).map(cid =>
        vecDot(slice(col("embedding"), m * PqSubDim + 1, PqSubDim),
          array(books(m)(cid).map(f => lit(f)): _*))): _*).as(s"lut$m")
    }
    Tables.embeddings(s, d).filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("q_id") +: lutCols: _*)
  }

  /** LUT-sum over the wide code row in a FIXED left-assoc order
    * (lut0[c0]+lut1[c1]+…), matching the long shape's s0+s1+s2+s3.
    */
  private def adcOfWideCodes: org.apache.spark.sql.Column =
    (0 until PqM).map(m =>
      element_at(col(s"lut$m"), col(s"c$m") + 1)).reduceLeft(_ + _)

  /** The compressed-domain scoring shared by sim12 and sim16: per
    * (query, indexed vector) the ADC score. Round-9 shape: the wide
    * code table ([[graft.sources.VectorIndex.pqIndexWide]]) scans
    * once with the broadcast [[queryLuts]] — NO shuffle; the former
    * (vec_id, m) LUT join + groupBy reconstitution shuffled PqM× the
    * corpus rows per sweep. Returns (q_id, vec_id, adc), bit-identical
    * doubles to the long shape (same vecDot elements, same left-assoc
    * sum order).
    */
  private[operators] def adcScores(s: SparkSession, d: String,
                                   numQueryVecs: Int): DataFrame =
    graft.sources.VectorIndex
      .pqIndexWide(s, d, PqM, PqK, PqIters, PqSubDim)
      .filter(col("vec_id") >= numQueryVecs)
      .crossJoin(broadcast(queryLuts(s, d, numQueryVecs)))
      .select(col("q_id"), col("vec_id"), adcOfWideCodes.as("adc"))

  def pqAdcTopK(s: SparkSession, d: String,
                numQueryVecs: Int = 5, k: Int = 3): DataFrame = {
    import graft.plans.VectorExpressions.vecDot
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < numQueryVecs)
    val scored = adcScores(s, d, numQueryVecs)
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val top = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    val qe = q.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val we = Window.partitionBy("q_id")
      .orderBy(col("xdot").desc, col("vec_id").asc)
    val exactTop = e.filter(col("vec_id") >= numQueryVecs)
      .crossJoin(broadcast(qe))
      .select(col("q_id"), col("vec_id"),
        vecDot(col("q_emb"), col("embedding")).as("xdot"))
      .withColumn("xrk", row_number().over(we))
      .filter(col("xrk") <= k)
      .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    // the exact leg is TakeOrdered-sized (nq·k rows) but sits behind a
    // window, so stats can't prove it small — hint the broadcast
    top.join(broadcast(exactTop), Seq("q_id", "vec_id"), "left_outer")
      .select(col("q_id"), col("vec_id"), col("rk"),
        round(col("adc"), 6).as("adc"),
        coalesce(col("hit"), lit(0)).as("in_exact"))
      .orderBy("q_id", "rk")
  }

  // --- SIM17: PQ RECALL AUDIT — recall@k of the compressed-domain
  // ADC ranking against the exact-dot ground truth, per query: sim8
  // runs this gate for the LSH and IVF indexes; this is the same
  // acceptance test for the PQ family (FAISS benchmarks report
  // exactly this curve), and sim12's per-row in_exact flag rolled up
  // to the per-query fraction a pipeline thresholds on. recall@k =
  // |ADC top-k ∩ exact top-k| / k — integer intersection counts, so
  // the audit is hash-exact where a score-error metric would be
  // FP-fragile. Shape: the ADC leg reads 16-byte codes; the exact leg
  // is the one full-width scan ground truth irreducibly costs (run
  // rarely, on a sampled query set — here the 5 fixed query vectors);
  // both rank windows are per-query TakeOrdered-sized. ---
  def pqRecallAudit(s: SparkSession, d: String,
                    numQueryVecs: Int = 5, k: Int = 10): DataFrame = {
    import graft.plans.VectorExpressions.vecDot
    val e = Tables.embeddings(s, d)
    val wa = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val approx = adcScores(s, d, numQueryVecs)
      .withColumn("rk", row_number().over(wa))
      .filter(col("rk") <= k)
      .select("q_id", "vec_id")
    val qe = e.filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val we = Window.partitionBy("q_id")
      .orderBy(col("xdot").desc, col("vec_id").asc)
    val exact = e.filter(col("vec_id") >= numQueryVecs)
      .crossJoin(broadcast(qe))
      .select(col("q_id"), col("vec_id"),
        vecDot(col("q_emb"), col("embedding")).as("xdot"))
      .withColumn("xrk", row_number().over(we))
      .filter(col("xrk") <= k)
      .select("q_id", "vec_id")
    val hits = approx.join(exact, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    qe.select("q_id").join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        lit(k).as("k"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double")
          / lit(k.toDouble), 4).as("recall"))
      .orderBy("q_id")
  }

  /** The single-query retrieve-then-refine leg sr1's hybrid fusion
    * uses as its vector side: the codes-only ADC scan nominates an
    * `adcShort` shortlist for query vector 0, an exact-dot rerank of
    * ONLY those rows ranks the top `r` — sim16's two-stage shape,
    * reduced to one query and returned as the (doc_id, r_vec) rank
    * relation a rank-fusion combiner consumes (vec_id ≡ doc_id in
    * this corpus). Raw embeddings are touched for adcShort rows, not
    * the corpus — the difference between this and sim14's exact
    * cosine leg IS sr1's reason to exist.
    */
  private[graft] def refinedLeg(s: SparkSession, d: String,
                                r: Int, adcShort: Int): DataFrame = {
    import graft.plans.VectorExpressions.vecDot
    val ws = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val short = adcScores(s, d, 1)
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= adcShort)
      .select("q_id", "vec_id")
    val e = Tables.embeddings(s, d)
    val qe = e.filter(col("vec_id") < 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wr = Window.partitionBy("q_id")
      .orderBy(col("xdot").desc, col("vec_id").asc)
    e.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qe), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        vecDot(col("q_emb"), col("embedding")).as("xdot"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= r)
      .select(col("vec_id").as("doc_id"), col("rk").cast("int").as("r_vec"))
  }

  // --- SIM16: two-stage retrieve-then-refine — the serving pattern
  // FAISS ships as IndexRefineFlat: the compressed-domain ADC scan
  // (sim12's scoring, 16-byte codes) nominates a SHORTLIST of R ≫ k
  // candidates per query, and only those R rows ever touch a raw
  // embedding — an exact-dot rerank picks the final top-k. Fixes PQ's
  // rank inversions near the decision boundary at the cost of R raw
  // reads per query instead of |corpus|. Shape at 100 TB: stage one
  // reads codes only; the shortlist (nq·R keys) broadcasts into the
  // corpus scan — a broadcast semi-probe, never a second full-width
  // pass; the rerank window is TakeOrdered-sized. `srk` (the ADC rank)
  // and `reordered` make the refinement itself auditable — a hash
  // oracle on rank CHANGES, not just membership. ---
  def pqRefineTopK(s: SparkSession, d: String, numQueryVecs: Int = 5,
                   k: Int = 3, shortlist: Int = 12): DataFrame = {
    import graft.plans.VectorExpressions.vecDot
    val e = Tables.embeddings(s, d)
    val ws = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val short = adcScores(s, d, numQueryVecs)
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select("q_id", "vec_id", "srk")
    val qe = e.filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val rer = e.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qe), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), col("srk"),
        vecDot(col("q_emb"), col("embedding")).as("xdot"))
    val wr = Window.partitionBy("q_id")
      .orderBy(col("xdot").desc, col("vec_id").asc)
    rer.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk").cast("int").as("rk"),
        col("srk").cast("int").as("srk"),
        round(col("xdot"), 6).as("dot"),
        (col("rk") =!= col("srk")).as("reordered"))
      .orderBy("q_id", "rk")
  }

  // --- SIM13: IVF-PQ — the complete FAISS recipe: sim4's coarse cell
  // probe bounds WHICH vectors are scored (a pushed-down IN scan over
  // the cell-sorted index — ~nProbe/numCells of the corpus), sim12's
  // PQ codes bound WHAT is read per vector (mSub code ids, never the
  // raw embedding). At 100 TB this is the memory-and-IO shape vector
  // search actually ships with: coarse quantizer prunes the scan,
  // product codes compress it, the query's LUT turns scoring into
  // additions. (Classic IVF-PQ encodes residuals against the coarse
  // centroid; this variant codes raw vectors — the LUT is then
  // cell-independent, which is what lets ONE broadcast LUT serve all
  // probed cells.) Candidates follow sim4's convention: every indexed
  // vector in a probed cell except the query itself. ---
  def ivfPqTopK(s: SparkSession, d: String,
                numQueryVecs: Int = 5, k: Int = 3,
                numCells: Int = 16, nProbe: Int = 2): DataFrame = {
    import graft.functions.Vectors.{nearestCellByDot, nearestCellsByDot}
    val e = Tables.embeddings(s, d)
    val centroids = graft.sources.VectorIndex.lloydCentroidArrays(
      s, d, numCells, IvfLloydIters)
    val idx = graft.sources.VectorIndex.ivfIndex(s, d, numCells,
      s"ivf_lloyd_${numCells}x${IvfLloydIters}t${graft.sources.VectorIndex.LloydTrainCap}")(
      nearestCellByDot(centroids))
    val codes = graft.sources.VectorIndex
      .pqIndexWide(s, d, PqM, PqK, PqIters, PqSubDim)
    val queries = e.filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("query_id"),
        explode(nearestCellsByDot(centroids, nProbe)(col("embedding")))
          .as("probe_cell"))
    val probeCells = queries.select("probe_cell").distinct()
      .collect().map(_.getInt(0))
    val cand = idx.filter(col("cell").isin(probeCells.map(Integer.valueOf): _*))
      .join(broadcast(queries),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").dropDuplicates()
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    // Wide-code ADC (round 9): candidate rows pick up their mSub codes
    // by one vec_id join, the broadcast per-query LUTs resolve by
    // element_at — the (m, code) reconstitution join + groupBy is gone.
    cand.join(codes, "vec_id")
      .join(broadcast(queryLuts(s, d, numQueryVecs)),
        col("q_id") === col("query_id"))
      .select(col("query_id"), col("vec_id"), adcOfWideCodes.as("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("rk"),
        round(col("adc"), 6).as("adc"))
      .orderBy("query_id", "rk")
  }

  // --- SIM14: HYBRID retrieval — reciprocal rank fusion [Cormack et
  // al., SIGIR'09] of a lexical BM25 leg (tx19's chain) and a semantic
  // cosine leg (sim1's chain) over the aligned doc_id/vec_id space:
  // rrf(d) = Σ_legs 1/(K + rank_leg(d)), the score-free fusion a
  // RAG/search stack runs because BM25 and cosine scores are not
  // commensurable but their RANKS are. Each leg is its operator's
  // top-`legK` (rank over the ROUNDED score with id tie-break — a
  // total order both engines agree on), so the fusion input is
  // constant-bounded at any corpus scale; the per-leg rank is computed
  // by a bounded rank-join over the ≤legK rows (count of strictly
  // better rows + 1 — equivalent to row_number over a strict total
  // order, and window-free so the 100 TB plan has no single-task
  // funnel; the oracle uses row_number, same total order). Fusion
  // terms are per-row doubles of exact integer ranks, summed in
  // written order — cross-engine FP-safe. Docs missing from a leg
  // contribute 0 (the standard convention), surfaced as NULL ranks. ---
  def hybridRrf(s: SparkSession, d: String,
                queryId: Long = 0L,
                terms: Seq[String] = Seq("window", "merge", "scan"),
                legK: Int = 100, rrfK: Int = 60, topK: Int = 20): DataFrame = {
    def rankOf(leg: DataFrame, score: String, id: String,
               rank: String): DataFrame = {
      val better = col(s"b.$score") > col(s"a.$score") ||
        (col(s"b.$score") === col(s"a.$score") && col(s"b.$id") < col(s"a.$id"))
      leg.as("a").join(broadcast(leg.as("b")), better, "left")
        .groupBy(col(s"a.$id").as("doc_id"))
        .agg((count(col(s"b.$id")) + 1).as(rank))
    }
    val lex = rankOf(TextAnalysis.bm25TopDocs(s, d, terms, legK),
      "bm25", "doc_id", "r_lex")
    val sem = rankOf(
      cosineTopK(s, d, queryId, legK).withColumnRenamed("vec_id", "doc_id"),
      "cos_sim", "doc_id", "r_sem")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_sem")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topK)
      .select("doc_id", "r_lex", "r_sem", "rrf")
  }

  /** Oracle twin of [[hybridRrf]] — both leg chains replayed (tx19's
    * BM25 CTEs, sim1's cosine), ranked by row_number over the same
    * (rounded score DESC, id ASC) total order, fused with the
    * identical written-order sum.
    */
  def hybridRrfOracleSql(queryId: Long = 0L,
                         terms: Seq[String] = Seq("window", "merge", "scan"),
                         legK: Int = 100, rrfK: Int = 60,
                         topK: Int = 20): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
       |  WHERE token IN ($termList) GROUP BY 1, 2),
       |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |c AS (
       |  SELECT tf.doc_id,
       |    ln(1.0 + (st.n_docs - dfq.df + 0.5) / (CAST(dfq.df AS DOUBLE) + 0.5))
       |      * (CAST(tf.tf AS DOUBLE) * 2.2)
       |      / (CAST(tf.tf AS DOUBLE)
       |         + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))
       |      AS contrib
       |  FROM tf JOIN dfq ON tf.token = dfq.token
       |  JOIN dl ON tf.doc_id = dl.doc_id, st),
       |lexleg AS (
       |  SELECT doc_id, round(sum(contrib), 6) AS bm25
       |  FROM c GROUP BY doc_id
       |  ORDER BY bm25 DESC, doc_id ASC LIMIT $legK),
       |lex AS (SELECT doc_id, row_number() OVER
       |    (ORDER BY bm25 DESC, doc_id ASC) AS r_lex FROM lexleg),
       |semleg AS (
       |  SELECT b.vec_id AS doc_id,
       |    round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
       |                                 CAST(a.embedding AS DOUBLE[])), 4)
       |      AS cos_sim
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id = $queryId AND b.vec_id <> $queryId
       |  ORDER BY cos_sim DESC, doc_id ASC LIMIT $legK),
       |sem AS (SELECT doc_id, row_number() OVER
       |    (ORDER BY cos_sim DESC, doc_id ASC) AS r_sem FROM semleg)
       |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       |  lex.r_lex, sem.r_sem,
       |  round(COALESCE(1.0 / ($rrfK + lex.r_lex), 0.0)
       |        + COALESCE(1.0 / ($rrfK + sem.r_sem), 0.0), 6) AS rrf
       |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |ORDER BY rrf DESC, doc_id ASC LIMIT $topK""".stripMargin
  }
}
