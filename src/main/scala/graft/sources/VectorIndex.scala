package graft.sources

import graft.Tables
import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes over the `embeddings` table — the build-once
  * side of the similarity-search scale path. Round-3 `sim3`/`sim4`
  * re-bucketed (LSH) / re-assigned (IVF) the WHOLE corpus inside every
  * query; an index is precisely the artifact that amortizes that work
  * across queries, so it is materialized once per (dataset, params)
  * into a parquet layout laid out for probing:
  *
  *  - rows are range-partitioned and sorted by the probe key
  *    (`bkey` = table·2^16 + bucket for LSH; `cell` for IVF), so a
  *    probe's `IN (...)` filter prunes at parquet row-group statistics
  *    level — at 100 TB a query touches only the files holding its
  *    buckets, never the corpus;
  *  - the embedding travels WITH the key, so the exact re-rank needs
  *    no join back to the base table.
  *
  * Contents are fully deterministic (seeded hyperplanes / seed
  * centroids), which is what lets the DuckDB oracle recompute the
  * index inline and hash-check the probing queries (OracleGen.sim*).
  *
  * Every artifact here is published and read through [[Artifacts]].
  */
object VectorIndex {

  private def persist(s: SparkSession, d: String, kind: String)
                     (frame: => DataFrame): DataFrame =
    Artifacts.persist(s, new java.io.File(d, "embeddings.parquet"), d, kind)(frame)

  /** Multi-table hyperplane-LSH index: one (vec_id, embedding, tbl,
    * bucket, bkey) row per (vector, table). Same plane family as
    * round 3's inline form (L tables × p planes, seeds 42+t), so
    * probe results — and the sim8 recall audit — are unchanged.
    */
  def lshIndex(s: SparkSession, d: String,
               numTables: Int = 8, planesPerTable: Int = 4,
               dim: Int = 64): DataFrame =
    lshIndexSlice(s, d, Artifacts.Whole, numTables, planesPerTable, dim)

  /** Bucketing is a pure per-vector function, so the index of any
    * corpus slice is the row-subset of the full index — which is what
    * makes the base/delta incremental layout below exact (the ANN twin
    * of TextIndex's dd17 maintenance; VectorIndexSpec asserts base
    * bytes untouched and base ∪ delta == full).
    */
  private def lshIndexSlice(s: SparkSession, d: String, slice: Artifacts.Slice,
                            numTables: Int, planesPerTable: Int,
                            dim: Int): DataFrame =
    persist(s, d, s"lsh_${numTables}x${planesPerTable}x$dim${slice.suffix}") {
      val tb = (0 until numTables).map { t =>
        val planes = Vectors.randomPlanes(planesPerTable, dim, 42L + t)
        struct(lit(t).as("tbl"),
          Vectors.lshBucket(col("embedding"), planes).as("bucket"))
      }
      slice.keep(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"), explode(array(tb: _*)).as("e"))
        .select(col("vec_id"), col("embedding"),
          col("e.tbl").as("tbl"), col("e.bucket").as("bucket"),
          (col("e.tbl").cast("long") * lit(65536L) + col("e.bucket")).as("bkey"))
        .repartitionByRange(col("bkey"))
        .sortWithinPartitions("bkey")
    }

  /** The ANN index as it stood before the batch: vectors < boundary. */
  def lshIndexBase(s: SparkSession, d: String, boundary: Long,
                   numTables: Int = 8, planesPerTable: Int = 4,
                   dim: Int = 64): DataFrame =
    lshIndexSlice(s, d, Artifacts.below("vec_id", boundary),
      numTables, planesPerTable, dim)

  /** The arriving batch's delta: vectors >= boundary — the only
    * bucketing work an embedding ingest pays; its own directory, the
    * base is never rewritten.
    */
  def lshIndexDelta(s: SparkSession, d: String, boundary: Long,
                    numTables: Int = 8, planesPerTable: Int = 4,
                    dim: Int = 64): DataFrame =
    lshIndexSlice(s, d, Artifacts.from("vec_id", boundary),
      numTables, planesPerTable, dim)

  /** Training-scan bound for [[lloydCentroids]]: corpora with more
    * rows than this train the quantizer on a deterministic systematic
    * sample (`vec_id ≡ 0 (mod ⌈n/cap⌉)`) — the FAISS posture: training
    * cost must be corpus-size-independent, only the one-time cell
    * ASSIGNMENT (ivfIndex) scans everything. Every oracled SF
    * (embeddings ≤ 2,000 rows at sf0.1) sits far below the cap, so the
    * sample modulus there is 1 and the trained centroids — and every
    * sim4/sim8/dd15/km3 hash — are provably identical to full-corpus
    * training; the DuckDB replay (OracleGen.lloydCtes) therefore needs
    * no sampling clause.
    */
  val LloydTrainCap = 16384L

  /** Lloyd-trained coarse-quantizer centroids, persisted as a k-row
    * (cid, n_members, cemb) table: exactly `iters` M-steps from the
    * first-k seed vectors (the km1/km2 seed rule), assignment =
    * argmax dot with ties to the larger cid, each updated centroid
    * snapped to FLOAT on a 1e-6 grid via `floor(avg·1e6 + 0.5)/1e6`.
    * The grid snap is what makes the loop cross-engine replayable:
    * Spark's and DuckDB's partial-sum orders drift by ULPs, the grid
    * absorbs the drift, and every later iteration starts from
    * bit-identical centroids — so the DuckDB oracle can unroll the
    * same `iters` M-steps as CTEs and hash-match (OracleGen.lloydCtes).
    * Empty clusters carry their previous centroid. The driver loop
    * stops early ONLY at an exact fixed point (c_t == c_{t-1}), which
    * is replay-safe: further unrolled iterations are no-ops.
    *
    * Two scale choices keep training cost bounded:
    *  - the scan is capped by [[LloydTrainCap]] (see there);
    *  - the per-iteration assignment runs as a broadcast-centroid
    *    Scala map (Vectors.nearestCellScala — the arithmetic twin of
    *    the codegen expression), NOT the k×dim-literal argmax
    *    projection: that expression re-codegens per iteration and at
    *    k=160 the janino compile made an 8-iteration build take ~2
    *    minutes on a 20k-row corpus. Probe/assignment paths that run
    *    once still use the codegen form.
    * Each iteration is one bounded sample scan + a k·dim hash-agg
    * (`n_members` counts the final training assignment over that
    * sample).
    */
  def lloydCentroids(s: SparkSession, d: String, k: Int,
                     iters: Int, dim: Int = 64,
                     maxTrainRows: Long = LloydTrainCap): DataFrame =
    lloydTrainSlice(s, d, s"lloyd_${k}x${iters}x${dim}t$maxTrainRows",
      k, iters, 0, dim, maxTrainRows)

  /** Shared Lloyd loop over `embedding[lo, lo+len)` sub-vectors —
    * `lo = 0, len = dim` is the full-vector coarse quantizer
    * ([[lloydCentroids]]); nonzero `lo` trains one product-quantizer
    * subspace codebook ([[pqCodebook]]). Same seed rule (first-k
    * corpus rows, sliced), same argmax-dot assignment and 1e-6 grid
    * snap, so the DuckDB replay differs only in the slice bounds.
    */
  private def lloydTrainSlice(s: SparkSession, d: String, kind: String,
                              k: Int, iters: Int, lo: Int, len: Int,
                              maxTrainRows: Long): DataFrame = {
    require(iters >= 1, "lloydCentroids needs at least one M-step")
    persist(s, d, kind) {
      import org.apache.spark.sql.types._
      val e = Tables.embeddings(s, d)
      val n = e.count()
      val mod = math.max(1L, (n + maxTrainRows - 1) / maxTrainRows)
      val train = if (mod > 1) e.filter(pmod(col("vec_id"), lit(mod)) === 0)
                  else e
      import s.implicits._
      val trainVecs = train.select(col("embedding")).as[Array[Float]]
        .map(v => v.slice(lo, lo + len))
      var cents: Array[Array[Float]] = e.filter(col("vec_id") < k)
        .orderBy("vec_id").select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.slice(lo, lo + len))
      var counts = Array.fill(k)(0L)
      var fixed = false
      var t = 0
      while (t < iters && !fixed) {
        val bc = s.sparkContext.broadcast(cents)
        val rows = trainVecs
          .map(v => (graft.functions.Vectors.nearestCellScala(bc.value, v), v))
          .toDF("cell", "embedding")
          .select(col("cell"), posexplode(col("embedding")))
          .groupBy("cell", "pos")
          .agg(count(lit(1)).as("n"),
            avg(col("col").cast("double")).as("m"))
          .collect()
        bc.destroy()
        val next = cents.map(_.clone()) // empty clusters carry over
        val nc = Array.fill(k)(0L)
        rows.foreach { r =>
          val cell = r.getInt(0)
          nc(cell) = r.getLong(2)
          next(cell)(r.getInt(1)) =
            (math.floor(r.getDouble(3) * 1e6 + 0.5) / 1e6).toFloat
        }
        fixed = (0 until k).forall(i => java.util.Arrays.equals(next(i), cents(i)))
        cents = next; counts = nc; t += 1
      }
      val schema = StructType(Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("n_members", LongType, nullable = false),
        StructField("cemb", ArrayType(FloatType, containsNull = false),
          nullable = false)))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      (0 until k).foreach { i =>
        rows.add(org.apache.spark.sql.Row(i, counts(i), cents(i).toSeq))
      }
      s.createDataFrame(rows, schema).repartition(1)
    }
  }

  /** Collected form of [[lloydCentroids]] — k·dim floats, the literal
    * table the assignment/probe projections inline.
    */
  def lloydCentroidArrays(s: SparkSession, d: String, k: Int,
                          iters: Int, dim: Int = 64,
                          maxTrainRows: Long = LloydTrainCap): Array[Array[Float]] =
    lloydCentroids(s, d, k, iters, dim, maxTrainRows)
      .orderBy("cid").select(col("cemb")).collect()
      .map(_.getSeq[Float](0).toArray)

  /** Product-quantizer codebook for subspace `m`: k centroids over
    * `embedding[m·subDim, (m+1)·subDim)`, Lloyd-trained and persisted
    * exactly like the coarse quantizer (same seed rule, grid snap,
    * train cap — see [[lloydTrainSlice]]).
    */
  def pqCodebook(s: SparkSession, d: String, m: Int, k: Int,
                 iters: Int, subDim: Int,
                 maxTrainRows: Long = LloydTrainCap): DataFrame =
    lloydTrainSlice(s, d, s"pqlloyd_${m}_${k}x${iters}x${subDim}t$maxTrainRows",
      k, iters, m * subDim, subDim, maxTrainRows)

  /** Collected form of [[pqCodebook]] — k·subDim floats per subspace. */
  def pqCodebookArrays(s: SparkSession, d: String, m: Int, k: Int,
                       iters: Int, subDim: Int,
                       maxTrainRows: Long = LloydTrainCap): Array[Array[Float]] =
    pqCodebook(s, d, m, k, iters, subDim, maxTrainRows)
      .orderBy("cid").select(col("cemb")).collect()
      .map(_.getSeq[Float](0).toArray)

  /** All `mSub` codebooks in ONE collect: unions the per-subspace
    * codebook tables (each ensured/persisted exactly as
    * [[pqCodebook]] leaves them) under an `m` tag and collects once.
    * The per-query ADC LUT builder reads every subspace anyway, and
    * as separate [[pqCodebookArrays]] calls that cost one driver job
    * per subspace PER QUERY CONSTRUCTION (mSub tiny scans, each with
    * its own planning + scheduling round trip — measured as the
    * dominant fixed cost of the sim12/16/17/sr1/sr3 family at sf0.1).
    * Arrays are bit-identical to mSub separate calls: same persisted
    * rows, same cid order, the union only changes how many jobs fetch
    * them.
    */
  def pqCodebookArraysAll(s: SparkSession, d: String, mSub: Int, k: Int,
                          iters: Int, subDim: Int,
                          maxTrainRows: Long = LloydTrainCap)
      : IndexedSeq[Array[Array[Float]]] = {
    val rows = (0 until mSub).map { m =>
        pqCodebook(s, d, m, k, iters, subDim, maxTrainRows)
          .select(lit(m).as("m"), col("cid"), col("cemb"))
      }.reduce(_ unionByName _)
      .collect()
    (0 until mSub).map { m =>
      rows.filter(_.getInt(0) == m).sortBy(_.getInt(1))
        .map(_.getSeq[Float](2).toArray)
    }
  }

  /** IVF (coarse-quantizer) index: (vec_id, embedding, cell), cell
    * assigned by the caller-supplied rule — the SAME `cellOf`
    * projection the query side uses for probe selection, passed in so
    * build and probe can never drift. `kind` carries every parameter
    * of the assignment rule (e.g. the Lloyd iteration count).
    */
  def ivfIndex(s: SparkSession, d: String, numCells: Int,
               kind: String = "")
              (cellOf: Column => Column): DataFrame =
    persist(s, d, if (kind.nonEmpty) kind else s"ivf_$numCells") {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          cellOf(col("embedding")).as("cell"))
        .repartitionByRange(col("cell"))
        .sortWithinPartitions("cell")
    }

  /** Product-quantization code index: (vec_id, m, code) — every
    * corpus vector reduced to `mSub` small codebook ids (the
    * FAISS-PQ memory shape: mSub·log₂(k) bits per vector instead of
    * dim·32). Codes are assigned by the SAME codegen argmax-dot
    * projection the query side replays (ties to the larger cid), over
    * the [[pqCodebook]] subspace centroids, and persisted once per
    * (dataset, params) — ADC queries scan ONLY this table (a ~16×
    * narrower scan than raw embeddings at these params) and never
    * touch raw vectors. Layout: vec_id-sorted — ADC is a linear scan
    * by design, so the sort only buys row-group locality for
    * id-ranged probes.
    */
  def pqIndex(s: SparkSession, d: String, mSub: Int, k: Int,
              iters: Int, subDim: Int): DataFrame = {
    val books = (0 until mSub).map(m =>
      pqCodebookArrays(s, d, m, k, iters, subDim))
    persist(s, d, s"pqcodes_${mSub}x${k}x${iters}x$subDim") {
      val codeCols = (0 until mSub).map { m =>
        struct(lit(m).as("m"),
          graft.functions.Vectors.nearestCellByDot(books(m))(
            slice(col("embedding"), m * subDim + 1, subDim)).as("code"))
      }
      Tables.embeddings(s, d)
        .select(col("vec_id"), explode(array(codeCols: _*)).as("mc"))
        .select(col("vec_id"), col("mc.m").as("m"),
          col("mc.code").cast("int").as("code"))
        .repartitionByRange(col("vec_id"), col("m"))
        .sortWithinPartitions("vec_id", "m")
    }
  }

  /** Wide PQ code layout: ONE (vec_id, c0..c{mSub-1}) row per vector —
    * the ADC SERVING shape. Derived by pivoting [[pqIndex]] (so the
    * codes are identical by construction; the long layout stays as the
    * canonical build + oracle-replay relation). What it buys: the
    * query-side LUT-sum becomes a shuffle-free scan — the per-query
    * lookup tables broadcast, and each code row picks its mSub
    * contributions by `element_at` instead of reconstituting
    * per-vector scores through a (vec_id, m) join + groupBy, which at
    * 100 TB shuffled mSub× the corpus rows on EVERY query sweep.
    * vec_id-sorted for row-group locality on id-ranged probes, same as
    * the long layout.
    */
  def pqIndexWide(s: SparkSession, d: String, mSub: Int, k: Int,
                  iters: Int, subDim: Int): DataFrame = {
    // Materialize the long index (and its codebooks) BEFORE the build
    // closure so the ledger charges this artifact the pivot alone, not
    // the nested builds it depends on.
    val long = pqIndex(s, d, mSub, k, iters, subDim)
    persist(s, d, s"pqcodes_wide_${mSub}x${k}x${iters}x$subDim") {
      val first +: rest = (0 until mSub).map(m =>
        max(when(col("m") === m, col("code"))).as(s"c$m"))
      long
        .groupBy("vec_id").agg(first, rest: _*)
        .repartitionByRange(col("vec_id"))
        .sortWithinPartitions("vec_id")
    }
  }
}
