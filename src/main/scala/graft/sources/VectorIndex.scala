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
  * Lifecycle: `target/graft-index/<sf-leaf>-<source-fingerprint>/<kind>`;
  * built lazily on first use, reused by every later query. The path
  * fingerprints the SOURCE (absolute path + each part file's
  * name/size/mtime — Spark part names are per-write UUIDs, so any
  * regeneration moves the fingerprint), so swapped data lands in a
  * fresh directory instead of silently serving a stale index; every
  * index parameter (incl. dim) is part of `kind`. Builds go to a
  * per-process temp dir and publish via atomic rename — concurrent
  * JVMs race safely (the loser discards its build), and a crashed
  * half-write (dir without our own sentinel marker) is treated as
  * garbage.
  */
object VectorIndex {

  /** Source fingerprint = every part file's (name, size, mtime), not
    * the directory entry's own length/mtime: a directory's length is
    * not content-derived and its mtime tick is coarse, so an in-place
    * regeneration could otherwise serve a stale index. Spark writes
    * part files under fresh UUID names, so any rewrite changes the
    * name list even within one mtime tick.
    */
  private[sources] def sourceFingerprint(src: java.io.File): String = {
    // A single-file source (the shipped testdata layout) has no part
    // files — fingerprint the file itself, or the path-only hash would
    // silently serve a stale index after an in-place regeneration.
    val parts =
      if (src.isDirectory)
        src.listFiles().sortBy(_.getName)
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
          .mkString(",")
      else s"${src.length}:${src.lastModified}"
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      s"${src.getAbsolutePath}|$parts"))
  }

  private def indexPath(d: String, kind: String): java.nio.file.Path =
    indexPathFor(new java.io.File(d, "embeddings.parquet"), d, kind)

  private[sources] def indexPathFor(src: java.io.File, d: String,
                                    kind: String): java.nio.file.Path =
    java.nio.file.Paths.get("target", "graft-index",
      s"${java.nio.file.Paths.get(d).getFileName}-${sourceFingerprint(src)}",
      kind)

  /** Deletes `p` and everything under it; a path already gone is no
    * error. The one recursive delete in the library: index publish,
    * snapshot pruning and delta-ledger folds all go through it.
    */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    Option(p.toFile.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.toPath))
    java.nio.file.Files.deleteIfExists(p); ()
  }

  /** Our own publish marker, written into the build dir AFTER the
    * parquet write completes and BEFORE the atomic rename — so a
    * published dir always carries it, independent of whether Spark's
    * committer was configured to emit `_SUCCESS`
    * (mapreduce.fileoutputcommitter.marksuccessfuljobs=false would
    * otherwise make every call classify a healthy index as crashed
    * leftovers and delete a directory live readers may still scan).
    */
  private val Sentinel = "_GRAFT_INDEX_OK"

  /** Every artifact family funnels through [[ensure]] — text/vector/
    * graph indexes and the bucketed marts alike — and each build is
    * reported into the shared [[BuildLedger]] registry, which the
    * bench reads to separate one-time build cost from steady-state
    * probe timings. Kept as an alias for callers that still address
    * the ledger through this object.
    */
  def buildLog: Map[String, Double] = BuildLedger.log

  /** Build into a temp dir, publish with an atomic rename. The object
    * lock serializes threads in THIS JVM; the rename protocol covers
    * other JVMs: whoever renames first wins, the loser keeps the
    * winner's index and deletes its own build. Shared with
    * [[TextIndex]] — one publish protocol for every index family.
    */
  private[sources] def ensure(path: java.nio.file.Path)(build: String => Unit): Unit =
    synchronized {
      import java.nio.file.{Files, StandardCopyOption}
      // Migration shim: a published dir from before the sentinel switch
      // carries Spark's _SUCCESS but not our marker — adopt it (write
      // the sentinel) instead of deleting a healthy index other readers
      // may be scanning. A crashed write has neither marker and is
      // still rebuilt.
      if (!Files.exists(path.resolve(Sentinel)) &&
          Files.exists(path.resolve("_SUCCESS")))
        Files.createFile(path.resolve(Sentinel))
      if (!Files.exists(path.resolve(Sentinel))) {
        val tmp = path.resolveSibling(path.getFileName.toString +
          ".tmp." + ProcessHandle.current().pid())
        val t0 = System.nanoTime()
        build(tmp.toString)
        BuildLedger.record(path.getFileName.toString,
          (System.nanoTime() - t0) / 1e9)
        Files.createFile(tmp.resolve(Sentinel))
        try {
          Files.createDirectories(path.getParent)
          // a dir without our sentinel is a crashed writer's leftovers
          if (Files.exists(path) && !Files.exists(path.resolve(Sentinel)))
            deleteTree(path)
          Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.FileSystemException =>
            deleteTree(tmp) // another JVM won the race — use theirs
        }
      }
    }

  /** Multi-table hyperplane-LSH index: one (vec_id, embedding, tbl,
    * bucket, bkey) row per (vector, table). Same plane family as
    * round 3's inline form (L tables × p planes, seeds 42+t), so
    * probe results — and the sim8 recall audit — are unchanged.
    */
  def lshIndex(s: SparkSession, d: String,
               numTables: Int = 8, planesPerTable: Int = 4,
               dim: Int = 64): DataFrame =
    lshIndexSlice(s, d, "", numTables, planesPerTable, dim)(identity)

  /** Bucketing is a pure per-vector function, so the index of any
    * corpus slice is the row-subset of the full index — which is what
    * makes the base/delta incremental layout below exact (the ANN twin
    * of TextIndex's dd17 maintenance; VectorIndexSpec asserts base
    * bytes untouched and base ∪ delta == full).
    */
  private def lshIndexSlice(s: SparkSession, d: String, kindSuffix: String,
                            numTables: Int, planesPerTable: Int, dim: Int)
                           (slice: DataFrame => DataFrame): DataFrame = {
    val path = indexPath(d,
      s"lsh_${numTables}x${planesPerTable}x$dim$kindSuffix")
    ensure(path) { out =>
      val tb = (0 until numTables).map { t =>
        val planes = Vectors.randomPlanes(planesPerTable, dim, 42L + t)
        struct(lit(t).as("tbl"),
          Vectors.lshBucket(col("embedding"), planes).as("bucket"))
      }
      slice(Tables.embeddings(s, d))
        .select(col("vec_id"), col("embedding"), explode(array(tb: _*)).as("e"))
        .select(col("vec_id"), col("embedding"),
          col("e.tbl").as("tbl"), col("e.bucket").as("bucket"),
          (col("e.tbl").cast("long") * lit(65536L) + col("e.bucket")).as("bkey"))
        .repartitionByRange(col("bkey"))
        .sortWithinPartitions("bkey")
        .write.mode("overwrite").parquet(out)
    }
    SchemaCache.parquet(s, path.toString)
  }

  /** The ANN index as it stood before the batch: vectors < boundary. */
  def lshIndexBase(s: SparkSession, d: String, boundary: Long,
                   numTables: Int = 8, planesPerTable: Int = 4,
                   dim: Int = 64): DataFrame =
    lshIndexSlice(s, d, s"_lt$boundary", numTables, planesPerTable, dim)(
      _.filter(col("vec_id") < boundary))

  /** The arriving batch's delta: vectors >= boundary — the only
    * bucketing work an embedding ingest pays; its own directory, the
    * base is never rewritten.
    */
  def lshIndexDelta(s: SparkSession, d: String, boundary: Long,
                    numTables: Int = 8, planesPerTable: Int = 4,
                    dim: Int = 64): DataFrame =
    lshIndexSlice(s, d, s"_ge$boundary", numTables, planesPerTable, dim)(
      _.filter(col("vec_id") >= boundary))

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
                     maxTrainRows: Long = LloydTrainCap): DataFrame = {
    val path = indexPath(d, s"lloyd_${k}x${iters}x${dim}t$maxTrainRows")
    lloydTrainSlice(s, d, k, iters, 0, dim, maxTrainRows, path)
    SchemaCache.parquet(s, path.toString)
  }

  /** Shared Lloyd loop over `embedding[lo, lo+len)` sub-vectors —
    * `lo = 0, len = dim` is the full-vector coarse quantizer
    * ([[lloydCentroids]]); nonzero `lo` trains one product-quantizer
    * subspace codebook ([[pqCodebook]]). Same seed rule (first-k
    * corpus rows, sliced), same argmax-dot assignment and 1e-6 grid
    * snap, so the DuckDB replay differs only in the slice bounds.
    */
  private def lloydTrainSlice(s: SparkSession, d: String, k: Int,
                              iters: Int, lo: Int, len: Int,
                              maxTrainRows: Long,
                              path: java.nio.file.Path): Unit = {
    require(iters >= 1, "lloydCentroids needs at least one M-step")
    ensure(path) { out =>
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
      s.createDataFrame(rows, schema)
        .repartition(1).write.mode("overwrite").parquet(out)
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
                 maxTrainRows: Long = LloydTrainCap): DataFrame = {
    val path = indexPath(d, s"pqlloyd_${m}_${k}x${iters}x${subDim}t$maxTrainRows")
    lloydTrainSlice(s, d, k, iters, m * subDim, subDim, maxTrainRows, path)
    SchemaCache.parquet(s, path.toString)
  }

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
              (cellOf: Column => Column): DataFrame = {
    val path = indexPath(d,
      if (kind.nonEmpty) kind else s"ivf_$numCells")
    ensure(path) { out =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          cellOf(col("embedding")).as("cell"))
        .repartitionByRange(col("cell"))
        .sortWithinPartitions("cell")
        .write.mode("overwrite").parquet(out)
    }
    SchemaCache.parquet(s, path.toString)
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
    val path = indexPath(d, s"pqcodes_${mSub}x${k}x${iters}x$subDim")
    ensure(path) { out =>
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
        .write.mode("overwrite").parquet(out)
    }
    SchemaCache.parquet(s, path.toString)
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
    // Materialize the long index (and its codebooks) BEFORE the ensure
    // closure so the ledger charges this artifact the pivot alone, not
    // the nested builds it depends on.
    val long = pqIndex(s, d, mSub, k, iters, subDim)
    val path = indexPath(d, s"pqcodes_wide_${mSub}x${k}x${iters}x$subDim")
    ensure(path) { out =>
      val first +: rest = (0 until mSub).map(m =>
        max(when(col("m") === m, col("code"))).as(s"c$m"))
      long
        .groupBy("vec_id").agg(first, rest: _*)
        .repartitionByRange(col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(out)
    }
    SchemaCache.parquet(s, path.toString)
  }
}
