package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface (SURVEY.md §2.10). The reference has
  * no data streaming — its insert→re-aggregate loop
  * (`DatabaseAccessor.py:128-131` + `Chart.vue:88-92` full refetch) is
  * the motivating workload: these operators maintain the same
  * aggregates incrementally instead of recomputing from scratch.
  *
  * All transforms take an input DataFrame (batch or streaming — the
  * plans are identical; tests drive them with MemoryStream) with the
  * events schema `(event_id, ts timestamp, user_id, event_type, value,
  * props)`.
  *
  * The `*MaintainStream` twins keep their state in a [[Ledger]] of
  * per-batch deltas; its scaladoc states the layout, replay and
  * empty-state rules they all share. Each twin's own doc says what it
  * admits on and why its merged state equals the batch answer.
  */
object Streams {

  /** Tumbling-window rollup with watermark: the streaming twin of
    * Analytics.hourlyEvents / the reference's monthly Chart buckets
    * (Chart.vue:96-111). Late rows beyond the watermark are dropped
    * instead of absorbed-by-recompute.
    */
  def tumblingCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window average (len/slide), e.g. 1h windows every 15min. */
  def slidingValue(events: DataFrame,
                   windowLen: String = "1 hour", slide: String = "15 minutes",
                   watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide))
      .agg(round(avg(col("value")), 4).as("avg_value"), count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("avg_value"), col("n"))

  /** Session windows: gap-based per-user sessions — the built-in
    * streaming equivalent of Analytics.sessionize (G8 "dead after
    * silence" semantics applied to user activity).
    */
  def sessionWindows(events: DataFrame,
                     gap: String = "30 minutes",
                     watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming data-quality monitor — the DQ2 constraint gate run ON
    * the stream instead of after landing: per tumbling window, event
    * volume plus violation counters (value outside [0, 400]; props
    * whose JSON `k` is in the hot band ≥ 90). Incremental counters
    * with watermark semantics, so a quality regression in a source
    * surfaces one window after it happens, not at the next batch
    * audit; the batch twin (Analytics.dqMonitor, st9's oracle) is the
    * same aggregation over the landed table — StreamingSpec pins
    * stream == batch under waved late input.
    */
  def dqMonitorStream(events: DataFrame,
                      windowLen: String = "1 hour",
                      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < 0 || col("value") > 400, 1L).otherwise(0L))
          .as("n_value_range"),
        sum(when(get_json_object(col("props"), "$.k").cast("int") >= 90, 1L)
          .otherwise(0L)).as("n_hot_props"))
      .select(col("window.start").as("window_start"), col("n"),
        col("n_value_range"), col("n_hot_props"))

  /** Streaming exact-dedup: drop duplicate events by key within the
    * watermark horizon — the streaming twin of
    * operators.Dedup.exactDedup. `dropDuplicatesWithinWatermark` (not
    * plain `dropDuplicates`): with a bare key, plain dropDuplicates
    * keeps state forever — Spark only evicts dedup state when the key
    * itself includes the event-time column. The WithinWatermark variant
    * expires each key once the watermark passes its first-seen time, so
    * state stays bounded on an unbounded stream.
    */
  def streamingDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: join the event stream against a static
    * dimension (no state, no watermark needed — the static side is
    * re-read per micro-batch and broadcast when small).
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      events("user_id") === dim("c_custkey"), "left_outer")
      .select(events("event_id"), events("ts"), events("user_id"),
        events("value"), dim("c_name"), dim("c_mktsegment"))

  /** Stream-stream interval join: purchases matched to the same user's
    * clicks within the preceding hour. Both sides carry watermarks and
    * the join condition bounds event time on both, so state is
    * GC-able — the requirements for an unbounded-stream join.
    */
  def purchaseAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        col("value"))
  }

  /** LEFT OUTER stream-stream interval join — [[purchaseAttribution]]
    * plus the unmatched-purchase rows. An outer row cannot be emitted
    * when the purchase arrives (a qualifying click may still come);
    * Spark holds it in join state and emits the NULL-click row only
    * when BOTH watermarks pass the purchase's eligibility window —
    * the state-expiry path the inner join never exercises, and the
    * reason the batch-equivalence test must advance the watermark
    * past the data before comparing (StreamingSpec does it with a
    * far-future sentinel event on each side).
    */
  def purchaseAttributionOuter(clicks: DataFrame,
                               purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"), col("value"))
  }

  /** Incremental-aggregate sink: maintains an hourly rollup table via
    * foreachBatch merge — the incremental replacement for the
    * reference's fetch-everything-and-recompute Chart loop
    * (`Chart.vue:88-111`). Update-mode rows from the streaming agg
    * upsert into a keyed parquet snapshot per micro-batch. Returns the
    * started query; read the snapshot with [[readAggTable]].
    *
    * Durability: each batch writes a fresh `snap_<batchId>` directory,
    * then atomically renames a pointer file (`_CURRENT`) at it — a
    * crash mid-batch leaves the previous snapshot intact and readable
    * (the next attempt of the same batchId simply overwrites its own
    * snap dir). Superseded snapshots are pruned after the swap.
    */
  def hourlyAggSink(events: DataFrame, tableDir: String,
                    checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    tumblingCounts(events, "1 hour", "30 minutes")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val updated = currentSnapshotDir(tableDir) match {
          case Some(cur) =>
            val existing = spark.read.parquet(cur)
            // upsert: existing rows lose to this batch's refreshed keys
            existing.join(batch.select("window_start", "event_type"),
                Seq("window_start", "event_type"), "left_anti")
              .unionByName(batch)
          case None => batch
        }
        publishSnapshot(tableDir, batchId, updated)
        ()
      }
      .start()

  /** The snapshot publish protocol shared by every foreachBatch table
    * sink: write `snap_<batchId>`, atomically rename a pointer file
    * (`_CURRENT`) at it, prune superseded snapshots. A crash mid-batch
    * leaves the previous snapshot intact; a replayed batch overwrites
    * its own snap dir.
    */
  private def publishSnapshot(tableDir: String, batchId: Long,
                              updated: DataFrame): Unit = {
    val snapName = s"snap_$batchId"
    updated.coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(tableDir, snapName).getPath)
    val ptrTmp = new java.io.File(tableDir, "_CURRENT.tmp")
    java.nio.file.Files.write(ptrTmp.toPath,
      snapName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(ptrTmp.toPath,
      new java.io.File(tableDir, "_CURRENT").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(tableDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap_") && f.getName != snapName)
      .foreach(d => graft.sources.Artifacts.deleteTree(d.toPath))
  }

  /** Streaming MERGEABLE-SKETCH sink — the a29 posture maintained by
    * the stream: per micro-batch, each day's HLL sketch of the batch's
    * user ids is UNIONED into a per-day sketch snapshot (the
    * [[publishSnapshot]] pointer protocol). The stored column IS the
    * sketch (binary); estimates come out at read time
    * ([[readSketchTable]]), and any coarser rollup is a further union
    * of stored sketches — raw keys are never rescanned.
    *
    * Sketch insert and union are idempotent and commutative on
    * register maxima, so late data and REDELIVERY need no special
    * handling: the final registers equal a one-shot batch build's
    * exactly (StreamingSpec asserts estimate equality under shuffled
    * waves + redelivery). This is what makes sketch columns the
    * streaming-safe form of distinct-count state — a count-based
    * upsert would double-count a redelivered row.
    */
  def sketchSink(events: DataFrame, tableDir: String,
                 checkpointDir: String,
                 lgK: Int = 12): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val bsk = batch.toDF()
          .groupBy(to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
        val updated = currentSnapshotDir(tableDir) match {
          case Some(cur) =>
            batch.sparkSession.read.parquet(cur)
              .select(col("day"), col("sk").as("sk_old"))
              .join(bsk.select(col("day"), col("sk").as("sk_new")),
                Seq("day"), "full_outer")
              .select(col("day"),
                when(col("sk_old").isNull, col("sk_new"))
                  .when(col("sk_new").isNull, col("sk_old"))
                  .otherwise(hll_union(col("sk_old"), col("sk_new"))).as("sk"))
          case None => bsk
        }
        publishSnapshot(tableDir, batchId, updated)
        ()
      }
      .start()

  /** Read side of [[sketchSink]]: per-day distinct estimates plus the
    * all-time estimate from the union of the stored day sketches.
    */
  def readSketchTable(s: org.apache.spark.sql.SparkSession,
                      tableDir: String): DataFrame = {
    val t = readAggTable(s, tableDir)
    t.select(col("day"), hll_sketch_estimate(col("sk")).as("n_users"))
      .unionByName(t.agg(hll_union_agg(col("sk"), lit(false)).as("u"))
        .select(lit(null).cast("date").as("day"),
          hll_sketch_estimate(col("u")).as("n_users")))
      .orderBy(col("day").asc_nulls_last)
  }

  private def currentSnapshotDir(tableDir: String): Option[String] = {
    val ptr = new java.io.File(tableDir, "_CURRENT")
    if (!ptr.exists()) None
    else {
      val name = new String(java.nio.file.Files.readAllBytes(ptr.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val snap = new java.io.File(tableDir, name)
      if (snap.isDirectory) Some(snap.getPath) else None
    }
  }

  def readAggTable(s: org.apache.spark.sql.SparkSession, tableDir: String): DataFrame =
    s.read.parquet(currentSnapshotDir(tableDir).getOrElse(
      sys.error(s"no published snapshot under $tableDir")))

  /** One micro-batch of streaming incremental dedup: gram the incoming
    * (doc_id, text) batch and match it against the PERSISTED corpus
    * gram index ([[graft.sources.TextIndex.gramIndex]]) — the exact
    * per-batch body of [[incrementalDedupStream]], shaped like
    * `Dedup.incrementalDedup` (DD10): candidates are batch×corpus rows
    * sharing a gram (never corpus×corpus), hot grams are dropped by
    * the same corpus-wide doc-frequency cap, Jaccard denominators stay
    * uncapped, best match = max Jaccard with smallest existing id on
    * ties. Steady-state cost scales with the batch, not the corpus —
    * only the batch's grams are new work; the corpus side is an index
    * scan pre-filtered by the join.
    */
  /** Corpus-side relations for [[incrementalDedupBatch]], all pure
    * functions of the static corpus index: the hot-gram list (the DF
    * cap as a precomputed statistic an ingest service keeps beside the
    * index), the capped existing-side gram rows, and the per-doc gram
    * counts (Jaccard denominators — uncapped). Computed ONCE per
    * stream and localCheckpoint'd, so micro-batches never re-shuffle
    * the corpus.
    */
  case class DedupCorpusSides(hot: DataFrame, ex: DataFrame, cntB: DataFrame)

  def dedupCorpusSides(s: org.apache.spark.sql.SparkSession,
                       corpusDir: String,
                       incomingMod: Long = 4L): DedupCorpusSides = {
    import graft.operators.Dedup
    val idx = graft.sources.TextIndex.gramIndex(s, corpusDir, 3)
    val hot = idx.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.DefaultMaxGramDocFreq).select("gh")
      .localCheckpoint()
    // anti-join against the hot list == capByDocFreq (hot is its exact
    // complement on the distinct gram relation) — one cap definition
    // shared by both sides
    val ex = idx.join(hot, Seq("gh"), "left_anti")
      .filter(col("doc_id") % incomingMod =!= 0)
      .select(col("doc_id").as("doc_b"), col("gh"))
      .localCheckpoint()
    val cntB = idx.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    DedupCorpusSides(hot, ex, cntB)
  }

  def incrementalDedupBatch(batch: DataFrame, corpus: DedupCorpusSides,
                            threshold: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val bg = Dedup.gramRowsOf(batch, 3)
    // the batch side honors the same cap via the hot-gram list, so
    // stream and batch runs see identical candidate sets
    val inc = bg.join(corpus.hot, Seq("gh"), "left_anti")
      .select(col("doc_id").as("doc_a"), col("gh"))
    val cntA = bg.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cntB = corpus.cntB
    val shared = inc.join(corpus.ex, "gh")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    val jac = shared
      .join(cntA.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(cntB.as("cb"), col("doc_b") === col("cb.doc_id"))
      .withColumn("jac",
        col("shared").cast("double") / (col("ca.n") + col("cb.n") - col("shared")))
      .filter(col("jac") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a").orderBy(col("jac").desc, col("doc_b").asc)
    jac.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_a").as("inc_doc"), col("doc_b").as("match_doc"),
        round(col("jac"), 4).as("jaccard"))
  }

  /** Streaming twin of `Dedup.incrementalDedup` (DD10): incoming
    * documents matched per micro-batch against the persisted corpus
    * gram index via foreachBatch, results appended to a parquet match
    * table. A redelivered document recomputes the IDENTICAL match row
    * (the match is a pure function of the document and the index), so
    * the sink is idempotent under read-side `dropDuplicates` — the
    * same upsert-by-recompute stance as [[hourlyAggSink]], without
    * needing keyed state: this operator keeps NO stream state at all,
    * which is what makes it restartable mid-corpus at 100 TB.
    */
  def incrementalDedupStream(incoming: DataFrame, corpusDir: String,
                             outDir: String, checkpointDir: String,
                             threshold: Double = 0.5,
                             incomingMod: Long = 4L): org.apache.spark.sql.streaming.StreamingQuery = {
    // corpus-side relations materialize once, before the first batch
    val corpus = dedupCorpusSides(incoming.sparkSession, corpusDir, incomingMod)
    Ledger.maintain(incoming, checkpointDir)((batch, _) =>
      incrementalDedupBatch(batch, corpus, threshold)
        .write.mode("append").parquet(outDir))
  }

  /** Streaming twin of `Dedup.incrementalLshPairs` (DD17): the ingest
    * stream MAINTAINS the persisted LSH text index. Per micro-batch:
    *
    *  1. admission — docs already indexed (a redelivery) are dropped by
    *     an anti-join against the band deltas' doc ids, so the index
    *     never holds a document twice;
    *  2. delta publish — the batch's portable gram rows and banded
    *     signatures;
    *  3. probe — the batch's bands join base ∪ all deltas for
    *     candidates, exact-verified over base ∪ delta grams, appended
    *     to the match output.
    *
    * Base ∪ deltas is exactly the dd17 batch layout, so the union of
    * emitted pairs over any wave/redelivery schedule equals the batch
    * operator's answer (StreamingSpec equivalence).
    */
  def lshIndexMaintainStream(incoming: DataFrame, corpusDir: String,
                             boundary: Long, workDir: String,
                             checkpointDir: String,
                             threshold: Double = 0.5,
                             numHashes: Int = 64, bands: Int = 16): org.apache.spark.sql.streaming.StreamingQuery = {
    val s = incoming.sparkSession
    val base = graft.sources.TextIndex
      .bandIndexBase(s, corpusDir, boundary, numHashes, bands).localCheckpoint()
    val baseGr = graft.sources.TextIndex
      .gramIndex(s, corpusDir, 3, portable = true)
      .filter(col("doc_id") < boundary).localCheckpoint()
    Ledger.maintain(incoming, checkpointDir)(
      indexMaintainBatch(_, _, base, baseGr, workDir,
        threshold, numHashes, bands))
  }

  /** [[lshIndexMaintainStream]] in the CHARACTER shingle basis — the
    * unsegmented corpus's ingest stream maintains dd35's char
    * gram/band index live. Char shingles are per-document pure
    * exactly like word shingles, so base ∪ delta IS the index, and
    * the layout/admission/replay discipline is shared code
    * ([[charIndexMaintainBatch]]); the base is the persisted dd35
    * index sliced below the boundary.
    */
  def charLshIndexMaintainStream(incoming: DataFrame, corpusDir: String,
                                 boundary: Long, workDir: String,
                                 checkpointDir: String,
                                 threshold: Double = 0.5,
                                 numHashes: Int = 64, bands: Int = 16,
                                 k: Int = 12): org.apache.spark.sql.streaming.StreamingQuery = {
    val s = incoming.sparkSession
    val base = graft.sources.TextIndex
      .charBandIndex(s, corpusDir, numHashes, bands, k)
      .filter(col("doc_id") < boundary).localCheckpoint()
    val baseGr = graft.sources.TextIndex.charGramIndex(s, corpusDir, k)
      .filter(col("doc_id") < boundary).localCheckpoint()
    Ledger.maintain(incoming, checkpointDir)(
      charIndexMaintainBatch(_, _, base, baseGr,
        workDir, threshold, numHashes, bands, k))
  }

  /** One micro-batch of [[lshIndexMaintainStream]], callable directly
    * so tests can replay a batch id.
    */
  private[graft] def indexMaintainBatch(batchDf: DataFrame, batchId: Long,
                                        base: DataFrame, baseGr: DataFrame,
                                        workDir: String, threshold: Double,
                                        numHashes: Int, bands: Int): Unit =
    indexMaintainBatchWith(
      graft.operators.Dedup.gramRowsPortableOf(_, 3))(
      batchDf, batchId, base, baseGr, workDir, threshold, numHashes, bands)

  /** [[indexMaintainBatch]] in the CHARACTER shingle basis — the dd35
    * ingest leg: incoming docs are de-spaced (the dd33/dd35 corpus
    * form) and char-k-shingled; everything after the gram relation
    * (admission, delta publish, banding, symmetric probe, verify) is
    * the SAME code, because the whole maintenance layout is
    * shingle-basis-agnostic once (doc_id, gh) exists.
    */
  private[graft] def charIndexMaintainBatch(batchDf: DataFrame,
                                            batchId: Long,
                                            base: DataFrame,
                                            baseGr: DataFrame,
                                            workDir: String,
                                            threshold: Double,
                                            numHashes: Int, bands: Int,
                                            k: Int = 12): Unit =
    indexMaintainBatchWith(d => graft.operators.Dedup.charGramRowsOf(
        d.withColumn("text", translate(col("text"), " ", "")), k))(
      batchDf, batchId, base, baseGr, workDir, threshold, numHashes, bands)

  /** The basis-agnostic micro-batch core — `gramsOf` supplies the
    * (doc_id, gh) shingle relation (word 3-grams for dd17's stream,
    * de-spaced char k-shingles for dd35's).
    */
  private def indexMaintainBatchWith(gramsOf: DataFrame => DataFrame)(
                                     batchDf: DataFrame, batchId: Long,
                                     base: DataFrame, baseGr: DataFrame,
                                     workDir: String, threshold: Double,
                                     numHashes: Int, bands: Int): Unit = {
    import graft.operators.Dedup
    val s = batchDf.sparkSession
    // admission on doc_id against the band deltas' distinct ids
    val fresh = Ledger.prior(s, workDir, "bands", batchId).fold(batchDf)(p =>
      batchDf.join(p.select("doc_id").distinct(), Seq("doc_id"), "left_anti"))
    val bGr = gramsOf(fresh).localCheckpoint()
    Ledger.publish(bGr, workDir, "grams", batchId)
    val batchBands = s.read.parquet(Ledger.publish(
      Dedup.bandedSignatures(bGr, numHashes, bands), workDir, "bands", batchId))
    val allBands = base.unionByName(
      Ledger.read(s, workDir, "bands", base.schema.toDDL))
    val allGr = baseGr.unionByName(
      Ledger.read(s, workDir, "grams", baseGr.schema.toDDL))
    // symmetric: arrival order is NOT id order, so the batch doc may
    // be either pair member — normalize to (least, greatest) so a
    // pair matches the batch operator's doc_a < doc_b orientation
    val cand = allBands.as("a")
      .join(batchBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    Dedup.presentPairs(Dedup.jaccardFromShared(
        Dedup.sharedOfCandidates(cand, allGr), allGr, threshold))
      .write.mode("append").parquet(s"$workDir/out")
    ()
  }


  /** Streaming twin of Graph.copurchaseSupport (GR3): the basket
    * ingest stream MAINTAINS the co-purchase pair index. Contract: a
    * micro-batch row is one (ok, pk) order line and a basket's lines
    * arrive within ONE micro-batch (baskets are atomic events), so
    * every pair is batch-local and the published deltas are exact.
    * Per batch, orders already indexed (redelivered in a later batch)
    * are dropped by an anti-join on the item deltas' order ids, then
    * the batch's distinct (ok, pk) items and its canonical (pa, pb, ok)
    * pair rows are published as deltas.
    * [[readSupportIndex]] aggregates the published pair/item rows and
    * enters the batch operator's own ranked tail
    * (Graph.supportFromCounts), so stream-maintained support over any
    * wave/redelivery schedule equals the batch gr3 answer
    * (StreamingSpec equivalence). At 100 TB the per-batch cost is the
    * batch's baskets only — pair fan-out bounded by basket size — and
    * a nightly compaction can fold deltas without affecting reads.
    */
  def supportIndexMaintainStream(incoming: DataFrame, workDir: String,
                                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      supportMaintainBatch(_, _, workDir))

  private[graft] def supportMaintainBatch(batchDf: DataFrame, batchId: Long,
                                          workDir: String): Unit = {
    val s = batchDf.sparkSession
    val batchItems = batchDf.select(col("ok"), col("pk")).distinct()
    val fresh = Ledger.prior(s, workDir, "items", batchId).fold(batchItems)(p =>
      batchItems.join(p.select("ok").distinct(), Seq("ok"), "left_anti"))
    val items = s.read.parquet(Ledger.publish(fresh, workDir, "items", batchId))
    Ledger.publish(graft.operators.Graph.pairRowsOf(items), workDir, "pairs", batchId)
  }

  /** Read side of the streaming support index: aggregate the delta
    * pair/item rows, then the batch operator's own ranked tail.
    */
  def readSupportIndex(s: org.apache.spark.sql.SparkSession, workDir: String,
                       topK: Int = 100): DataFrame = {
    val items = Ledger.read(s, workDir, "items", "ok BIGINT, pk BIGINT")
    val pairs = Ledger.read(s, workDir, "pairs", "pa BIGINT, pb BIGINT, ok BIGINT")
    graft.operators.Graph.supportFromCounts(
      pairs.groupBy("pa", "pb").agg(count(lit(1)).as("pair_n")),
      items.groupBy("pk").agg(count(lit(1)).as("item_n")), topK)
  }

  /** Streaming maintenance of sq3's session-path statistics — the
    * index-maintaining twin for SESSION-SCOPED state, where (unlike
    * dd17's docs or gr3's baskets) the unit of recomputation is the
    * USER: a late event can bridge two of a user's sessions or extend
    * one, rewriting that user's path contribution wholesale, so the
    * only redelivery-safe incremental shape is per-user recompute,
    * not per-event accumulation.
    *
    * Per micro-batch:
    *   1. ADMIT: dedup the batch on event_id against the earlier event
    *      deltas, and publish the fresh events as an `events` delta;
    *   2. RECOMPUTE: for exactly the users present in the fresh
    *      events, rebuild their ENTIRE path relation from all event
    *      deltas (the batch operator's own sessionPathRows chain) and
    *      publish it as a `paths` delta plus a `users` presence
    *      marker — the marker, not the path rows, carries versioning,
    *      so a user whose recompute yields zero paths still
    *      supersedes their stale rows.
    *
    * The read side keeps each user's LATEST version (max marker batch)
    * and enters the batch operator's own ranked tail, so any wave /
    * late redelivery / replay schedule lands on the batch sq3 answer
    * (StreamingSpec equivalence). At 100 TB the per-batch cost is
    * (events of users active in the batch) — the standard
    * sessionization-maintenance cost — and reads prune to the
    * latest-marker join; nightly compaction folds deltas.
    */
  def sessionPathMaintainStream(incoming: DataFrame, workDir: String,
                                checkpointDir: String,
                                gapMinutes: Int = 30): org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      sessionPathMaintainBatch(_, _, workDir, gapMinutes))

  private[graft] def sessionPathMaintainBatch(batchDf: DataFrame, batchId: Long,
                                              workDir: String,
                                              gapMinutes: Int): Unit = {
    val s = batchDf.sparkSession
    val batchEvents = batchDf
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .dropDuplicates("event_id")
    // the dedup anti-join only needs prior event ids OF THE BATCH'S
    // USERS (event ids are globally unique and carry their user) — at
    // scale, user-partitioned delta layout turns this into a pruned
    // scan, not a full-history read
    val fresh = Ledger.prior(s, workDir, "events", batchId).fold(batchEvents)(p =>
      batchEvents.join(
        p.join(batchEvents.select("user_id").distinct(), "user_id")
          .select("event_id").distinct(),
        Seq("event_id"), "left_anti"))
    val users = s.read.parquet(Ledger.publish(fresh, workDir, "events", batchId))
      .select("user_id").distinct().localCheckpoint()
    val affected = Ledger.read(s, workDir, "events", fresh.schema.toDDL)
      .join(users, "user_id")
    Ledger.publish(graft.operators.DataPrep.sessionPathRows(affected, gapMinutes),
      workDir, "paths", batchId)
    Ledger.publish(users.withColumn("bid", lit(batchId)), workDir, "users", batchId)
  }

  /** Read side of the streaming path index: each user's latest
    * recompute, then the batch operator's own ranked tail.
    */
  def readSessionPaths(s: org.apache.spark.sql.SparkSession,
                       workDir: String): DataFrame = {
    val latest = Ledger.read(s, workDir, "users", "user_id BIGINT, bid BIGINT")
      .groupBy("user_id").agg(max(col("bid")).as("bid"))
    Ledger.readVersioned(s, workDir, "paths", "user_id BIGINT, path STRING")
      .join(latest, Seq("user_id", "bid"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("path").asc)
  }

  /** Streaming maintenance of w16's daily-count table — the simplest
    * member of the delta-index family because counts are ADDITIVE:
    * each micro-batch publishes its own (event_type, day, n) count
    * delta and the read side just sums deltas — no per-key recompute
    * (sq3's stream) and no keyed state. Admission still dedups on
    * event_id against the prior skinny id deltas (ids only — the
    * events/ dirs carry nothing else). The read side feeds the
    * summed daily table into the batch operator's own scoring tail
    * (Windows.rollingAnomalyFrom), so stream-maintained anomalies
    * equal batch w16 under any wave/redelivery/replay schedule. At
    * 100 TB: per-batch cost is the batch's own rows; a day-partitioned
    * id layout prunes the admission anti-join to the days present in
    * the batch.
    */
  def dailyCountMaintainStream(incoming: DataFrame, workDir: String,
                               checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      dailyCountMaintainBatch(_, _, workDir))

  private[graft] def dailyCountMaintainBatch(batchDf: DataFrame, batchId: Long,
                                             workDir: String): Unit = {
    val fresh = admitOn("event_id",
      batchDf.select(col("event_id"), col("ts"), col("event_type")),
      workDir, "events", batchId)
    Ledger.publish(fresh
        .groupBy(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n")),
      workDir, "counts", batchId)
  }

  /** Read side: sum the count deltas, then w16's own scoring tail. */
  def readDailyAnomalies(s: org.apache.spark.sql.SparkSession,
                         workDir: String,
                         threshold: Double = 1.5): DataFrame =
    graft.operators.Windows.rollingAnomalyFrom(
      Ledger.read(s, workDir, "counts", "event_type STRING, day STRING, n BIGINT")
        .groupBy("event_type", "day")
        .agg(sum(col("n")).as("n")),
      threshold)

  /** Streaming maintenance of the (day, user) ACTIVITY index — the
    * shared state behind st5 (day-over-day retention) and st6 (rolling
    * WAU). Both are functions of the DISTINCT (day, user_id) relation,
    * which is SET-UNIONABLE: a micro-batch can only ever ADD pairs,
    * so each batch publishes the pairs it is first to observe and the
    * logical index is the disjoint union of the deltas — no per-key
    * recompute, no keyed stream state, and a LATE event for an old day
    * is just one more pair delta (exactly the state a late event
    * rewrites in a snapshot-published retention table — here it
    * composes instead). Admission dedups on the pair itself (an exact
    * redelivery and a same-user-same-day second event are the same
    * no-op). At 100 TB the per-batch cost
    * is the batch's own pairs; a day-partitioned delta layout prunes
    * the admission anti-join to the days present in the batch.
    */
  def activityIndexMaintainStream(incoming: DataFrame, workDir: String,
                                  checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      activityMaintainBatch(_, _, workDir))

  private[graft] def activityMaintainBatch(batchDf: DataFrame, batchId: Long,
                                           workDir: String): Unit = {
    val batchPairs = batchDf
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .distinct()
    Ledger.publish(
      Ledger.admit(batchPairs, workDir, "pairs", batchId, Seq("day", "user_id")),
      workDir, "pairs", batchId)
  }

  private def activityPairs(s: org.apache.spark.sql.SparkSession,
                            workDir: String): DataFrame =
    Ledger.read(s, workDir, "pairs", "day TIMESTAMP, user_id BIGINT")

  /** Read side of the activity index: the deltas are disjoint by
    * construction, so their union IS the distinct pair relation;
    * st5's own scoring tail does the rest — stream-maintained
    * retention equals batch `st5_retention` under any wave/redelivery
    * schedule (StreamingSpec equivalence).
    */
  def readRetention(s: org.apache.spark.sql.SparkSession,
                    workDir: String): DataFrame =
    graft.operators.Analytics.retentionFromPairs(activityPairs(s, workDir))

  /** st6 over the same maintained pair index (one index, both
    * consumers — the point of keying the state on the shared
    * distinct-pair relation).
    */
  def readRollingWau(s: org.apache.spark.sql.SparkSession,
                     workDir: String, windowDays: Int = 7): DataFrame =
    graft.operators.Analytics.rollingWauFromPairs(
      activityPairs(s, workDir), windowDays)

  /** Streaming maintenance of gr15's weighted trade-edge index — the
    * stream twin of `GraphIndex.tradeWeightedDelta`, fed by a stream
    * of order LINES (o_orderkey, o_custkey, l_suppkey, l_quantity).
    *
    * This family needs NO admit/anti-join leg, unlike the support /
    * session-path / activity indexes: the maintained aggregate is
    * `min(l_quantity)` per (src, dst), and min is IDEMPOTENT under
    * duplication — a redelivered line, a replayed batch, or a line
    * split across batches cannot change any edge's min. Each batch
    * publishes only its own per-edge minima (batch-sized); the read side
    * re-mins across deltas, exactly the base ∪ delta merge gr15
    * proves equal to the monolithic derivation. At 100 TB the
    * per-batch cost is one batch-local aggregate; nightly compaction
    * folds deltas like every other maintained directory.
    */
  def edgeIndexMaintainStream(incoming: DataFrame, workDir: String,
                              checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      edgeMaintainBatch(_, _, workDir))

  private[graft] def edgeMaintainBatch(batchDf: DataFrame, batchId: Long,
                                       workDir: String): Unit = {
    // per-batch minima stay in the SOURCE type; the single cast to
    // long happens at read, after the cross-delta min — the same
    // min-then-cast order as the monolithic derivation (a cast per
    // batch would commute only for integral quantities)
    Ledger.publish(batchDf
        .groupBy((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(min(col("l_quantity")).as("w")),
      workDir, "edges", batchId)
  }

  /** Read side of the streaming edge index: per-edge min across all
    * deltas — answer-identical to the monolithic weighted edge
    * relation on the same lines (StreamingSpec equivalence, including
    * duplicated redelivery).
    */
  def readEdgeIndex(s: org.apache.spark.sql.SparkSession,
                    workDir: String): DataFrame =
    Ledger.read(s, workDir, "edges", "src BIGINT, dst BIGINT, w DOUBLE")
      .groupBy("src", "dst")
      .agg(min(col("w")).cast("long").as("w"))

  /** Streaming maintenance of dd21's banned-chunk state — the scrub's
    * twin of the activity index: what the scrub needs from history is
    * the DISTINCT (doc_id, chunk-hash) incidence relation, which is
    * SET-UNIONABLE — a micro-batch can only ever ADD pairs, so each
    * batch publishes the pairs of the documents it is FIRST to admit
    * and the logical index is the disjoint union of the deltas.
    * Admission is doc_id-keyed; a redelivered document is dropped
    * wholesale — see [[chunkMaintainBatch]] for the first-version-wins
    * mutation contract that keeps ban counts exact. Segmentation is
    * [[graft.operators.Dedup.chunkRowsOf]] —
    * the SAME definition the batch scrub uses, so the maintained ban
    * list cannot drift from the batch one. At 100 TB the per-batch
    * cost is the batch's own chunk pairs; the ban list read is a
    * count over hash-keyed deltas, never a corpus re-chunk.
    */
  def chunkIndexMaintainStream(incoming: DataFrame, workDir: String,
                               checkpointDir: String, k: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      chunkMaintainBatch(_, _, workDir, k))

  /** Admission is keyed on doc_id — a document is chunked into the
    * index exactly once, on FIRST delivery. This makes the mutation
    * contract explicit rather than implicit: a redelivery with
    * IDENTICAL text is a no-op (same pairs would be recomputed), and a
    * redelivery with CHANGED text is dropped wholesale — first version
    * wins, so the ban counts can never mix two versions' chunks or
    * inflate relative to batch dd21 (the failure mode of pair-keyed
    * admission, where old-text pairs lingered beside new-text ones).
    * Batch equivalence therefore assumes at-least-once delivery of
    * immutable documents; true in-place UPDATES need a versioned
    * delete-and-replace layout, which this add-only index deliberately
    * does not implement.
    */
  private[graft] def chunkMaintainBatch(batchDf: DataFrame, batchId: Long,
                                        workDir: String, k: Int = 8): Unit = {
    // Layout migration: the admission ledger moved from chunks/ (pair
    // deltas, whose doc_id set IS the admitted set) to a dedicated
    // docs/ ledger. Without the seed, every document a legacy workdir
    // admitted would be re-admitted and its pairs double-published,
    // breaking the disjointness the read side's exact ban counts rely on.
    Ledger.seedLegacy(batchDf.sparkSession, workDir, "docs", "chunks",
      Seq("doc_id"), batchId)
    val fresh = admitOn("doc_id", batchDf.select(col("doc_id"), col("text")),
      workDir, "docs", batchId)
    Ledger.publish(graft.operators.Dedup.chunkRowsOf(fresh, k)
        .select("doc_id", "gh").distinct(),
      workDir, "chunks", batchId)
  }

  /** Single-key admission shared by the twins whose `kind` ledger
    * holds admitted keys: the batch's rows deduplicated on `key`, minus
    * those an earlier delta admitted. Publishes the admitted keys (plus
    * `ledgerCols`) as this batch's `kind` delta and returns the admitted
    * rows.
    */
  private def admitOn(key: String, rows: DataFrame, workDir: String,
                      kind: String, batchId: Long,
                      ledgerCols: String*): DataFrame = {
    val fresh = Ledger.admit(rows.dropDuplicates(key), workDir, kind, batchId,
      Seq(key))
    Ledger.publish(fresh.select(key, ledgerCols: _*), workDir, kind, batchId)
    fresh
  }

  /** Streaming maintenance of dd13/dd22's repeated-gram count state —
    * the boilerplate catalog kept current as documents arrive. The
    * per-gram (n_docs, n_occurrences) counts are ADDITIVE over
    * disjoint document sets, so each batch publishes the unfloored
    * count state of its newly-admitted docs
    * ([[graft.sources.TextIndex.repGramStateOf]] — the SAME definition
    * the persisted index's base/delta slices use, so stream and batch
    * can never count differently) and the read side sums the disjoint
    * deltas and applies the floor. Admission is doc_id-keyed; a
    * redelivered document is dropped wholesale — first version wins,
    * the [[chunkMaintainBatch]] mutation contract. At 100 TB a corpus
    * append costs the batch's own gram pass; the catalog read is a
    * sum over gh-keyed deltas, never a corpus re-gram.
    */
  def repGramIndexMaintainStream(incoming: DataFrame, workDir: String,
                                 checkpointDir: String, n: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      repGramMaintainBatch(_, _, workDir, n))

  private[graft] def repGramMaintainBatch(batchDf: DataFrame, batchId: Long,
                                          workDir: String, n: Int = 8): Unit = {
    val fresh = admitOn("doc_id", batchDf.select(col("doc_id"), col("text")),
      workDir, "docs", batchId)
    Ledger.publish(graft.sources.TextIndex.repGramStateOf(fresh, n),
      workDir, "repstate", batchId)
  }

  /** Read side: sum the additive count states, apply the floor — the
    * stream-maintained catalog equals the from-scratch
    * `TextIndex.repeatedGramIndex` rows under any wave/redelivery
    * schedule (StreamingSpec pins the equivalence).
    */
  def readRepeatedGrams(s: org.apache.spark.sql.SparkSession,
                        workDir: String, floor: Long = 2L): DataFrame =
    Ledger.read(s, workDir, "repstate",
        "gh BIGINT, gram STRING, n_docs BIGINT, n_occurrences BIGINT")
      .groupBy("gh")
      .agg(min(col("gram")).as("gram"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_occurrences")).as("n_occurrences"))
      .filter(col("n_docs") >= floor)
      .select("gram", "n_docs", "n_occurrences")

  /** Streaming maintenance of tx19's posting lists — the serving-side
    * inverted index behind the lexical retrieval leg (and sr1's BM25
    * arm). What the scorer needs from history is the (doc_id, token,
    * tf) relation; tf preserves multiplicity, so per-doc lengths
    * re-derive as Σtf and the whole state is PER-DOCUMENT — disjoint
    * admitted-document sets publish disjoint posting rows, and the
    * read side unions deltas with NO re-aggregation (a document's
    * postings live in exactly one delta). Admission is doc_id-keyed; a
    * redelivered document is dropped wholesale — first version wins, the
    * [[chunkMaintainBatch]] mutation contract. At 100 TB a corpus
    * append costs one tokenize of the batch's own documents; a query
    * read touches the query terms' posting lists plus the dl roll-up,
    * never a corpus re-tokenize.
    */
  def postingsIndexMaintainStream(incoming: DataFrame, workDir: String,
                                  checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      postingsMaintainBatch(_, _, workDir))

  private[graft] def postingsMaintainBatch(batchDf: DataFrame, batchId: Long,
                                           workDir: String): Unit = {
    // the admission ledger carries the doc's source alongside its id —
    // free at write time, and it is what lets the SAME maintained
    // artifact serve source-conditioned readouts (readDsir) without a
    // second corpus-scale state
    val fresh = admitOn("doc_id",
      batchDf.select(col("doc_id"), col("text"), col("source")),
      workDir, "docs", batchId, "source")
    Ledger.publish(fresh.select(col("doc_id"),
          explode(graft.functions.Text.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")),
      workDir, "postings", batchId)
  }

  /** Streaming maintenance of cms1's Count-Min sketch — the
    * sketch-family twin: CMS counter matrices are EXACTLY mergeable
    * (same eps/confidence/seed → counters add), so each batch
    * publishes the serialized sketch of its newly-admitted lineitem
    * rows plus the additive probe-key exact counts, and the read side
    * merges the sketch blobs and replays the batch audit's own
    * probe/guarantee tail ([[graft.operators.Sketches.cmsAuditTail]]).
    * Sketch counters are additive, NOT idempotent, and the synthetic
    * lineitem carries no unique row id ((l_orderkey, l_linenumber)
    * repeats), so admission is ORDER-keyed: an order's lines enter the
    * sketch exactly once, on first delivery, wholesale — the
    * [[chunkMaintainBatch]] mutation contract at the order grain
    * (delivery unit = an order's line set; duplicates across batches
    * are dropped, multiplicities within one delivery are preserved).
    * At 100 TB the maintained state is a kilobytes-scale counter
    * matrix per batch — the canonical "sketches, not rows" serving
    * artifact.
    */
  def cmsIndexMaintainStream(incoming: DataFrame, workDir: String,
                             checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      cmsMaintainBatch(_, _, workDir))

  private[graft] val CmsProbeKeys: Seq[Long] = (1L to 20L).toSeq
  private[graft] val CmsEps = 0.001

  private[graft] def cmsMaintainBatch(batchDf: DataFrame, batchId: Long,
                                      workDir: String): Unit = {
    val s = batchDf.sparkSession
    import s.implicits._
    // mergeSchema is REQUIRED by the migration shim: pre-round-10
    // ledgers carry only l_orderkey, and without it Spark infers the
    // schema from one arbitrary footer, so a mixed old/new ledger could
    // silently disarm the contract (old footer picked: no n_lines
    // column) or null-pass every row (new footer picked: old rows read
    // null, and null != x filters to nothing). With it the column
    // exists whenever ANY delta has it, so new-format admissions are
    // always checked and old-format ones (no recorded count) never are.
    val fresh = admitOrders(batchDf, workDir, "likeys", batchId, "cms",
      mergeSchema = true)
    val cms = fresh.stat.countMinSketch("l_suppkey", CmsEps, 0.99, 42)
    val bos = new java.io.ByteArrayOutputStream()
    cms.writeTo(bos)
    Ledger.publish(Seq((batchId, bos.toByteArray)).toDF("batch_id", "sketch"),
      workDir, "cms", batchId)
    Ledger.publish(fresh.filter(col("l_suppkey").isin(CmsProbeKeys: _*))
        .groupBy("l_suppkey").agg(count(lit(1)).as("exact_count")),
      workDir, "liexact", batchId)
  }

  /** Order-keyed admission of lineitem rows, shared by the cms and FK
    * twins. It ASSUMES every delivery carries an order's COMPLETE line
    * set: the maintained counts are additive, not idempotent, so a
    * partial first delivery or a grown redelivery would silently skew
    * them against the batch answer. The `kind` ledger therefore records
    * each admitted order's line count, and every redelivered order is
    * checked against it — a violated delivery contract fails loudly
    * (naming `twin`) instead of corrupting counts. Returns the rows of
    * the orders first delivered in this batch.
    */
  private def admitOrders(batchDf: DataFrame, workDir: String, kind: String,
                          batchId: Long, twin: String,
                          mergeSchema: Boolean = false): DataFrame = {
    val ledger = Ledger.prior(batchDf.sparkSession, workDir, kind, batchId,
      mergeSchema)
    def lineCounts(d: DataFrame) =
      d.groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
    ledger.filter(_.columns.contains("n_lines")).foreach { l =>
      val bad = lineCounts(batchDf)
        .join(l.filter(col("n_lines").isNotNull)
          .withColumnRenamed("n_lines", "admitted_lines"), "l_orderkey")
        .filter(col("n_lines") =!= col("admitted_lines"))
        .head(3)
      if (bad.nonEmpty) throw new IllegalStateException(
        s"$twin admission contract violated: redelivered order(s) with a " +
          "different line set than at admission — " + bad.mkString(", "))
    }
    val fresh = ledger.fold(batchDf)(l =>
      batchDf.join(l.select("l_orderkey"), Seq("l_orderkey"), "left_anti"))
    Ledger.publish(lineCounts(fresh), workDir, kind, batchId)
    fresh
  }

  /** Read side: merge the serialized counter matrices (exact integer
    * adds), sum the probe-key exact deltas, then the shared audit
    * tail — the stream-maintained audit equals batch
    * `cms1_heavy_hitters` under any wave/redelivery schedule.
    */
  def readCmsAudit(s: org.apache.spark.sql.SparkSession,
                   workDir: String): DataFrame = {
    // empty maintained state: the audit of zero admitted rows is the
    // probe rows against a zero sketch (all counts 0, all in-bounds),
    // not a reduce-over-nothing crash
    val blobs = Ledger.read(s, workDir, "cms",
      "batch_id BIGINT, sketch BINARY")
      .select("sketch").collect()
      .map(r => org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0))))
    val merged =
      if (blobs.isEmpty)
        org.apache.spark.util.sketch.CountMinSketch.create(CmsEps, 0.99, 42)
      else blobs.reduce { (a, b) => a.mergeInPlace(b); a }
    val exact = Ledger.read(s, workDir, "liexact",
      "l_suppkey BIGINT, exact_count BIGINT")
      .groupBy("l_suppkey")
      .agg(sum(col("exact_count")).as("exact_count"))
    graft.operators.Sketches.cmsAuditTail(s, merged, exact,
      CmsProbeKeys, CmsEps)
  }

  /** Read side: union the disjoint posting deltas, then the shared
    * Okapi tail ([[graft.operators.TextAnalysis.bm25Tail]]) — the
    * stream-served BM25 equals batch `tx19_bm25` under any
    * wave/redelivery schedule (StreamingSpec pins the equivalence).
    */
  def readBm25(s: org.apache.spark.sql.SparkSession, workDir: String,
               terms: Seq[String] = Seq("window", "merge", "scan"),
               topK: Int = 20): DataFrame =
    graft.operators.TextAnalysis.bm25FromPostings(
      Ledger.read(s, workDir, "postings",
        "doc_id BIGINT, token STRING, tf BIGINT"), terms, topK)

  /** Second read path over the SAME maintained posting lists: dp25's
    * DSIR selection. Postings expand back to per-occurrence rows
    * (sequence(1, tf) — the exact multiset the batch estimator
    * tokenized), pick up each doc's source from the admission ledger,
    * and flow through the batch query's own estimator
    * ([[graft.operators.DataPrep.dsirFromTokens]]). One inverted-index
    * artifact serving both the lexical retrieval leg and the
    * data-selection weights is precisely the amortization argument for
    * maintaining it.
    */
  def readDsir(s: org.apache.spark.sql.SparkSession, workDir: String,
               target: String = "src0", topK: Int = 25): DataFrame = {
    val occurrences = Ledger.read(s, workDir, "postings",
        "doc_id BIGINT, token STRING, tf BIGINT")
      .select(col("doc_id"), col("token"),
        explode(sequence(lit(1L), col("tf"))).as("occ"))
      .select(col("doc_id"), xxhash64(col("token")).as("th"))
    graft.operators.DataPrep.dsirFromTokens(
      occurrences.join(
        Ledger.read(s, workDir, "docs", "doc_id BIGINT, source STRING"),
        "doc_id"),
      target, topK)
  }

  /** Third read path over the SAME maintained posting lists: tx33's
    * pairwise source KL-divergence matrix. The per-(source, token)
    * counts the A/X/L factorization runs on are exactly the postings
    * summed within the admission ledger's source labels (postings are
    * per-doc disjoint across deltas, so the sum is the batch count),
    * then the batch query's own tail ([[graft.operators.TextAnalysis
    * .sourceKlFromCounts]]) — the live mixture-substitutability matrix
    * rides an artifact two other monitors already pay for.
    */
  def readSourceKl(s: org.apache.spark.sql.SparkSession,
                   workDir: String): DataFrame =
    graft.operators.TextAnalysis.sourceKlFromCounts(
      Ledger.read(s, workDir, "postings",
          "doc_id BIGINT, token STRING, tf BIGINT")
        .join(Ledger.read(s, workDir, "docs",
          "doc_id BIGINT, source STRING"), "doc_id")
        .groupBy(col("source"), xxhash64(col("token")).as("th"))
        .agg(sum(col("tf")).as("c")))

  /** Streaming maintenance of mg1's Misra–Gries token summary — the
    * MERGEABLE-SUMMARY twin with a deterministic bound: each batch
    * folds its newly-admitted documents' tokens into one k-counter
    * summary (the typed Aggregator, ≤ k counters shuffled) and
    * publishes counters + processed count; the read side merges the
    * per-batch summaries with the aggregator's own PODS'12
    * add-and-trim merge and replays the batch audit tail. The summary
    * itself is fold-order-DEPENDENT — stream and batch counters
    * differ — but the n/(k+1) guarantee holds under any merge tree,
    * so the audited relation (exact heavy hitters + bound booleans)
    * equals batch `mg1_frequent_tokens` under any wave/redelivery
    * schedule: the equivalence test pins exactly the property that
    * makes mergeable summaries servable. Admission is doc_id-keyed
    * (first version wins — counters are additive, not idempotent).
    * The vocabulary-sized exact deltas exist for the AUDIT side only;
    * the serving artifact is the k counters per batch.
    */
  def mgIndexMaintainStream(incoming: DataFrame, workDir: String,
                            checkpointDir: String, k: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      mgMaintainBatch(_, _, workDir, k))

  private[graft] def mgMaintainBatch(batchDf: DataFrame, batchId: Long,
                                     workDir: String, k: Int = 64): Unit = {
    val s = batchDf.sparkSession
    import s.implicits._
    val fresh = admitOn("doc_id", batchDf.select(col("doc_id"), col("text")),
      workDir, "docs", batchId)
    val toks = fresh
      .select(explode(graft.functions.Text.tokens(col("text"))).as("t"))
    val summary = toks.as[String]
      .select(new graft.functions.MisraGries.MGAgg(k).toColumn).head()
    Ledger.publish(summary.counters.toSeq.map { case (t, c) => (batchId, t, c) }
        .toDF("batch_id", "token", "cnt"),
      workDir, "mgsum", batchId)
    // batch processed count must survive even when counters are empty
    Ledger.publish(Seq(summary.processed).toDF("processed"), workDir, "mgn", batchId)
    Ledger.publish(toks.groupBy(col("t").as("token"))
        .agg(count(lit(1)).as("exact_count")),
      workDir, "mgexact", batchId)
  }

  /** Read side: reassemble each batch's summary, merge with the
    * aggregator's own add-and-trim, sum the additive exact deltas,
    * then the shared audit tail ([[graft.operators.Sketches
    * .mgAuditTail]]) — equal to batch mg1 once the same documents
    * are admitted.
    */
  def readMgAudit(s: org.apache.spark.sql.SparkSession,
                  workDir: String, k: Int = 64): DataFrame = {
    import graft.functions.MisraGries.{MGAgg, MGSummary}
    val agg = new MGAgg(k)
    // counters collect ≤ k rows per batch — a SUMMARY, the sanctioned
    // driver-side artifact (the cms blob precedent)
    val counterRows = Ledger.read(s, workDir, "mgsum",
        "batch_id BIGINT, token STRING, cnt BIGINT").collect()
    val totalN = Ledger.read(s, workDir, "mgn", "processed BIGINT")
      .groupBy().agg(coalesce(sum(col("processed")), lit(0L))).head.getLong(0)
    val merged0 = counterRows
      .groupBy(_.getAs[Long]("batch_id")).values.map { rows =>
        MGSummary(rows.map(r => r.getAs[String]("token") ->
          r.getAs[Long]("cnt")).toMap, 0L)
      }
      .foldLeft(agg.zero)(agg.merge)
    // processed counts enter through the mgn ledger (an empty-counter
    // batch writes no mgsum rows but its n still moves the threshold)
    val merged = MGSummary(merged0.counters, totalN)
    val exact = Ledger.read(s, workDir, "mgexact",
        "token STRING, exact_count BIGINT")
      .groupBy("token").agg(sum(col("exact_count")).as("exact_count"))
    graft.operators.Sketches.mgAuditTail(exact, merged, k)
  }

  /** Streaming maintenance of dq6's referential-integrity state — the
    * warehouse-load twin: the audit's inputs decompose into per-key
    * child COUNTS (additive — each admitted delivery publishes its own
    * counts and the read side sums disjoint deltas) and parent KEY
    * sets (per-delta disjoint by admission), so the seven-edge orphan
    * report is servable continuously while orders and lineitem load.
    * TWO maintained relations coordinate in one workDir: the orders
    * ledger is BOTH the orders→customer child state and the
    * lineitem→orders parent set — which is exactly why the twin must
    * maintain them together (an orphaned line is healed the moment its
    * order arrives, and only a coordinated state observes that).
    * Admission: orders dedup on o_orderkey; lineitem admission is
    * ORDER-keyed with the cms1 delivery contract (an order's complete
    * line set enters once, wholesale; the per-order line count is
    * ledgered and a mismatched redelivery fails loudly). The audit
    * tail is [[graft.operators.DataQuality.refIntegrityFromCounts]] —
    * the batch operator's own — so stream and batch can never count
    * differently. At 100 TB each batch pays one map-side count pass
    * over its own rows; the read probes vocabulary-sized key-count
    * relations, never the accumulated fact stream.
    */
  def refIntegrityOrdersStream(incoming: DataFrame, workDir: String,
                               checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      refIntegrityOrdersBatch(_, _, workDir))

  def refIntegrityLineitemStream(incoming: DataFrame, workDir: String,
                                 checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      refIntegrityLineitemBatch(_, _, workDir))

  private[graft] def refIntegrityOrdersBatch(batchDf: DataFrame, batchId: Long,
                                             workDir: String): Unit = {
    admitOn("o_orderkey", batchDf.select(col("o_orderkey"), col("o_custkey")),
      workDir, "rorders", batchId, "o_custkey")
  }

  private[graft] def refIntegrityLineitemBatch(batchDf: DataFrame,
                                               batchId: Long,
                                               workDir: String): Unit =
    Ledger.publish(graft.operators.DataQuality.lineitemKeyCounts(
        admitOrders(batchDf, workDir, "rlikeys", batchId, "refIntegrity")),
      workDir, "rlicounts", batchId)

  /** Read side: sum the additive per-key count deltas, union the
    * disjoint admitted-orders deltas, then the batch audit's own
    * seven-edge tail (static dimensions read from `d`) — the live
    * report equals batch `dq6_referential` once the same rows have
    * been admitted, under any wave/redelivery schedule.
    */
  def readRefIntegrity(s: org.apache.spark.sql.SparkSession,
                       workDir: String, d: String): DataFrame = {
    val liCounts = Ledger.read(s, workDir, "rlicounts",
        "kind STRING, k BIGINT, n BIGINT")
      .groupBy("kind", "k").agg(sum(col("n")).as("n"))
    val orders = Ledger.read(s, workDir, "rorders",
      "o_orderkey BIGINT, o_custkey BIGINT")
    graft.operators.DataQuality.refIntegrityFromCounts(s, d, liCounts, orders)
  }

  /** Streaming maintenance of the near-dup PAIR relation and its
    * component labels — dedup AT INGEST, the serving twin of
    * dd8/dd25: as documents arrive, each batch publishes its admitted
    * docs' gram state plus the pair DELTA (every over-threshold pair
    * whose later-admitted member is in this batch —
    * [[graft.operators.Dedup.pairsTouching]], one fresh × admitted
    * gram probe, never an admitted × admitted re-pair), and the read
    * side runs the batch operator's own label fixpoint over the
    * accumulated pairs. Admission is doc_id-keyed (first version
    * wins, the [[chunkMaintainBatch]] contract). Pair deltas are
    * disjoint under normal arrival; a same-batch-id REPLAY on a
    * grown ledger may republish pairs already present in later
    * deltas — harmless BY SEMANTICS, not by accident: connectivity
    * (and therefore every min label) is insensitive to pair
    * multiplicity, which is what makes this twin replay-safe without
    * a pair-level ledger.
    */
  def componentsMaintainStream(incoming: DataFrame, workDir: String,
                               checkpointDir: String,
                               threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      componentsMaintainBatch(_, _, workDir, threshold))

  private[graft] def componentsMaintainBatch(batchDf: DataFrame, batchId: Long,
                                             workDir: String,
                                             threshold: Double = 0.5): Unit = {
    val s = batchDf.sparkSession
    val fresh = admitOn("doc_id", batchDf.select(col("doc_id"), col("text")),
      workDir, "docs", batchId)
    val freshGrams = graft.operators.Dedup.gramRowsOf(fresh, 3)
    val batchGrams = s.read.parquet(Ledger.publish(freshGrams, workDir, "grams", batchId))
    // the gram union INCLUDES this batch's just-written delta, so
    // fresh × fresh pairs are found in their admission batch
    val allGrams = Ledger.read(s, workDir, "grams", freshGrams.schema.toDDL)
    Ledger.publish(graft.operators.Dedup.pairsTouching(allGrams, batchGrams, threshold),
      workDir, "pairs", batchId)
  }

  /** Read side: the batch operator's own min-label fixpoint over the
    * admitted node set and the accumulated pair deltas — the live
    * cluster assignment equals batch `dd8_components` under any
    * wave/redelivery schedule (StreamingSpec pins the equivalence).
    */
  def readComponents(s: org.apache.spark.sql.SparkSession,
                     workDir: String): DataFrame =
    graft.operators.Dedup.componentsFromPairs(
      Ledger.read(s, workDir, "docs", "doc_id BIGINT"),
      Ledger.read(s, workDir, "pairs", "doc_a BIGINT, doc_b BIGINT"))

  /** Streaming maintenance of dq4's PSI drift state — the
    * serving-side drift monitor: what the audit needs from history is
    * the (feature, bucket, cohort) COUNT relation, which is ADDITIVE,
    * so each batch publishes only its own admitted orders' counts and
    * the read side sums the disjoint deltas. Admission dedups on
    * o_orderkey (an order is atomic — it contributes to both features
    * exactly once). Bucketing is
    * [[graft.operators.DataQuality.psiFeatureRows]] — the batch
    * audit's own definition — so stream and batch can never bucket
    * differently; the report tail is shared too.
    */
  def psiIndexMaintainStream(incoming: DataFrame, workDir: String,
                             checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      psiMaintainBatch(_, _, workDir))

  private[graft] def psiMaintainBatch(batchDf: DataFrame, batchId: Long,
                                      workDir: String): Unit = {
    val fresh = admitOn("o_orderkey", batchDf.select("o_orderkey",
      "o_orderdate", "o_totalprice", "o_orderpriority"), workDir, "orders", batchId)
    Ledger.publish(graft.operators.DataQuality.psiFeatureRows(fresh)
        .groupBy("feature", "bucket")
        .agg(sum(col("in_a")).as("na"),
          sum(lit(1L) - col("in_a")).as("nb")),
      workDir, "counts", batchId)
  }


  /** Read side: sum the additive count deltas, then the shared PSI
    * report tail — stream-maintained drift equals the batch
    * `dq4_psi_drift` answer under any wave/redelivery schedule.
    */
  def readPsiDrift(s: org.apache.spark.sql.SparkSession,
                   workDir: String): DataFrame =
    graft.operators.DataQuality.psiFromCounts(
      Ledger.read(s, workDir, "counts",
          "feature STRING, bucket STRING, na BIGINT, nb BIGINT")
        .groupBy("feature", "bucket")
        .agg(sum(col("na")).as("na"), sum(col("nb")).as("nb")))

  /** Streaming maintenance of dq3's snapshot bucket digests — the
    * anti-entropy monitor kept current as documents arrive: the audit
    * only ever needs the per-bucket (count, content-hash sum) digests,
    * which are ADDITIVE over documents, so each batch publishes the
    * digest delta of its newly-admitted docs and the read side sums
    * the disjoint deltas. Admission dedups on doc_id. Digesting is
    * [[graft.operators.DataQuality.bucketDigestRows]] —
    * the batch audit's own definition — and the diff tail is shared
    * too, so stream and batch can never disagree on what changed.
    */
  def bucketDigestMaintainStream(incoming: DataFrame, workDir: String,
                                 checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      bucketDigestMaintainBatch(_, _, workDir))

  private[graft] def bucketDigestMaintainBatch(batchDf: DataFrame,
                                               batchId: Long,
                                               workDir: String): Unit = {
    val fresh = admitOn("doc_id", batchDf.select("doc_id", "text"),
      workDir, "docs", batchId)
    Ledger.publish(graft.operators.DataQuality.bucketDigestRows(fresh)
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_a"),
          sum(col("ha")).as("hsum_a"),
          count(lit(1)).cast("long").as("n_b"),
          sum(col("hb")).as("hsum_b")),
      workDir, "digests", batchId)
  }

  /** Read side: sum the additive digest deltas, then the shared diff
    * tail — stream-maintained bucket diff equals the batch
    * `dq3_bucket_diff` answer under any wave/redelivery schedule.
    */
  def readBucketDiff(s: org.apache.spark.sql.SparkSession,
                     workDir: String): DataFrame =
    graft.operators.DataQuality.bucketDiffFromCounts(
      Ledger.read(s, workDir, "digests",
          "bucket BIGINT, n_a BIGINT, hsum_a BIGINT, n_b BIGINT, hsum_b BIGINT")
        .groupBy("bucket")
        .agg(sum(col("n_a")).as("n_a"), sum(col("hsum_a")).as("hsum_a"),
          sum(col("n_b")).as("n_b"), sum(col("hsum_b")).as("hsum_b")))

  /** Streaming maintenance of dq5's schema-drift profile — the column
    * monitor kept current as events arrive. The count side (rows,
    * nulls per half) is ADDITIVE; the exact distinct counts are NOT,
    * but the value-key set underneath them IS mergeable: each batch
    * publishes the distinct (col, half, value-hash) keys of its
    * newly-admitted events, and the read side dedups the union — the
    * tx25-spectrum move, applied to distinct-cardinality instead of
    * token counts. The derivation tail
    * ([[graft.operators.DataQuality.profileFromStats]]) is shared
    * with the batch gate. Admission dedups on event_id.
    */
  def profileIndexMaintainStream(incoming: DataFrame, workDir: String,
                                 checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      profileMaintainBatch(_, _, workDir))

  private[graft] def profileMaintainBatch(batchDf: DataFrame, batchId: Long,
                                          workDir: String): Unit = {
    val batchEvents = batchDf
      .select("event_id", "ts", "event_type", "props", "user_id", "value")
      .dropDuplicates("event_id")
    // a multi-output batch: admission keys, additive counts, and the
    // distinct-value key delta all derive from the SAME admitted set,
    // so localCheckpoint once instead of recomputing the anti-join
    val admitted = Ledger.admit(batchEvents, workDir, "pevents", batchId,
      Seq("event_id")).localCheckpoint(true)
    Ledger.publish(admitted.select("event_id"), workDir, "pevents", batchId)
    Ledger.publish(graft.operators.DataQuality.profileCountRows(admitted),
      workDir, "pcounts", batchId)
    Ledger.publish(graft.operators.DataQuality.profileValueKeys(admitted),
      workDir, "pvalues", batchId)
  }

  /** Read side: sum the additive count deltas, dedup the value-key
    * union into exact distinct cardinalities, and apply the shared
    * derivation tail — the monitor equals the batch `dq5_profile_drift`
    * answer under any wave/redelivery schedule.
    */
  def readProfileDrift(s: org.apache.spark.sql.SparkSession,
                       workDir: String): DataFrame = {
    val counts = Ledger.read(s, workDir, "pcounts", "col_name STRING, " +
        "n_a BIGINT, n_null_a BIGINT, n_b BIGINT, n_null_b BIGINT")
      .groupBy("col_name")
      .agg(sum(col("n_a")).as("n_a"), sum(col("n_null_a")).as("n_null_a"),
        sum(col("n_b")).as("n_b"), sum(col("n_null_b")).as("n_null_b"))
    val distincts = Ledger.read(s, workDir, "pvalues",
        "col_name STRING, half STRING, vh BIGINT")
      .dropDuplicates("col_name", "half", "vh")
      .groupBy("col_name")
      .agg(
        sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_distinct_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_distinct_b"))
    // LEFT join from counts: a profiled column whose admitted values
    // are all NULL contributes no pvalues rows at all, and an inner
    // join would silently drop that column from the streamed monitor
    // while batch profileDrift still reports it (n_distinct 0) — the
    // completeness cliff this monitor exists to flag.
    graft.operators.DataQuality.profileFromStats(
      counts.join(distincts, Seq("col_name"), "left")
        .withColumn("n_distinct_a", coalesce(col("n_distinct_a"), lit(0L)))
        .withColumn("n_distinct_b", coalesce(col("n_distinct_b"), lit(0L))))
  }

  /** Streaming maintenance of a50/a51's monthly revenue series — ONE
    * maintained state, TWO live monitors: the (month, cents) sums are
    * ADDITIVE over disjoint order sets, so each batch publishes the
    * monthly partial sums of its newly-admitted orders
    * ([[graft.operators.Analytics.monthlyRevenueState]] — the batch
    * queries' own series definition) and both trend tests re-derive
    * from the merged state through their batch tails
    * (mannKendallFromMonthly / runsTestFromMonthly), so the monitor
    * can never disagree with the a50/a51 readouts. Admission dedups on
    * o_orderkey.
    */
  def trendIndexMaintainStream(incoming: DataFrame, workDir: String,
                               checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      trendMaintainBatch(_, _, workDir))

  private[graft] def trendMaintainBatch(batchDf: DataFrame, batchId: Long,
                                        workDir: String): Unit = {
    val fresh = admitOn("o_orderkey", batchDf.select("o_orderkey",
      "o_orderdate", "o_totalprice"), workDir, "orders", batchId)
    Ledger.publish(graft.operators.Analytics.monthlyRevenueState(fresh),
      workDir, "monthly", batchId)
  }

  private def mergedMonthly(s: org.apache.spark.sql.SparkSession,
                            workDir: String): DataFrame =
    Ledger.read(s, workDir, "monthly", "x BIGINT, c BIGINT")
      .groupBy("x").agg(sum(col("c")).as("c"))

  /** Read side #1: the live Mann–Kendall monitor off the merged state. */
  def readMannKendall(s: org.apache.spark.sql.SparkSession,
                      workDir: String): DataFrame =
    graft.operators.Analytics.mannKendallFromMonthly(mergedMonthly(s, workDir))

  /** Read side #2: the live runs-test monitor off the SAME state. */
  def readRunsTest(s: org.apache.spark.sql.SparkSession,
                   workDir: String): DataFrame =
    graft.operators.Analytics.runsTestFromMonthly(mergedMonthly(s, workDir))

  /** Read side #3: the live Hodges–Lehmann location readout off the
    * SAME maintained monthly state — the a54 twin rides the artifact
    * a50/a51 already pay for (the readDsir amortization argument:
    * one maintained relation, many serving readers).
    */
  def readHodgesLehmann(s: org.apache.spark.sql.SparkSession,
                        workDir: String): DataFrame =
    graft.operators.Analytics.hodgesLehmannFromMonthly(
      mergedMonthly(s, workDir))

  /** Streaming maintenance of dd26's verbatim-run relation — dedup at
    * ingest for the exact-substring family: as documents arrive, each
    * batch publishes its admitted docs' text + positional anchors as
    * deltas (anchors are per-doc pure — base ∪ delta IS the index, the
    * dd30 property) plus the run DELTA: every maximal cross-doc
    * verbatim run whose LATER-admitted member is in this batch (the
    * componentsMaintainStream discipline — one fresh-strided ×
    * admitted-anchor probe, never an admitted × admitted re-pair, so
    * run deltas are disjoint by construction: each run's later member
    * pins its batch). The read side is a plain union + re-sort — the
    * accumulated deltas ARE batch `dd26_exact_substring`. Admission is
    * doc_id-keyed (first version wins).
    */
  def substringIndexMaintainStream(incoming: DataFrame, workDir: String,
                                   checkpointDir: String,
                                   anchor: Int = 8, minRun: Int = 13)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      substringMaintainBatch(_, _, workDir, anchor, minRun))

  private[graft] def substringMaintainBatch(batchDf: DataFrame, batchId: Long,
                                            workDir: String,
                                            anchor: Int = 8,
                                            minRun: Int = 13): Unit = {
    import graft.operators.Dedup
    val s = batchDf.sparkSession
    val priorDocs = Ledger.prior(s, workDir, "ssdocs", batchId)
    val fresh = Ledger.admit(batchDf.select("doc_id", "text").dropDuplicates("doc_id"),
      workDir, "ssdocs", batchId, Seq("doc_id")).localCheckpoint(true)
    Ledger.publish(fresh, workDir, "ssdocs", batchId)
    val freshAnchors = Dedup.anchorRowsOf(fresh, anchor).localCheckpoint(true)
    Ledger.publish(freshAnchors, workDir, "ssanchors", batchId)
    val priorAnchors = Ledger.prior(s, workDir, "ssanchors", batchId)
    // strict fan-out guard on the index side of the probe join (the
    // dd26 discipline, ADVICE r11): anchor DF here is over docs
    // ADMITTED SO FAR — a gram can cross the cap in a later batch, and
    // strict mode turns that contract edge into a loud error instead
    // of a quadratic stall (capByDocFreq's incremental-path argument)
    val allAnchors = Dedup.capAnchorFreq(
      priorAnchors.map(_.unionByName(freshAnchors)).getOrElse(freshAnchors),
      Dedup.DefaultMaxGramDocFreq, "substring-maintain")
    val allDocs = priorDocs.fold(fresh)(_.unionByName(fresh))
    val stride = minRun - anchor + 1
    val probe = freshAnchors.filter(((col("pos") - 1) % stride) === 0)
    val cand = probe.as("p").join(allAnchors.as("x"),
        col("p.gh") === col("x.gh") && col("p.doc_id") =!= col("x.doc_id"))
      .select(col("p.doc_id").as("da"), col("p.pos").as("pa"),
        col("x.doc_id").as("db"), col("x.pos").as("pb"))
    Ledger.publish(Dedup.extendToMaximalRuns(cand, allDocs, anchor, minRun),
      workDir, "ssruns", batchId)
  }

  /** Read side: the union of the run deltas, deduped and re-sorted —
    * equal to batch `dd26_exact_substring` under any wave/redelivery
    * schedule once the same documents are admitted. The dedup exists
    * for ONE case: a same-batch-id replay on a grown ledger re-probes
    * against later batches' anchors and republishes runs those later
    * deltas already hold (the componentsMaintainStream replay note —
    * harmless there because connectivity ignores multiplicity; runs
    * are a multiset, so the multiplicity is removed here instead). In
    * normal operation the deltas are disjoint and this is a no-op.
    */
  def readSubstringRuns(s: org.apache.spark.sql.SparkSession,
                        workDir: String, minRun: Int = 15): DataFrame =
    // the state is maintained at the FINEST served grain (13, dd32's
    // convention); a run's maximality does not depend on the
    // threshold, so each reader's >= filter recovers exactly its own
    // relation — one state, three monitors (runs, scrub, decontam)
    Ledger.read(s, workDir, "ssruns",
        "doc_a BIGINT, doc_b BIGINT, start_a BIGINT, start_b BIGINT, " +
          "run_len BIGINT")
      .filter(col("run_len") >= minRun)
      .dropDuplicates("doc_a", "doc_b", "start_a", "start_b")
      .orderBy("doc_a", "doc_b", "start_a", "start_b")

  /** Third read path over the SAME maintained substring state: dd32's
    * token-level decontamination monitor — the cross-split (eval ×
    * train) restriction of the run relation at the 13-token public
    * convention, re-keyed eval-first. The live answer to "did this
    * crawl batch just quote the eval suite".
    */
  def readSubstringDecontam(s: org.apache.spark.sql.SparkSession,
                            workDir: String, minRun: Int = 13,
                            evalMod: Long = 97L): DataFrame = {
    val isEval = (c: org.apache.spark.sql.Column) => c % evalMod === 0
    readSubstringRuns(s, workDir, minRun)
      .filter(isEval(col("doc_a")) =!= isEval(col("doc_b")))
      .select(
        when(isEval(col("doc_a")), col("doc_a"))
          .otherwise(col("doc_b")).as("eval_doc"),
        when(isEval(col("doc_a")), col("doc_b"))
          .otherwise(col("doc_a")).as("train_doc"),
        when(isEval(col("doc_a")), col("start_a"))
          .otherwise(col("start_b")).as("start_eval"),
        when(isEval(col("doc_a")), col("start_b"))
          .otherwise(col("start_a")).as("start_train"),
        col("run_len"))
      .orderBy("eval_doc", "train_doc", "start_eval", "start_train")
  }

  /** Second read path over the SAME maintained substring state: dd27's
    * token-exact scrub, live — the admitted-docs ledger supplies the
    * texts, the accumulated run deltas supply the spans, and the batch
    * query's own tail ([[graft.operators.Dedup.exactSubstringScrubOf]])
    * does the cutting. One maintained artifact, two monitors (the run
    * relation and the shrinkage audit) — the posting-list amortization
    * discipline again.
    */
  def readSubstringScrub(s: org.apache.spark.sql.SparkSession,
                         workDir: String): DataFrame =
    graft.operators.Dedup.exactSubstringScrubOf(
      Ledger.read(s, workDir, "ssdocs", "doc_id BIGINT, text STRING"),
      readSubstringRuns(s, workDir))

  /** Nightly compaction for the substring stream's grow-forever delta
    * ledgers (ssdocs / ssanchors / ssruns) —
    * [[graft.sources.TextIndex.compactAnchorIndex]]'s discipline
    * applied to the STREAM state: without it [[readSubstringRuns]]
    * unions + dedups every delta ever published, so a long-running
    * ingest pays an ever-growing read tail for state whose live size
    * is corpus-bound. Each ledger's deltas fold into ONE successor
    * delta: READ, never recomputed; deduped by the ledger's key so
    * replay-republished rows collapse once at fold time instead of at
    * every read; re-clustered on the ledger's probe key (anchors on
    * gh for the maintain join, runs on doc_a for the monitors)
    * ([[Ledger.compact]]). A crash mid-fold leaves at worst duplicates
    * the RETAINED read-side dedup removes.
    * Correctness never requires compaction; a batch replayed AFTER
    * its delta was folded re-publishes rows the fold already holds
    * (same read-side dedup), and its admission view still sees the
    * folded docs, so nothing is ever re-admitted.
    */
  def compactSubstringState(s: org.apache.spark.sql.SparkSession,
                            workDir: String): Unit = {
    Ledger.compact(s, workDir, "ssdocs", Seq("doc_id"), Seq("doc_id"))
    Ledger.compact(s, workDir, "ssanchors", Seq("doc_id", "pos"), Seq("gh"))
    Ledger.compact(s, workDir, "ssruns",
      Seq("doc_a", "doc_b", "start_a", "start_b"), Seq("doc_a"))
  }

  /** Streaming maintenance of sp9's priority-sampling state — the
    * bounded-summary twin in the Misra–Gries mold: a doc's priority
    * q = w/u is a deterministic per-doc value, so each source's
    * top-(k+1) priority rows form a MERGEABLE summary under the same
    * trim rule the MG counters use (top-(k+1) of a union of per-batch
    * top-(k+1)s IS the global top-(k+1): a doc in the global top has
    * rank ≤ k+1 within its own batch a fortiori). Each batch publishes
    * its admitted docs' per-source top-(k+1) rows (≤ (k+1)·|sources|,
    * corpus-independent) plus the ADDITIVE per-source (n_docs,
    * sum_chars) totals; the read side re-ranks the merged tops and
    * serves τ and the Duffield–Lund–Thorup estimator through the batch
    * query's own tail ([[graft.operators.Sampling
    * .priorityEstimateFromRanked]]), so stream and batch can never
    * disagree. Admission is doc_id-keyed (totals are additive, not
    * idempotent).
    */
  def priorityIndexMaintainStream(incoming: DataFrame, workDir: String,
                                  checkpointDir: String, k: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      priorityMaintainBatch(_, _, workDir, k))

  private[graft] def priorityMaintainBatch(batchDf: DataFrame, batchId: Long,
                                           workDir: String,
                                           k: Int = 16): Unit = {
    // admission keys, the bounded top-(k+1) summary, and the additive
    // totals all derive from the SAME admitted set — checkpoint once
    val admitted = Ledger.admit(
      batchDf.select("doc_id", "source", "n_chars").dropDuplicates("doc_id"),
      workDir, "spdocs", batchId, Seq("doc_id")).localCheckpoint(true)
    Ledger.publish(admitted.select("doc_id"), workDir, "spdocs", batchId)
    Ledger.publish(graft.operators.Sampling.priorityProjection(admitted)
        .withColumn("rnk", row_number()
          .over(graft.operators.Sampling.priorityRankWindow))
        .filter(col("rnk") <= k + 1)
        .select("source", "doc_id", "q", "w"),
      workDir, "sptop", batchId)
    Ledger.publish(admitted.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars")),
      workDir, "sptot", batchId)
  }

  /** Read side: re-rank the merged per-batch top-(k+1) summaries (the
    * trim rule makes this the global top-(k+1) per source), sum the
    * additive totals, then the batch estimator tail — equal to batch
    * `sp9_priority_estimate` under any wave/redelivery schedule once
    * the same documents are admitted.
    */
  def readPriorityEstimate(s: org.apache.spark.sql.SparkSession,
                           workDir: String, k: Int = 16): DataFrame = {
    val ranked = Ledger.read(s, workDir, "sptop",
        "source STRING, doc_id BIGINT, q DOUBLE, w DOUBLE")
      .withColumn("rnk", row_number()
        .over(graft.operators.Sampling.priorityRankWindow))
    val totals = Ledger.read(s, workDir, "sptot",
        "source STRING, n_docs BIGINT, sum_chars BIGINT")
      .groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).cast("long").as("exact_chars"))
    graft.operators.Sampling.priorityEstimateFromRanked(ranked, totals, k)
  }

  /** Streaming maintenance of tx30's vocabulary-growth state — the
    * live corpus-health monitor (near-linear vocabulary growth = ID/
    * hash debris arriving). Per-token first-occurrence doc ids are
    * additive-by-MIN and the document-id set is union-mergeable —
    * both IDEMPOTENT, so like the Kaplan–Meier twin this needs no
    * admission: a redelivered document re-asserts bounds and ids the
    * merge already holds. Each batch publishes its own per-token
    * ([[graft.operators.TextAnalysis.tokenFirstDocState]]) and doc-id
    * deltas; the read side merges by min / distinct and applies the
    * batch query's own curve tail.
    */
  def heapsIndexMaintainStream(incoming: DataFrame, workDir: String,
                               checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      heapsMaintainBatch(_, _, workDir))

  private[graft] def heapsMaintainBatch(batchDf: DataFrame, batchId: Long,
                                        workDir: String): Unit = {
    val batch = batchDf.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")
    Ledger.publish(batch.select("doc_id"), workDir, "docs", batchId)
    Ledger.publish(graft.operators.TextAnalysis.tokenFirstDocState(batch),
      workDir, "vocab", batchId)
  }

  /** Read side: merge the idempotent per-token minima and the doc-id
    * union, then the shared curve tail — stream-maintained growth
    * equals the batch `tx30_heaps_curve` answer under any
    * wave/redelivery schedule.
    */
  def readHeapsCurve(s: org.apache.spark.sql.SparkSession,
                     workDir: String, steps: Int = 10): DataFrame =
    graft.operators.TextAnalysis.heapsFromState(
      Ledger.read(s, workDir, "vocab", "h BIGINT, fd BIGINT")
        .groupBy("h").agg(min(col("fd")).as("fd")),
      Ledger.read(s, workDir, "docs", "doc_id BIGINT")
        .select("doc_id").distinct(),
      steps)

  /** Streaming maintenance of sq6's Kaplan–Meier per-user state — the
    * live time-to-conversion monitor. The state a survival curve needs
    * from history is per-user (first-activity, first-conversion,
    * last-activity), which is additive-by-MIN/MAX — and min/max are
    * IDEMPOTENT, so unlike the sum-based twins this one needs no
    * admission at all: a redelivered event can only re-assert bounds
    * the merge already holds. Each batch
    * publishes its own per-user partial
    * ([[graft.operators.DataPrep.kmUserState]] — the batch query's own
    * state definition); the read side merges by (min, min, max) and
    * applies the batch estimator's own tail
    * ([[graft.operators.DataPrep.kaplanMeierFromPerUser]]), so the
    * monitor and the sq6 readout can never disagree on risk sets or
    * the censoring edge. Assumes immutable events (the engine-wide
    * at-least-once contract).
    */
  def kmIndexMaintainStream(incoming: DataFrame, workDir: String,
                            checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      kmMaintainBatch(_, _, workDir))

  private[graft] def kmMaintainBatch(batchDf: DataFrame, batchId: Long,
                                     workDir: String): Unit = {
    Ledger.publish(graft.operators.DataPrep.kmUserState(batchDf),
      workDir, "kmuser", batchId)
  }

  /** Read side: merge the idempotent per-user bounds, then the shared
    * estimator tail — stream-maintained survival equals the batch
    * `sq6_kaplan_meier` answer under any wave/redelivery schedule.
    */
  def readKaplanMeier(s: org.apache.spark.sql.SparkSession,
                      workDir: String): DataFrame =
    graft.operators.DataPrep.kaplanMeierFromPerUser(
      Ledger.read(s, workDir, "kmuser",
          "user_id BIGINT, fd DATE, cv DATE, md DATE")
        .groupBy("user_id")
        .agg(min(col("fd")).as("fd"), min(col("cv")).as("cv"),
          max(col("md")).as("md")))

  /** Streaming maintenance of a48's per-user CUPED state — the live
    * experiment monitor: θ, the adjusted per-arm means, and the
    * variance reduction are all functions of the per-user (x, y)
    * pre/post spend sums, which are ADDITIVE over events — disjoint
    * event batches contribute per-user partials that merge by
    * summation. Each batch publishes the partial sums of its
    * newly-admitted events; the read side sums the deltas and applies
    * the batch estimator's own tail
    * ([[graft.operators.Analytics.cupedFromPerUser]]), so the monitor
    * and the a48 readout can never disagree on the estimator.
    * Admission dedups on event_id.
    */
  def cupedIndexMaintainStream(incoming: DataFrame, workDir: String,
                               checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      cupedMaintainBatch(_, _, workDir))

  private[graft] def cupedMaintainBatch(batchDf: DataFrame, batchId: Long,
                                        workDir: String): Unit = {
    val fresh = admitOn("event_id", batchDf.select("event_id", "user_id", "ts",
      "value"), workDir, "events", batchId)
    Ledger.publish(graft.operators.Analytics.cupedPerUserRows(fresh),
      workDir, "sums", batchId)
  }

  /** Read side: merge the additive per-user deltas, then the shared
    * estimator tail — the stream-maintained experiment readout equals
    * the batch `a48_cuped` answer under any wave/redelivery schedule.
    */
  def readCupedAbTest(s: org.apache.spark.sql.SparkSession,
                      workDir: String): DataFrame =
    graft.operators.Analytics.cupedFromPerUser(
      Ledger.read(s, workDir, "sums", "user_id BIGINT, x DOUBLE, y DOUBLE")
        .groupBy("user_id")
        .agg(sum(col("x")).as("x"), sum(col("y")).as("y")))

  /** Streaming maintenance of tx25's token-frequency spectrum — the
    * lexical-diversity monitor kept current as documents arrive. The
    * diversity statistics are NOT additive (Σn(n−1) over merged
    * counts ≠ its sum over deltas), but the spectrum underneath them
    * IS: disjoint-doc batches contribute disjoint token counts that
    * merge by summation per (source, token). So each batch publishes
    * the spectrum delta of its newly-admitted docs; the read side
    * sums the deltas into the merged spectrum and applies the batch
    * query's own statistics tail
    * ([[graft.operators.TextAnalysis.diversityFromSpectrum]]), so
    * stream and batch can never disagree on the formulas. Admission
    * dedups on doc_id.
    */
  def spectrumMaintainStream(incoming: DataFrame, workDir: String,
                             checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Ledger.maintain(incoming, checkpointDir)(
      spectrumMaintainBatch(_, _, workDir))

  private[graft] def spectrumMaintainBatch(batchDf: DataFrame,
                                           batchId: Long,
                                           workDir: String): Unit = {
    val fresh = admitOn("doc_id", batchDf.select("doc_id", "source", "text"),
      workDir, "sdocs", batchId)
    Ledger.publish(graft.operators.TextAnalysis.tokenSpectrum(
        fresh.select("source", "text")),
      workDir, "spectrum", batchId)
  }

  /** Read side: sum the disjoint spectrum deltas into the merged
    * (source, token) counts, then the batch statistics tail —
    * stream-maintained lexical diversity equals the batch
    * `tx25_lexical_diversity` answer under any wave/redelivery
    * schedule (StreamingSpec equivalence).
    */
  def readLexicalDiversity(s: org.apache.spark.sql.SparkSession,
                           workDir: String): DataFrame =
    graft.operators.TextAnalysis.diversityFromSpectrum(
      Ledger.read(s, workDir, "spectrum", "source STRING, t STRING, n BIGINT")
        .groupBy("source", "t")
        .agg(sum(col("n")).as("n")))

  /** Read side: docs-per-chunk counts across the disjoint pair deltas
    * (count(*) == countDistinct because the deltas are disjoint and
    * each batch dedups within itself), thresholded into the ban list,
    * then the shared scrub tail — stream-maintained scrub equals
    * batch `dd21_span_scrub` under any wave/redelivery schedule
    * (StreamingSpec equivalence).
    */
  def readSpanScrub(s: org.apache.spark.sql.SparkSession,
                    workDir: String, corpusDir: String,
                    k: Int = 8, minDocs: Long = 3L): DataFrame = {
    val banned = Ledger.read(s, workDir, "chunks", "doc_id BIGINT, gh BIGINT")
      .groupBy("gh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("gh")
    graft.operators.Dedup.spanScrubFrom(
      graft.Tables.documents(s, corpusDir).select("doc_id", "text"),
      banned, k)
  }

  case class ScdState(currentType: String, sinceMs: Long, maxSeenMs: Long,
                      maxSeenEventId: Long)
  case class ScdInterval(user_id: Long, event_type: String,
                         valid_from: java.sql.Timestamp,
                         valid_to: java.sql.Timestamp)

  /** Streaming SCD-2 (the incremental twin of operators.Windows
    * .scdBuild): per-user state change detection over an event stream.
    * Emits an interval row the moment a user's event_type CHANGES —
    * the closed interval [since, change_ts) for the previous state;
    * the open current interval lives only in the group state, so
    * append mode stays monotone (a row, once emitted, never revises).
    *
    * Ordering contract: rows sort on (event time, event_id) within
    * each micro-batch — the batch twin's exact tie-break. Across
    * batches the state tracks the PROCESSED FRONTIER — the max
    * (event time, event_id) PAIR seen, mirroring the in-batch sort
    * key — not just the last change: any event at or behind the
    * frontier is dropped, because events after it were already folded
    * into state and emitting around them would splice history — the
    * same drop-don't-revise stance as the watermarked aggregations
    * above. Bounded state: one (type, since, frontier) tuple per user.
    *
    * Checkpoint compatibility: `ScdState` is the flatMapGroupsWithState
    * state ENCODER schema, so adding/removing a field (as the
    * maxSeenEventId frontier addition did) breaks restores from
    * checkpoints written under the previous schema — Spark fails state
    * deserialization rather than migrating. Upgrading across a
    * state-shape change means restarting the query with a fresh
    * checkpoint directory (or a bumped query name); this is inherent
    * to case-class state encoders, not specific to this operator.
    */
  def scdStream(events: DataFrame,
                watermark: String = "1 hour"): Dataset[ScdInterval] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .as[(Long, java.sql.Timestamp, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ScdState, ScdInterval](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, String, Long)],
         state: GroupState[ScdState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._4))
          var cur = state.getOption
          val out = Seq.newBuilder[ScdInterval]
          sorted.foreach { case (_, t, typ, eid) =>
            cur match {
              case None =>
                cur = Some(ScdState(typ, t.getTime, t.getTime, eid))
              // The frontier is the full in-batch sort key (ts,
              // event_id), not ts alone: a redelivered event at
              // exactly the frontier millisecond would otherwise be
              // re-processed, and if its type differs it would emit a
              // spurious interval — the cross-batch drop must honor
              // the same tie-break the in-batch sort does.
              case Some(st) if t.getTime < st.maxSeenMs ||
                  (t.getTime == st.maxSeenMs && eid <= st.maxSeenEventId) =>
                () // at/behind the processed frontier: drop, don't splice
              case Some(st) if st.currentType != typ =>
                out += ScdInterval(user, st.currentType,
                  new java.sql.Timestamp(st.sinceMs), t)
                cur = Some(ScdState(typ, t.getTime, t.getTime, eid))
              case Some(st) =>
                // sorted + frontier-filtered ⇒ (t, eid) strictly
                // advances, so assignment IS the max.
                cur = Some(st.copy(maxSeenMs = t.getTime, maxSeenEventId = eid))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  // ---- Stateful liveness: GreilFS heartbeat/failure detection (G8,
  // Server/managers.py:44-62 — node marked Dead past a timeout) as
  // flatMapGroupsWithState with event-time timeout. ----

  case class Heartbeat(node: String, ts: java.sql.Timestamp)
  case class NodeState(lastSeenMs: Long, beats: Long)
  case class LivenessEvent(node: String, status: String, beats: Long)

  /** Emits ALIVE on first heartbeat of a node and DEAD when a node's
    * watermark-driven timeout fires with no new heartbeat — the exact
    * NameNode detector semantics (timeout constant is config, per
    * SURVEY.md §2.9 G8 doc/code drift note).
    */
  def liveness(heartbeats: Dataset[Heartbeat],
               timeoutMs: Long = 25000L,
               watermark: String = "10 seconds"): Dataset[LivenessEvent] = {
    import heartbeats.sparkSession.implicits._
    heartbeats
      .withWatermark("ts", watermark)
      .groupByKey(_.node)
      .flatMapGroupsWithState[NodeState, LivenessEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (node: String, beats: Iterator[Heartbeat], state: GroupState[NodeState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(LivenessEvent(node, "DEAD", st.beats))
          } else {
            val newBeats = beats.toSeq
            val maxTs = newBeats.map(_.ts.getTime).max
            val prior = state.getOption
            val st = NodeState(
              lastSeenMs = prior.map(p => math.max(p.lastSeenMs, maxTs)).getOrElse(maxTs),
              beats = prior.map(_.beats).getOrElse(0L) + newBeats.size)
            state.update(st)
            state.setTimeoutTimestamp(st.lastSeenMs + timeoutMs)
            if (prior.isEmpty) Iterator(LivenessEvent(node, "ALIVE", st.beats))
            else Iterator.empty
          }
      }
  }
}
