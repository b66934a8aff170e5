package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** The delta ledger behind every maintained stream twin in [[Streams]].
  * A twin keeps no keyed stream state: its state is a set of delta
  * directories, appended per micro-batch and restart-safe.
  *
  * Layout. A twin keeps one ledger per `kind` under its work dir. Each
  * micro-batch publishes its delta of a kind as
  * `<workDir>/<kind>/b<batchId>` ([[publish]]), replacing any earlier
  * attempt of the same batch. Every `b`-prefixed directory of a kind is
  * a delta: [[compact]] folds deltas into `bfold<n>`, and [[seedLegacy]]
  * writes `blegacy`. Neither name can collide with a numeric batch id.
  *
  * Replay. After a crash between the delta publish and the checkpoint
  * commit, Spark re-runs the batch under the same id, and the replay
  * must recompute the identical delta. So every view of earlier deltas
  * ([[prior]], [[admit]]) leaves out the batch's own `b<batchId>`, and
  * only it: batch 1's view keeps `b11`, `bfold1` and `blegacy`. Filtered
  * against its own rows, a replay would overwrite its delta with an
  * empty one and drop those rows from the state. Rows redelivered in a
  * later batch are still dropped, by the delta that first admitted them.
  *
  * Empty state. A ledger no batch has committed to is a legitimate
  * state. [[read]] answers it with an empty relation of the ledger's
  * schema, because `spark.read.parquet` with zero paths throws.
  */
private[graft] object Ledger {

  /** Runs `batchFn(batch, batchId)` on each append-mode micro-batch of
    * `incoming`, checkpointed under `checkpointDir`.
    */
  def maintain(incoming: DataFrame, checkpointDir: String)(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    incoming.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        batchFn(batch.toDF(), batchId))
      .start()

  /** The union of the deltas of `kind` other than batch `batchId`'s
    * own, or None when there are none.
    */
  def prior(s: SparkSession, workDir: String, kind: String, batchId: Long,
            mergeSchema: Boolean = false): Option[DataFrame] =
    dirs(workDir, kind).filterNot(_.getName == s"b$batchId") match {
      case Seq() => None
      case ds =>
        val reader = if (mergeSchema) s.read.option("mergeSchema", "true") else s.read
        Some(reader.parquet(ds.map(_.getAbsolutePath): _*))
    }

  /** Admission: the `rows` whose `keys` no earlier delta of `kind`
    * holds (a left anti-join against [[prior]]).
    */
  def admit(rows: DataFrame, workDir: String, kind: String, batchId: Long,
            keys: Seq[String]): DataFrame =
    prior(rows.sparkSession, workDir, kind, batchId).fold(rows)(p =>
      rows.join(p.select(keys.map(col): _*), keys, "left_anti"))

  /** Writes `df` as batch `batchId`'s delta of `kind`; returns its path. */
  def publish(df: DataFrame, workDir: String, kind: String,
              batchId: Long): String =
    write(df, workDir, kind, s"b$batchId")

  /** The union of every delta of `kind`, or the empty relation of
    * schema `ddl` when there is none.
    */
  def read(s: SparkSession, workDir: String, kind: String,
           ddl: String): DataFrame =
    dirs(workDir, kind) match {
      case Seq() => empty(s, ddl)
      case ds => s.read.parquet(ds.map(_.getAbsolutePath): _*)
    }

  /** [[read]] with each delta's batch id in a `bid` column, for read
    * sides that keep a key's latest version. A versioned kind is never
    * folded or seeded: each of its deltas is a numeric `b<batchId>`.
    */
  def readVersioned(s: SparkSession, workDir: String, kind: String,
                    ddl: String): DataFrame =
    dirs(workDir, kind)
      .map(d => s.read.parquet(d.getAbsolutePath)
        .withColumn("bid", lit(d.getName.drop(1).toLong)))
      .reduceOption(_ unionByName _)
      .getOrElse(empty(s, s"$ddl, bid BIGINT"))

  /** Seeds `kind/blegacy` with the distinct `keys` of `from`'s earlier
    * deltas when `kind` has no delta at all: the migration for a twin
    * whose admission ledger moved from `from` to a kind of its own.
    * Re-running it rewrites the same rows, and a fresh work dir has
    * nothing to seed.
    */
  def seedLegacy(s: SparkSession, workDir: String, kind: String,
                 from: String, keys: Seq[String], batchId: Long): Unit =
    if (dirs(workDir, kind).isEmpty)
      prior(s, workDir, from, batchId).foreach(p =>
        write(p.select(keys.map(col): _*).distinct(), workDir, kind, "blegacy"))

  /** Folds every delta of `kind` into one `bfold<n>` delta: read, never
    * recomputed, deduplicated on `keys` and range-clustered on `cluster`.
    * The fold is published before its inputs are deleted, so a crash
    * between the two steps leaves a union with the same distinct rows.
    */
  def compact(s: SparkSession, workDir: String, kind: String,
              keys: Seq[String], cluster: Seq[String]): Unit = {
    val ds = dirs(workDir, kind)
    if (ds.size >= 2) {
      val next = ds.map(_.getName)
        .collect { case n if n.startsWith("bfold") => n.drop(5).toLong }
        .maxOption.getOrElse(-1L) + 1
      write(s.read.parquet(ds.map(_.getAbsolutePath): _*)
          .dropDuplicates(keys)
          .repartitionByRange(cluster.map(col): _*)
          .sortWithinPartitions(cluster.map(col): _*),
        workDir, kind, s"bfold$next")
      ds.foreach(d => graft.sources.Artifacts.deleteTree(d.toPath))
    }
  }

  private def dirs(workDir: String, kind: String): Seq[java.io.File] =
    Option(new java.io.File(s"$workDir/$kind").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("b"))

  private def write(df: DataFrame, workDir: String, kind: String,
                    name: String): String = {
    val path = s"$workDir/$kind/$name"
    df.write.mode("overwrite").parquet(path)
    path
  }

  private def empty(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
}
