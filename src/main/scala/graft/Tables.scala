package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables
  * (`/root/repo/TESTDATA.md`) and the reference-parity TSV tables
  * (reference DDL: `Codes/database_init/create_table.sql:6-39` — TSV,
  * `\t`-delimited, no header).
  *
  * All reads are parquet scans with the schema served from
  * [[graft.sources.SchemaCache]] through [[graft.sources.Artifacts.read]]
  * (inferred from footers once per JVM and file version, the metastore
  * analogue — a bare `spark.read.parquet` re-runs the
  * footer-inference job on every DataFrame construction) so Catalyst
  * owns predicate pushdown / column pruning / partition sizing;
  * nothing else is cached or collected here. At cluster scale the same
  * paths resolve to HDFS/S3 directories — partition parallelism comes
  * from `spark.sql.files.maxPartitionBytes`, not from anything we
  * hand-roll.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Artifacts.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in three physical forms across testdata
    * generations: TIMESTAMP(NANOS) (unreadable without the nanosAsLong
    * legacy conf → surfaces as LongType nano epochs), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (surfaces as TIMESTAMP_NTZ), and plain
    * TIMESTAMP. Normalize all three to TimestampType (micros, UTC
    * session) so every downstream operator sees one stable column type.
    *
    * NOTE the nanosAsLong conf is session-scoped and stays set (it must
    * hold at execution time, when each file footer is re-converted, so a
    * save/restore around the read would break the scan). Harmless when
    * the data is already micros; callers reading foreign nanos tables
    * should convert explicitly as below.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integral `div`, not `/`: nano epochs (~1.7e18) overflow the
        // 53-bit mantissa if divided as doubles
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // UTC session timezone ⇒ wall-clock-preserving, value-identical
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Reference-parity TSV ingest (S1): exact semantics of the Hive DDL
    * `ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'`
    * (`create_table.sql:13,25,38`) — no header, explicit schema.
    */
  def tsv(spark: SparkSession, path: String,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("sep", "\t").option("header", "false")
      .schema(schema).csv(path)
}
