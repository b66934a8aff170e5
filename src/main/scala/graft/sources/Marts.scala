package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived physical layouts over the synthetic tables — the two
  * storage-side levers a 100 TB deployment pulls BEFORE any query
  * optimization, materialized once per (dataset, layout) through
  * [[Artifacts]]:
  *
  *  - [[eventsByDay]]: the fact table hive-partitioned by event day.
  *    A time-ranged query then prunes at the DIRECTORY level — Spark's
  *    `PartitionFilters` never lists, opens, or row-group-checks files
  *    outside the range. At 100 TB with ~3 years of days this is the
  *    difference between touching ~1/1000 of the files and touching
  *    all of them; partition pruning composes with (and precedes)
  *    row-group min/max skipping.
  *  - [[bucketedOrders]]/[[bucketedLineitem]]: the two join sides
  *    pre-hash-clustered into the SAME number of buckets on the join
  *    key. A join on that key then reads co-located buckets and
  *    shuffles NEITHER side (bucket i joins bucket i) — the layout
  *    replaces the two biggest exchanges of the classic fact-fact
  *    join. This is the batch analogue of co-partitioned stream state:
  *    pay the shuffle once at write time, amortize it over every
  *    subsequent join.
  *
  * Both layouts are deterministic functions of the source data, so
  * every query over them is oracle-checked against DuckDB reading the
  * RAW tables — layout must never change results, only plans.
  */
object Marts {

  private def eventsFile(d: String) = new java.io.File(d, "events.parquet")

  // --- Partition-pruned events mart ---

  /** Events partitioned by `event_date` (derived with `to_date(ts)` in
    * the UTC session). Readback restores `ts` ordering per partition
    * only — consumers needing global order must sort, same as any
    * partitioned table.
    */
  def eventsByDay(s: SparkSession, d: String): DataFrame =
    Artifacts.read(s, Artifacts.ensure(eventsFile(d), d, "events_by_day") { out =>
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").parquet(out)
    }.toString)

  /** PP1: daily activity rollup over a date slice of the partitioned
    * mart. The `event_date` predicate is a partition filter — the scan
    * lists only the matching day directories (asserted by MartsSpec on
    * `inputFiles`); files outside the slice are never opened.
    */
  def partitionPrunedDaily(s: SparkSession, d: String,
                           from: String = "2024-01-10",
                           until: String = "2024-01-13"): DataFrame =
    eventsByDay(s, d)
      .filter(col("event_date") >= lit(from) && col("event_date") < lit(until))
      .groupBy("event_date")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("event_date")

  /** PP2: DYNAMIC partition pruning — pp1's predicate is a literal the
    * planner prunes statically; here the pruned day set is only known
    * at RUNTIME (the distinct promotion days of a filtered order
    * slice), so Spark's DPP injects the dim side as a subquery filter
    * into the fact scan's PartitionFilters — the fact directories for
    * non-promotion days are never listed or opened. At 100 TB this is
    * THE star-join survival trick: the fact scan is bounded by the
    * dim filter before a single fact row is read. MartsSpec asserts
    * `dynamicpruning` in the executed plan, so a regression to a
    * full-scan-then-join is a test failure, not a silent 1000× read.
    * The oracle replays over the RAW events table (layout must never
    * change results).
    */
  def dynamicPrunedDaily(s: SparkSession, d: String,
                         keyMod: Int = 64): DataFrame = {
    val dim = Tables.orders(s, d)
      .filter(col("o_orderkey") % keyMod === 0)
      .select(date_add(to_date(lit("2023-12-18")),
        (col("o_orderkey") % 50).cast("int")).as("event_date"))
      .distinct()
    eventsByDay(s, d)
      .join(dim, Seq("event_date"))
      .groupBy("event_date")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("event_date")
  }

  /** Oracle twin of [[dynamicPrunedDaily]] — the same day dim over raw
    * orders, semi-joined to raw events by calendar date.
    */
  def dynamicPrunedDailyOracleSql(keyMod: Int = 64): String =
    s"""WITH dim AS (
       |  SELECT DISTINCT DATE '2023-12-18'
       |    + CAST(o_orderkey % 50 AS INTEGER) AS event_date
       |  FROM orders WHERE o_orderkey % $keyMod = 0)
       |SELECT CAST(ts AS DATE) AS event_date,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |  round(sum(value), 2) AS total_value
       |FROM events JOIN dim ON CAST(ts AS DATE) = dim.event_date
       |GROUP BY 1 ORDER BY event_date""".stripMargin

  // --- Z-ordered clustering mart ---

  /** Events clustered on the Morton interleave of (user_id, hour
    * index) — the multi-dimensional layout: range-partitioned and
    * sorted by `zkey`, every output file holds a NARROW range of BOTH
    * dimensions (MartsSpec measures the per-file spans), so parquet
    * min/max stats prune a 2-D slice predicate where a 1-D time sort
    * could only prune time.
    *
    * Both dimensions are rank-normalized onto a fixed 1024-cell grid
    * (exact integer arithmetic from the dimension's min/max) before
    * interleaving: z-curves only cluster when the interleaved bit
    * widths are comparable, and the raw widths here are SF-dependent
    * (15 users at sf0.001 vs 1500 at sf0.1, against a fixed ~720-hour
    * span). The normalization constants come from one tiny stats agg
    * at build time and are replayed by the oracle as subqueries.
    */
  def eventsZOrdered(s: SparkSession, d: String,
                     numFiles: Int = 16): DataFrame =
    Artifacts.persist(s, eventsFile(d), d, s"events_zorder_$numFiles") {
      val hourIdx = "unix_timestamp(ts) div 3600"
      val stats = Tables.events(s, d)
        .agg(max(col("user_id")).as("umax"),
          min(expr(hourIdx)).as("hmin"), max(expr(hourIdx)).as("hmax")).head
      val (umax, hmin, hmax) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      Tables.events(s, d)
        .withColumn("zkey", graft.plans.MortonInterleave.morton(
          expr(s"user_id * 1024 div ${umax + 1}"),
          expr(s"(($hourIdx) - $hmin) * 1024 div ${hmax - hmin + 1}")))
        .repartitionByRange(numFiles, col("zkey"))
        .sortWithinPartitions("zkey")
    }

  /** ZO1: the leading edge of the z-ordered layout — first k events in
    * Morton order (codegen'd [[graft.plans.MortonInterleave]] key,
    * replayed bit-for-bit by the DuckDB oracle's shift/mask chain).
    */
  def zorderTopKeys(s: SparkSession, d: String, k: Int = 20): DataFrame =
    eventsZOrdered(s, d)
      .select("event_id", "user_id", "zkey")
      .orderBy("zkey", "event_id")
      .limit(k)

  // --- Bucketed co-located join mart ---

  private val NumBuckets = 8

  /** Register (building if needed) a bucketed external table over a
    * deterministic projection of `df`, clustered AND sorted by `key`
    * into [[NumBuckets]] buckets at `location`, and read it.
    *
    * Bucketing metadata lives in the session catalog (in-memory here,
    * a metastore on a cluster), so a fresh session must re-declare the
    * table; the DATA is built once and republished never — the ensure
    * sentinel marks it. One file per bucket (repartition on the key
    * before write): exactly the layout whose scan reports both the
    * hash-partitioning and the per-bucket sort to the planner.
    *
    * The catalog name is keyed on the artifact directory, so each data
    * directory reads its own mart in a session that has seen several.
    * A rebuild refreshes the entry: the cached relation would otherwise
    * keep listing the files of the directory it replaced.
    */
  private def ensureBucketed(s: SparkSession, table: String,
                             src: java.io.File, d: String, kind: String,
                             key: String)(df: => DataFrame): DataFrame = {
    var built = false
    val location = Artifacts.ensure(src, d, kind) { out =>
      built = true
      // Build via a TEMP catalog table at the build path: bucket file
      // naming/layout must come from the bucketed-write committer, and
      // only saveAsTable engages it. The temp entry is dropped right
      // after — the durable artifact is the data + sentinel, and every
      // session (re)declares its own catalog entry below.
      val tmpName = s"${table}_build_${ProcessHandle.current().pid()}"
      // absolute path: saveAsTable resolves a RELATIVE path option
      // against the warehouse/working dir, not the JVM cwd the ensure
      // protocol stamps its sentinel into
      df.repartition(NumBuckets, col(key))
        .write.mode("overwrite")
        .bucketBy(NumBuckets, key).sortBy(key)
        .option("path", java.nio.file.Paths.get(out).toAbsolutePath.toString)
        .saveAsTable(tmpName)
      s.sql(s"DROP TABLE IF EXISTS $tmpName")
    }
    val abs = location.toAbsolutePath.toString
    val name = f"${table}_${abs.hashCode}%08x"
    if (!s.catalog.tableExists(name)) {
      val ddl = df.schema.toDDL
      s.sql(
        s"""CREATE TABLE $name ($ddl) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $NumBuckets BUCKETS
           |LOCATION '$abs'""".stripMargin)
    } else if (built) s.catalog.refreshTable(name)
    s.table(name)
  }

  def bucketedOrders(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "graft_b_orders", new java.io.File(d, "orders.parquet"),
      d, s"orders_bkt$NumBuckets", "o_orderkey")(Tables.orders(s, d))

  def bucketedLineitem(s: SparkSession, d: String): DataFrame =
    ensureBucketed(s, "graft_b_lineitem", new java.io.File(d, "lineitem.parquet"),
      d, s"lineitem_bkt$NumBuckets", "l_orderkey")(Tables.lineitem(s, d))

  /** The co-located fact-fact join itself — orders ⋈ lineitem on the
    * bucket key, NO exchange on either side (asserted by MartsSpec: the
    * only shuffle in the whole plan is the tiny post-join rollup).
    *
    * The merge hint pins the sort-merge strategy the layout exists
    * for: at test SFs Catalyst would rather broadcast the (tiny)
    * orders side — a fine plan HERE, but the one that stops existing
    * at fact-fact scale, where co-located buckets are what remains.
    */
  def bucketedJoin(s: SparkSession, d: String): DataFrame =
    bucketedLineitem(s, d).hint("merge")
      .join(bucketedOrders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        // exact integer cents (the q1/q3 rule): double summation order
        // must never shift a rounded total across engines
        (sum(graft.operators.Benchmark2.lineRevenueCents1e4) / 10000.0)
          .as("revenue"))
      .orderBy("o_orderpriority")

  // --- BK2: bucketed SHUFFLE-FREE aggregation — the layout benefit
  // bk1 shows for joins, shown for grouping: a groupBy on the bucket
  // key reads the bucketed table's HashPartitioning straight off the
  // scan, so the per-order rollup runs with NO exchange before the
  // aggregate (MartsSpec asserts it) — at 100 TB that is the
  // difference between a full-fact shuffle and none at all. The
  // HAVING-style tail keeps the output the interesting wide orders. ---
  def bucketedAgg(s: SparkSession, d: String): DataFrame =
    bucketedLineitem(s, d)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("total_qty"),
        sum(graft.operators.Benchmark2.priceCents(col("l_extendedprice")))
          .as("cents"))
      .filter(col("n_lines") >= 6)
      .orderBy("l_orderkey")
}
