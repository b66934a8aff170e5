package graft

import graft.sources.Marts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec}
import org.apache.spark.sql.functions._

/** Derived-layout marts: results must be IDENTICAL to the raw tables
  * (layout changes plans, never answers), and the plans must show the
  * layout paying off — directory-level pruning for the partitioned
  * mart, a shuffle-free fact-fact join for the bucketed pair.
  */
class MartsSpec extends SparkTestBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("PP1 reads only the sliced day partitions (directory pruning)") {
    val all = Marts.eventsByDay(spark, sf)
    val sliced = all.filter(
      col("event_date") >= lit("2024-01-10") && col("event_date") < lit("2024-01-13"))
    // filter-only plan: no exchange, so the scan exec is directly visible
    sliced.collect()
    val scan = sliced.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in pruned plan"))
    assert(scan.metadata("PartitionFilters").contains("event_date"),
      s"date slice did not become a partition filter: ${scan.metadata}")
    val readFiles = scan.metrics("numFiles").value
    all.collect()
    val allScan = all.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }.get
    val totalFiles = allScan.metrics("numFiles").value
    assert(readFiles > 0 && readFiles < totalFiles,
      s"pruning read $readFiles of $totalFiles files — expected a strict subset")
  }

  test("PP1 rollup equals the same aggregate over the RAW events table") {
    val mart = Marts.partitionPrunedDaily(spark, sf).collect()
    val raw = Tables.events(spark, sf)
      .withColumn("event_date", to_date(col("ts")))
      .filter(col("event_date") >= lit("2024-01-10") && col("event_date") < lit("2024-01-13"))
      .groupBy("event_date")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("event_date").collect()
    assert(mart.nonEmpty)
    assert(mart.map(_.toString).toSeq == raw.map(_.toString).toSeq,
      "partitioned mart must be answer-identical to the raw table")
  }

  test("BK1 bucketed fact-fact join shuffles NEITHER side") {
    val joinOnly = Marts.bucketedLineitem(spark, sf).hint("merge")
      .join(Marts.bucketedOrders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_extendedprice", "o_orderpriority")
    val p = plan(joinOnly)
    assert(p.contains("SortMergeJoin"), s"merge hint not honored:\n$p")
    // shuffle exchanges render as "(n) Exchange"; BroadcastExchange is a
    // different node name and would indicate the hint was ignored
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).isEmpty,
      s"bucketed join must not shuffle either side:\n$p")
    assert(p.contains("Bucketed: true"),
      s"scan does not report bucketed read:\n$p")
    // full query: the ONLY exchange is the tiny post-join rollup
    val full = plan(Marts.bucketedJoin(spark, sf))
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(full).size <= 2, // agg + sort
      s"unexpected exchanges in bucketed rollup:\n$full")
  }

  test("BK2 bucketed aggregation runs with NO exchange before the agg") {
    val aggOnly = Marts.bucketedLineitem(spark, sf)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"))
    val p = plan(aggOnly)
    assert(p.contains("Bucketed: true"),
      s"scan does not report bucketed read:\n$p")
    // grouping on the bucket key satisfies the agg's distribution
    // requirement straight off the scan — zero shuffles in the plan
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(p).isEmpty,
      s"bucketed agg must not shuffle:\n$p")
    // full bk2 (filter + presentation sort): the sort is the only exchange
    val full = plan(Marts.bucketedAgg(spark, sf))
    assert("\\(\\d+\\) Exchange\\b".r.findAllIn(full).size <= 1,
      s"unexpected exchanges in bk2:\n$full")
  }

  test("morton interleave matches a naive per-bit reference (codegen + interpreted)") {
    def naive(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 32) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L),
      (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL), (123456L, 654321L),
      (-1L, 7L), (0xFFFFFFFFL, 0xFFFFFFFFL))
    // interpreted path (object method shared with codegen)
    cases.foreach { case (x, y) =>
      val expected = naive(x & 0xFFFFFFFFL, y & 0xFFFFFFFFL)
      assert((graft.plans.MortonInterleave.spread(x) |
        (graft.plans.MortonInterleave.spread(y) << 1)) == expected,
        s"spread-based morton($x,$y) != naive")
    }
    // codegen path through a real projection + SQL registration
    graft.plans.GraftExtensions.register(spark)
    import spark.implicits._
    val out = cases.toDF("x", "y")
      .selectExpr("x", "y", "morton_interleave(x, y) AS z").collect()
    out.foreach { r =>
      val expected = naive(r.getLong(0) & 0xFFFFFFFFL, r.getLong(1) & 0xFFFFFFFFL)
      assert(r.getLong(2) == expected,
        s"codegen morton(${r.getLong(0)},${r.getLong(1)}) != naive")
    }
  }

  test("ZO1 z-ordered layout bounds EVERY file's span in BOTH dimensions") {
    import org.apache.spark.sql.functions.input_file_name
    val z = Marts.eventsZOrdered(spark, sf)
      .select(input_file_name().as("f"), col("user_id"),
        unix_timestamp(col("ts")).as("sec"))
    val global = z.agg(
      (max("user_id") - min("user_id")).as("ur"),
      (max("sec") - min("sec")).as("tr")).head
    val perFile = z.groupBy("f").agg(
      (max("user_id") - min("user_id")).as("ur"),
      (max("sec") - min("sec")).as("tr")).collect()
    assert(perFile.length > 4, "expected a multi-file layout")
    // Z-order's pruning guarantee is STATISTICAL: a file straddling a
    // z-curve quad seam can span a full dimension (measured: exactly 1
    // of 16 files at sf0.001), but the MEAN span must be well under the
    // dimension range in BOTH dims at once — a 1-D time sort would show
    // mean user span ≈ 1.0 here (measured z-order: u≈0.44, t≈0.30).
    val fr = perFile.map(r => (
      r.getAs[Long]("ur").toDouble / global.getLong(0),
      r.getAs[Long]("tr").toDouble / global.getLong(1)))
    val meanU = fr.map(_._1).sum / fr.length
    val meanT = fr.map(_._2).sum / fr.length
    assert(meanU <= 0.6, f"mean per-file user span $meanU%.2f — not clustered")
    assert(meanT <= 0.6, f"mean per-file time span $meanT%.2f — not clustered")
    assert(fr.count(_._1 > 0.8) <= 2, "too many seam files spanning the user range")
    assert(fr.count(_._2 > 0.8) <= 2, "too many seam files spanning the time range")
  }

  test("BK1 equals the plain raw-table join") {
    val mart = Marts.bucketedJoin(spark, sf).collect()
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        (sum(graft.operators.Benchmark2.lineRevenueCents1e4) / 10000.0).as("revenue"))
      .orderBy("o_orderpriority").collect()
    assert(mart.nonEmpty)
    assert(mart.map(_.toString).toSeq == raw.map(_.toString).toSeq,
      "bucketed layout must be answer-identical to the raw join")
  }

  test("PP2 injects a dynamic pruning subquery into the fact scan") {
    val df = graft.sources.Marts.dynamicPrunedDaily(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"DPP subquery missing from PartitionFilters:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty, "promotion days must intersect the event month")
    // answer-identical to the same aggregate over the RAW tables
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 64 === 0)
      .select(date_add(to_date(lit("2023-12-18")),
        (col("o_orderkey") % 50).cast("int")).as("event_date"))
      .distinct()
    val raw = Tables.events(spark, sf)
      .withColumn("event_date", to_date(col("ts")))
      .join(dim, Seq("event_date"))
      .groupBy("event_date")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("event_date").collect()
    assert(rows.map(_.toString).toSeq == raw.map(_.toString).toSeq,
      "partitioned layout must be answer-identical to the raw join")
  }

  /** Rows of `df` with every number at 6 decimals, so a Spark double
    * and the oracle's decimal compare equal when they agree. */
  private def normalized(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case n: java.lang.Number =>
        BigDecimal(n.toString).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
      case v => v
    })

  /** `query`'s answer over `d` against its registered oracle SQL, run
    * by Spark over the RAW tables of the same directory. */
  private def assertMatchesOracle(query: String, d: String): Unit = {
    Tables.orders(spark, d).createOrReplaceTempView("orders")
    Tables.lineitem(spark, d).createOrReplaceTempView("lineitem")
    try {
      val got = normalized(SparkEntry.queries(query)(spark, d))
      val want = normalized(spark.sql(SparkEntry.oracleSql(query)))
      assert(got.nonEmpty && got == want, s"$query over $d differs from its oracle")
    } finally {
      spark.catalog.dropTempView("orders")
      spark.catalog.dropTempView("lineitem")
    }
  }

  test("BK1/BK2 read each data directory's own mart in one session") {
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    for (d <- Seq(sf, sf001);
         q <- Seq("bk1_bucketed_join", "bk2_bucketed_agg"))
      assertMatchesOracle(q, d)
  }

  test("a rebuilt bucketed mart is read from its new files") {
    assertMatchesOracle("bk2_bucketed_agg", sf)
    val sfName = new java.io.File(sf).getName
    val marts = Option(new java.io.File("target/graft-index").listFiles)
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(s"$sfName-"))
      .map(new java.io.File(_, "lineitem_bkt8")).filter(_.isDirectory)
    assert(marts.nonEmpty, "no lineitem_bkt8 mart to rebuild")
    marts.foreach(m => org.apache.commons.io.FileUtils.deleteDirectory(m))
    assertMatchesOracle("bk2_bucketed_agg", sf)
  }
}
