package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact GLOBAL total-order primitives — row_number / ntile /
  * cumulative sums over an entire relation — computed with the
  * dp10/W9 range-partition + offset-table two-pass instead of an
  * unpartitioned window, so NO task ever sees more than its range
  * slice of the input:
  *
  *   1. `repartitionByRange` on the sort order (each partition holds a
  *      contiguous key range, ranges ascend with partition id);
  *   2. rank / prefix-sum WITHIN each partition (a partitioned window,
  *      O(n/p) rows per task);
  *   3. lift to global values with a #partitions-row offset table —
  *      the only relation that crosses a single task, and it is
  *      bounded by the partition count, not the data.
  *
  * This is the shape that replaces `Window.orderBy(...)` with no
  * partition clause — correctness-identical (the sort keys must form a
  * TOTAL order, so global positions are unique and well-defined
  * regardless of where range boundaries land) but alive at 100 TB,
  * where the single-task global window is the one plan in the repo
  * that dies at scale. a31/a32/a34/a39 route their customer- and
  * value-aggregate ranks through here, w9 its cumulative sum and dp10
  * its shuffle positions.
  *
  * This is the one module that reads `spark_partition_id`
  * (SessionFactorySpec holds that by a text scan). A partition id is
  * stable only within one materialization: read twice without the pin
  * below, the range bounds can be re-sampled and the two reads
  * disagree, which gives a wrong answer, not a slow one.
  *
  * Exactness bound: bucket arithmetic uses IEEE double division on
  * exact integers — correctly-rounded division returns exact integer
  * quotients exactly, and [[floorDiv]] divides only exact multiples,
  * so results are exact for row counts below 2^53 (vastly past any
  * per-table cardinality this engine targets).
  */
object GlobalOrder {

  private val Pid = "__go_pid"
  private val LocalRn = "__go_rn"
  private val Cnt = "__go_cnt"
  private val Offset = "__go_offset"
  private val Total = "__go_n"

  /** One cumulative-sum request: `src` summed along the total order
    * into `cum`, with the grand total attached as `total`.
    */
  final case class CumSpec(src: String, cum: String, total: String)

  /** a div b for non-negative longs carried as Columns; exact below
    * 2^53 (the numerator is reduced to an exact multiple first).
    */
  private def floorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Range-partition `df` on `sortCols`, stamp partition ids, and
    * return (stamped rows, broadcastable per-partition offset table).
    * Partition-id stability: the localCheckpoint makes the row-side
    * and the offset-side read agree on partition ids.
    */
  private def twoPass(df: DataFrame, sortCols: Seq[Column],
                      sums: Seq[CumSpec]): (DataFrame, DataFrame) = {
    val base = df
      .repartitionByRange(sortCols: _*)
      .withColumn(Pid, spark_partition_id())
      .localCheckpoint()
    val w = Window.partitionBy(Pid).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inPart = sums.foldLeft(
      base.withColumn(LocalRn,
        row_number().over(Window.partitionBy(Pid).orderBy(sortCols: _*))
          .cast("long"))) { (acc, cs) =>
      acc.withColumn(cs.cum + "__local", sum(col(cs.src)).over(w))
    }
    // Offset table: one row per partition. The windows below are over
    // ≤ #partitions rows — partitionBy(lit(0)) keeps that explicit (and
    // the "No Partition Defined" warning out of the logs) while staying
    // single-partition, which is the point: this tiny global pass is
    // what replaces a global window over the full relation.
    val aggCols = count(lit(1)).as(Cnt) +:
      sums.map(cs => sum(col(cs.src)).as(cs.cum + "__tot"))
    val ow = Window.partitionBy(lit(0)).orderBy(Pid)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tw = Window.partitionBy(lit(0))
    val offsets0 = base.groupBy(Pid).agg(aggCols.head, aggCols.tail: _*)
      .withColumn(Offset, coalesce(sum(col(Cnt)).over(ow), lit(0L)))
      .withColumn(Total, sum(col(Cnt)).over(tw))
    val offsets = sums.foldLeft(offsets0) { (acc, cs) =>
      acc
        .withColumn(cs.cum + "__off",
          coalesce(sum(col(cs.cum + "__tot")).over(ow), lit(0L)))
        .withColumn(cs.total, sum(col(cs.cum + "__tot")).over(tw))
    }.drop(Cnt +: sums.map(_.cum + "__tot"): _*)
    (inPart, offsets)
  }

  /** `df` plus an exact global `row_number() OVER (ORDER BY sortCols)`
    * as long column `out`. `sortCols` must be a total order (include a
    * unique tie-break key) — that is what makes the global position
    * independent of where the range boundaries fall.
    */
  def withRowNumber(df: DataFrame, out: String, sortCols: Column*): DataFrame = {
    val (rows, offsets) = twoPass(df, sortCols, Nil)
    rows.join(broadcast(offsets.select(Pid, Offset)), Pid)
      .withColumn(out, col(LocalRn) + col(Offset))
      .drop(Pid, LocalRn)
  }

  /** `df` plus an exact global `ntile(buckets) OVER (ORDER BY
    * sortCols)` as int column `out` — ANSI semantics: with n rows the
    * first n mod buckets tiles take ⌈n/buckets⌉ rows, the rest
    * ⌊n/buckets⌋, reproduced from the global row number in closed form
    * so both engines cut identical bins.
    */
  def withNtile(df: DataFrame, buckets: Int, out: String,
                sortCols: Column*): DataFrame = {
    val (rows, offsets) = twoPass(df, sortCols, Nil)
    val rn = col(LocalRn) + col(Offset)
    val q = floorDiv(col(Total), lit(buckets.toLong)) // small-tile size
    val r = pmod(col(Total), lit(buckets.toLong))     // # big tiles
    val big = q + lit(1L)
    val cut = r * big                                 // rows in big tiles
    rows.join(broadcast(offsets.select(Pid, Offset, Total)), Pid)
      .withColumn(out,
        when(rn <= cut, floorDiv(rn - 1, big) + 1)
          .otherwise(r + floorDiv(rn - cut - 1, q) + 1)
          .cast("int"))
      .drop(Pid, LocalRn, Offset, Total)
  }

  /** Several independent global ntile scores over ONE relation — each
    * by its own metric, `key` (unique) as the tie-break — joined back
    * by key. Semantically identical to folding [[withNtile]] once per
    * metric, but each two-pass runs over a SKINNY (key, metric)
    * projection instead of the progressively widening full relation:
    * the per-pass checkpoint materializes 2 columns, the range shuffle
    * and rank window move 2 columns, and the full rows are touched
    * exactly once in the final key-equijoins (which co-partition on
    * `key` and chain without re-exchange; AQE broadcasts them when the
    * relation is small). a39's three RFM scores ran the widening fold
    * before and spent 3× the necessary shuffle bytes.
    *
    * Specs are (outCol, metric, ascending); the sort per spec is
    * (metric dir, key asc) — a total order because `key` is unique.
    */
  def withNtiles(df: DataFrame, key: String, buckets: Int,
                 specs: Seq[(String, Column, Boolean)]): DataFrame = {
    // Equal-frequency bucketing does not need a per-row global rank —
    // only the buckets-1 exact CUT PAIRS (metric, key) at the ANSI
    // boundary ranks. Those are found per metric with the same
    // range-partition machinery (skinny shuffle, per-partition counts,
    // one rank window over the single partition holding each cut), and
    // every driver-side collect is bounded: ≤ #partitions count rows
    // plus buckets-1 boundary pairs — never data-scale. Buckets are
    // then assigned by a MAP-SIDE comparison of each row's (metric,
    // key) pair against the broadcast-literal boundaries, so the final
    // plan has no join, no window, and no extra shuffle: one scan of
    // `df`. Metric preps run on concurrent driver threads
    // (multi-threaded job submission — the supported pattern for
    // independent subjobs) so their small job barriers overlap.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val scoreCols = specs.map { case (out, metric, asc) =>
      Future(out -> ntileByBoundaries(df, key, buckets, metric, asc))
    }
    Await.result(Future.sequence(scoreCols),
        scala.concurrent.duration.Duration.Inf)
      .foldLeft(df) { case (acc, (out, c)) => acc.withColumn(out, c) }
  }

  /** The bucket-assignment Column for one metric: global ANSI
    * ntile(buckets) over (metric dir, key asc), computed from exact
    * boundary pairs. A row's bucket = 1 + #{boundaries strictly below
    * its (metric, key) pair in the sort order} — exact because the
    * order is total (`key` is unique).
    */
  private def ntileByBoundaries(df: DataFrame, key: String, buckets: Int,
                                metric: Column, asc: Boolean): Column = {
    val order =
      if (asc) Seq(col("__go_m").asc, col(key).asc)
      else Seq(col("__go_m").desc, col(key).asc)
    val base = df.select(col(key), metric.as("__go_m"))
      .repartitionByRange(order: _*)
      .withColumn(Pid, spark_partition_id())
      .localCheckpoint() // partition-id stability: counts and boundary reads
    val counts = base.groupBy(Pid).agg(count(lit(1)).as(Cnt))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    // ANSI cuts: first (total mod buckets) tiles hold ceil(total/b)
    val q = total / buckets
    val r = total % buckets
    val cutRanks = (1 until buckets).map { b =>
      if (b <= r) b * (q + 1) else r * (q + 1) + (b - r) * q
    }.filter(c => c > 0 && c < total) // degenerate tiles collapse
    if (cutRanks.isEmpty) lit(1)
    else {
      // map each global cut rank to (pid, local rank)
      val cumBefore = counts.scanLeft(0L)(_ + _._2).init
      val targets = cutRanks.map { c =>
        val i = cumBefore.lastIndexWhere(_ < c)
        (counts(i)._1, c - cumBefore(i))
      }
      val pids = targets.map(_._1).distinct
      val w = Window.partitionBy(Pid).orderBy(order: _*)
      val wanted = targets.map { case (p, lr) =>
        col(Pid) === p && col(LocalRn) === lr
      }.reduce(_ || _)
      // ONE job collects every boundary row (≤ buckets-1 of them)
      val byTarget = base.filter(col(Pid).isin(pids: _*))
        .withColumn(LocalRn, row_number().over(w).cast("long"))
        .filter(wanted)
        .select(Pid, LocalRn, "__go_m", key)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> (r.get(2), r.get(3)))
        .toMap
      val pairs = targets.map(byTarget)
      // bucket = 1 + count of boundary pairs strictly below this row.
      // NULL metrics participate in the order exactly where the range
      // shuffle put them (Spark defaults: NULLS FIRST under asc,
      // NULLS LAST under desc), so the comparison must be spelled out
      // null-safely — a bare lit(null) < metric evaluates to NULL,
      // every when(below,...) would count 0, and null-metric rows
      // would silently collapse into bucket 1 instead of the
      // rank-based bucket withNtile assigns them.
      pairs.foldLeft(lit(1)) { case (acc, (m, k)) =>
        val below =
          if (m == null) {
            // boundary sits inside the null-metric group
            if (asc) metric.isNotNull || lit(k) < col(key)
            else metric.isNull && lit(k) < col(key)
          } else if (asc)
            metric.isNotNull && ((lit(m) < metric) ||
              (lit(m) === metric && lit(k) < col(key)))
          else
            metric.isNull || (lit(m) > metric) ||
              (lit(m) === metric && lit(k) < col(key))
        acc + when(below, 1).otherwise(0)
      }.cast("int")
    }
  }

  /** `df` plus, for each [[CumSpec]], the exact global running sum of
    * `src` along the total order (`cum`) and its grand total (`total`)
    * — the distributed form of `sum(x) OVER (ORDER BY ... ROWS
    * UNBOUNDED PRECEDING)` plus `sum(x) OVER ()` in one pass.
    */
  def withCumSums(df: DataFrame, sortCols: Seq[Column],
                  sums: Seq[CumSpec]): DataFrame = {
    require(sums.nonEmpty, "withCumSums needs at least one CumSpec")
    val (rows, offsets) = twoPass(df, sortCols, sums)
    val keep = Pid +: (sums.map(_.cum + "__off") ++ sums.map(_.total))
    val joined = rows.join(
      broadcast(offsets.select(keep.head, keep.tail: _*)), Pid)
    sums.foldLeft(joined) { (acc, cs) =>
      acc.withColumn(cs.cum, col(cs.cum + "__local") + col(cs.cum + "__off"))
        .drop(cs.cum + "__local", cs.cum + "__off")
    }.drop(Pid, LocalRn)
  }
}
