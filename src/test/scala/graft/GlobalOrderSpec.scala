package graft

import graft.operators.GlobalOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The boundary-pair ntile (withNtiles) must be VALUE-IDENTICAL to the
  * rank-based fold (withNtile) it replaces — including when the metric
  * column carries NULLs, which sort NULLS FIRST under asc / NULLS LAST
  * under desc in both the range shuffle and the rank window. The
  * boundary comparison used to evaluate lit(null) < metric to NULL and
  * silently drop null-metric rows into bucket 1; this spec pins the
  * null-safe rewrite against the rank-based ground truth.
  *
  * GlobalOrder is also the one module that pins partition ids, so its
  * answers must not depend on the plan: the row number and cumulative
  * sums equal the unpartitioned-window reference under every shuffle
  * width and with adaptive execution on or off.
  */
class GlobalOrderSpec extends SparkTestBase {

  test("withNtiles matches the withNtile fold when metrics contain NULLs") {
    import spark.implicits._
    val df = Seq(
      (1, Some(5.0)), (2, None), (3, Some(1.0)), (4, None),
      (5, Some(9.0)), (6, Some(2.0)), (7, Some(2.0)), (8, None),
      (9, Some(7.0)), (10, Some(0.5)), (11, Some(3.5)), (12, None),
      (13, Some(8.25)), (14, Some(1.0))
    ).toDF("k", "m")
    for (asc <- Seq(true, false)) {
      val fused = GlobalOrder
        .withNtiles(df, "k", 4, Seq(("b", col("m"), asc)))
        .select("k", "b").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val order =
        if (asc) Seq(col("m").asc, col("k").asc)
        else Seq(col("m").desc, col("k").asc)
      val folded = GlobalOrder.withNtile(df, 4, "b", order: _*)
        .select("k", "b").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(fused === folded, s"asc=$asc")
    }
  }

  test("withNtiles on all-null metric puts every row in bucket order by key") {
    import spark.implicits._
    val df = Seq((1, Option.empty[Double]), (2, None), (3, None), (4, None))
      .toDF("k", "m")
    val fused = GlobalOrder
      .withNtiles(df, "k", 2, Seq(("b", col("m"), true)))
      .select("k", "b").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    val folded = GlobalOrder
      .withNtile(df, 2, "b", col("m").asc, col("k").asc)
      .select("k", "b").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(fused === folded)
  }

  test("withRowNumber and withCumSums equal the global window under plan perturbation") {
    // 600 rows in 5 input partitions; k repeats, so (k, id) is the total
    // order and the tie-break is exercised
    val df = spark.range(0, 600, 1, 5)
      .select(col("id"), (col("id") * 7919 % 97).as("k"), (col("id") % 13).as("v"))
    val order = Seq(col("k"), col("id"))
    val w = Window.orderBy(order: _*)
    val want = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("v")).over(Window.partitionBy(lit(0))))
      .orderBy("id").collect().toSeq
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    for (width <- Seq("1", "7"); aqe <- Seq("true", "false")) {
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      try {
        keys.zip(Seq(width, aqe)).foreach { case (k, v) => spark.conf.set(k, v) }
        val numbered = GlobalOrder.withRowNumber(df, "rn", order: _*)
        val summed = GlobalOrder.withCumSums(numbered, order,
          Seq(GlobalOrder.CumSpec("v", "cum", "tot")))
        val got = summed.select("id", "k", "v", "rn", "cum", "tot")
          .orderBy("id").collect().toSeq
        assert(got == want, s"width=$width aqe=$aqe")
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
