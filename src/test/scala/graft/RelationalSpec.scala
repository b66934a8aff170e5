package graft

import graft.operators._
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkTestBase {

  test("every declared query runs and has an oracle or rows-only marker") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.count() // must execute without error
    }
  }

  test("entry is non-empty") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("P2 empty key means match-all (Server.py:20-23 wildcard defaulting)") {
    val all = Tables.part(spark, sf).count()
    assert(Relational.likeSubstring(spark, sf, key = "").count() == all)
  }

  test("O1/O2 pagination tiles the relation without overlap or gaps") {
    val total = Tables.orders(spark, sf).count().toInt
    val pageSize = 100
    val pages = (0 until total by pageSize).map { off =>
      Relational.paginateAsc(spark, sf, off, pageSize)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    }
    val flat = pages.flatten
    assert(flat.length == total)
    assert(flat.distinct.length == total, "pages overlap")
    assert(flat == flat.sorted, "pages out of order")
  }

  test("O3 top-k equals sorted prefix") {
    val topk = Relational.topKByScore(spark, sf, 15)
      .select("c_custkey").collect().map(_.getLong(0)).toSeq
    val full = Tables.customer(spark, sf)
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .select("c_custkey").collect().map(_.getLong(0)).toSeq
    assert(topk == full.take(15))
  }

  test("J2/J3 semi+anti partition the customer relation") {
    val semi = Relational.semiJoin(spark, sf).count()
    val anti = Relational.antiJoin(spark, sf).count()
    assert(semi + anti == Tables.customer(spark, sf).count())
  }

  test("A3 rollup is consistent: yearly rows equal sum of monthly rows") {
    val rows = Analytics.rollupSales(spark, sf).collect()
    val monthly = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getDouble(2)).sum).toMap
    val yearly = rows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    yearly.foreach { case (y, v) =>
      assert(math.abs(v - monthly(y)) < 0.05, s"rollup mismatch for year $y")
    }
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1)).map(_.getDouble(2))
    assert(grand.length == 1)
    assert(math.abs(grand.head - yearly.values.sum) < 0.5)
  }

  test("W1 returns at most n rows per group, rn dense from 1") {
    val df = Relational.topNPerGroup(spark, sf, 3)
    val bad = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("c"), min("rn").as("mn"), max("rn").as("mx"))
      .filter(col("c") > 3 || col("mn") =!= 1 || col("mx") > 3)
    assert(bad.count() == 0)
  }

  test("J6 as-of join equals the naive candidate-join formulation") {
    import org.apache.spark.sql.expressions.Window
    val fast = Relational.asofJoin(spark, sf)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // naive: all candidate orders at-or-before, pick (max date, max key)
    val naive = Tables.events(spark, sf)
      .join(Tables.orders(spark, sf),
        col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"),
        "left_outer")
      .groupBy("event_id")
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
      .select(col("event_id"), col("best.o_orderkey"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq.sortBy(_._1)
    assert(fast == naive)
  }

  test("ST2 sessionization: session counts sum to total events") {
    val sessions = Analytics.sessionize(spark, sf)
    val total = sessions.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }
}
