package graft

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import graft.ShopFixture._
import graft.movieshop.MovieShop
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{LocalTableScanExec, LogicalRDD}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** MovieShop's serving path over per-version snapshots, on the small
  * reference-shaped TSVs the suite writes itself ([[ShopFixture]]).
  * Every endpoint is compared row for row with the same plan over a
  * fresh `Tables.tsv` read, before and after the files change.
  */
class MovieShopServingSpec extends SparkTestBase {

  /** The endpoints' plans over a fresh read of the files. */
  private class Fresh(s: SparkSession, dir: String) {
    def movies: DataFrame = Tables.tsv(s, s"$dir/movie_info.csv", MovieShop.movieSchema)
    def reviews: DataFrame = Tables.tsv(s, s"$dir/review.csv", MovieShop.reviewSchema)
    def orders: DataFrame = Tables.tsv(s, s"$dir/order.csv", MovieShop.orderSchema)

    def queryMovieList(startFrom: Int, limitation: Int, searchKey: String): DataFrame =
      movies.filter(col("name").like(s"%$searchKey%"))
        .orderBy(col("movie_id").asc).offset(startFrom).limit(limitation)
        .select(col("movie_id"), col("name"), col("price"), col("ranking"),
          from_json(col("information"), MovieShop.movieInfoSchema).as("information"))

    def queryMovie(movieId: Int): DataFrame =
      movies.filter(col("movie_id") === movieId)
        .join(reviews.withColumnRenamed("ranking", "review_ranking"),
          Seq("movie_id"), "left_outer")
        .groupBy("movie_id", "name", "price", "ranking", "information")
        .agg(sort_array(collect_list(when(col("review_id").isNotNull,
          struct(col("review_id"), col("review_ranking"), col("content")))))
          .as("reviews"))
        .select(col("movie_id"), col("name"), col("price"), col("ranking"),
          from_json(col("information"), MovieShop.movieInfoSchema).as("information"),
          from_json(get_json_object(col("information"), "$.pubdate"),
            ArrayType(StringType)).as("pubdate_decoded"),
          col("reviews"))

    def queryOrderList(startFrom: Int, limitation: Int, timePattern: String): DataFrame = {
      val filtered =
        if (timePattern == "%") orders else orders.filter(col("create_time").like(timePattern))
      filtered.orderBy(col("create_time").desc, col("order_id").desc)
        .offset(startFrom).limit(limitation)
    }

    def queryRecommendMovieList(limitation: Int): DataFrame =
      movies.filter(col("ranking").isNotNull)
        .orderBy(col("ranking").desc, col("movie_id").asc).limit(limitation)
        .select("movie_id", "name", "price", "ranking")

    def nextOrderId: Int =
      orders.agg(coalesce(max(col("order_id")), lit(0))).collect()(0).getInt(0) + 1

    def monthlySales: DataFrame =
      orders.groupBy(substring(col("create_time"), 1, 4).as("y"),
          substring(col("create_time"), 6, 2).as("m"))
        .agg(round(sum(col("price_sum")), 1).as("sales")).orderBy("y", "m")

    def salesRollup: DataFrame =
      orders.rollup(substring(col("create_time"), 1, 4).as("y"),
          substring(col("create_time"), 6, 2).as("m"))
        .agg(round(sum(col("price_sum")), 1).as("sales"))
        .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first)

    def yearlySales: DataFrame =
      orders.groupBy(substring(col("create_time"), 1, 4).as("y"))
        .agg(round(sum(col("price_sum")), 1).as("sales")).orderBy("y")
  }

  private def assertSame(actual: DataFrame, expected: DataFrame, what: String): Unit = {
    assert(actual.schema == expected.schema, what)
    assert(actual.collect().toSeq == expected.collect().toSeq, what)
  }

  private val listForms = Seq((0, 10, ""), (2, 3, ""), (0, 10, "Kiss"), (0, 10, "%"),
    (0, 10, "_"), (0, 10, "野"), (1, 1, "e"), (0, 10, "nothing"))
  private val orderForms = Seq("%", "2015-%", "2015-07-%", "2015-07-19%", "%-%-03%",
    "2015-%-19%", "%-%-19%")

  /** Every endpoint against its fresh plan; the insert only reads. */
  private def assertEndpoints(s: SparkSession, dir: String): Unit = {
    val f = new Fresh(s, dir)
    listForms.foreach { case (from, lim, key) =>
      assertSame(MovieShop.queryMovieList(s, dir, from, lim, key),
        f.queryMovieList(from, lim, key), s"queryMovieList($from, $lim, '$key')")
    }
    (101 to 107).foreach { id =>
      assertSame(MovieShop.queryMovie(s, dir, id), f.queryMovie(id), s"queryMovie($id)")
    }
    Seq(15, 2).foreach { lim =>
      assertSame(MovieShop.queryRecommendMovieList(s, dir, lim),
        f.queryRecommendMovieList(lim), s"queryRecommendMovieList($lim)")
    }
    orderForms.foreach { p =>
      assertSame(MovieShop.queryOrderList(s, dir, 0, 100, p), f.queryOrderList(0, 100, p),
        s"queryOrderList('$p')")
    }
    assertSame(MovieShop.queryOrderList(s, dir, 2, 3), f.queryOrderList(2, 3, "%"),
      "queryOrderList page")
    assertSame(MovieShop.salesRollup(s, dir), f.salesRollup, "salesRollup")
    assertSame(MovieShop.monthlySales(s, dir), f.monthlySales, "monthlySales")
    val (monthly, yearly) = MovieShop.chartBundle(s, dir)
    assertSame(monthly, f.monthlySales, "chartBundle monthly")
    assertSame(yearly, f.yearlySales, "chartBundle yearly")
    val ins = MovieShop.insertOrder(s, dir, 105, "Hero", 3, 89.951).collect()
    assert(ins.length == 1)
    assert(ins(0).toSeq.take(5) == Seq(f.nextOrderId, 105, "Hero", 3, 90.0))
    assert(ins(0).getString(5).matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""))
  }

  private def orderIds(s: SparkSession, dir: String): Seq[Int] =
    MovieShop.queryOrderList(s, dir, 0, 1000).collect().map(_.getInt(0)).toSeq

  private def liveKeys(s: SparkSession, dir: String): Set[String] =
    MovieShop.snapshots.keySet.asScala.collect {
      case (ks, key) if (ks eq s) && (key.startsWith(s"$dir/") || key.startsWith(s"$dir#")) => key
    }.toSet

  test("every endpoint matches its plan over a fresh read, row for row") {
    val dir = shopDir()
    assertEndpoints(spark, dir)
    // FIXTURES.md §A edge cases survive the snapshot
    val kiss = MovieShop.queryMovie(spark, dir, 101).collect()(0)
    assert(kiss.getAs[Row]("information").getAs[Row]("rating").getAs[String]("average") == "")
    assert(kiss.getAs[scala.collection.Seq[String]]("pubdate_decoded") == Seq("1955-05-18(USA)"))
    assert(kiss.getAs[scala.collection.Seq[Row]]("reviews").map(_.getInt(0)) == Seq(1, 2, 3))
    val team = MovieShop.queryMovie(spark, dir, 104).collect()
    assert(team.length == 1 && team(0).getAs[scala.collection.Seq[Row]]("reviews").isEmpty)
    assert(MovieShop.queryMovie(spark, dir, 999).collect().isEmpty)
    assert(MovieShop.queryMovieList(spark, dir, 0, 10, "").count() == 5) // null name excluded
    assert(MovieShop.queryMovieList(spark, dir, 0, 10, "%").collect().map(_.getInt(0)).toSeq
      == Seq(101, 102, 103, 104, 105))
    assert(MovieShop.queryOrderList(spark, dir, 0, 100, "%-%-03%").count() == 3)
    assert(MovieShop.queryOrderList(spark, dir, 0, 100, "2015-%-19%").count() == 2)
  }

  test("an append to order.csv is seen by the next insert, order list and rollup") {
    val dir = shopDir()
    assertEndpoints(spark, dir)
    append(dir, "order.csv", "9\t104\tA_Team\t2\t30.0\t2020-02-02 02:02:02")
    assertEndpoints(spark, dir)
    assert(MovieShop.insertOrder(spark, dir, 101, "Kiss Me Deadly", 1, 12.5)
      .collect()(0).getInt(0) == 10)
    assert(orderIds(spark, dir).head == 9 && orderIds(spark, dir).size == 9)
    val ru = MovieShop.salesRollup(spark, dir).collect()
    assert(ru.exists(r => !r.isNullAt(0) && r.getString(0) == "2020" && r.isNullAt(1) &&
      r.getDouble(2) == 30.0))
    assert(ru.head.isNullAt(0) && ru.head.getDouble(2) == 262.2)
  }

  test("a rewrite of review.csv rebuilds the movie-detail view") {
    val dir = shopDir()
    assert(MovieShop.queryMovie(spark, dir, 104).collect()(0)
      .getAs[scala.collection.Seq[Row]]("reviews").isEmpty)
    val detail = MovieShop.snapshots.get((spark, s"$dir#movie_detail")).df
    write(dir, "review.csv", reviewLines :+ "9\t104\t7.5\tteam")
    assertEndpoints(spark, dir)
    assert(MovieShop.queryMovie(spark, dir, 104).collect()(0)
      .getAs[scala.collection.Seq[Row]]("reviews").map(_.getString(2)) == Seq("team"))
    assert(!(MovieShop.snapshots.get((spark, s"$dir#movie_detail")).df eq detail))
    // same length, new modification time: still a new version
    val file = Paths.get(dir, "review.csv").toFile
    val stamp = file.lastModified()
    write(dir, "review.csv", reviewLines :+ "9\t104\t7.5\tmeam")
    assert(file.setLastModified(stamp + 5000))
    assertEndpoints(spark, dir)
    assert(MovieShop.queryMovie(spark, dir, 104).collect()(0)
      .getAs[scala.collection.Seq[Row]]("reviews").map(_.getString(2)) == Seq("meam"))
  }

  test("two directories and two sessions never share an entry") {
    val a = shopDir()
    val b = shopDir(orderLines.take(5))
    val other = spark.newSession()
    for (s <- Seq(spark, other); dir <- Seq(a, b)) assertEndpoints(s, dir)
    assert(orderIds(spark, a).size == 8 && orderIds(spark, b).size == 5)
    assert(orderIds(other, a).size == 8 && orderIds(other, b).size == 5)
    assert(MovieShop.orders(other, a).sparkSession eq other)
    assert(MovieShop.movies(spark, a).sparkSession eq spark)
    assert(snapshotScans(MovieShop.orders(spark, a)) != snapshotScans(MovieShop.orders(other, a)))
    assert(snapshotScans(MovieShop.orders(spark, a)) != snapshotScans(MovieShop.orders(spark, b)))
    assert(liveKeys(spark, a) == liveKeys(other, a))
    assert(liveKeys(spark, a).intersect(liveKeys(spark, b)).isEmpty)
  }

  test("one live entry per key after many appends") {
    val dir = shopDir()
    (9 to 20).foreach { id =>
      append(dir, "order.csv", s"$id\t101\tKiss Me Deadly\t1\t12.5\t2018-0${id % 9 + 1}-01 00:00:00")
      assert(MovieShop.insertOrder(spark, dir, 101, "Kiss Me Deadly", 1, 12.5)
        .collect()(0).getInt(0) == id + 1)
      assert(orderIds(spark, dir).size == id)
      MovieShop.salesRollup(spark, dir).collect()
      MovieShop.queryMovie(spark, dir, 101).collect()
    }
    assertEndpoints(spark, dir)
    assert(liveKeys(spark, dir) == Set("movie_info.csv", "review.csv", "order.csv")
      .map(f => s"$dir/$f") ++ Set("movie_list", "recommend", "movie_detail",
        "order_list", "max_order_id", "sales_rollup").map(v => s"$dir#$v"))
  }

  test("chartBundle does not pin the order table: a later append is read") {
    val dir = shopDir()
    val (monthly, yearly) = MovieShop.chartBundle(spark, dir)
    monthly.collect(); yearly.collect()
    append(dir, "order.csv", "9\t104\tA_Team\t2\t30.0\t2020-02-02 02:02:02")
    assert(MovieShop.insertOrder(spark, dir, 101, "Kiss Me Deadly", 1, 12.5)
      .collect()(0).getInt(0) == 10)
    assert(orderIds(spark, dir).size == 9)
    val (monthly2, yearly2) = MovieShop.chartBundle(spark, dir)
    assert(snapshotScans(monthly2) == snapshotScans(yearly2) && snapshotScans(monthly2).size == 1)
    assert(yearly2.collect().map(_.getString(0)).toSeq == Seq("2015", "2016", "2017", "2019", "2020"))
  }

  /** Runs `body` with the driver's budget for held rows at `bytes`. */
  private def withBudget[T](bytes: Long)(body: => T): T = {
    val prior = MovieShop.heldBudget
    MovieShop.heldBudget = bytes
    try body finally MovieShop.heldBudget = prior
  }

  /** Whether a snapshot is held on the driver (else a checkpoint). */
  private def held(df: DataFrame): Boolean = df.queryExecution.logical match {
    case _: LocalRelation => true
    case _: LogicalRDD => false
  }

  private def heldBytes: Long = MovieShop.snapshots.values.asScala.map(_.bytes).sum

  test("within the driver's budget every read endpoint is one local scan: no job") {
    val dir = shopDir()
    val endpoints: Seq[(String, DataFrame)] =
      listForms.map { case (from, lim, key) =>
        s"queryMovieList($from, $lim, '$key')" -> MovieShop.queryMovieList(spark, dir, from, lim, key)
      } ++ Seq(101, 104, 999).map(id => s"queryMovie($id)" -> MovieShop.queryMovie(spark, dir, id)) ++
        Seq(15, 2).map(lim => s"queryRecommendMovieList($lim)" ->
          MovieShop.queryRecommendMovieList(spark, dir, lim)) ++
        orderForms.map(p => s"queryOrderList('$p')" -> MovieShop.queryOrderList(spark, dir, 0, 100, p)) ++
        Seq("queryOrderList page" -> MovieShop.queryOrderList(spark, dir, 2, 3),
          "salesRollup" -> MovieShop.salesRollup(spark, dir),
          "insertOrder" -> MovieShop.insertOrder(spark, dir, 105, "Hero", 3, 89.951))
    endpoints.foreach { case (what, df) =>
      val plan = df.queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec], s"$what:\n$plan")
    }
    assert(Seq(MovieShop.movies(spark, dir), MovieShop.reviews(spark, dir),
      MovieShop.orders(spark, dir)).forall(held))
  }

  test("with no budget every endpoint reads checkpoints and matches") {
    withBudget(0) {
      val dir = shopDir()
      assertEndpoints(spark, dir)
      assert(!Seq(MovieShop.movies(spark, dir), MovieShop.reviews(spark, dir),
        MovieShop.orders(spark, dir), MovieShop.salesRollup(spark, dir)).exists(held))
      assert(!(MovieShop.snapshots.get((spark, s"$dir#movie_detail")).df.queryExecution
        .logical.isInstanceOf[LocalRelation]))
      append(dir, "order.csv", "9\t104\tA_Team\t2\t30.0\t2020-02-02 02:02:02")
      assertEndpoints(spark, dir)
      assert(!held(MovieShop.orders(spark, dir)))
    }
  }

  test("a snapshot is held exactly when its rows fit in the room the other snapshots leave") {
    val a = shopDir()
    val size = { MovieShop.orders(spark, a); MovieShop.snapshots.get((spark, s"$a/order.csv")).bytes }
    assert(size > 0)
    // the same rows in two more directories: one byte short of room, then exactly room
    val (b, c) = (shopDir(), shopDir())
    withBudget(heldBytes + size - 1)(assert(!held(MovieShop.orders(spark, b))))
    withBudget(heldBytes + size)(assert(held(MovieShop.orders(spark, c))))
    assert(MovieShop.snapshots.get((spark, s"$c/order.csv")).bytes == size)
  }

  test("a table leaving the budget between versions drops its held views and still matches") {
    val dir = shopDir()
    val orderViews = Set("order_list", "max_order_id").map(v => s"$dir#$v")
    val movieViews = Set("movie_list", "recommend").map(v => s"$dir#$v")
    assertEndpoints(spark, dir)
    assert(held(MovieShop.orders(spark, dir)) && held(MovieShop.movies(spark, dir)))
    assert((orderViews ++ movieViews).subsetOf(liveKeys(spark, dir)))
    withBudget(0) {
      // the next orders version is a checkpoint; the movies version is unchanged and held
      append(dir, "order.csv", "9\t104\tA_Team\t2\t30.0\t2020-02-02 02:02:02")
      assertEndpoints(spark, dir)
      assert(!held(MovieShop.orders(spark, dir)) && held(MovieShop.movies(spark, dir)))
      assert(liveKeys(spark, dir).intersect(orderViews).isEmpty)
      assert(movieViews.subsetOf(liveKeys(spark, dir)))
    }
    // back within the budget, the version after is held again, views and all
    append(dir, "order.csv", "10\t101\tKiss Me Deadly\t1\t12.5\t2020-02-03 03:03:03")
    assertEndpoints(spark, dir)
    assert(held(MovieShop.orders(spark, dir)))
    assert((orderViews ++ movieViews).subsetOf(liveKeys(spark, dir)))
    assert(MovieShop.queryOrderList(spark, dir, 0, 1).collect()(0).getInt(0) == 10)
  }
}
