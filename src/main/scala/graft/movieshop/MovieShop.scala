package graft.movieshop

import java.util.concurrent.ConcurrentHashMap

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's complete user-facing query surface (SURVEY.md §2 /
  * §3): the five HTTP endpoints of MovieShoppingServer plus the
  * Chart.vue analytics, re-expressed as Catalyst plans over the same
  * three tables. A user of the reference can run every query they run
  * today through this object.
  *
  * Semantics notes (file:line into the reference):
  *  - Tables/DDL: `Codes/database_init/create_table.sql:5-39` — TSV,
  *    \t-delimited; schemas mirrored in [[movieSchema]] etc.
  *  - `information` is a JSON document string
  *    (`DatabaseAccessor.py:43`); [[movieInfoSchema]] is its observed
  *    structure (SURVEY.md §1.3), with `pubdate` doubly encoded — a
  *    JSON array serialized as a string (`Detail.vue:224`).
  *  - All time logic is string-prefix LIKE on 'yyyy-MM-dd HH:mm:ss'
  *    strings (`DatabaseAccessor.py:107,130`) — kept exactly; no
  *    rewrite to native date predicates (SURVEY.md §7.4).
  *
  * Snapshot contract: every endpoint reads per-version snapshots, not
  * the files. A table's version is its file's (length, modification
  * time), read once per request; a new version is read into a lazy
  * local checkpoint once, and two derived views — the movie-detail
  * join and the sales rollup — are built once per version of the
  * tables they read. Tables are appended to or rewritten in place, and
  * either changes the length or the modification time. A rewrite that
  * keeps the length within one modification-time tick is not detected:
  * reads go on serving the old rows until the file changes again.
  * Snapshots are kept per (session, key), one live entry per key.
  */
object MovieShop {

  val movieSchema: StructType = StructType(Seq(
    StructField("movie_id", IntegerType),
    StructField("name", StringType),
    StructField("price", DoubleType),
    StructField("ranking", DoubleType),
    StructField("information", StringType)))

  val reviewSchema: StructType = StructType(Seq(
    StructField("review_id", IntegerType),
    StructField("movie_id", IntegerType),
    StructField("ranking", DoubleType),
    StructField("content", StringType)))

  val orderSchema: StructType = StructType(Seq(
    StructField("order_id", IntegerType),
    StructField("movie_id", IntegerType),
    StructField("movie_name", StringType),
    StructField("movie_num", IntegerType),
    StructField("price_sum", DoubleType),
    StructField("create_time", StringType)))

  /** Observed structure of movie.information (SURVEY.md §1.3).
    * Permissive: all leaves string except price (JSON number), since
    * the corpus types fields inconsistently (SURVEY.md §7.4). */
  val movieInfoSchema: StructType = {
    val person = ArrayType(StructType(Seq(
      StructField("id", StringType), StructField("name", StringType))))
    StructType(Seq(
      StructField("_id", StringType), StructField("title", StringType),
      StructField("year", StringType), StructField("imdb", StringType),
      StructField("aka", ArrayType(StringType)),
      StructField("countries", ArrayType(StringType)),
      StructField("genres", ArrayType(StringType)),
      StructField("languages", ArrayType(StringType)),
      StructField("casts", person), StructField("directors", person),
      StructField("writers", person),
      StructField("rating", StructType(Seq(
        StructField("average", StringType),
        StructField("rating_people", StringType),
        StructField("stars", ArrayType(StringType))))),
      StructField("pubdate", StringType), // doubly-encoded JSON array
      StructField("duration", StringType), StructField("episodes", StringType),
      StructField("season_count", StringType),
      StructField("price", DoubleType), StructField("poster", StringType),
      StructField("site", StringType), StructField("douban_site", StringType),
      StructField("summary", StringType)))
  }

  /** A snapshot: the version it was built from, and its rows. */
  private[graft] final case class Snapshot(version: Any, df: DataFrame)

  /** The live snapshots, keyed on (session, file path or view key). */
  private[graft] val snapshots = new ConcurrentHashMap[(SparkSession, String), Snapshot]()

  /** The snapshot of `key` at `version`; `build` runs only when the live
    * entry has another version. The snapshot is a lazy local checkpoint,
    * not `cache()`: the cache manager matches cached data by plan, so a
    * cached read would also serve later reads of the same file. A
    * superseded entry is only dropped, never unpersisted, since a
    * request in flight may still read it; the ContextCleaner frees it.
    * `build` must not call back into the registry (`compute` forbids
    * recursive updates). */
  private def snapshot(s: SparkSession, key: String, version: Any)(
      build: => DataFrame): Snapshot =
    snapshots.compute((s, key), (_, live) =>
      if (live != null && live.version == version) live
      else Snapshot(version, build.localCheckpoint(eager = false)))

  private def table(s: SparkSession, path: String, schema: StructType): Snapshot = {
    val p = new Path(path)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    snapshot(s, path, (st.getLen, st.getModificationTime))(Tables.tsv(s, path, schema))
  }
  private def movieTable(s: SparkSession, dir: String) =
    table(s, s"$dir/movie_info.csv", movieSchema)
  private def reviewTable(s: SparkSession, dir: String) =
    table(s, s"$dir/review.csv", reviewSchema)
  private def orderTable(s: SparkSession, dir: String) =
    table(s, s"$dir/order.csv", orderSchema)

  /** S1 ingest: the exact Hive-DDL TSV semantics
    * (`create_table.sql:13,25,38`), as the current snapshot of each
    * file. */
  def movies(s: SparkSession, dir: String): DataFrame = movieTable(s, dir).df
  def reviews(s: SparkSession, dir: String): DataFrame = reviewTable(s, dir).df
  def orders(s: SparkSession, dir: String): DataFrame = orderTable(s, dir).df

  /** POST /api/query_movie_list (`DatabaseAccessor.py:98-103`,
    * wildcard defaulting `Server.py:20-23`): LIKE filter + order by
    * movie_id + offset/limit; reviews NOT loaded (P5 noload);
    * information parsed (P7).
    */
  def queryMovieList(s: SparkSession, dir: String, startFrom: Int,
                     limitation: Int, searchKey: String): DataFrame = {
    // LIKE '%{searchKey}%' exactly as the reference splices it (so '%'/'_'
    // in the key act as wildcards, and the empty key's LIKE '%%' still
    // excludes NULL names — Column.contains would diverge on both).
    movies(s, dir)
      .filter(col("name").like(s"%$searchKey%"))
      .orderBy(col("movie_id").asc)
      .offset(startFrom).limit(limitation)
      .select(col("movie_id"), col("name"), col("price"), col("ranking"),
        from_json(col("information"), movieInfoSchema).as("information"))
  }

  /** POST /api/query_movie (`DatabaseAccessor.py:92-96`): one movie
    * with ALL its reviews nested as an array (J1; nesting
    * `DatabaseAccessor.py:44-47`), plus the parsed information with
    * the doubly-encoded pubdate decoded (`Detail.vue:224`).
    */
  def queryMovie(s: SparkSession, dir: String, movieId: Int): DataFrame =
    movieDetail(s, dir).filter(col("movie_id") === movieId)
      .select(col("movie_id"), col("name"), col("price"), col("ranking"),
        from_json(col("information"), movieInfoSchema).as("information"),
        from_json(get_json_object(col("information"), "$.pubdate"),
          ArrayType(StringType)).as("pubdate_decoded"),
        col("reviews"))

  /** Every movie with all its reviews nested, `information` still raw:
    * the join `queryMovie` filters, built once per (movies, reviews)
    * version. The version comes from the two snapshots it is built
    * from, so an append between two status reads cannot label it. */
  private def movieDetail(s: SparkSession, dir: String): DataFrame = {
    val m = movieTable(s, dir)
    val r = reviewTable(s, dir)
    snapshot(s, s"$dir#movie_detail", (m.version, r.version)) {
      m.df.join(r.df.withColumnRenamed("ranking", "review_ranking"),
          Seq("movie_id"), "left_outer")
        .groupBy("movie_id", "name", "price", "ranking", "information")
        // when(...) leaves the struct null for the no-review outer row,
        // and collect_list drops nulls — a review-less movie gets an
        // empty array (ORM semantics), not [struct(null,null,null)]
        .agg(sort_array(collect_list(when(col("review_id").isNotNull,
          struct(col("review_id"), col("review_ranking"), col("content")))))
          .as("reviews"))
    }.df
  }

  /** POST /api/query_order_list (`DatabaseAccessor.py:105-110`, route
    * defaults `Server.py:37-39`, pattern built `OrderList.vue:125-131`):
    * time-prefix LIKE on the create_time STRING (any segment
    * wildcardable — '%-%-03%' stays a string match), newest first,
    * offset/limit; movie relation pruned (J2 noload).
    */
  def queryOrderList(s: SparkSession, dir: String, startFrom: Int,
                     limitation: Int, timePattern: String = "%"): DataFrame = {
    val base = orders(s, dir)
    val filtered =
      if (timePattern == "%") base
      else base.filter(col("create_time").like(timePattern))
    filtered
      .orderBy(col("create_time").desc, col("order_id").desc)
      .offset(startFrom).limit(limitation)
  }

  /** POST /api/query_recommend_movie_list (`DatabaseAccessor.py:112-117`,
    * top-15 per `Boarding.vue:31-34`): ranking IS NOT NULL, ranking
    * desc, limit — plans as TakeOrderedAndProject.
    */
  def queryRecommendMovieList(s: SparkSession, dir: String,
                              limitation: Int = 15): DataFrame =
    movies(s, dir)
      .filter(col("ranking").isNotNull)
      .orderBy(col("ranking").desc, col("movie_id").asc)
      .limit(limitation)
      .select("movie_id", "name", "price", "ranking")

  /** POST /api/insert_order rows (`DatabaseAccessor.py:119-136`):
    * MAX+1 id, price_sum rounded to 1 decimal (F4 `:127`), create_time
    * stamped 'yyyy-MM-dd HH:mm:ss' (F2 `:130`). Returns the rows to
    * append (single-writer compat mode; see operators.WritePath for
    * the scalable-id mode).
    */
  def insertOrder(s: SparkSession, dir: String, movieId: Int,
                  movieName: String, movieNum: Int, priceSum: Double): DataFrame = {
    val maxId = orders(s, dir).agg(coalesce(max(col("order_id")), lit(0)).as("mx"))
    maxId.select(
      (col("mx") + 1).as("order_id"),
      lit(movieId).as("movie_id"),
      lit(movieName).as("movie_name"),
      lit(movieNum).as("movie_num"),
      round(lit(priceSum), 1).as("price_sum"),
      date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss").as("create_time"))
  }

  /** Chart.vue monthly sales (`Chart.vue:96-111`): SUM(price_sum) per
    * (year, month) — exact string-prefix semantics on create_time
    * (`Chart.vue:99-106` matches on the "YYYY-MM" prefix), pushed down
    * as one hash aggregation instead of fetch-all-then-JS-loop.
    */
  def monthlySales(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(substring(col("create_time"), 1, 4).as("y"),
        substring(col("create_time"), 6, 2).as("m"))
      .agg(round(sum(col("price_sum")), 1).as("sales"))
      .orderBy("y", "m")

  /** Chart.vue yearly pie (`Chart.vue:182-190`) + monthly in ONE pass:
    * rollup(year, month) — A2+A3 as the de-facto grouping set
    * (SURVEY.md §2.4 A3). The ordered rollup is a view built once per
    * orders version.
    */
  def salesRollup(s: SparkSession, dir: String): DataFrame = {
    val o = orderTable(s, dir)
    snapshot(s, s"$dir#sales_rollup", o.version) {
      o.df
        .rollup(substring(col("create_time"), 1, 4).as("y"),
          substring(col("create_time"), 6, 2).as("m"))
        .agg(round(sum(col("price_sum")), 1).as("sales"))
        .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first)
    }.df
  }

  /** Chart fetch-once parity (SURVEY.md §4.1: the reference pulls all
    * orders once and aggregates twice client-side,
    * `Chart.vue:88-115`): the monthly series and the yearly pie both
    * read one orders snapshot — two aggregations, one scan.
    */
  def chartBundle(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = orders(s, dir)
    val monthly = o
      .groupBy(substring(col("create_time"), 1, 4).as("y"),
        substring(col("create_time"), 6, 2).as("m"))
      .agg(round(sum(col("price_sum")), 1).as("sales"))
      .orderBy("y", "m")
    val yearly = o
      .groupBy(substring(col("create_time"), 1, 4).as("y"))
      .agg(round(sum(col("price_sum")), 1).as("sales"))
      .orderBy("y")
    (monthly, yearly)
  }

  /** S5 row→JSON sink: rows → JSON strings at the API boundary
    * (`DatabaseAccessor.py:80-85` + `Server.py:24`). */
  def toJsonRows(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("json"))
}
