package graft.movieshop

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{IntegerLiteral, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Offset}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
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
  * time), read once per request. Tables are appended to or rewritten in
  * place, and either changes the length or the modification time. A
  * rewrite that keeps the length within one modification-time tick is
  * not detected: reads go on serving the old rows until the file
  * changes again. Snapshots are kept per (session, key), one live entry
  * per key; a superseded entry is dropped, and the JVM's GC (or, for a
  * checkpoint, the ContextCleaner) frees it.
  *
  * A new version is collected onto the driver and held as a local
  * relation when its rows fit in what the live snapshots of other keys
  * leave of [[heldBudget]], a tenth of the driver's heap; the bytes
  * counted are the collected rows' own. A table whose file alone is
  * longer than that room is not collected, and a view is held only when
  * the tables it reads are. Over a held table, each endpoint
  * reads a view built once per version in its final order and
  * projection, so a request is only a filter, offset or limit over a
  * local relation, which the optimizer evaluates without a Spark job:
  *  - `#movie_list`: movies by `movie_id`, `information` parsed;
  *  - `#recommend`: ranked movies by `ranking desc, movie_id`;
  *  - `#order_list`: orders by `create_time desc, order_id desc`;
  *  - `#movie_detail`: each movie with its reviews nested and its
  *    `information` and `pubdate` parsed;
  *  - `#max_order_id`: the one-row `MAX(order_id)` the insert reads;
  *  - `#sales_rollup`: the ordered Chart rollup.
  * A version that does not fit is a lazy local checkpoint instead: the
  * detail view (`information` still raw) and the rollup are
  * checkpointed once per version, and the other views are plans every
  * request runs over the table's checkpoint; a view held for an earlier
  * version is dropped.
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

  /** A snapshot: the version it was built from and its rows, built on
    * the first read of `df`. The build runs outside the registry's
    * lock, so requests for other keys do not wait for it; concurrent
    * readers of one new snapshot wait for its single build. */
  private[graft] final class Snapshot(val version: Any, build: => (DataFrame, Long)) {
    @volatile private var heldBytes = 0L
    lazy val df: DataFrame = { val (rows, bytes) = build; heldBytes = bytes; rows }
    /** The bytes of its rows held on the driver: 0 for a checkpoint or
      * a plan, and before it is built. */
    def bytes: Long = heldBytes
    /** The relation, when the rows are held on the driver. */
    def held: Option[LocalRelation] = df.queryExecution.logical match {
      case l: LocalRelation => Some(l)
      case _ => None
    }
  }

  /** The live snapshots, keyed on (session, file path or view key). */
  private[graft] val snapshots = new ConcurrentHashMap[(SparkSession, String), Snapshot]()

  /** The bytes of rows all live snapshots together may hold on the
    * driver: a tenth of its heap. Spark leaves user data the 40% of the
    * heap above its 300 MB reserve that its own execution and storage
    * memory do not take, and held rows are user data. */
  @volatile private[graft] var heldBudget: Long = Runtime.getRuntime.maxMemory / 10

  /** The live snapshot of `key` if it has `version`, else a new one that
    * `build`s its rows and their held bytes on its first read. */
  private def snapshot(s: SparkSession, key: String, version: Any)(
      build: => (DataFrame, Long)): Snapshot =
    snapshots.compute((s, key), (_, live) =>
      if (live != null && live.version == version) live else new Snapshot(version, build))

  /** `df`'s rows as internal rows in a local relation of its schema, with
    * their bytes, if they fit in the room that the live snapshots of
    * other keys leave in [[heldBudget]]. `fileBytes` is the length of a
    * file `df` reads that is not held yet; when it alone exceeds the
    * room, nothing is collected. */
  private def hold(s: SparkSession, key: String, df: DataFrame,
                   fileBytes: Long = 0L): Option[(DataFrame, Long)] = {
    val room = heldBudget - snapshots.asScala.iterator.collect {
      case (k, live) if k != ((s, key)) => live.bytes
    }.sum
    if (fileBytes > room) None
    else {
      // every physical plan collects its rows as UnsafeRows
      val rows = df.queryExecution.executedPlan.executeCollect().map(_.asInstanceOf[UnsafeRow])
      val bytes = rows.iterator.map(_.getSizeInBytes.toLong).sum
      if (bytes > room) None
      else Some(Bridge.dataFrame(s, LocalRelation(DataTypeUtils.toAttributes(df.schema),
        ArraySeq.unsafeWrapArray(rows))) -> bytes)
    }
  }

  /** A lazy local checkpoint of `df`, not `cache()`: the cache manager
    * matches cached data by plan, so a cached read would also serve
    * later reads of the same file. A superseded checkpoint is only
    * dropped, never unpersisted, since a request in flight may still
    * read it. */
  private def checkpoint(df: DataFrame): (DataFrame, Long) =
    df.localCheckpoint(eager = false) -> 0L

  /** The view `f` of table snapshot `t`: held once per version of `t`
    * under `key` when `t` is held and the view fits, else `f` over `t`.
    * A view held for an earlier version of a table no longer held is
    * dropped. */
  private def view(s: SparkSession, key: String, t: Snapshot)(
      f: DataFrame => DataFrame): DataFrame =
    if (t.held.isEmpty) { snapshots.remove((s, key)); f(t.df) }
    else snapshot(s, key, t.version) {
      val v = f(t.df)
      hold(s, key, v).getOrElse(v -> 0L)
    }.df

  private def table(s: SparkSession, path: String, schema: StructType): Snapshot = {
    val p = new Path(path)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    snapshot(s, path, (st.getLen, st.getModificationTime)) {
      val rows = Tables.tsv(s, path, schema)
      hold(s, path, rows, st.getLen).getOrElse(checkpoint(rows))
    }
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
                     limitation: Int, searchKey: String): DataFrame =
    view(s, s"$dir#movie_list", movieTable(s, dir)) {
      _.orderBy(col("movie_id").asc)
        .select(col("movie_id"), col("name"), col("price"), col("ranking"),
          from_json(col("information"), movieInfoSchema).as("information"))
    }
      // LIKE '%{searchKey}%' exactly as the reference splices it (so '%'/'_'
      // in the key act as wildcards, and the empty key's LIKE '%%' still
      // excludes NULL names — Column.contains would diverge on both).
      .filter(col("name").like(s"%$searchKey%"))
      .transform(page(s, _, startFrom, limitation))

  /** POST /api/query_movie (`DatabaseAccessor.py:92-96`): one movie
    * with ALL its reviews nested as an array (J1; nesting
    * `DatabaseAccessor.py:44-47`), plus the parsed information with
    * the doubly-encoded pubdate decoded (`Detail.vue:224`). On a held
    * detail view the movie's rows are picked on the driver: a filter
    * over a local relation would compile a predicate per movie id.
    */
  def queryMovie(s: SparkSession, dir: String, movieId: Int): DataFrame = {
    val detail = movieDetail(s, dir)
    detail.held match {
      case Some(l) => Bridge.dataFrame(s, l.copy(data =
        l.data.filter(r => !r.isNullAt(0) && r.getInt(0) == movieId)))
      case None => detailColumns(detail.df.filter(col("movie_id") === movieId))
    }
  }

  /** Every movie with all its reviews nested: the view `queryMovie`
    * picks from, built once per (movies, reviews) version. Held with its
    * information and pubdate parsed; a checkpoint keeps `information`
    * raw, and a request parses only the movie it reads. The version
    * comes from the two snapshots it is built from, so an append between
    * two status reads cannot label it. */
  private def movieDetail(s: SparkSession, dir: String): Snapshot = {
    val m = movieTable(s, dir)
    val r = reviewTable(s, dir)
    val key = s"$dir#movie_detail"
    snapshot(s, key, (m.version, r.version)) {
      val joined = m.df.join(r.df.withColumnRenamed("ranking", "review_ranking"),
          Seq("movie_id"), "left_outer")
        .groupBy("movie_id", "name", "price", "ranking", "information")
        // when(...) leaves the struct null for the no-review outer row,
        // and collect_list drops nulls — a review-less movie gets an
        // empty array (ORM semantics), not [struct(null,null,null)]
        .agg(sort_array(collect_list(when(col("review_id").isNotNull,
          struct(col("review_id"), col("review_ranking"), col("content")))))
          .as("reviews"))
      (if (m.held.isEmpty || r.held.isEmpty) None else hold(s, key, detailColumns(joined)))
        .getOrElse(checkpoint(joined))
    }
  }

  /** `queryMovie`'s columns over detail rows with `information` raw. */
  private def detailColumns(detail: DataFrame): DataFrame =
    detail.select(col("movie_id"), col("name"), col("price"), col("ranking"),
      from_json(col("information"), movieInfoSchema).as("information"),
      from_json(get_json_object(col("information"), "$.pubdate"),
        ArrayType(StringType)).as("pubdate_decoded"),
      col("reviews"))

  /** POST /api/query_order_list (`DatabaseAccessor.py:105-110`, route
    * defaults `Server.py:37-39`, pattern built `OrderList.vue:125-131`):
    * time-prefix LIKE on the create_time STRING (any segment
    * wildcardable — '%-%-03%' stays a string match), newest first,
    * offset/limit; movie relation pruned (J2 noload).
    */
  def queryOrderList(s: SparkSession, dir: String, startFrom: Int,
                     limitation: Int, timePattern: String = "%"): DataFrame = {
    val newest = view(s, s"$dir#order_list", orderTable(s, dir)) {
      _.orderBy(col("create_time").desc, col("order_id").desc)
    }
    val filtered =
      if (timePattern == "%") newest
      else newest.filter(col("create_time").like(timePattern))
    page(s, filtered, startFrom, limitation)
  }

  /** `limitation` rows of `df` from `startFrom`. The optimizer folds a
    * filter and a limit over a local relation into a new one, but not an
    * offset; over a held view the offset is dropped here, on the driver. */
  private def page(s: SparkSession, df: DataFrame, startFrom: Int,
                   limitation: Int): DataFrame = {
    val paged = df.offset(startFrom).limit(limitation)
    paged.queryExecution.optimizedPlan match {
      case Offset(IntegerLiteral(n), l: LocalRelation) =>
        Bridge.dataFrame(s, l.copy(data = l.data.drop(n)))
      case _ => paged
    }
  }

  /** POST /api/query_recommend_movie_list (`DatabaseAccessor.py:112-117`,
    * top-15 per `Boarding.vue:31-34`): ranking IS NOT NULL, ranking
    * desc, limit — over a checkpoint it plans as TakeOrderedAndProject.
    */
  def queryRecommendMovieList(s: SparkSession, dir: String,
                              limitation: Int = 15): DataFrame =
    view(s, s"$dir#recommend", movieTable(s, dir)) {
      _.filter(col("ranking").isNotNull)
        .orderBy(col("ranking").desc, col("movie_id").asc)
        .select("movie_id", "name", "price", "ranking")
    }.limit(limitation)

  /** POST /api/insert_order rows (`DatabaseAccessor.py:119-136`):
    * MAX+1 id, price_sum rounded to 1 decimal (F4 `:127`), create_time
    * stamped 'yyyy-MM-dd HH:mm:ss' (F2 `:130`). Returns the rows to
    * append (single-writer compat mode; see operators.WritePath for
    * the scalable-id mode).
    */
  def insertOrder(s: SparkSession, dir: String, movieId: Int,
                  movieName: String, movieNum: Int, priceSum: Double): DataFrame =
    view(s, s"$dir#max_order_id", orderTable(s, dir)) {
      _.agg(coalesce(max(col("order_id")), lit(0)).as("mx"))
    }.select(
      (col("mx") + 1).as("order_id"),
      lit(movieId).as("movie_id"),
      lit(movieName).as("movie_name"),
      lit(movieNum).as("movie_num"),
      round(lit(priceSum), 1).as("price_sum"),
      date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss").as("create_time"))

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
    val key = s"$dir#sales_rollup"
    snapshot(s, key, o.version) {
      val rollup = o.df
        .rollup(substring(col("create_time"), 1, 4).as("y"),
          substring(col("create_time"), 6, 2).as("m"))
        .agg(round(sum(col("price_sum")), 1).as("sales"))
        .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first)
      (if (o.held.isEmpty) None else hold(s, key, rollup)).getOrElse(checkpoint(rollup))
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
