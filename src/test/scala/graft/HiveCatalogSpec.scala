package graft

/** S2/S3 exact-DDL parity: the reference's create_table.sql statements
  * (`Codes/database_init/create_table.sql:1-39`) executed verbatim
  * (paths adapted) against Spark's Hive catalog — CREATE DATABASE /
  * USE / CREATE TABLE ... ROW FORMAT DELIMITED FIELDS TERMINATED BY
  * '\t' / LOAD DATA LOCAL INPATH ... OVERWRITE INTO TABLE — then the
  * reference queries over the catalog tables via spark.sql. Loads the
  * reference's seed ([[ReferenceSeed]]); canceled where it is absent.
  */
class HiveCatalogSpec extends SparkTestBase {
  val seed = ReferenceSeed.dir

  test("reference DDL + LOAD DATA runs verbatim; SQL queries hit the Hive tables") {
    ReferenceSeed.assumePresent("movie_info.csv", "order.csv")
    spark.sql("CREATE DATABASE IF NOT EXISTS movie_shop")
    // the session is JVM-wide: whatever fails below, leave it in `default`
    // with neither table behind
    try {
      spark.sql("USE movie_shop")
      spark.sql("DROP TABLE IF EXISTS movie")
      spark.sql("""CREATE TABLE movie(
                  |  movie_id INT,
                  |  name STRING,
                  |  price DOUBLE,
                  |  ranking DOUBLE,
                  |  information STRING)
                  |ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'""".stripMargin)
      spark.sql(s"LOAD DATA LOCAL INPATH '$seed/movie_info.csv' OVERWRITE INTO TABLE movie")
      spark.sql("DROP TABLE IF EXISTS order_info")
      spark.sql("""CREATE TABLE order_info(
                  |  order_id INT,
                  |  movie_id INT,
                  |  movie_name STRING,
                  |  movie_num INT,
                  |  price_sum DOUBLE,
                  |  create_time STRING)
                  |ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'""".stripMargin)
      spark.sql(s"LOAD DATA LOCAL INPATH '$seed/order.csv' OVERWRITE INTO TABLE order_info")
      assert(spark.sql("SELECT count(*) FROM movie").collect()(0).getLong(0) == 200)
      assert(spark.sql("SELECT count(*) FROM order_info").collect()(0).getLong(0) == 50)
      // the movie-list query (DatabaseAccessor.py:98-103) as SQL
      val page = spark.sql(
        """SELECT movie_id FROM movie WHERE name LIKE '%Kiss%'
          |ORDER BY movie_id LIMIT 10""".stripMargin).collect()
      assert(page.length == 1)
      // the insert path (A1 MAX+1) as SQL
      assert(spark.sql("SELECT max(order_id) FROM order_info")
        .collect()(0).getInt(0) == 50)
      // catalog listing (G4 `ls` analogue)
      assert(spark.catalog.listTables("movie_shop").collect()
        .map(_.name).toSet.contains("movie"))
    } finally {
      spark.sql("USE default")
      spark.sql("DROP TABLE IF EXISTS movie_shop.movie")
      spark.sql("DROP TABLE IF EXISTS movie_shop.order_info")
    }
  }
}
