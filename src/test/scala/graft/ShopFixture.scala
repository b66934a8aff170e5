package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.Assertions

/** Small reference-shaped MovieShop TSVs the suite writes itself
  * (FIXTURES.md §A edge cases: an empty `rating.average`, a movie without
  * reviews, the doubly encoded `pubdate`, a null name, and names that hold
  * LIKE wildcards).
  */
object ShopFixture {

  private def info(title: String, average: String, pubdate: String, extra: String = "") =
    s"""{"_id":"$title","title":"$title","year":"1955","aka":["","$title II"],""" +
      s""""casts":[{"id":"search","name":"Lee"}],"rating":{"average":"$average",""" +
      s""""rating_people":"12","stars":["1","2"]},"pubdate":"$pubdate",""" +
      s""""duration":"USA: 55","price":9.5$extra}"""

  val movieLines = Seq(
    s"101\tKiss Me Deadly\t12.5\t8.1\t${info("Kiss", "", """[\"1955-05-18(USA)\"]""")}",
    s"102\t野狼 Hombre\t20.0\t7.5\t${info("Hombre", "7.5", """[\"1967-03-21\"]""")}",
    s"103\t100% Love\t9.9\t\t${info("Love", "8.0", """[]""")}",
    s"104\tA_Team\t15.0\t9.1\t${info("Team", "9.1", """[\"2010-06-11\",\"2010-06-18\"]""")}",
    s"105\tHero\t30.0\t9.1\t${info("Hero", "9.1", """[\"2002-12-14\"]""", ""","summary":"剑"""")}",
    s"106\t\t5.0\t3.0\t${info("Nameless", "", """[]""")}")

  val reviewLines = Seq(
    "1\t101\t8.0\t好看", "2\t101\t6.5\tfine", "3\t101\t9.0\t经典",
    "4\t102\t7.0\tok", "5\t102\t5.5\t一般", "6\t103\t4.0\tmeh",
    "7\t105\t9.5\t武侠", "8\t105\t8.5\tgood")

  val orderLines = Seq(
    "1\t101\tKiss Me Deadly\t1\t12.5\t2015-07-19 10:00:00",
    "2\t102\t野狼 Hombre\t2\t40.0\t2015-07-03 11:30:00",
    "3\t105\tHero\t1\t30.0\t2015-12-19 09:15:00",
    "4\t103\t100% Love\t3\t29.7\t2016-03-03 20:00:00",
    "5\t101\tKiss Me Deadly\t2\t25.0\t2016-08-19 08:00:00",
    "6\t104\tA_Team\t1\t15.0\t2017-01-03 12:00:00",
    "7\t105\tHero\t2\t60.0\t2019-11-08 12:32:08",
    "8\t102\t野狼 Hombre\t1\t20.0\t2019-11-08 12:32:08")

  def write(dir: String, file: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, file), lines.map(_ + "\n").mkString.getBytes(UTF_8))

  def append(dir: String, file: String, line: String): Unit =
    Files.write(Paths.get(dir, file), (line + "\n").getBytes(UTF_8),
      StandardOpenOption.APPEND)

  /** A reference compared by identity, not by value. */
  final class Identity(val ref: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case i: Identity => i.ref eq ref
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(ref)
  }

  /** The snapshot relations a plan reads, by identity: a checkpoint's
    * RDD id, or the rows of a relation held on the driver (two sessions
    * holding equal rows still read two relations). */
  def snapshotScans(df: DataFrame): Set[Any] =
    df.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.rdd.id
      case l: LocalRelation => new Identity(l.data)
    }.toSet

  /** A new temp directory holding the three TSVs. */
  def shopDir(orders: Seq[String] = orderLines): String = {
    val dir = Files.createTempDirectory("graft_shop").toString
    write(dir, "movie_info.csv", movieLines)
    write(dir, "review.csv", reviewLines)
    write(dir, "order.csv", orders)
    dir
  }
}

/** The reference project's own seed TSVs (`Codes/database_init/`,
  * FIXTURES.md §A). The repo does not hold them; the golden-value tests
  * that need them call [[assumePresent]] first and are canceled where
  * they are absent.
  */
object ReferenceSeed {
  val dir = "/root/reference/Codes/database_init"

  private val files = Seq("movie_info.csv", "review.csv", "order.csv")

  /** Cancels the calling test unless each seed file it reads is present
    * (all three when none are named).
    */
  def assumePresent(needed: String*): Unit = {
    val missing = (if (needed.isEmpty) files else needed)
      .map(f => Paths.get(dir, f)).filterNot(Files.isRegularFile(_))
    val seedPresent = missing.isEmpty
    Assertions.assume(seedPresent, s"reference seed TSV not found: ${missing.mkString(", ")}")
  }
}
