package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Every `main` builds its session through [[Session.local]] and runs
  * its queries through [[QueryRun]], so the shared settings and the run
  * idiom each live in one place. This holds both rules by a text scan:
  * a second session builder, noop sink, persisted-RDD release or
  * listener anywhere in `src/main` fails the suite.
  */
class SessionFactorySpec extends AnyFunSuite {

  /** Per `src/main` Scala file, how often `pattern` matches in it. */
  private def hits(pattern: Regex): Seq[(Path, Int)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> pattern.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0)
    finally walk.close()
  }

  test("src/main builds a SparkSession only in graft.Session") {
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    val found = hits("""SparkSession\s*\.\s*builder\b""".r)
    assert(found == Seq(factory -> 1),
      s"session builders outside the factory: ${found.filterNot(_._1 == factory)}")
  }

  test("src/main runs, releases and listens to a query only in graft.QueryRun") {
    val runner = Paths.get("src/main/scala/graft/QueryRun.scala")
    Seq("""getPersistentRDDs""", """format\s*\(\s*"noop"\s*\)""",
        """addSparkListener""").foreach { p =>
      val found = hits(p.r)
      assert(found.map(_._1) == Seq(runner),
        s"$p outside the runner: ${found.filterNot(_._1 == runner)}")
    }
  }
}
