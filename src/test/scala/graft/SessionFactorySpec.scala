package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `main` builds its session through [[Session.local]], so the
  * shared settings live in one place. This holds the rule by a check:
  * a second session builder anywhere in `src/main` fails the suite.
  */
class SessionFactorySpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder\b""".r

  test("src/main builds a SparkSession only in graft.Session") {
    val walk = Files.walk(Paths.get("src/main"))
    val hits: Seq[(Path, Int)] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => p -> builder.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0)
      finally walk.close()
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    assert(hits == Seq(factory -> 1),
      s"session builders outside the factory: ${hits.filterNot(_._1 == factory)}")
  }
}
