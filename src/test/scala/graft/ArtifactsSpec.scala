package graft

import java.nio.file.{Files, Path}
import graft.sources.{Artifacts, BuildLedger}

/** The artifact store's publish protocol and its schema-cached read.
  *
  * The publish cases drive [[Artifacts.ensure]] with builds that write
  * plain files into a temp dir, so no Spark job runs; each uses an
  * artifact name of its own, because the build ledger is JVM-global and
  * keyed by that name.
  */
class ArtifactsSpec extends SparkTestBase {

  private def freshPath(kind: String): Path =
    Files.createTempDirectory("artifacts").resolve(s"${kind}_${System.nanoTime}")

  private def write(dir: String, file: String, body: String): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(dir, file), body); ()
  }

  private def names(dir: Path): Set[String] =
    Option(dir.toFile.list()).toSet.flatten

  test("a directory without the sentinel is a crashed writer's leftovers: deleted and rebuilt") {
    val path = freshPath("crashed")
    write(path.toString, "part-00000-crashed.parquet", "half a file")
    var builds = 0
    Artifacts.ensure(path) { out => builds += 1; write(out, "part-00000.parquet", "rebuilt") }
    assert(builds == 1)
    assert(names(path) == Set("part-00000.parquet", "_GRAFT_INDEX_OK"))
    assert(BuildLedger.log.contains(path.getFileName.toString),
      "the rebuild must be recorded in the ledger")
  }

  test("a directory holding only _SUCCESS is adopted: no rebuild, no ledger entry") {
    val path = freshPath("adopted")
    write(path.toString, "_SUCCESS", "")
    var builds = 0
    Artifacts.ensure(path) { out => builds += 1; write(out, "part-00000.parquet", "x") }
    assert(builds == 0)
    assert(names(path) == Set("_SUCCESS", "_GRAFT_INDEX_OK"))
    assert(!BuildLedger.log.contains(path.getFileName.toString))
  }

  test("losing the publish race keeps the winner's files and leaves no temp dir") {
    val path = freshPath("raced")
    Artifacts.ensure(path) { out =>
      write(out, "part-00000-loser.parquet", "loser")
      // another JVM publishes the same artifact before this build renames
      write(path.toString, "part-00000-winner.parquet", "winner")
      write(path.toString, "_GRAFT_INDEX_OK", "")
    }
    assert(names(path) == Set("part-00000-winner.parquet", "_GRAFT_INDEX_OK"))
    assert(names(path.getParent) == Set(path.getFileName.toString),
      s"the loser's build must be deleted, found ${names(path.getParent)}")
  }

  test("a table rewritten in place with a wider schema is read with the new column") {
    val dir = Files.createTempDirectory("widened").toString
    val path = s"$dir/t.parquet"
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(path)
    val wider = Tables.table(spark, dir, "t")
    assert(wider.columns.toSeq == Seq("k", "v", "w"))
    assert(wider.orderBy("k").select("w").as[Double].collect().toSeq == Seq(10.0, 20.0))
  }
}
