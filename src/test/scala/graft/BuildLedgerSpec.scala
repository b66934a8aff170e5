package graft

import java.nio.file.{Files, Paths}

import graft.sources.{Artifacts, BuildLedger, TextIndex}

/** The build-cost ledger's end-to-end contract (r8 ask #3): a COLD
  * index build must be recorded (kind → wall seconds), and a WARM
  * probe of the same artifact must record nothing — that separation
  * is what lets the bench report one-time build cost apart from
  * steady-state probe timings, and what makes a cold-cache artifact
  * (`BENCH_COLD.json`) auditable.
  *
  * The test corpus is a COPY of the documents table in a temp dir:
  * the index path is keyed by (dataset dir, source fingerprint), so
  * the copy gets its own index directory and the cold build is forced
  * without touching the warm cache other suites share. The ledger is
  * JVM-global and keyed by artifact kind, so the probe uses an n-gram
  * width no other suite builds. Each copy and its index root are
  * deleted when the test ends.
  */
class BuildLedgerSpec extends SparkTestBase {

  /** Runs `body` on a fresh copy of the documents table, then deletes
    * the copy and every index root built over it
    * (`target/graft-index/<copy dir name>-<fingerprint>`). */
  private def withCorpus[T](body: String => T): T = {
    val dir = Files.createTempDirectory("ledgercorpus")
    Files.copy(Paths.get(sf, "documents.parquet"), dir.resolve("documents.parquet"))
    try body(dir.toString)
    finally {
      Artifacts.deleteTree(dir)
      Option(Paths.get("target", "graft-index").toFile.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"${dir.getFileName}-"))
        .foreach(root => Artifacts.deleteTree(root.toPath))
    }
  }

  test("cold build records into the ledger; a warm probe records nothing") {
    withCorpus { d =>
      val kind = "grams_11_xx64" // n=11: built by no other suite
      assert(!BuildLedger.log.contains(kind),
        "precondition: this artifact kind must be unique to this spec")
      // cold: the artifact does not exist for this (dir, fingerprint)
      val cold = TextIndex.gramIndex(spark, d, 11)
      assert(cold.count() > 0)
      val recorded = BuildLedger.log.get(kind)
      assert(recorded.exists(_ > 0.0),
        s"a forced cold build must record its wall seconds, got $recorded")
      // warm: same artifact, second read — served from the published
      // index, so the ledger entry must be EXACTLY the one from the
      // cold build (a re-record would mean a silent rebuild)
      val warm = TextIndex.gramIndex(spark, d, 11)
      assert(warm.count() == cold.count())
      assert(BuildLedger.log.get(kind) == recorded,
        "a warm probe must not touch the ledger")
    }
  }

  test("a second corpus fingerprint rebuilds; the same fingerprint never does") {
    val kind = "grams_13_xx64"
    withCorpus { d1 =>
      TextIndex.gramIndex(spark, d1, 13).count()
      val first = BuildLedger.log.get(kind)
      assert(first.isDefined)
      // a DIFFERENT corpus copy (new dir → new fingerprint → new index
      // path): the build must run again and re-record
      withCorpus { d2 =>
        TextIndex.gramIndex(spark, d2, 13).count()
        val second = BuildLedger.log.get(kind)
        assert(second.isDefined && second != first,
          "a distinct corpus fingerprint is a distinct artifact — it builds")
      }
    }
  }
}
