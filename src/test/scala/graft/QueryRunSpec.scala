package graft

import org.apache.spark.sql.functions._

/** The runner every main uses: the two spans, their job counts read
  * after the listener bus drains, the release of what a run persisted,
  * and a failure returned rather than thrown.
  */
class QueryRunSpec extends SparkTestBase {

  // one eager checkpoint in construction, one aggregation in execution
  private val query: QueryRun.Query = (s, _) => {
    val base = s.range(0, 2000).toDF("x").localCheckpoint()
    base.groupBy((col("x") % 7).as("k")).agg(count(lit(1)).as("n"))
  }

  test("counts each span's jobs the same way on every run, then releases what it persisted") {
    val runs = (1 to 3).map(_ => QueryRun(spark, query, sf))
    runs.foreach { r =>
      assert(r.ok, r.error)
      assert(r.construct.jobs >= 1 && r.execute.jobs >= 1, r)
      assert(r.constructS > 0.0 && r.executeS > 0.0 && r.cpu.share >= 0.0)
      assert(r.seconds == r.constructS + r.executeS)
    }
    assert(runs.map(r => (r.construct, r.execute)).distinct.size == 1,
      s"counts must repeat: ${runs.map(r => (r.construct, r.execute))}")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the run's checkpoint blocks must be released")
  }

  test("a failing construction is returned with an empty execution span") {
    val boom = new IllegalStateException("boom")
    val r = QueryRun(spark, (_, _) => throw boom, sf)
    assert(!r.ok && r.error.contains(boom))
    assert(r.executeS == 0.0 && r.execute == QueryRun.Counts(0, 0))
  }

  test("the one-file parquet sink writes one data file the oracle check reads") {
    val out = java.nio.file.Files.createTempDirectory("queryrun").resolve("q")
    val r = QueryRun(spark, query, sf, QueryRun.oneFileParquet(out.toString))
    assert(r.ok, r.error)
    val parts = out.toFile.listFiles.map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length == 1, parts.toSeq)
    assert(spark.read.parquet(out.toString).count() == 7)
  }
}
