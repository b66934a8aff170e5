package graft.tools

/** Dev probe: run one registered query N times against a data dir and
  * print per-run wall times (plus the formatted plan with -x) — the
  * isolate-one-query loop used to separate a query's own plan cost
  * from suite-level effects (JIT, GC, cache pressure) when the bench
  * or soak flags something.
  *
  * Usage: QProbe <sfDir> <queryName> [runs=3] [-x]
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val runs = args.drop(2).find(!_.startsWith("-")).map(_.toInt).getOrElse(3)
    val explain = args.contains("-x")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus.toInt)
    val fn = graft.SparkEntry.queries(name)
    if (explain) fn(spark, dir).explain("formatted")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[probe] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
