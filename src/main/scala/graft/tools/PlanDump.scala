package graft.tools

/** Dev tool: dump `.explain("formatted")` for named registered queries
  * to files (one per query) — the optimization-round evidence trail
  * (`plans/r<N>/<query>_{before,after}.txt`). Not part of the driver
  * contract.
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> [query,query,…]
  * Writes `<outDir>/<query>_<suffix>.txt` for each selected query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val only: Option[Set[String]] = args.lift(3).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus.toInt)
    java.nio.file.Files.createDirectories(outDir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            outDir.resolve(s"${name}_$suffix.txt"), plan)
          println(s"[plandump] wrote $name")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        } finally {
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        }
      }
    spark.stop()
  }
}
