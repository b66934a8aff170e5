package graft

import org.apache.spark.sql.DataFrame

/** Dev-only profiling harness: times named query variants at an SF dir
  * the same way Bench does (noop sink, best-of-N) so hot spots can be
  * attributed before rewriting. Not part of the driver contract.
  *
  * Usage: sbt "runMain graft.Profile [sfDir] [nameSubstring]"
  */
object Profile {
  def time(name: String, reps: Int = 3)(mk: => DataFrame): Unit = {
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[profile] $name%-40s best=${times.min}%.3f all=${times.map(t => f"$t%.2f").mkString(",")}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val filt = args.lift(1).getOrElse("")
    val spark = Session.local(32)

    // warmup
    SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.contains(filt))
      .foreach { case (name, fn) => time(name)(fn(spark, sfDir)) }
    // off-contract variants under evaluation
    if ("a11_percentiles_range".contains(filt))
      time("a11_percentiles_range")(
        graft.operators.Analytics.percentilesRange(spark, sfDir))
    spark.stop()
  }
}
