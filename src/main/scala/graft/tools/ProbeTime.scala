package graft.tools

/** Dev tool: split a registered query's wall time into CONSTRUCTION
  * (the `fn(spark, d)` call — driver-side collects, eager
  * localCheckpoints, index ensures) and EXECUTION (the noop write of
  * the returned frame), and report the executed job/stage counts per
  * phase. The bench's per-query seconds at sf0.1 are dominated by
  * fixed per-job scheduling at local[32]; this names which phase —
  * and how many jobs — each query actually pays, which is the
  * evidence the optimization notes cite before/after a restructure.
  * Not part of the driver contract.
  *
  * Usage: ProbeTime <sfDir> <query>[,query…] [reps]
  */
object ProbeTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',').toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus.toInt)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
        override def onStageCompleted(
            st: org.apache.spark.scheduler
              .SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          if (sys.env.contains("PROBE_CALLSITES"))
            println(s"[probe-stage] ${st.stageInfo.name.take(120)}")
          ()
        }
      })

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // untimed warm-up, as the bench does
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"warmup: $e") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      (1 to reps).foreach { i =>
        val j0 = jobs.get(); val s0 = stages.get()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val j1 = jobs.get(); val s1 = stages.get()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val j2 = jobs.get(); val s2 = stages.get()
        println(f"[probe] $name rep$i construct=${(t1 - t0) / 1e9}%.3fs " +
          f"(jobs=${j1 - j0}, stages=${s1 - s0}) " +
          f"exec=${(t2 - t1) / 1e9}%.3fs (jobs=${j2 - j1}, stages=${s2 - s1})")
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
