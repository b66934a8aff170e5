package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: split each named registered query's wall time into
  * CONSTRUCTION (the `fn(spark, d)` call — driver-side collects, eager
  * localCheckpoints, index ensures) and EXECUTION (the noop write of
  * the returned frame), with the jobs and stages each phase runs. Many
  * queries here are bound by fixed per-job scheduling rather than by
  * their operators; this names which phase, and how many jobs, a query
  * pays, which is the evidence a restructure cites before and after.
  * With `--plans`, each query's `.explain("formatted")` plan is written
  * to `<outDir>/<query>.txt` (taken before the warm-up runs it). Every
  * query gets one untimed warm-up, as the bench does, and every run
  * ends by unpersisting what it cached. A dev tool: neither Bench nor
  * Verify reads its output.
  *
  * Usage: Probe <sfDir> <query>[,query…] [reps=3] [--plans <outDir>]
  * Prints `[probe] <query> rep<i> construct=<s>s (jobs=…, stages=…)
  * exec=<s>s (jobs=…, stages=…)` per rep.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val flag = args.indexOf("--plans")
    val plansDir = if (flag < 0) None else Some(Paths.get(args(flag + 1)))
    val pos = if (flag < 0) args.toSeq else args.toSeq.patch(flag, Nil, 2)
    val dir = pos(0)
    val names = pos(1).split(',').toSeq
    val reps = pos.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    plansDir.foreach(Files.createDirectories(_))

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
    })
    def unpersistAll(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try {
        val df = fn(spark, dir)
        plansDir.foreach(out => Files.writeString(out.resolve(s"$name.txt"),
          df.queryExecution.explainString(FormattedMode)))
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable => System.err.println(s"[probe] $name warm-up: $e")
      } finally unpersistAll()
      (1 to reps).foreach { i =>
        val (j0, s0, t0) = (jobs.get(), stages.get(), System.nanoTime())
        val df = fn(spark, dir)
        val (j1, s1, t1) = (jobs.get(), stages.get(), System.nanoTime())
        df.write.format("noop").mode("overwrite").save()
        val (j2, s2, t2) = (jobs.get(), stages.get(), System.nanoTime())
        println(f"[probe] $name rep$i construct=${(t1 - t0) / 1e9}%.3fs " +
          f"(jobs=${j1 - j0}, stages=${s1 - s0}) " +
          f"exec=${(t2 - t1) / 1e9}%.3fs (jobs=${j2 - j1}, stages=${s2 - s1})")
        unpersistAll()
      }
    }
    spark.stop()
  }
}
