package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.QueryRun

/** Dev tool: split each named registered query's wall time into
  * CONSTRUCTION (the `fn(spark, d)` call — driver-side collects, eager
  * localCheckpoints, index ensures) and EXECUTION (the noop write of
  * the returned frame), with the jobs and stages each phase runs, as
  * [[graft.QueryRun]] measures them. Many queries here are bound by
  * fixed per-job scheduling rather than by their operators; this names
  * which phase, and how many jobs, a query pays, which is the evidence
  * a restructure cites before and after. With `--plans`, each query's
  * `.explain("formatted")` plan is written to `<outDir>/<query>.txt`
  * (taken before the warm-up runs it). Every query gets one untimed
  * warm-up, as the bench does. A dev tool: neither Bench nor Verify
  * reads its output.
  *
  * Usage: Probe <sfDir> <query>[,query…] [reps=3] [--plans <outDir>]
  * Prints `[probe] <query> rep<i> construct=<s>s (jobs=…, stages=…)
  * exec=<s>s (jobs=…, stages=…) foreign=<share>` per rep.
  */
object Probe {
  private val Usage =
    "usage: Probe <sfDir> <query>[,query…] [reps=3] [--plans <outDir>]"

  def main(args: Array[String]): Unit = {
    val flag = args.indexOf("--plans")
    val plansDir = if (flag < 0) None else args.lift(flag + 1).map(Paths.get(_))
    val pos = if (flag < 0) args.toSeq else args.toSeq.patch(flag, Nil, 2)
    val reps = pos.lift(2).fold(Option(3))(_.toIntOption.filter(_ > 0))
    if ((flag >= 0 && plansDir.isEmpty) || pos.size < 2 || pos.size > 3 ||
        reps.isEmpty)
      throw new IllegalArgumentException(Usage)
    val (dir, names) = (pos(0), pos(1).split(',').toSeq)
    val spark = graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    plansDir.foreach(Files.createDirectories(_))

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val warm = QueryRun(spark, fn, dir, df => {
        plansDir.foreach(out => Files.writeString(out.resolve(s"$name.txt"),
          df.queryExecution.explainString(FormattedMode)))
        QueryRun.noop(df)
      })
      warm.error.foreach(e => System.err.println(s"[probe] $name warm-up: $e"))
      (1 to reps.get).foreach { i =>
        val r = QueryRun(spark, fn, dir)
        r.error.foreach(e => System.err.println(s"[probe] $name rep$i: $e"))
        println(f"[probe] $name rep$i construct=${r.constructS}%.3fs " +
          f"(jobs=${r.construct.jobs}, stages=${r.construct.stages}) " +
          f"exec=${r.executeS}%.3fs (jobs=${r.execute.jobs}, " +
          f"stages=${r.execute.stages}) foreign=${r.cpu.share}%.3f")
      }
    }
    spark.stop()
  }
}
