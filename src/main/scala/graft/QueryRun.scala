package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** The one way a driver main runs a registered query: build it (the
  * construction span: driver-side collects, eager localCheckpoints,
  * index ensures), write it into a sink (the execution span), then
  * release every RDD the run persisted, outside both spans. Iterative
  * operators localCheckpoint per-round frames that belong to one
  * execution, not to the session; without the release a long run
  * accumulates hundreds of cached edge-scale RDDs, and the storage
  * pressure taxed every later sort-heavy query (a11/a12 ran 7x slower).
  * Bench, Verify, Soak and tools.Probe run through here;
  * SessionFactorySpec fails on the noop sink, the release or a listener
  * anywhere else in `src/main`.
  *
  * A run reports its own cost: each span's seconds, the jobs and stages
  * each span ran, and the host's CPU accounting over the run (see
  * [[HostCpu]]), so a caller can tell a slow query from a busy machine.
  * Spark delivers listener events asynchronously, so the counts are
  * read only after the listener bus has drained; the drains fall
  * outside the timed spans.
  */
object QueryRun {
  type Query = (SparkSession, String) => DataFrame
  type Sink = DataFrame => Unit

  /** Full materialization with no output. `count()` would let Catalyst
    * prune projections and under-report the real work.
    */
  val noop: Sink = _.write.format("noop").mode("overwrite").save()

  /** The Verify layout: one parquet file per query under `path`. */
  def oneFileParquet(path: String): Sink =
    _.coalesce(1).write.mode("overwrite").parquet(path)

  /** Jobs started and stages completed within one span. */
  final case class Counts(jobs: Int, stages: Int) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages)
  }

  /** A finished run. A failed construction leaves the execution span
    * empty; `error` holds what either span threw.
    */
  final case class Result(constructS: Double, executeS: Double,
                          construct: Counts, execute: Counts,
                          cpu: HostCpu.Window, error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
    def seconds: Double = constructS + executeS
  }

  def apply(spark: SparkSession, query: Query, dir: String,
            sink: Sink = noop): Result = {
    val sc = spark.sparkContext
    val cpu0 = HostCpu.sample()
    val (built, constructS, constructN) = span(sc)(query(spark, dir))
    val (written, executeS, executeN) = built match {
      case Right(df) => span(sc)(sink(df))
      case Left(e) => (Left(e), 0.0, Counts(0, 0))
    }
    val cpu = HostCpu.between(cpu0, HostCpu.sample())
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    Result(constructS, executeS, constructN, executeN, cpu,
      written.left.toOption)
  }

  private def span[A](sc: SparkContext)(body: => A)
      : (Either[Throwable, A], Double, Counts) = {
    val c0 = counts(sc)
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    (r, dt, counts(sc) - c0)
  }

  // listener events arrive on the bus's one thread; reads follow a drain
  private final class Counter extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages += 1
  }

  // one listener per context, attached on its first run
  private val counters = new java.util.WeakHashMap[SparkContext, Counter]()

  private def counts(sc: SparkContext): Counts = {
    val c = counters.synchronized(counters.computeIfAbsent(sc, { sc =>
      val c = new Counter; sc.addSparkListener(c); c
    }))
    Bridge.drain(sc)
    Counts(c.jobs, c.stages)
  }
}

/** Host CPU accounting from `/proc`: the machine's jiffies by state
  * (`/proc/stat`'s cpu line) and this process's own user+system jiffies
  * (`/proc/self/stat`). Between two samples, the FOREIGN share is the
  * part of the machine's CPU time that went to something other than
  * this process: other processes' busy time plus steal (another tenant
  * of the host running on our CPUs), `(busy - own + steal) / total`,
  * the formula perfbench reports as `host.foreign_cpu_share`. It does
  * not see the VM's own speed drift, which shows as neither busy time
  * nor steal; that needs a timed reference such as Bench's canary.
  */
object HostCpu {

  /** One reading: the 8 jiffy counters user, nice, system, idle,
    * iowait, irq, softirq and steal, and this process's utime + stime.
    * Without `/proc` the counters are empty and every window is too.
    */
  final case class Sample(host: Seq[Long], self: Long)

  /** Foreign and total jiffies over a span. Windows sum, so a share
    * over several spans weighs each by its jiffies.
    */
  final case class Window(foreign: Long, total: Long) {
    def share: Double = if (total > 0) foreign.toDouble / total else 0.0
  }
  object Window {
    def sum(ws: Iterable[Window]): Window =
      Window(ws.map(_.foreign).sum, ws.map(_.total).sum)
  }

  def sample(): Sample =
    try Sample(parseStat(firstLine("/proc/stat")),
      parseSelfStat(firstLine("/proc/self/stat")))
    catch { case NonFatal(_) => Sample(Nil, 0L) }

  def between(a: Sample, b: Sample): Window =
    if (a.host.size < 8 || b.host.size < 8) Window(0L, 0L)
    else {
      val d = b.host.zip(a.host).map { case (x, y) => x - y }
      val busy = d(0) + d(1) + d(2) + d(5) + d(6)
      Window(math.max(0L, busy - (b.self - a.self) + d(7)), d.sum)
    }

  /** The first 8 counters of the aggregate `cpu` line. */
  private[graft] def parseStat(line: String): Seq[Long] =
    line.trim.split("\\s+").toSeq.slice(1, 9).map(_.toLong)

  /** utime + stime (fields 14 and 15). The command name, field 2, is
    * parenthesized and may itself hold spaces and ')', so fields are
    * counted from the LAST ')'.
    */
  private[graft] def parseSelfStat(line: String): Long = {
    val f = line.substring(line.lastIndexOf(')') + 2).split(" ")
    // f(0) is field 3 (state)
    f(11).toLong + f(12).toLong
  }

  private def firstLine(path: String): String =
    Files.readAllLines(Paths.get(path)).get(0)
}
