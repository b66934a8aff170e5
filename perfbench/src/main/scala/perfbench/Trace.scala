package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The value of a timed body, with its span id and (start, end). */
final case class Timed[T](value: T, id: Long, start: Double, end: Double) {
  def ms: Double = end - start
}

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * precision; `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Double, end: Double)

/** Sums of Spark task metrics for the tasks of every job a span owns. */
final class TaskSums {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L
  def toMap: Map[String, Any] = Map("tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill)
}

/** Executed-plan shape of one SQL execution. */
final case class PlanShape(exchanges: Int, reusedExchanges: Int, smj: Int,
                           bhj: Int, bnlj: Int, rddScans: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges,
    reusedExchanges + o.reusedExchanges, smj + o.smj, bhj + o.bhj,
    bnlj + o.bnlj, rddScans + o.rddScans)
  def toMap: Map[String, Any] = Map("exchanges" -> exchanges,
    "reused_exchanges" -> reusedExchanges, "smj" -> smj, "bhj" -> bhj,
    "bnlj" -> bnlj, "rdd_scans" -> rddScans)
}

object PlanShape {
  val empty: PlanShape = PlanShape(0, 0, 0, 0, 0, 0)

  /** Every physical node of an executed plan, looking through adaptive
    * wrappers, query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children.flatMap(nodes) ++
        other.subqueries.flatMap(nodes))
    }
  }

  def of(p: SparkPlan): PlanShape = {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins._
    val ns = nodes(p)
    def n(f: SparkPlan => Boolean) = ns.count(f)
    PlanShape(
      exchanges = n(_.isInstanceOf[Exchange]),
      reusedExchanges = n(_.isInstanceOf[ReusedExchangeExec]),
      smj = n(_.isInstanceOf[SortMergeJoinExec]),
      bhj = n(_.isInstanceOf[BroadcastHashJoinExec]),
      bnlj = n(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      rddScans = n(_.isInstanceOf[RDDScanExec]))
  }
}

/** Records spans for the benchmark's own calls and, when tracing, attaches
  * Spark's jobs, stages, task metrics and executed-plan shapes to them.
  *
  * Attachment works through a Spark local property: the calling thread
  * sets [[SpanProperty]] to its current span id before it calls into the
  * library, every job it triggers carries that property, and the listener
  * files the job (and the job's stages and tasks) under that span. A SQL
  * execution is matched to a span through the jobs it runs, and its
  * executed plan (read when the execution ends) adds to that span's plan
  * shape; an execution that ran no job is not counted.
  */
final class Trace(val traced: Boolean) {
  /** Spans and listener events are recorded only after [[attach]]. */
  @volatile private var active = false
  val SpanProperty = "perfbench.span"
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Run `body` as a span under `parent`, with the span id set as the
    * thread's Spark local property while it runs, so the jobs the body
    * triggers are filed under this span. */
  def span[T](spark: SparkSession, parent: Long, name: String, kind: String)
             (body: => T): Timed[T] = {
    val id = ids.incrementAndGet()
    kinds.put(id, kind)
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = now()
    try {
      val v = body
      val t1 = now()
      if (active) spans.add(Span(id, parent, name, kind, t0, t1))
      Timed(v, id, t0, t1)
    } finally sc.setLocalProperty(SpanProperty, prior)
  }

  /** A span id reserved now for a span whose times are recorded later. */
  def reserve(): Long = ids.incrementAndGet()
  def close(id: Long, parent: Long, name: String, kind: String,
            start: Double, end: Double): Unit =
    if (active) spans.add(Span(id, parent, name, kind, start, end))

  // ---- Spark-side attachment (traced runs only) ----------------------
  private val jobOwner = new ConcurrentHashMap[Int, Long]()   // job -> owning span
  private val jobSpan = new ConcurrentHashMap[Int, Long]()    // job -> its span id
  private val jobStart = new ConcurrentHashMap[Int, Double]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execOwner = new ConcurrentHashMap[Long, Long]() // sql execution -> span
  private val sums = new ConcurrentHashMap[Long, TaskSums]()
  private val jobCount = new ConcurrentHashMap[Long, AtomicLong]()
  private val stageCount = new ConcurrentHashMap[Long, AtomicLong]()
  private val shapes = new ConcurrentHashMap[Long, PlanShape]()
  private val kinds = new ConcurrentHashMap[Long, String]()    // owner span -> kind

  def taskSums(span: Long): TaskSums = sums.getOrDefault(span, new TaskSums)
  def jobs(span: Long): Long = Option(jobCount.get(span)).fold(0L)(_.get)
  def stages(span: Long): Long = Option(stageCount.get(span)).fold(0L)(_.get)
  def shape(span: Long): PlanShape = shapes.getOrDefault(span, PlanShape.empty)

  /** Jobs, stages, task sums and plan shapes of every owner span of one
    * kind, summed. Owners whose jobs carried no span are kind "none". */
  def byKind(kind: String): Map[String, Any] = {
    val owners = (jobCount.keySet.asScala ++ sums.keySet.asScala).toSeq
      .map(_.longValue).distinct
      .filter(o => kinds.getOrDefault(o, "none") == kind)
    val t = new TaskSums
    owners.map(taskSums).foreach { x =>
      t.tasks += x.tasks; t.runMs += x.runMs; t.cpuNs += x.cpuNs; t.gcMs += x.gcMs
      t.inputBytes += x.inputBytes; t.shuffleRead += x.shuffleRead
      t.shuffleWrite += x.shuffleWrite; t.spill += x.spill
    }
    Map("jobs" -> owners.map(jobs).sum, "stages" -> owners.map(stages).sum,
      "tasks" -> t.toMap, "plan" -> owners.map(shape).foldLeft(PlanShape.empty)(_ + _).toMap)
  }

  /** The same sums for one owner span. */
  def of(owner: Long): Map[String, Any] = Map("jobs" -> jobs(owner),
    "stages" -> stages(owner), "tasks" -> taskSums(owner).toMap,
    "plan" -> shape(owner).toMap)

  private def count(m: ConcurrentHashMap[Long, AtomicLong], k: Long): Unit = {
    m.computeIfAbsent(k, _ => new AtomicLong(0)).incrementAndGet(); ()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty))).fold(0L)(_.toLong)
      jobOwner.put(e.jobId, owner)
      jobSpan.put(e.jobId, ids.incrementAndGet())
      jobStart.put(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execOwner.putIfAbsent(x.toLong, owner))
      count(jobCount, owner)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val owner = jobOwner.getOrDefault(e.jobId, 0L)
      spans.add(Span(jobSpan.get(e.jobId), owner, s"job ${e.jobId}", "job",
        jobStart.getOrDefault(e.jobId, e.time.toDouble), e.time.toDouble))
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = stageJob.getOrDefault(info.stageId, -1)
      val owner = jobOwner.getOrDefault(job, 0L)
      count(stageCount, owner)
      for (s <- info.submissionTime; c <- info.completionTime)
        spans.add(Span(ids.incrementAndGet(), jobSpan.getOrDefault(job, owner),
          s"stage ${info.stageId}", "stage", s.toDouble, c.toDouble))
      ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val owner = execOwner.getOrDefault(end.executionId, 0L)
        if (owner != 0L) org.apache.spark.sql.perfbench.Internals.executedPlan(end)
          .foreach(p => shapes.merge(owner, PlanShape.of(p), (a: PlanShape, b: PlanShape) => a + b))
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val owner = jobOwner.getOrDefault(stageJob.getOrDefault(e.stageId, -1), 0L)
        val t = sums.computeIfAbsent(owner, _ => new TaskSums)
        t.synchronized {
          t.tasks += 1; t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime; t.inputBytes += m.inputMetrics.bytesRead
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def attach(spark: SparkSession): Unit = if (traced && !active) {
    active = true
    spark.sparkContext.addSparkListener(listener)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(spark: SparkSession): Unit =
    if (active) org.apache.spark.sql.perfbench.Internals.drain(spark.sparkContext)
}

/** Host CPU accounting from `/proc`: the machine's jiffies by state and
  * this process's own user+system jiffies, sampled at the start and end
  * of every timed phase. */
object ProcSample {
  def sample(): Map[String, Any] = {
    val cpu = readLine("/proc/stat").split("\\s+").drop(1).take(8).map(_.toLong)
    val self = readLine("/proc/self/stat")
    val fields = self.substring(self.lastIndexOf(')') + 2).split(" ")
    // fields(0) is field 3 (state); utime and stime are fields 14 and 15
    Map("host" -> cpu.toSeq, "self" -> (fields(11).toLong + fields(12).toLong))
  }
  private def readLine(p: String): String = {
    val src = scala.io.Source.fromFile(p)
    try src.getLines().next() finally src.close()
  }

  /** Peak resident set of this JVM in kB (`VmHWM`). */
  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}

/** Spark's own code-generation counters (`CodegenMetrics`): how many
  * classes were compiled and their compile milliseconds. The histogram
  * keeps up to 1028 samples, so the sum is exact below that count and a
  * mean-scaled estimate above it. */
object Codegen {
  def read(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n
    (n, sum)
  }
}

/** Minimal JSON writer for the benchmark's raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Ordered accumulation of named result sections. */
final class Out {
  private val m = mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = m.synchronized { m(k) = v }
  def get(k: String): Option[Any] = m.synchronized(m.get(k))
  def json: String = m.synchronized(Json(m))
}
