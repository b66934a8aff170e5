package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Streams
import graft.operators.{Analytics => Ops, TextAnalysis}

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)
final case class Doc(doc_id: Long, text: String, source: String)

/** The maintained stream twins the `ingest` workload drives, each with the
  * read sides that must equal its batch twin. */
final case class Twin(name: String, input: String,
                      start: (DataFrame, String, String) => StreamingQuery,
                      checks: Seq[(String, (SparkSession, String) => DataFrame,
                        (SparkSession, String) => DataFrame)])

object Ingest {
  /** One twin per input: events (the day/user activity index behind st5
    * and st6) and documents (the posting lists behind tx19). */
  val twins: Seq[Twin] = Seq(
    Twin("activity", "events", Streams.activityIndexMaintainStream,
      Seq(("st5", Streams.readRetention(_, _), Ops.dayRetention(_, _)),
        ("st6", Streams.readRollingWau(_, _), Ops.rollingWau(_, _)))),
    Twin("postings", "documents", Streams.postingsIndexMaintainStream,
      Seq(("tx19", Streams.readBm25(_, _), TextAnalysis.bm25TopDocs(_, _)))))

  /** The seeded micro-batches of one input: its rows in a seeded order,
    * cut into batches of `size` rows. */
  def batches(spark: SparkSession, data: String, input: String, seed: Long,
              size: Int): Seq[Seq[Product]] = {
    import spark.implicits._
    val rows: Seq[Product] = input match {
      case "events" => graft.Tables.events(spark, data).as[Ev].collect().toSeq
      case "documents" => graft.Tables.documents(spark, data)
        .select("doc_id", "text", "source").as[Doc].collect().toSeq
    }
    new scala.util.Random(seed).shuffle(rows).grouped(size).toSeq
  }

  /** Feed every batch to a fresh instance of the twin, one `addData` then
    * `processAllAvailable` each; returns the per-batch wall milliseconds
    * and row counts. */
  def feed(spark: SparkSession, trace: Trace, twin: Twin, work: String,
           bs: Seq[Seq[Product]]): Seq[Map[String, Any]] = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rootId = trace.reserve()
    val t0 = trace.now()
    val out = twin.input match {
      case "events" =>
        val mem = MemoryStream[Ev]
        run(spark, trace, twin, work, mem.toDF(), rootId,
          bs.map(b => () => { mem.addData(b.asInstanceOf[Seq[Ev]]); b.size }))
      case "documents" =>
        val mem = MemoryStream[Doc]
        run(spark, trace, twin, work, mem.toDF(), rootId,
          bs.map(b => () => { mem.addData(b.asInstanceOf[Seq[Doc]]); b.size }))
    }
    trace.close(rootId, 0L, twin.name, "stream", t0, trace.now())
    out
  }

  private def run(spark: SparkSession, trace: Trace, twin: Twin, work: String,
                  df: DataFrame, rootId: Long,
                  adds: Seq[() => Int]): Seq[Map[String, Any]] = {
    // the stream thread inherits the span property set while it starts
    val q = trace.span(spark, rootId, "start", "start")(
      twin.start(df, work, s"$work/ck")).value
    try adds.zipWithIndex.map { case (add, i) =>
      val id = trace.reserve()
      val t0 = trace.now()
      val n = add()
      q.processAllAvailable()
      val t1 = trace.now()
      trace.close(id, rootId, s"batch $i", "batch", t0, t1)
      Map("twin" -> twin.name, "batch" -> i, "rows" -> n, "ms" -> (t1 - t0))
    } finally q.stop()
  }

  /** Compare each read side with its batch twin over the full input. */
  def check(spark: SparkSession, twin: Twin, work: String,
            data: String): Seq[Map[String, Any]] =
    twin.checks.map { case (name, read, batch) =>
      val (ok, detail) =
        try {
          val a = rowSet(read(spark, work)); val b = rowSet(batch(spark, data))
          (a == b, s"stream=${a.size} batch=${b.size} rows")
        } catch { case e: Throwable => (false, String.valueOf(e.getMessage).take(300)) }
      Map("twin" -> twin.name, "check" -> name, "ok" -> ok, "detail" -> detail)
    }

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  /** Delta directories (`b<batch>`) the twin published, and its on-disk
    * state in bytes, checkpoint included. */
  def state(work: String): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val all = walk(new File(work))
    (all.count(f => f.isDirectory && f.getName.matches("b\\d+") &&
        !f.getPath.contains(s"${File.separator}ck${File.separator}")),
      all.filter(_.isFile).map(_.length).sum)
  }

  def du(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum else f.length
    walk(new File(path))
  }
}
