package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.movieshop.MovieShop
import org.apache.spark.sql.{Row, SparkSession}

/** One request of the replayed serving path: its due time (ms from the
  * replay start), endpoint and parameters, as `run.py` generated them. */
final case class Request(index: Int, dueMs: Double, endpoint: String,
                         params: Seq[String])

/** The `shop` workload: an open-loop replay of MovieShop's endpoints.
  *
  * A generator thread releases each request at its due time into a queue
  * that at most `cores` worker threads drain. Each request is a root span
  * with a construction child (the `MovieShop` call) and an execution child
  * (`collect()`, the rows the endpoint returns). `insertOrder` runs under
  * one lock, as the reference's mutex does, and appends its returned row
  * to the order table, so later reads see it.
  */
final class Shop(spark: SparkSession, trace: Trace, dir: String, cores: Int,
                 sampleEvery: Int) {
  private val insertLock = new Object
  private val inserted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val insertCount = new AtomicInteger(0)
  private val orderFile = Paths.get(dir, "order.csv")

  def insertsSoFar: Seq[String] = inserted.asScala.toSeq

  /** Construct, then execute, one request; returns the rows, the
    * construction milliseconds and the two child span ids. */
  private def call(r: Request, rootId: Long): (Array[Row], Double, Seq[Long]) = {
    val p = r.params
    def construct() = r.endpoint match {
      case "query_movie_list" =>
        MovieShop.queryMovieList(spark, dir, p(0).toInt, p(1).toInt, p.lift(2).getOrElse(""))
      case "query_movie" => MovieShop.queryMovie(spark, dir, p(0).toInt)
      case "query_recommend_movie_list" =>
        MovieShop.queryRecommendMovieList(spark, dir, p(0).toInt)
      case "query_order_list" =>
        MovieShop.queryOrderList(spark, dir, p(0).toInt, p(1).toInt, p(2))
      case "sales_rollup" => MovieShop.salesRollup(spark, dir)
      case "insert_order" =>
        MovieShop.insertOrder(spark, dir, p(0).toInt, p(1), p(2).toInt, p(3).toDouble)
    }
    val c = trace.span(spark, rootId, "construct", "construct")(construct())
    val e = trace.span(spark, rootId, "execute", "execute")(c.value.collect())
    (e.value, c.ms, Seq(c.id, e.id))
  }

  /** Serve one request. An insert also returns how many inserts came
    * before it, read under the lock. */
  private def serve(r: Request, rootId: Long): (Array[Row], Double, Seq[Long], Int) =
    if (r.endpoint != "insert_order") { val (rows, c, ids) = call(r, rootId); (rows, c, ids, -1) }
    else insertLock.synchronized {
      val position = insertCount.get
      val (rows, c, ids) = call(r, rootId)
      val x = rows(0)
      val line = Seq(x.getInt(0), x.getInt(1), x.getString(2), x.getInt(3),
        x.getDouble(4), x.getString(5)).mkString("\t")
      Files.write(orderFile, (line + "\n").getBytes(UTF_8), StandardOpenOption.APPEND)
      inserted.add(line); insertCount.incrementAndGet()
      (rows, c, ids, position)
    }

  /** Untimed warm-up on all worker threads at once: `rounds` requests per
    * endpoint, and the insert's read side (its row is not appended). */
  def warm(reqs: Seq[Request], rounds: Int): Unit = {
    val pool = Executors.newFixedThreadPool(cores)
    val warmups = reqs.groupBy(_.endpoint).values.toSeq
      .flatMap(rs => Iterator.continually(rs).flatten.take(rounds))
    warmups.map(r => pool.submit(new Runnable {
      def run(): Unit = call(r, trace.reserve())
    })).foreach(_.get())
    pool.shutdown()
  }

  /** Replay `reqs` open loop; returns one record per request and the
    * sampled responses. */
  def replay(reqs: Seq[Request]): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val queue = new LinkedBlockingQueue[(Request, Double)]()
    val records = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val pool = Executors.newFixedThreadPool(cores)
    val t0 = trace.now() + 50.0
    val done = new java.util.concurrent.CountDownLatch(reqs.size)
    (1 to cores).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = while (done.getCount > 0) {
          val item = queue.poll(100, TimeUnit.MILLISECONDS)
          if (item != null) {
            val (r, enq) = item
            val due = t0 + r.dueMs
            val rootId = trace.reserve()
            val before = insertCount.get
            val start = trace.now()
            val (rows, constructMs, children, position, ok, err) =
              try { val (rs, c, ids, k) = serve(r, rootId); (rs, c, ids, k, true, "") }
              catch { case e: Throwable =>
                (Array.empty[Row], 0.0, Nil, -1, false, String.valueOf(e.getMessage).take(300)) }
            val end = trace.now()
            val after = insertCount.get
            trace.close(rootId, 0L, r.endpoint, "request", start, end)
            records.add(Map("index" -> r.index, "endpoint" -> r.endpoint, "due" -> due,
              "enqueued" -> enq, "start" -> start, "end" -> end,
              "construct_ms" -> constructMs, "ok" -> ok, "error" -> err,
              "children" -> children))
            if (ok && (r.index % sampleEvery == 0 || r.endpoint == "insert_order"))
              samples.add(Map("index" -> r.index, "endpoint" -> r.endpoint,
                "params" -> r.params,
                "inserts_before" -> (if (position >= 0) position else before),
                "inserts_after" -> after, "rows" -> rows.map(_.json).toSeq))
            done.countDown()
          }
        }
      })
    }
    reqs.sortBy(_.dueMs).foreach { r =>
      val wait = t0 + r.dueMs - trace.now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      queue.put((r, trace.now()))
    }
    done.await()
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    (records.asScala.toSeq.sortBy(_("index").asInstanceOf[Int]), samples.asScala.toSeq)
  }
}

object Shop {
  def readRequests(path: String): Seq[Request] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.zipWithIndex.map {
      case (line, i) =>
        val f = line.split("\t", -1)
        Request(i, f(0).toDouble, f(1), f.drop(2).toSeq)
    }
}
