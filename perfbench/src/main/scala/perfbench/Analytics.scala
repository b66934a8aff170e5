package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registered-query workloads: `analytics` (one warm pass over the query
  * set into the noop sink) and the cold index-build pass `ingest` uses.
  * Each query is driven only through `SparkEntry.queries`: the function
  * call is the construction span, the noop-sink save the execution span.
  */
object Analytics {
  type Query = (SparkSession, String) => DataFrame

  /** Release the cached blocks a query execution leaves behind, as the
    * project's own bench does between queries. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  /** Run each query once, untimed, writing its result as one Parquet
    * directory per query for the oracle check. Returns the names that
    * failed, with their errors. */
  def materialize(spark: SparkSession, data: String, names: Seq[String],
                  out: String): Seq[(String, String)] =
    names.flatMap { name =>
      val r = try {
        graft.SparkEntry.queries(name)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$name")
        None
      } catch { case e: Throwable => Some(name -> String.valueOf(e.getMessage).take(300)) }
      release(spark)
      r
    }

  /** One timed pass in the given order. Each query is a root span with a
    * construction child and an execution child. Returns one record per
    * query; a query that throws is recorded with `ok = false`. */
  def timedPass(spark: SparkSession, trace: Trace, data: String,
                names: Seq[String], root: String): Seq[Map[String, Any]] =
    names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val rootId = trace.reserve()
      val t0 = trace.now()
      val rec = try {
        val c = trace.span(spark, rootId, "construct", "construct")(fn(spark, data))
        val e = trace.span(spark, rootId, "execute", "execute")(
          c.value.write.format("noop").mode("overwrite").save())
        Map("ok" -> true, "construct_ms" -> c.ms, "execute_ms" -> e.ms,
          "construct_span" -> c.id, "execute_span" -> e.id)
      } catch { case e: Throwable =>
        Map("ok" -> false, "error" -> String.valueOf(e.getMessage).take(300))
      }
      val t1 = trace.now()
      trace.close(rootId, 0L, name, root, t0, t1)
      release(spark)
      rec ++ Map("name" -> name, "ms" -> (t1 - t0))
    }

  /** Listener-side figures for one query record of a traced pass. */
  def layers(trace: Trace, rec: Map[String, Any]): Map[String, Any] =
    if (rec("ok") != true) Map.empty
    else Map("construct" -> trace.of(rec("construct_span").asInstanceOf[Long]),
      "execute" -> trace.of(rec("execute_span").asInstanceOf[Long]))
}
