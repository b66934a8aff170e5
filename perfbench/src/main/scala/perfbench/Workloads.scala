package perfbench

import org.apache.spark.sql.SparkSession

object Workloads {
  private val t0 = System.nanoTime()
  /** Progress line on stderr (the run's log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  /** Time a phase and keep the `/proc` and codegen counters at its ends. */
  def phase[T](raw: Out, name: String)(body: => T): T = {
    log(s"phase $name")
    val p0 = ProcSample.sample(); val (n0, ms0) = Codegen.read()
    val v = body
    val p1 = ProcSample.sample(); val (n1, ms1) = Codegen.read()
    raw(s"phase.$name") = Map("proc0" -> p0, "proc1" -> p1,
      "codegen_compiles" -> (n1 - n0), "codegen_ms" -> (ms1 - ms0))
    v
  }

  /** The analytics query set, fixed here rather than drawn from the
    * registry so that adding or renaming a registered query does not
    * change what is timed. One query per family (the name's leading
    * letters; 29 families): the one with the cheapest first execution at
    * sf0.01, except `dq6_referential` and `gr16_double_sweep`, whose plan
    * shapes and job counts the optimisation notes recorded by hand. */
  val analyticsQueries: Seq[String] = Seq("a4_count", "bf1_bloom_semi",
    "bk2_bucketed_agg", "cms1_heavy_hitters", "d1_distinct", "dd8_components",
    "dp7_chunk", "dq6_referential", "f_null_handling", "gr16_double_sweep",
    "j3_anti_join", "km2_centroid_update", "mg1_frequent_tokens", "mm3_frame_sample",
    "o1_paginate_asc", "p1_point_filter", "pp2_dynamic_pruning", "pv1_k_anonymity",
    "q6_forecast_rev", "s3_except", "sim1_cosine_topk", "sk1_skew_attribution",
    "sp3_stratified", "sq1_event_seq", "sr2_query_likelihood",
    "st10_attribution_outer", "tx3_fingerprints", "w4_lag_lead", "zo1_zorder_keys")

  /** Every `CheckEvery`-th query run, rotated by the seed, is
    * oracle-checked in a run; ten seeds cover them all twice. */
  val CheckEvery = 5

  /** Micro-batches per stream twin. */
  val StreamBatches = 5

  /** The cold index builds: every query of [[analyticsQueries]] that
    * publishes a persisted index (dd8: text components, gr16: trade
    * edges, pp2: events by day, zo1: z-ordered events), plus bk1
    * (bucketed lineitem and orders, which bk2 reads) and dd15 (Lloyd and
    * IVF centroids). Together they build every index family (text,
    * vector, graph, marts), and the analytics pass runs over warm
    * indexes only. */
  val ingestBuilds: Seq[String] = Seq("bk1_bucketed_join", "dd8_components",
    "dd15_semantic_dedup", "gr16_double_sweep", "pp2_dynamic_pruning", "zo1_zorder_keys")

  /** The `engine` workload, three timed phases in a fixed order:
    *  1. builds: cold index builds from an empty index directory, by the
    *     first execution of [[ingestBuilds]];
    *  2. pass: one execution of every query of [[analyticsQueries]] over
    *     the now warm indexes, into the noop sink (the first, except for
    *     the queries that also run in builds);
    *  3. streams: every stream twin over the data's seeded micro-batches,
    *     one twin at a time.
    */
  def engine(spark: SparkSession, trace: Trace, args: Map[String, String],
             raw: Out): Unit = {
    val (data, out) = (args("data"), args("out"))
    val seed = args("seed").toLong
    val (names, builds) = (analyticsQueries, ingestBuilds)
    raw("input_bytes") = Ingest.du(data)
    val inputs = Ingest.twins.map(_.input).distinct.map { in =>
      val n = graft.Tables.table(spark, data, in).count().toInt
      in -> Ingest.batches(spark, data, in, seed, (n + StreamBatches - 1) / StreamBatches)
    }.toMap
    trace.attach(spark)
    raw("first_timed_ms") = trace.now()
    raw("builds_pass") = phase(raw, "builds")(
      Analytics.timedPass(spark, trace, data, builds, "build"))
    raw("builds") = graft.sources.BuildLedger.log
    raw("pass") = phase(raw, "pass")(Analytics.timedPass(spark, trace, data, names, "query"))
    raw("batches") = phase(raw, "streams")(Ingest.twins.flatMap(t =>
      Ingest.feed(spark, trace, t, s"$out/streams/${t.name}", inputs(t.input))))
    if (trace.traced) {
      trace.drain(spark)
      raw("kinds") = Seq("construct", "execute", "start", "none")
        .map(k => k -> trace.byKind(k)).toMap
      for (k <- Seq("builds_pass", "pass")) raw(k) = raw.get(k).toSeq
        .flatMap(_.asInstanceOf[Seq[Map[String, Any]]]).map(r => r ++ Analytics.layers(trace, r))
    }
    raw("state") = Ingest.twins.map { t =>
      val (deltas, bytes) = Ingest.state(s"$out/streams/${t.name}")
      Map("twin" -> t.name, "delta_dirs" -> deltas, "bytes" -> bytes)
    }
    raw("index_bytes") = Ingest.du("target/graft-index") // the library's cwd-relative index root
    log("checks")
    // correctness, untimed: a seed-rotated fifth of the queries against
    // the oracle, and a seed-rotated twin's read sides against their
    // batch twins
    val checked = (builds ++ names).distinct.zipWithIndex.collect {
      case (n, i) if i % CheckEvery == (seed % CheckEvery).toInt => n }
    raw("checked") = checked
    raw("oracle") = oracleSql(checked)
    raw("check_errors") = Analytics.materialize(spark, data, checked, s"$out/results").toMap
    val twin = Ingest.twins((seed % Ingest.twins.size).toInt)
    raw("stream_checks") = Ingest.check(spark, twin, s"$out/streams/${twin.name}", data)
  }

  def oracleSql(names: Seq[String]): Map[String, String] =
    names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap

  def shop(spark: SparkSession, trace: Trace, args: Map[String, String],
           raw: Out): Unit = {
    val reqs = Shop.readRequests(args("requests"))
    val shop = new Shop(spark, trace, args("shop"), args("cores").toInt, sampleEvery = 5)
    log("warm-up")
    shop.warm(reqs, rounds = 2)
    trace.attach(spark)
    raw("first_timed_ms") = trace.now()
    val (recs, samples) = phase(raw, "replay")(shop.replay(reqs))
    if (trace.traced) {
      trace.drain(spark)
      raw("kinds") = Seq("construct", "execute", "none").map(k => k -> trace.byKind(k)).toMap
    }
    raw("requests") = recs
    raw("samples") = samples
    raw("inserted") = shop.insertsSoFar
  }
}
