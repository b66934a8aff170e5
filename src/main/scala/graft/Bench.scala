package graft

import org.apache.spark.sql.SparkSession

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
      // The NEAREST ≤ i (not just the window-opening multiple): the
      // per-query suspicion trigger inserts extra mid-window samples,
      // and a loaded one must mark the queries it actually bounds.
      val open = positions.filter(_ <= i).maxOption
        .getOrElse((i / canaryEvery) * canaryEvery)
      val close = positions.filter(_ > i).minOption.getOrElse(nQueries)
      loadedAt.contains(open) || loadedAt.contains(close)
    }
    (ref, (0 until nQueries).filter(windowLoaded).toSet)
  }

  /** The per-query phantom trigger — round 9's blind spot: a ~60 s
    * load window BETWEEN two canary samples inflated all three km1
    * attempts 13.7× while both bounding samples read quiet, so the
    * window rule shipped 4.45 s for a 0.33 s query and cost a judge
    * adjudication. Three CONSISTENTLY inflated attempts against the
    * previous full artifact are themselves evidence: genuine plan
    * regressions come from code changes (visible in the diff), so a
    * >3× jump on unchanged code warrants an immediate canary
    * re-sample and, if that reads quiet, a re-time — a sub-window
    * spike can then never ship as a regression.
    */
  private[graft] val SuspectFactor = 3.0
  private[graft] def phantomSuspect(attempts: Seq[Double],
                                    prior: Option[Double]): Boolean =
    prior.exists(p => p > 0.0 && attempts.nonEmpty &&
      attempts.forall(_ > SuspectFactor * p))

  /** The round-11 incident: the committed `BENCH_FULL.json` was an
    * sf0.001 dev run, so at the sf0.1 driver run the cross-SF guard
    * below (correctly) returned no priors and the phantom trigger was
    * structurally disarmed at exactly the run that needed it (pv4: all
    * three attempts 5.5x the real value, zero flags). Fix: priors are
    * PER-SF artifacts — each full run also writes
    * `BENCH_FULL.<sfTag>.json`, and the reader consults the matching
    * per-SF file FIRST, so a dev run at another tier can never
    * displace this tier's reference. `BENCH_FULL.json` (the judge's
    * contract file) stays last-run-wins as before.
    */
  private[graft] def sfTag(sfDir: String): String =
    new java.io.File(sfDir).getName
  private[graft] def priorArtifactNames(sfDir: String): Seq[String] =
    Seq(s"BENCH_FULL.${sfTag(sfDir)}.json", "BENCH_FULL.json")
  private[graft] def resolvePriors(sfDir: String,
                                   read: String => Option[String])
      : Map[String, Double] =
    priorArtifactNames(sfDir).iterator
      .flatMap(name => read(name).map(parsePriorTimes(_, sfDir)))
      .find(_.nonEmpty).getOrElse(Map.empty)

  /** Sustained-load annotation — the other r11 lesson: the canary ran
    * elevated for the WHOLE sweep (peak 2.0x base at exactly the
    * contaminated query block) without tripping the window flag,
    * because the window rule judges samples against the run's own
    * median and uniform elevation lifts the median with them. This
    * rule compares the run median against the PRE-SWEEP base instead.
    * Calibration caveat, recorded from the artifacts: the base is a
    * biased minimum (5 samples right after warm-up — the fastest the
    * JVM ever runs), so even quiet runs read 1.25-1.5x (r10 driver
    * run: 1.50 quiet; r11 contaminated: 1.25) — the regimes do NOT
    * separate cleanly on this signal, which is why it only ANNOTATES
    * (`sustained_load` in the JSON + stderr) and never edits data;
    * the hard defense against r11-shaped contamination is the per-SF
    * per-query prior above.
    */
  private[graft] val SustainedFactor = 1.5
  private[graft] def sustainedLoad(base: Double, ref: Double): Boolean =
    base > 0.0 && ref > SustainedFactor * base

  /** Prior per-query times from the previous run's full artifact —
    * the reference the phantom trigger compares against. Tolerant
    * parse of the one JSON shape Bench itself writes; absent or
    * malformed input yields an empty reference (trigger disarmed).
    */
  private[graft] def parsePriorTimes(json: String,
                                     sfDir: String): Map[String, Double] = {
    // an artifact from a DIFFERENT scale factor is not a reference —
    // sf0.1 times are ~10x sf0.01 times, so a cross-SF compare would
    // fire the trigger on every query and re-time the whole sweep
    val sfOk = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(json)
      .exists(_.group(1) == sfDir)
    val key = "\"queries\":{"
    val start = json.indexOf(key)
    val end = if (start < 0) -1 else json.indexOf('}', start)
    if (!sfOk || start < 0 || end < 0) Map.empty
    else "\"([^\"]+)\":(-?[0-9][0-9.]*)".r
      .findAllMatchIn(json.substring(start + key.length, end))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional arg: comma-separated query-name filter (dev loop — time
    // a few queries without the full sweep; the driver passes no args)
    val only: Option[Set[String]] = args.headOption.map(_.split(',').toSet)
    def selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val spark = Session.local(cpus.toInt)

    // Full untimed warm-up pass: one execution of EVERY query before
    // any timing. Best-of-2 alone doesn't absorb cold-JVM effects — the
    // first queries alphabetically otherwise pay JIT compilation of
    // shared Spark internals for the whole suite (observed 4-8x
    // inflation on the first few queries in round-1 driver runs).
    // Iterative operators localCheckpoint per-round frames; those
    // cached blocks belong to ONE query execution, not the session.
    // Without this release, a 200+-query bench accumulates hundreds of
    // edge-scale cached RDDs, and the resulting storage-memory
    // pressure taxed every sort-heavy query (observed: a11/a12 7x).
    def release(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    selected.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // failures surface in the timed pass
      release()
    }
    // The warm-up also force-builds every persisted index artifact, so
    // the timed passes below are probe-only by construction. Surface
    // that one-time cost explicitly (sources.BuildLedger records every
    // build in this JVM, across all index families) so a first-touch
    // amortization can never be mistaken for a query regression.
    val builds = graft.sources.BuildLedger.log
    def bmap: String = builds.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val buildTotal = builds.values.sum

    // ---- noise evidence: the canary --------------------------------
    // Round-8's driver artifact recorded 40s of phantom 3-30x
    // regressions (external machine load outlasted all three attempts
    // of a contiguous query cluster) that cost a full adjudication.
    // Best-of-N cannot defend against a contention window longer than
    // the N attempts — so the sweep carries its own load evidence: a
    // fixed cheap canary query runs before the sweep (5x, median =
    // baseline) and again after every CanaryEvery queries. A canary
    // sample > 3x baseline marks its window loaded; queries timed
    // inside a loaded window are flagged noise_suspect in the JSON, so
    // a contaminated sweep is self-identifying instead of needing a
    // judge re-run. All attempt times are recorded too (not just the
    // min) — a genuine regression shows three consistent attempts
    // against a quiet canary; noise shows inflated attempts against an
    // inflated canary.
    val CanaryEvery = 20
    val canaryName =
      if (selected.contains("q6_forecast_rev")) "q6_forecast_rev"
      else selected.keys.toSeq.sorted.head
    val canaryFn = selected(canaryName)
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] attempt failed: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      release() // outside the timed span: queries stay independent
      (dt, ok)
    }
    val canaryBase = median((1 to 5).map(_ => timeOnce(canaryFn)._1))
    val canarySeries = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    var lastCanary = canaryBase
    def sampleCanary(pos: Int): Unit = {
      lastCanary = timeOnce(canaryFn)._1
      canarySeries += ((pos, lastCanary))
    }

    // the previous run's recorded per-query times, read BEFORE this
    // run overwrites the artifacts — the phantom trigger's reference;
    // the per-SF file wins so a dev run at another tier cannot disarm
    val priorTimes = resolvePriors(sfDir, { name =>
      try {
        val p = java.nio.file.Paths.get(name)
        if (java.nio.file.Files.exists(p))
          Some(java.nio.file.Files.readString(p))
        else None
      } catch { case _: Throwable => None }
    })

    // best-of-3 per query: a single local[32] pass is GC/OS-noisy
    // (observed 3x run-to-run swings on projection-only queries, and
    // best-of-2 still left ±15% swings between identical-code runs —
    // the round-4 q18/q19 "regressions" were exactly that noise)
    val ordered = selected.toSeq.sortBy(_._1)
    // quietness reference DURING the sweep (the final median isn't
    // known yet): the pre-sweep base plus every sample so far
    def runningRef = median(canaryBase +: canarySeries.map(_._2).toSeq)
    val phantomRetimed = scala.collection.mutable.ArrayBuffer[String]()
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i % CanaryEvery == 0) sampleCanary(i)
      var attempts = (1 to 3).map(_ => timeOnce(fn))
      // the per-query trigger (see phantomSuspect): all three attempts
      // >3x this query's prior recorded time ⇒ re-sample the canary
      // RIGHT NOW. Quiet ⇒ the spike was real load that outlasted all
      // three attempts inside one canary window — re-time immediately
      // (extra attempts merge; min wins). Loaded ⇒ the sample lands in
      // the series, flags this window, and the tail heal pass takes it.
      if (attempts.forall(_._2) &&
          phantomSuspect(attempts.map(_._1), priorTimes.get(name))) {
        sampleCanary(i)
        if (lastCanary <= NoiseFactor * runningRef) {
          phantomRetimed += name
          System.err.println(f"[bench] PHANTOM? $name attempts " +
            attempts.map(a => f"${a._1}%.3f").mkString("[", ",", "]") +
            f" vs prior ${priorTimes(name)}%.3f with quiet canary — re-timing")
          attempts = attempts ++ (1 to 3).map(_ => timeOnce(fn))
        }
      }
      val succeeded = attempts.filter(_._2).map(_._1)
      // a crashed query must not masquerade as a fast success
      (name, if (succeeded.nonEmpty) succeeded.min else -1.0,
        succeeded.nonEmpty, attempts.map(_._1))
    }
    sampleCanary(ordered.size)
    // The load reference is the canary's OWN median over the whole
    // sweep — not the pre-sweep base (the fastest the JVM will ever
    // be, so judging against it flags ordinary steady-state drift)
    // and not max(base, median) (a contention window that lands on
    // the BASELINE would inflate the reference and mask every later
    // sample — observed in a deliberately loaded dev run). The median
    // is robust as long as load taints under half the samples; load
    // spanning the whole sweep inflates every query uniformly, which
    // cross-run comparison catches without a flag. Against the run
    // median the regimes separate cleanly — quiet full sweeps peak at
    // 1.26-1.31x (measured across the round-9 closing runs and three
    // deliberately quiet dev sweeps), while contention windows read
    // 1.9-3.4x (one organic incident, several injected-load runs) and
    // the round-8 driver incident implied 10x+ — so the threshold
    // sits at 1.8x: ~40% above the worst quiet ripple, below every
    // observed contention signature. A false positive costs a glance
    // at the per-attempt arrays; a false negative costs a full judge
    // adjudication — the asymmetry argues for the tighter bar. A
    // query is suspect if EITHER canary sample bounding its window
    // was loaded: contention that starts mid-window is invisible to
    // the opening sample but caught by the closing one.
    val (canaryRef, flaggedIdx) =
      flagWindows(canarySeries.toSeq, CanaryEvery, ordered.size)
    val sustained = sustainedLoad(canaryBase, canaryRef)
    if (sustained)
      System.err.println(f"[bench] SUSTAINED LOAD: canary run-median " +
        f"$canaryRef%.3fs > ${SustainedFactor}x pre-sweep base " +
        f"$canaryBase%.3fs — the whole sweep may be uniformly elevated; " +
        "compare totals cross-run before reading any per-query regression")
    val flagged = ordered.zipWithIndex.collect {
      case ((name, _), i) if flaggedIdx.contains(i) => name
    }
    if (flagged.nonEmpty)
      System.err.println(s"[bench] NOISE: canary exceeded ${NoiseFactor}x reference " +
        f"($canaryRef%.3fs) during ${flagged.size} queries: " +
        flagged.take(10).mkString(","))

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
    if (flaggedIdx.nonEmpty) {
      var waitBudget = 12 // x5s: bounded — an endless wait is a hang
      def canaryQuiet(): Boolean =
        timeOnce(canaryFn)._1 <= NoiseFactor * canaryRef
      def awaitQuiet(): Boolean = {
        var quiet = canaryQuiet()
        while (!quiet && waitBudget > 0) {
          Thread.sleep(5000); waitBudget -= 1; quiet = canaryQuiet()
        }
        quiet
      }
      var quiet = awaitQuiet()
      var sinceGate = 0
      ordered.zipWithIndex.foreach { case ((name, fn), i) =>
        if (flaggedIdx.contains(i)) {
          if (sinceGate >= 5) { sinceGate = 0; quiet = awaitQuiet() }
          if (quiet) {
            val (t, ok) = timeOnce(fn)
            if (ok) healed(name) = t
            sinceGate += 1
          } else healSkipped += name
        }
      }
      System.err.println(s"[bench] HEAL: re-timed ${healed.size}/" +
        s"${flagged.size} flagged queries in the quiet tail" +
        (if (healSkipped.nonEmpty)
          s"; load never cleared for ${healSkipped.size}: " +
            healSkipped.take(10).mkString(",")
        else ""))
    }

    def qmap(rs: Seq[(String, Double, Boolean)]): String =
      rs.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    def amap(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (k, as) =>
        "\"" + k + "\":" + as.map(a => f"$a%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val canaryJson =
      "{\"name\":\"" + canaryName + "\",\"base\":" + f"$canaryBase%.3f" +
        ",\"ref\":" + f"$canaryRef%.3f" +
        ",\"series\":" + canarySeries
          .map { case (p, v) => f"[$p,$v%.3f]" }.mkString("[", ",", "]") + "}"
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // recorded time = min over sweep attempts AND the tail re-time; a
    // query that only ever succeeded in the heal pass counts as ok for
    // totals BUT is listed in healed_only — all three sweep attempts
    // crashed (OOM/timeout under the contention that got it flagged),
    // and one later quiet success must not erase that provenance
    val slim = results.map { r =>
      val h = healed.get(r._1)
      val best = (Seq(r._2).filter(_ >= 0.0) ++ h)
        .reduceOption(_ min _).getOrElse(-1.0)
      (r._1, best, r._3 || h.isDefined)
    }
    val healedOnly = results.collect {
      case r if !r._3 && healed.contains(r._1) => r._1
    }
    val healedJson = healed.toSeq
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val healSkippedJson = healSkipped
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val healedOnlyJson = healedOnly
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val phantomJson = phantomRetimed
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val failed = slim.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = slim.collect { case (_, v, true) => v }.sum
    // The driver keeps only a truncated ~2.5 KB tail of stdout, and its
    // JSON parse of the printed line came back empty in rounds 4-5 because
    // the full 160+-query map blows past that window. So: the PRINTED line
    // carries the headline subset (the TPC-H-derived q* family — the
    // queries BASELINE.md describes) plus complete totals and the complete
    // failure list; the full per-query map goes to BENCH_FULL.json, which
    // the judge reads directly.
    val headline = slim.filter(_._1.matches("q\\d+.*"))
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${slim.size},"queries":${qmap(slim)},"attempts":${amap(results.map(r => (r._1, r._4)))},"canary":$canaryJson,"sustained_load":$sustained,"noise_flagged":$flaggedJson,"healed":$healedJson,"healed_only":$healedOnlyJson,"heal_skipped":$healSkippedJson,"phantom_retimed":$phantomJson,"failed":$failed,"build_s":$buildTotal%.3f,"builds":$bmap,"sf":"$sfDir"}"""
    // the PRINTED line must fit the driver's ~2.5KB stdout tail — carry
    // only the flag COUNT there; the full list + canary series live in
    // BENCH_FULL.json, which the judge reads directly
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${slim.size},"queries":${qmap(headline)},"noise_flagged_n":${flagged.size},"healed_n":${healed.size},"healed_only_n":${healedOnly.size},"failed":$failed,"build_s":$buildTotal%.3f,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
    println(if (only.isEmpty) line else full)
    // a filtered dev run must not clobber the full artifact the judge
    // reads; a full run writes BOTH the judge contract file and the
    // per-SF prior (the r11 fix — see resolvePriors)
    if (only.isEmpty)
      Seq("BENCH_FULL.json", s"BENCH_FULL.${sfTag(sfDir)}.json").foreach { f =>
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f), full + "\n")
        catch { case e: Throwable =>
          System.err.println(s"[bench] could not write $f: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
