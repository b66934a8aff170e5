package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic sampling for training-data pipelines: hash-based
  * Bernoulli sampling, per-group reservoirs, and stratified rates.
  *
  * All samplers key on md5(id) rather than rand(): reproducible across
  * runs, retries, and engines (rand() re-draws on task retry and can't
  * be oracle-checked), and the sample decision is a pure scan-side
  * predicate — no shuffle, no state, works identically on 100 TB.
  */
object Sampling {

  private def hashKey(c: org.apache.spark.sql.Column) =
    md5(c.cast("string").cast("binary"))

  /** ~`pctHex/256` Bernoulli sample: keep rows whose md5 first byte is
    * below the threshold (hex-string compare — uniform over bytes).
    */
  def hashSample(s: SparkSession, d: String, thresholdHex: String = "1a"): DataFrame =
    Tables.documents(s, d)
      .filter(substring(hashKey(col("doc_id")), 1, 2) < thresholdHex)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Reservoir of k docs per source: deterministic pseudo-random order
    * within each group, top-k by row_number — TakeOrdered per group.
    */
  def reservoirPerGroup(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(hashKey(col("doc_id")).asc, col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("source", "doc_id", "rk")
      .orderBy("source", "rk")
  }

  /** SP4: weighted priority sample — k docs per source, selection
    * probability increasing with document weight (n_chars here): each
    * doc draws a deterministic priority key = h60(doc_id) / weight, and
    * the k SMALLEST keys per source win, so doubling a doc's weight
    * halves its expected key. NOTE the distribution is weight-MONOTONE,
    * not Efraimidis–Spirakis-exact: with uniform u, the u/w key gives
    * pairwise win probability ~w_i/(2·w_j) for w_i ≤ w_j rather than
    * ES's w_i/(w_i+w_j) (ES needs u^(1/w)-style keys, but ln/pow are
    * last-ulp engine-dependent, while division is a pure IEEE-double op
    * both engines compute bit-identically — the price of an exact
    * cross-engine oracle). Heavier docs still strictly dominate in
    * expectation; use the ES form where calibrated inclusion
    * probabilities matter more than replayability. One window shuffle
    * keyed on source; the key is a scan-side projection.
    */
  def weightedSample(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    val key = graft.functions.Text.h60(col("doc_id").cast("string"))
      .cast("double") / greatest(col("n_chars"), lit(1)).cast("double")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("pri").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"), key.as("pri"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("doc_id"), col("n_chars"),
        col("rk").cast("int").as("rk"))
      .orderBy("source", "rk")
  }

  // --- SP9: PRIORITY-SAMPLING total estimator [Duffield, Lund &
  // Thorup, JACM 2007] — the ESTIMATION side of the weighted-sample
  // family: sp4 selects k docs per source by priority, sp9 answers
  // "what does that k-sample say the per-source total is". Priorities
  // q = w/u with u = (h60(doc_id)+1)/2⁶⁰ ∈ (0,1] (sp4's key inverted
  // and normalized — the SAME deterministic hash, so the sample is
  // replayable); with τ = the (k+1)-th largest priority, Σ max(w_i, τ)
  // over the top k is provably unbiased for Σ w, and when a source
  // has ≤ k docs, τ is absent (0) and the estimate DEGENERATES TO THE
  // EXACT TOTAL — the spec pins that identity. Shape at 100 TB: one
  // scan projects the priority (scan-side arithmetic), one window
  // shuffle keyed on source ranks it, and everything after runs on the
  // k-row-per-source sample plus a per-source 1-row τ broadcast — the
  // estimator never touches more than the sample. Doubles: the u
  // division and the final ≤k-term sum, rounded at 4dp; the exact
  // side is integer cents-style (hash-matched). ---
  /** sp9's per-doc priority projection over any (doc_id, source,
    * n_chars) relation — ONE definition of (q, w) for batch and
    * stream (the cupedFromPerUser discipline): q is a deterministic
    * function of doc_id alone times the weight, so a micro-batch
    * computes the same priorities the batch scan does.
    */
  private[graft] def priorityProjection(docs: DataFrame): DataFrame = {
    val two60 = lit(1152921504606846976.0) // 2^60, exact in double
    val u = (graft.functions.Text.h60(col("doc_id").cast("string"))
      .cast("double") + lit(1.0)) / two60
    val wgt = greatest(col("n_chars"), lit(1)).cast("double")
    docs.select(col("source"), col("doc_id"), col("n_chars"),
      (wgt / u).as("q"), wgt.as("w"))
  }

  /** The (q DESC, doc_id ASC) per-source rank — the one total order
    * the sample, τ, and the streamed twin's merge all agree on.
    */
  private[graft] def priorityRankWindow
      : org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id").asc)

  /** sp9's shared ranked relation — every doc's priority and rank,
    * extracted so PlanSpec can pin its plan shape: this window must
    * stay FULL (no WindowGroupLimit) because the exact-total consumer
    * reads every rank; the rank filters live beyond the checkpoint
    * boundary in [[priorityEstimate]] for exactly that reason.
    */
  private[graft] def priorityEstimateRanked(s: SparkSession,
                                            d: String): DataFrame =
    priorityProjection(Tables.documents(s, d))
      .withColumn("rnk", row_number().over(priorityRankWindow))

  /** The estimator tail over ANY ranked (source, doc_id, q, w, rnk)
    * relation plus per-source exact totals — shared verbatim by batch
    * [[priorityEstimate]] and the streamed twin's read side
    * (Streams.readPriorityEstimate), so the two can never disagree on
    * the τ pick or the max-sum.
    */
  private[graft] def priorityEstimateFromRanked(ranked: DataFrame,
                                                totals: DataFrame,
                                                k: Int): DataFrame = {
    val tau = ranked.filter(col("rnk") === k + 1)
      .select(col("source"), col("q").as("tau"))
    val est = ranked.filter(col("rnk") <= k)
      .join(broadcast(tau), Seq("source"), "left")
      .na.fill(0.0, Seq("tau"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("m_sampled"),
        round(sum(greatest(col("w"), col("tau"))), 4).as("est_chars"))
    totals
      .join(est, Seq("source"))
      .select("source", "n_docs", "m_sampled", "exact_chars", "est_chars")
      .orderBy("source")
  }

  def priorityEstimate(s: SparkSession, d: String, k: Int = 16): DataFrame = {
    // shared subplan: the sample, tau and the exact side
    val ranked = priorityEstimateRanked(s, d).localCheckpoint()
    priorityEstimateFromRanked(ranked,
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("exact_chars")), k)
  }

  /** Oracle twin of [[priorityEstimate]] — same h60 draw, priority,
    * rank, τ pick, and max-sum, 4dp.
    */
  def priorityEstimateOracleSql(k: Int = 16): String =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST(greatest(n_chars, 1) AS DOUBLE)
       |      / ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       |            AS BIGINT) + 1.0) / 1152921504606846976.0) AS q,
       |    CAST(greatest(n_chars, 1) AS DOUBLE) AS w
       |  FROM documents),
       |rk AS (
       |  SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY q DESC, doc_id ASC) AS rnk FROM r),
       |tau AS (SELECT source, q AS tau FROM rk WHERE rnk = ${k + 1}),
       |est AS (
       |  SELECT rk.source, CAST(count(*) AS BIGINT) AS m_sampled,
       |    round(sum(greatest(w, coalesce(tau, 0.0))), 4) AS est_chars
       |  FROM rk LEFT JOIN tau ON rk.source = tau.source
       |  WHERE rk.rnk <= $k GROUP BY 1),
       |ex AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS exact_chars
       |  FROM documents GROUP BY 1)
       |SELECT ex.source AS source, n_docs, m_sampled, exact_chars,
       |  est_chars
       |FROM ex JOIN est ON ex.source = est.source
       |ORDER BY ex.source""".stripMargin

  /** Stratified sampling: per-language keep rates (e.g. downsample the
    * dominant language) expressed as per-class hash thresholds.
    */
  def stratifiedSample(s: SparkSession, d: String,
                       rates: Map[String, String] = Map(
                         "en" -> "80", "de" -> "40", "fr" -> "40",
                         "es" -> "20", "zh" -> "20")): DataFrame = {
    val threshold = rates.foldLeft(lit("00")) { case (acc, (lang, hex)) =>
      when(col("lang") === lang, lit(hex)).otherwise(acc)
    }
    Tables.documents(s, d)
      .filter(substring(hashKey(col("doc_id")), 1, 2) < threshold)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Poisson(1) CDF as exact ⌊P(X ≤ i)·2³²⌋ thresholds for i = 0..5 —
    * shared by the Spark weight expression and the generated oracle
    * CASE so the two can never drift. Weights > 6 are truncated
    * (P < 6·10⁻⁴ — the resample bias is < 0.1%, documented at sp5).
    */
  val PoissonCdf32: Array[Long] = Array(
    1580030168L, 3160060337L, 3950075421L,
    4213413783L, 4279248373L, 4292415291L)

  /** The inverse-CDF weight for a uniform 32-bit draw. Stated as the
    * branch-free sum of threshold indicators Σᵢ [u ≥ tᵢ] rather than a
    * CASE chain: with ascending thresholds the two are pointwise equal
    * (the CASE returns min{i : u < tᵢ} = #{i : tᵢ ≤ u}), but a nested
    * CASE holds its later copies of `u` inside conditional branches,
    * where codegen's subexpression elimination may not reach — the sp5
    * plan showed the full md5→conv→cast draw expression expanded SIX
    * times in one Project. The indicator sum is unconditionally
    * evaluated, so the draw is one common subexpression, hashed once
    * per row.
    */
  private def poissonWeight(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PoissonCdf32.map(thr => when(u >= thr, 1L).otherwise(0L))
      .reduce(_ + _)

  /** Oracle twin of [[poissonWeight]] over a SQL expression. */
  def poissonWeightSql(u: String): String =
    PoissonCdf32.zipWithIndex.map { case (thr, i) =>
      s"WHEN $u < $thr THEN $i"
    }.mkString("CASE ", " ", s" ELSE ${PoissonCdf32.length} END")

  // --- SP5: deterministic Poisson bootstrap — R resampled estimates
  // of total order revenue from ONE scan, no data copies: every order
  // draws a reproducible Poisson(1) weight per replicate (inverse-CDF
  // over the md5 hash-uniform keyed on orderkey·R + rep), and one
  // grouped agg emits each replicate's resampled total. This is the
  // standard distributed bootstrap (Poisson approximation to
  // multinomial resampling — the resample size concentrates at n ±
  // √n): at 100 TB you get R confidence-interval replicates for the
  // cost of one aggregation, with zero shuffled rows beyond R
  // partial-agg outputs, and the hash keying makes every replicate
  // reproducible across runs and engines (the md5-uniform is dp2's
  // split primitive, same oracle twin). All sums exact integer cents.
  // ---
  def poissonBootstrap(s: SparkSession, d: String, reps: Int = 8): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val u = conv(substring(md5(
      (col("o_orderkey") * reps + col("rep")).cast("string")), 1, 8), 16, 10)
      .cast("long")
    Tables.orders(s, d)
      .select(col("o_orderkey"), cents.as("cents"),
        explode(array((0 until reps).map(r => lit(r.toLong)): _*)).as("rep"))
      .withColumn("w", poissonWeight(u))
      .groupBy("rep")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("w")).as("n_eff"),
        sum(col("w") * col("cents")).as("boot_cents"))
      .orderBy("rep")
  }

  // --- SP6: systematic (every k-th) sampling along a total order —
  // the survey-sampling design that spreads an exact 1/step rate
  // evenly over the sort dimension (hash sampling is uniform but
  // clumps; systematic guarantees one pick per stride, the usual ask
  // for ordered spot-audits and time-spread eval slices). The global
  // rank comes from GlobalOrder's range-partition + offset-table
  // two-pass — no single-task window at any scale — and the keep
  // decision is then a pure per-row modulus, so the whole sampler is
  // one range shuffle regardless of corpus size. Replayable: the rank
  // is a function of the snapshot alone, so a re-run reselects the
  // identical rows (rand()-offset variants can't be oracle-checked).
  // ---
  def systematic(s: SparkSession, d: String, step: Int = 97): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      Benchmark2.priceCents(col("o_totalprice")).as("cents"))
    GlobalOrder.withRowNumber(o, "rn", col("o_orderkey").asc)
      .filter(pmod(col("rn") - 1, lit(step.toLong)) === 0)
      .select("rn", "o_orderkey", "o_orderstatus", "cents")
      .orderBy("rn")
  }

  def systematicOracleSql(step: Int = 97): String =
    s"""WITH r AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    row_number() OVER (ORDER BY o_orderkey) AS rn
       |  FROM orders)
       |SELECT rn, o_orderkey, o_orderstatus, cents
       |FROM r WHERE (rn - 1) % $step = 0 ORDER BY rn""".stripMargin

  // --- SP7: delete-a-group JACKKNIFE [Kott 2001's survey workhorse] —
  // the variance estimate sp5's bootstrap gets by resampling, obtained
  // instead from k leave-one-source-out replicates of the corpus mean
  // quality: θ₍ᵢ₎ = mean over all docs NOT from source i, and
  // v_jack = (k−1)/k · Σ(θ₍ᵢ₎ − θ̄)². The grouped form matters at
  // 100 TB: deleting a GROUP needs only per-group (n, Σq) — one
  // hash-agg to k rows, every replicate then pure arithmetic on the
  // broadcast totals; the classic leave-one-ROW-out would need n
  // replicates. Quality (tx4's 4dp score) is summed as scaled 1e4
  // longs, so the replicate means are exact-integer ratios; only the
  // final k-row variance runs in doubles. ---
  def jackknifeQuality(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val bySource = Tables.documents(s, d).select("doc_id", "source")
      .join(TextAnalysis.qualityScoreRaw(s, d), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(round(col("quality") * 10000).cast("long")).as("sq"))
    val totals = bySource.agg(
      sum(col("n")).as("nn"), sum(col("sq")).as("tsq"),
      count(lit(1)).as("k"))
    val thetas = bySource.crossJoin(broadcast(totals))
      .select(col("k"), col("nn"), col("tsq"),
        ((dbl(col("tsq")) - dbl(col("sq")))
          / (dbl(col("nn")) - dbl(col("n"))) / 10000.0).as("theta_i"))
    thetas
      .groupBy("k", "nn", "tsq")
      .agg(sum(col("theta_i")).as("st"),
        sum(col("theta_i") * col("theta_i")).as("st2"))
      .select(col("k").as("k_groups"), col("nn").as("n_docs"),
        round(dbl(col("tsq")) / dbl(col("nn")) / 10000.0, 6).as("theta_hat"),
        round((dbl(col("k")) - 1.0) / dbl(col("k"))
          * (col("st2") - col("st") * col("st") / dbl(col("k"))), 6)
          .as("var_jack"))
  }

  /** Oracle twin of [[jackknifeQuality]] — tx4's quality CTE, the same
    * scaled-long sums, replicate ratios, and (k−1)/k variance.
    */
  def jackknifeQualityOracleSql(): String =
    """WITH w AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ws
      |  FROM documents),
      |q AS (
      |  SELECT source, CAST(round(round(
      |    (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.4 END)
      |      * 0.4
      |    + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
      |    + (1.0 - least(CAST(len(list_filter(ws, t -> t IN ('the', 'a')))
      |                        AS DOUBLE) / len(ws) * 2.0, 1.0)) * 0.2, 4)
      |    * 10000) AS BIGINT) AS q4
      |  FROM w),
      |g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(q4) AS BIGINT) AS sq
      |  FROM q GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(sq) AS BIGINT) AS tsq,
      |    CAST(count(*) AS BIGINT) AS k
      |  FROM g),
      |th AS (
      |  SELECT k, nn, tsq,
      |    (CAST(tsq - sq AS DOUBLE)) / (CAST(nn - n AS DOUBLE)) / 10000.0
      |      AS theta_i
      |  FROM g CROSS JOIN t)
      |SELECT k AS k_groups, nn AS n_docs,
      |  round(CAST(tsq AS DOUBLE) / CAST(nn AS DOUBLE) / 10000.0, 6)
      |    AS theta_hat,
      |  round((CAST(k AS DOUBLE) - 1.0) / CAST(k AS DOUBLE)
      |    * (sum(theta_i * theta_i)
      |      - sum(theta_i) * sum(theta_i) / CAST(k AS DOUBLE)), 6)
      |    AS var_jack
      |FROM th GROUP BY k, nn, tsq""".stripMargin

  // --- SP8: EXPERIMENT POWER / SAMPLE-SIZE calculator — the question
  // every A/B readout (a46) begets: "how many users per arm would we
  // need to detect this effect reliably?" Two-proportion power at
  // α = 0.05 (two-sided), target power 80%:
  //   n/arm = (z_{α/2}·√(2p̄(1−p̄)) + z_β·√(p_a(1−p_a)+p_b(1−p_b)))² / Δ²
  // [Fleiss, Statistical Methods for Rates and Proportions]. The z
  // constants are spelled as the SAME literals on both engines
  // (1.959964, 0.841621 — the 6dp standard-normal quantiles), the
  // rates come from a46's own exact conversion counts, and the whole
  // computation is one broadcast row of per-row double arithmetic —
  // the experiment-design companion the a46/a48 suite was missing.
  // Also reports the minimum detectable effect at the CURRENT n (the
  // same formula solved for Δ), so the readout says both "what this
  // test could see" and "what a conclusive test would cost". ---
  def powerAnalysis(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val za = 1.959964
    val zb = 0.841621
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 150, 1L).otherwise(0L)).as("converted"))
    val byVariant = perUser
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val a = byVariant.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
    val b = byVariant.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("conv").as("conv_b"))
    a.crossJoin(b)
      .withColumn("p_a", dbl(col("conv_a")) / dbl(col("n_a")))
      .withColumn("p_b", dbl(col("conv_b")) / dbl(col("n_b")))
      .withColumn("p_bar",
        (dbl(col("conv_a")) + dbl(col("conv_b")))
          / (dbl(col("n_a")) + dbl(col("n_b"))))
      .withColumn("delta", abs(col("p_a") - col("p_b")))
      .withColumn("n_required", ceil(
        pow(lit(za) * sqrt(lit(2.0) * col("p_bar") * (lit(1.0) - col("p_bar")))
          + lit(zb) * sqrt(col("p_a") * (lit(1.0) - col("p_a"))
            + col("p_b") * (lit(1.0) - col("p_b"))),
          lit(2.0)) / (col("delta") * col("delta"))).cast("long"))
      .withColumn("mde_at_n",
        (lit(za) * sqrt(lit(2.0) * col("p_bar") * (lit(1.0) - col("p_bar")))
          + lit(zb) * sqrt(col("p_a") * (lit(1.0) - col("p_a"))
            + col("p_b") * (lit(1.0) - col("p_b"))))
          / sqrt(least(dbl(col("n_a")), dbl(col("n_b")))))
      .select(col("n_a"), col("n_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(col("delta"), 6).as("observed_delta"),
        col("n_required").as("n_per_arm_for_80pct_power"),
        round(col("mde_at_n"), 6).as("mde_at_current_n"))
  }

  /** Oracle twin of [[powerAnalysis]] — identical literals and
    * association order.
    */
  def powerAnalysisOracleSql(): String =
    """WITH pu AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value > 150
      |        THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY user_id),
      |bv AS (
      |  SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(converted) AS BIGINT) AS conv
      |  FROM pu GROUP BY 1),
      |ab AS (
      |  SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
      |  FROM (SELECT n, conv FROM bv WHERE variant = 0) a,
      |       (SELECT n, conv FROM bv WHERE variant = 1) b),
      |x AS (
      |  SELECT n_a, n_b,
      |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
      |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
      |    (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p_bar
      |  FROM ab),
      |y AS (
      |  SELECT n_a, n_b, p_a, p_b, p_bar, abs(p_a - p_b) AS delta,
      |    1.959964 * sqrt(2.0 * p_bar * (1.0 - p_bar))
      |      + 0.841621 * sqrt(p_a * (1.0 - p_a) + p_b * (1.0 - p_b)) AS zsum
      |  FROM x)
      |SELECT n_a, n_b, round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
      |  round(delta, 6) AS observed_delta,
      |  CAST(ceil(pow(zsum, 2.0) / (delta * delta)) AS BIGINT)
      |    AS n_per_arm_for_80pct_power,
      |  round(zsum / sqrt(least(CAST(n_a AS DOUBLE), CAST(n_b AS DOUBLE))), 6)
      |    AS mde_at_current_n
      |FROM y""".stripMargin
}
