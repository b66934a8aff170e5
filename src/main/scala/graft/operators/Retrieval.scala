package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid retrieval at the PRODUCTION scale path — the fusion a
  * RAG/search stack actually serves: tx19's Okapi BM25 (lexical leg)
  * combined with sim16's PQ retrieve-then-refine ANN (vector leg) by
  * reciprocal-rank fusion (RRF, Cormack/Clarke/Buettcher SIGIR 2009):
  *
  *   rrf(d) = Σ_legs 1 / (k + rank_leg(d)),  k = 60
  *
  * sim14 already fuses BM25 with sim1's EXACT cosine — the reference
  * fusion, whose vector leg scans every raw embedding. sr1 is the
  * 100 TB serving shape: the vector leg's first stage reads 16-byte
  * PQ CODES only, and raw embeddings are touched for the adcShort
  * shortlist alone (a broadcast semi-probe), so the fused query's
  * full-width read is bounded by shortlists on BOTH legs — BM25
  * reads the query terms' posting lists, the ANN reads codes + R raw
  * rows. RRF needs only the integer RANKS inside each leg's bounded
  * top-R, which is what makes the whole composition hash-oracled:
  * ranks are engine-exact (each leg orders by a score both engines
  * compute bit-identically, with an id tie-break) and 1/(60+r) is one
  * identical per-row double expression.
  *
  * Rank recovery is window-free on the lexical leg (rank = 1 + count
  * of strictly-better rows via a broadcast self-join of the ≤R-row
  * checkpointed shortlist — the plan-hygiene gate bans global windows
  * over grow-with-data keys, and a rank window above a doc_id-keyed
  * aggregate would be indistinguishable from one) and per-query
  * partitioned on the vector leg (sim16's own TakeOrdered-sized
  * window). The full-outer fuse keeps documents surfaced by only one
  * leg; their other-leg contribution is 0 — the standard RRF
  * treatment of shortlist misses.
  */
object Retrieval {

  /** rank inside one bounded shortlist: 1 + #{rows strictly before
    * this one under (score desc, id asc)}. `leg` must be small (≤ R
    * rows, enforced upstream by the leg's own LIMIT) and is
    * checkpointed by the caller so the self-join does not re-run the
    * leg.
    */
  private def rankByCount(leg: DataFrame, score: String, id: String,
                          out: String): DataFrame = {
    val better =
      col(s"y.$score") > col(s"x.$score") ||
        (col(s"y.$score") === col(s"x.$score") &&
          col(s"y.$id") < col(s"x.$id"))
    leg.as("x").join(broadcast(leg.as("y")), better, "left")
      .groupBy(col(s"x.$id").as(id))
      .agg((count(col(s"y.$id")) + 1L).cast("int").as(out))
  }

  // --- SR1: hybrid BM25 + PQ-refined ANN with RRF fusion. Query =
  // tx19's default term set on the lexical side and embedding 0 (a
  // stand-in for an embedded query) on the vector side; both legs
  // run at R = 50 (the ANN leg refines an adcShort = 60 codes-only
  // shortlist), fusion returns the top 20 by (rrf, doc_id). ---
  def hybridRrf(s: SparkSession, d: String,
                terms: Seq[String] = Seq("window", "merge", "scan"),
                r: Int = 50, adcShort: Int = 60, kRrf: Int = 60,
                topK: Int = 20): DataFrame = {
    // shared subplan: both sides of rankByCount's self-join
    val legA = TextAnalysis.bm25TopDocs(s, d, terms, r).localCheckpoint()
    val ra = rankByCount(legA, "bm25", "doc_id", "r_bm25")
    val rb = Similarity.refinedLeg(s, d, r, adcShort)
    def contrib(c: org.apache.spark.sql.Column) =
      when(c > 0, lit(1.0) / (lit(kRrf.toDouble) + c.cast("double")))
        .otherwise(lit(0.0))
    ra.join(rb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_bm25"), lit(0)).as("r_bm25"),
        coalesce(col("r_vec"), lit(0)).as("r_vec"))
      .withColumn("rrf", round(contrib(col("r_bm25")) +
        contrib(col("r_vec")), 6))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topK)
  }

  // --- SR2: query-likelihood retrieval with Dirichlet smoothing
  // [Zhai & Lafferty, SIGIR'01] — the language-modeling scorer that
  // completes the classical ranking triad next to tx19's BM25 and
  // sim1/sim16's vector legs:
  //
  //   score(d) = Σ_t ln( (tf_{t,d} + μ·cf_t/|C|) / (dl_d + μ) ),  μ=2000
  //
  // Candidate docs are those containing ≥ 1 query term (the posting-
  // list shape — the term filter cuts the corpus-wide shuffle to the
  // query terms' rows, tx19's rationale), but the SUM runs over ALL
  // query terms — a missing term contributes its smoothed-background
  // ln, which is what separates QL from a tf-only scorer. FP
  // discipline: the per-term lns are PIVOTED into one fixed
  // written-order expression (never a cross-row double sum whose
  // association order the engine picks), cf_t and |C| are exact
  // integers, and the final score rounds to 6dp before the (score,
  // doc_id) cut. Precondition: every query term occurs somewhere in
  // the corpus (cf_t ≥ 1; holds for the default term set) — a
  // zero-cf term would put ln(0) = -inf in every candidate row. ---
  def queryLikelihoodTopDocs(s: SparkSession, d: String,
                             terms: Seq[String] =
                               Seq("window", "merge", "scan"),
                             mu: Double = 2000.0,
                             topK: Int = 20): DataFrame = {
    val tok = graft.Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("token"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val qtok = tok.filter(col("token").isin(terms: _*))
    // one row: per-term collection frequencies + the corpus token total
    val stats = qtok.groupBy()
      .agg(terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("token") === t, 1L).otherwise(0L)).as(s"cf$i")
      }.head, terms.zipWithIndex.tail.map { case (t, i) =>
        sum(when(col("token") === t, 1L).otherwise(0L)).as(s"cf$i")
      }: _*)
      .crossJoin(broadcast(dl.agg(sum(col("dl")).as("c_total"))))
    val perDoc = qtok.groupBy("doc_id")
      .agg(terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf$i")
      }.head, terms.zipWithIndex.tail.map { case (t, i) =>
        sum(when(col("token") === t, 1L).otherwise(0L)).as(s"tf$i")
      }: _*)
    val score = terms.indices.map { i =>
      log((col(s"tf$i").cast("double") +
        lit(mu) * col(s"cf$i").cast("double") / col("c_total").cast("double"))
        / (col("dl").cast("double") + lit(mu)))
    }.reduce(_ + _)
    perDoc.join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("ql"))
      .orderBy(col("ql").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** The rank-position weight table shared by [[retrievalEval]] and
    * its oracle: w_i = 1/log2(i+1) for i = 1..k, plus the ideal DCG
    * (left-assoc sum of all k weights — the truth set has exactly k
    * members, so IDCG is a constant). Computed ONCE here and embedded
    * as literals on BOTH engines (Spark `lit`, DuckDB
    * `CAST('<Double.toString>' AS DOUBLE)` — shortest round-trip
    * representation, so the parsed double is bit-identical), because a
    * cross-engine `log2` call is the one place this metric could
    * diverge by an ulp.
    */
  private[graft] def ndcgWeights(k: Int): (Seq[Double], Double) = {
    val ws = (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
    (ws, ws.foldLeft(0.0)(_ + _))
  }

  // --- SR3: RETRIEVAL EVAL — the IR acceptance triple for a serving
  // stack, per query: recall@k (set overlap), MRR (reciprocal rank of
  // the first relevant result), and binary-relevance nDCG@k, all of
  // the compressed-domain ADC ranking (sim12's serving leg) against
  // the exact-dot top-k ground truth (sim17's convention: candidates
  // are vec_id >= nq, relevance = membership in the exact top-k).
  // sim17 reports recall alone; MRR and nDCG are the POSITION-
  // sensitive pair a reranker/fusion change is actually judged on —
  // recall can hold while the relevant hits slide down the page.
  // Hash discipline: nDCG's cross-row double sum is pivoted into ONE
  // fixed written-order expression over k per-rank hit flags (h1·w1 +
  // … + hk·wk, weights embedded as shared literals via
  // [[ndcgWeights]]), IDCG is a constant literal, MRR is a single
  // integer division — nothing depends on engine-side float
  // accumulation order. Scale shape: the ADC leg reads wide PQ codes
  // (shuffle-free scan); the exact leg is ground truth's irreducible
  // full-width pass, run on the bounded query sample only; everything
  // after the two rank cuts touches ≤ nq·k rows. ---
  def retrievalEval(s: SparkSession, d: String,
                    numQueryVecs: Int = 5, k: Int = 10): DataFrame = {
    import graft.plans.VectorExpressions.vecDot
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.embeddings(s, d)
    val wsys = Window.partitionBy("q_id")
      .orderBy(col("adc").desc, col("vec_id").asc)
    val sys = Similarity.adcScores(s, d, numQueryVecs)
      .withColumn("rk", row_number().over(wsys))
      .filter(col("rk") <= k)
      .select("q_id", "vec_id", "rk")
    val qe = e.filter(col("vec_id") < numQueryVecs)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wex = Window.partitionBy("q_id")
      .orderBy(col("xdot").desc, col("vec_id").asc)
    val truth = e.filter(col("vec_id") >= numQueryVecs)
      .crossJoin(broadcast(qe))
      .select(col("q_id"), col("vec_id"),
        vecDot(col("q_emb"), col("embedding")).as("xdot"))
      .withColumn("xrk", row_number().over(wex))
      .filter(col("xrk") <= k)
      .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    val flags = sys.join(truth, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("rk"),
        coalesce(col("hit"), lit(0)).as("hit"))
    val (ws, idcg) = ndcgWeights(k)
    val hCols = (1 to k).map(i =>
      max(when(col("rk") === i, col("hit"))).as(s"h$i"))
    val agg = flags.groupBy("q_id")
      .agg(hCols.head, hCols.tail ++ Seq(
        min(when(col("hit") === 1, col("rk"))).as("first_hit"),
        sum(col("hit")).cast("long").as("n_hit")): _*)
    val dcg = (1 to k).map(i =>
      when(col(s"h$i") === 1, lit(ws(i - 1))).otherwise(lit(0.0)))
      .reduceLeft(_ + _)
    agg.select(col("q_id"), col("n_hit"),
        round(col("n_hit").cast("double") / lit(k.toDouble), 4).as("recall"),
        round(when(col("first_hit").isNotNull,
          lit(1.0) / col("first_hit").cast("double"))
          .otherwise(lit(0.0)), 6).as("mrr"),
        round(dcg / lit(idcg), 6).as("ndcg"))
      .orderBy("q_id")
  }

  /** Oracle twin of [[queryLikelihoodTopDocs]] — identical pivoted
    * written-order ln sum, exact integer cf/|C|, same 6dp cut.
    */
  def queryLikelihoodOracleSql(terms: Seq[String] =
                                 Seq("window", "merge", "scan"),
                               mu: Double = 2000.0,
                               topK: Int = 20): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val cfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS cf$i"
    }.mkString(",\n       |    ")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
    }.mkString(",\n       |    ")
    val lnTerms = terms.indices.map { i =>
      s"ln((CAST(tf$i AS DOUBLE) + $mu * CAST(cf$i AS DOUBLE) " +
        s"/ CAST(c_total AS DOUBLE)) / (CAST(dl AS DOUBLE) + $mu))"
    }.mkString("\n       |      + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
       |ct AS (SELECT CAST(sum(dl) AS BIGINT) AS c_total FROM dl),
       |qtok AS (SELECT doc_id, token FROM tok WHERE token IN ($termList)),
       |cf AS (
       |  SELECT $cfCols
       |  FROM qtok),
       |tf AS (
       |  SELECT doc_id,
       |    $tfCols
       |  FROM qtok GROUP BY doc_id)
       |SELECT tf.doc_id,
       |  round($lnTerms, 6) AS ql
       |FROM tf JOIN dl ON tf.doc_id = dl.doc_id, cf, ct
       |ORDER BY ql DESC, tf.doc_id ASC LIMIT $topK""".stripMargin
  }
}
