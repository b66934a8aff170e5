package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis surface over the `documents` table (north-star,
  * SURVEY.md §7.2 M6): per-doc stats / quality scoring, corpus token
  * frequencies, content fingerprinting, language-ID. All pure Column
  * expressions; the only shuffle is the token-frequency groupBy (with
  * map-side partial aggregation).
  */
object TextAnalysis {

  /** Per-doc token aggregates as pure per-row array expressions — no
    * explode, no shuffle, no countDistinct Expand. `array_distinct` /
    * `array_remove` are codegen'd collection expressions (unlike the
    * interpreted HOF lambdas — see Dedup's scaladoc), so the whole
    * stat block is one narrow codegen'd projection: at 100 TB this is
    * a map-only stage. (The round-1 explode+hash-agg form shuffled
    * every token and paid a 2x Expand for the distinct count —
    * measured 8.3s vs <1s at sf0.1.)
    */
  private def tokenAggs(s: SparkSession, d: String,
                        stopwords: Seq[String]): DataFrame = {
    val ws = col("ws")
    val withoutStops = stopwords.foldLeft(ws)((c, sw) => array_remove(c, sw))
    Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        Text.tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("n_chars"),
        size(ws).as("n_tokens"),
        size(array_distinct(ws)).as("n_distinct"),
        (size(ws) - size(withoutStops)).cast("bigint").as("n_stop"))
  }

  // --- TX1: per-document stats: char/token counts, distinct tokens,
  // average token length, 'the'-stopword ratio. ---
  def textStats(s: SparkSession, d: String): DataFrame =
    tokenAggs(s, d, Seq("the"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct"),
        round((col("n_chars") - (col("n_tokens") - lit(1))).cast("double")
          / col("n_tokens").cast("double"), 4).as("avg_token_len"),
        round(col("n_stop").cast("double")
          / col("n_tokens").cast("double"), 4).as("stopword_ratio"))
      .orderBy("doc_id")

  // --- TX2: corpus-wide token frequency, top 20. The heavy path is
  // explode -> groupBy: partial aggregation runs map-side, so the
  // shuffle carries (token, partial_count), not raw tokens. ---
  def tokenFrequency(s: SparkSession, d: String, topN: Int = 20): DataFrame =
    Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topN)

  // --- TX14: vocabulary-growth audit (the Heaps-law curve a tokenizer
  // plan needs): cumulative distinct-type count vs cumulative token
  // count at doc-bucket checkpoints. The trick that makes this ONE
  // relational pass instead of a distinct-count per prefix: a type's
  // contribution to the curve is fully determined by its FIRST
  // appearance, so `min(doc_id) per token → bucket → cumsum` yields
  // the exact running vocabulary size. Two hash-aggs + cumsums over
  // the bucket aggregate — buckets grow with the corpus (one per
  // `bucketDocs` docs), so the running sums go through
  // GlobalOrder.withCumSums (dp10's range-partition + offset
  // two-pass), never a single-task global window. ---
  def vocabGrowth(s: SparkSession, d: String, bucketDocs: Int = 50): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val perBucket = tok
      .groupBy((col("doc_id") / bucketDocs).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = tok.groupBy("token").agg(min(col("doc_id")).as("first_doc"))
      .groupBy((col("first_doc") / bucketDocs).cast("long").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val joined = perBucket.join(newTypes, Seq("bucket"), "left_outer")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    GlobalOrder.withCumSums(joined, Seq(col("bucket").asc),
        Seq(GlobalOrder.CumSpec("n_tokens", "cum_tokens", "__tot_tokens"),
          GlobalOrder.CumSpec("new_types", "cum_types", "__tot_types")))
      .drop("__tot_tokens", "__tot_types")
      .orderBy("bucket")
  }

  // --- TX15: corpus trigram language model — conditional
  // P(t3 | t1, t2) = count(t1,t2,t3) / count(t1,t2,*) over word
  // trigrams, top-K by support. Both count relations come from the
  // SAME exploded trigram rows (the context count is a second
  // aggregate over the trigram counts — no re-tokenize); integer-ratio
  // probabilities are cross-engine exact. The n-gram-LM shape that
  // backs perplexity filters and contamination scoring. ---
  def trigramLm(s: SparkSession, d: String, topK: Int = 50): DataFrame = {
    val ws = col("ws")
    val tri = Tables.documents(s, d)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(ws) >= 3)
      .select(explode(sequence(lit(1), size(ws) - lit(2))).as("i"), ws)
      .select(element_at(ws, col("i")).as("t1"),
        element_at(ws, col("i") + 1).as("t2"),
        element_at(ws, col("i") + 2).as("t3"))
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n_tri"))
    val ctx = tri.groupBy("t1", "t2").agg(sum(col("n_tri")).as("n_ctx"))
    tri.join(ctx, Seq("t1", "t2"))
      .select(col("t1"), col("t2"), col("t3"), col("n_tri"),
        col("n_ctx").cast("long").as("n_ctx"),
        round(col("n_tri").cast("double") / col("n_ctx").cast("double"), 6)
          .as("prob"))
      .orderBy(col("n_tri").desc, col("t1").asc, col("t2").asc, col("t3").asc)
      .limit(topK)
  }

  // --- TX16: per-doc trigram commonality — what fraction of a doc's
  // word trigrams occur >= commonMin times corpus-wide. High ratio =
  // boilerplate/template text (or near-dup residue dd* missed); low =
  // novel prose. The integer-ratio form of the perplexity-style
  // quality gate: ONE gram pass feeds both the per-doc stream and the
  // corpus counts (join on 8-byte gram hashes), and the single
  // count/count division is engine-exact — no logs, no sums of
  // doubles. ---
  def trigramNovelty(s: SparkSession, d: String,
                     commonMin: Long = 3L): DataFrame = {
    val perDoc = Dedup.gramStrings(s, d, 3)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
    val corpus = perDoc.groupBy("gh").agg(count(lit(1)).as("n_corpus"))
    perDoc.join(corpus, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("n_corpus") >= commonMin, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_trigrams"),
        col("n_common").cast("long").as("n_common"),
        round(col("n_common").cast("double")
          / col("n_trigrams").cast("double"), 6).as("common_ratio"))
      .orderBy("doc_id")
  }

  // --- TX3: content fingerprint (md5) — the exact-dedup / cache key. ---
  def fingerprints(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  // --- TX4: composite quality score in [0,1]: length in range,
  // lexical diversity, low stopword share — the usual pre-training
  // heuristic filter, as one deterministic rounded expression. ---
  def qualityScore(s: SparkSession, d: String): DataFrame =
    qualityScoreRaw(s, d).orderBy("doc_id")

  /** Unsorted (doc_id, quality) — the form pipeline stages consume
    * without paying a presentation sort (see Pipeline.corpusSelect).
    */
  private[operators] def qualityScoreRaw(s: SparkSession, d: String): DataFrame =
    tokenAggs(s, d, Seq("the", "a"))
      .select(col("doc_id"), qualityExpr.as("quality"))

  /** The tx4 quality formula over [[tokenAggs]] columns, factored to
    * ONE definition so a52's rater A can never drift from tx4's score.
    */
  private def qualityExpr: org.apache.spark.sql.Column = {
    val nTok = col("n_tokens").cast("double")
    val diversity = col("n_distinct").cast("double") / nTok
    val lengthOk = when(col("n_tokens").between(20, 2000), lit(1.0)).otherwise(lit(0.4))
    val stopShare = col("n_stop").cast("double") / nTok
    round(lengthOk * lit(0.4) + diversity * lit(0.4)
      + (lit(1.0) - least(stopShare * lit(2.0), lit(1.0))) * lit(0.2), 4)
  }

  /** Two deterministic heuristic "annotators" labeling every document
    * low/mid/high — the labeled-corpus shape an inter-annotator
    * agreement audit (a52) runs on. Rater A terciles tx4's quality
    * score (shared [[qualityExpr]] — diversity-driven); rater B
    * terciles the mean token length in characters (a different
    * feature, so agreement is informative rather than definitional).
    * Both raters ride ONE tokenAggs pass — no second tokenize.
    * Threshold boundaries compare engine-identical doubles (quality is
    * 4dp-rounded; avg_len is one division of exact ints) against
    * literal cuts, so the labels hash-replay exactly.
    */
  private[graft] def annotatorLabels(s: SparkSession, d: String): DataFrame =
    annotatorLabels3(s, d).select("doc_id", "rater_a", "rater_b")

  /** The three-rater extension (a53's Fleiss panel): rater C terciles
    * the stopword share — a third independent feature off the SAME
    * tokenAggs pass, so the whole panel still costs one tokenize.
    */
  private[graft] def annotatorLabels3(s: SparkSession, d: String): DataFrame =
    tokenAggs(s, d, Seq("the", "a"))
      .select(col("doc_id"), qualityExpr.as("quality"),
        ((col("n_chars") - (col("n_tokens") - 1)).cast("double")
          / col("n_tokens").cast("double")).as("avg_len"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double"))
          .as("stop_share"))
      .select(col("doc_id"),
        when(col("quality") < 0.72, "low")
          .when(col("quality") < 0.78, "mid")
          .otherwise("high").as("rater_a"),
        when(col("avg_len") < 4.43, "low")
          .when(col("avg_len") < 4.59, "mid")
          .otherwise("high").as("rater_b"),
        when(col("stop_share") < 0.046, "low")
          .when(col("stop_share") < 0.072, "mid")
          .otherwise("high").as("rater_c"))

  /** Stopword profiles for the language-ID heuristic. Real profiles
    * would be per-language function-word lists; the synthetic corpus
    * is shared-vocabulary, so this demonstrates the operator shape
    * (driver does a rows-only check; the spec asserts determinism).
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "fast", "join"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "et", "de"),
    "es" -> Seq("el", "la", "y", "de"),
    "zh" -> Seq("de", "le", "he", "shi"))

  // --- TX6: token counting two ways — whitespace and a BPE-ish
  // regex unit count (word pieces + digit runs); the regex count is
  // the pre-training cost estimator. ---
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
          .as("bpeish_tokens"))
      .orderBy("doc_id")

  // --- TX7: winnowing document fingerprints (rolling scheme): hash
  // every word 3-gram, take the min hash in each sliding window of 4
  // consecutive grams, emit the distinct minima. Standard winnowing
  // guarantee: any shared run of >= w+n-1 words between two docs
  // yields a shared fingerprint. Window-function form — codegen'd,
  // partition-parallel per doc.
  //
  // Hash choice: the default md5 hex string min-compares identically
  // in any engine (lexicographic), making the whole op DuckDB-
  // oracle-checkable; at 100 TB swap in `xxhash64(_)` so windows and
  // shuffles carry 8-byte longs instead of 32-char strings. The two
  // hashes select DIFFERENT minima (fingerprint sets are not
  // comparable across hash functions) — what both preserve is the
  // winnowing guarantee itself: every window of `window` consecutive
  // grams contains a selected fingerprint (asserted in Pack3Spec for
  // both variants). ---
  def winnowingFingerprints(s: SparkSession, d: String, window: Int = 4,
                            gramHash: org.apache.spark.sql.Column =>
                              org.apache.spark.sql.Column = md5(_)): DataFrame =
    winnowingFingerprintsRaw(s, d, window, gramHash)
      .orderBy("doc_id", "fp")

  /** Unsorted fingerprint relation — the form pipeline interiors
    * (dd29's pair screen) consume: the global sort is presentation,
    * and a consumer that re-partitions by fp anyway must not pay a
    * range exchange first.
    */
  def winnowingFingerprintsRaw(s: SparkSession, d: String, window: Int = 4,
                               gramHash: org.apache.spark.sql.Column =>
                                 org.apache.spark.sql.Column = md5(_)): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(window - 1), 0)
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - lit(2))).as("pos"))
      .select(col("doc_id"), col("pos"),
        gramHash(concat_ws(" ",
          element_at(col("ws"), col("pos")),
          element_at(col("ws"), col("pos") + 1),
          element_at(col("ws"), col("pos") + 2))).as("gh"))
      .withColumn("fp", min(col("gh")).over(w))
      .select("doc_id", "fp").distinct()
  }

  // --- TX9: text normalization — the canonicalization pass that runs
  // before any dedup/fingerprint stage: lowercase, strip every char
  // outside [a-z0-9 ], collapse whitespace runs, trim. One codegen'd
  // projection (map-only at 100 TB). ---
  def normalizeText(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ")).as("norm_text"))
      .orderBy("doc_id")

  // --- TX10: PII-style redaction — regex scrubbing of email-shaped
  // and long-digit-run substrings before a corpus ships to training.
  // Pure projection; patterns kept engine-portable (no lookaround) so
  // the op is oracle-checkable. ---
  def redactPii(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[0-9]{6,}", "<NUM>").as("redacted"),
        (length(col("text")) - length(
          regexp_replace(
            regexp_replace(col("text"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
            "[0-9]{6,}", "<NUM>"))).as("length_delta"))
      .orderBy("doc_id")

  // --- TX8: fuzzy matching — Levenshtein edit distance between part
  // names on a keyed subsample (the string leg of near-dup detection;
  // at scale candidates come from an n-gram or length blocking key,
  // never the full cross product). ---
  def fuzzyMatch(s: SparkSession, d: String,
                 maxDist: Int = 5, sampleMod: Long = 20L): DataFrame = {
    val p = graft.Tables.part(s, d)
      .filter(col("p_partkey") % sampleMod === 0)
      .select(col("p_partkey"), col("p_name"), length(col("p_name")).as("len"))
    // Length-bucket blocking key (r12): a join whose condition is pure
    // inequality planned as a nested loop — every pair of the sample
    // paid at least the length test, O(n²) at corpus scale. Buckets of
    // width maxDist+1 make |len(a)-len(b)| <= maxDist imply the bucket
    // ids differ by at most 1, so exploding one side to its bucket ±1
    // and equi-joining on the other side's single bucket visits each
    // qualifying pair EXACTLY once (unique (bktA, bktB) per pair) —
    // same rows, hash join instead of a loop. The residual predicate
    // is unchanged, cheapest test first: the length test is necessary
    // for edit distance <= maxDist, and the short-circuit AND skips
    // the O(n*k) levenshtein for pruned pairs. The thresholded
    // levenshtein overload band-limits the DP and bails at maxDist+1
    // instead of filling the full matrix.
    val w = maxDist + 1
    val bkt = floor(col("len") / w)
    val a = p.withColumn("bkt",
      explode(array(bkt - 1, bkt, bkt + 1)))
    val b = p.withColumn("bkt", bkt)
    a.as("a").join(b.as("b"),
        col("a.bkt") === col("b.bkt") &&
          col("a.p_partkey") < col("b.p_partkey") &&
          abs(col("a.len") - col("b.len")) <= maxDist &&
          levenshtein(col("a.p_name"), col("b.p_name"), maxDist) =!= -1)
      .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name"), maxDist))
      .filter(col("a.p_name") =!= col("b.p_name"))
      .select(col("a.p_partkey").as("key_a"), col("b.p_partkey").as("key_b"),
        col("a.p_name").as("name_a"), col("b.p_name").as("name_b"), col("dist"))
      .orderBy("key_a", "key_b")
  }

  // --- TX11: intra-document repetition signals (the Gopher-style
  // quality rules): per doc, total vs distinct word-bigram counts, the
  // duplicate-bigram ratio, and the top bigram's share of all bigrams.
  // High dup_ratio / top_share marks boilerplate and spam for removal
  // before training. Shape: explode bigrams -> two hash-aggs; both run
  // partial map-side, so the shuffle carries (doc, bigram-hash,
  // partial-count) — never raw text. Per-doc cardinality is bounded by
  // doc length, so no key skews beyond the longest document. ---
  def repetitionStats(s: SparkSession, d: String): DataFrame = {
    val ws = col("ws")
    val perBigram = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(ws) >= 2)
      .select(col("doc_id"), ws,
        explode(sequence(lit(1), size(ws) - lit(1))).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(ws, col("i")),
          element_at(ws, col("i") + lit(1))).as("bigram"))
      .groupBy("doc_id", "bigram")
      .agg(count(lit(1)).as("c"))
    perBigram.groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum(col("c")), 4)
          .as("dup_ratio"),
        round(max(col("c")).cast("double") / sum(col("c")), 4).as("top_share"))
      .orderBy("doc_id")
  }

  // --- TX12: TF-IDF top terms per document — the classic salience
  // ranking behind keyword extraction and sparse retrieval indexes.
  // Three aggregates over one exploded token relation: per-(doc,token)
  // TF, per-token DF (distinct docs), corpus N; IDF = ln(N/df) joins
  // back via broadcast (the token vocabulary is small relative to the
  // corpus), then a per-doc window takes the top 5. Ranking keys on
  // the ROUNDED score in both engines so any sub-rounding libm drift
  // falls into the deterministic token tiebreak. ---
  def tfidfTopTerms(s: SparkSession, d: String, topK: Int = 5): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // tf already has exactly one row per (doc_id, token), so document
    // frequency is a plain count over it — no second tokenize-explode
    // pass over the corpus and no countDistinct dedup aggregation.
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token").asc)
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("token"), col("tf"), col("tfidf"),
        col("rk").cast("int").as("rk"))
      .orderBy("doc_id", "rk")
  }

  // --- TX5: language-ID prediction vs the labeled lang column.
  // Shape: explode + broadcast profile join + hash agg + literal
  // argmax — NOT the per-row `filter(ws, …)` HOF (interpreted lambda
  // per token, the anti-pattern the Dedup header documents; the HOF
  // form measured ~10× this plan's cost on the 10× soak corpus). A
  // token matching k profiles contributes to all k scores via join
  // multiplicity — identical semantics to scoring each profile
  // independently. Docs with no profile token keep all-zero scores
  // through the left join; ties resolve to the LARGER lang string
  // (array_max over (score, lang) structs), matching the oracle's
  // ORDER BY score DESC, lng DESC. ---
  def langId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val langs = langProfiles.keys.toSeq.sorted
    val prof = langProfiles.toSeq.sortBy(_._1)
      .flatMap { case (lng, stops) => stops.map(w => (w, lng)) }
      .toDF("t", "plng")
    val scoreCols = langs.map(l =>
      sum(when(col("plng") === l, lit(1L)).otherwise(0L)).as("s_" + l))
    val scores = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .join(broadcast(prof), Seq("t"))
      .groupBy(col("doc_id"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    val best = array_max(array(langs.map(l =>
      struct(coalesce(col("s_" + l), lit(0L)).as("score"),
        lit(l).as("lang"))): _*)).getField("lang")
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(scores, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"), best.as("predicted"))
      .orderBy("doc_id")
  }

  /** The tx5 oracle's CTE chain (ws → scores → ranked, rn = 1 is the
    * prediction) — shared by the tx5 registration and tx24's
    * confusion matrix so the classifier definition cannot drift
    * between the operator and its evaluation.
    */
  def langIdOracleCtes: String = {
    val profiles = langProfiles.toSeq.sortBy(_._1).map { case (lng, st) =>
      s"('$lng', [${st.map(w => s"'$w'").mkString(", ")}])"
    }.mkString(", ")
    s"""ws AS (SELECT doc_id, lang, string_split(text, ' ') AS w
       |            FROM documents),
       |scores AS (
       |  SELECT doc_id, lang, p.lng,
       |    len(list_filter(w, t -> list_contains(p.stops, t))) AS score
       |  FROM ws, (VALUES $profiles) AS p(lng, stops)),
       |ranked AS (
       |  SELECT doc_id, lang, lng,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, lng DESC) AS rn
       |  FROM scores)""".stripMargin
  }

  // --- TX24: language-ID confusion matrix — tx5's classifier scored
  // against the corpus's ground-truth `lang` column: (actual,
  // predicted, n, recall) per cell, the audit that tells a filtering
  // pipeline WHICH languages its heuristic confuses before it trusts
  // the gate (the sq5/sim8 "evaluate the model with the engine"
  // pattern applied to classification). The matrix groups tx5's own
  // output relation, and the oracle shares tx5's CTE chain verbatim —
  // classifier and evaluation cannot drift. Recall is a per-row ratio
  // over the actual-language window (runs over the ≤|langs|² cell
  // aggregate). ---
  def langIdConfusion(s: SparkSession, d: String): DataFrame = {
    val byActual = Window.partitionBy("actual")
    langId(s, d)
      .groupBy(col("lang").as("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("recall",
        round(col("n").cast("double")
          / sum(col("n")).over(byActual).cast("double"), 6))
      .orderBy("actual", "predicted")
  }

  /** Oracle twin of [[langIdConfusion]] — tx5's chain + the cell
    * aggregation.
    */
  def langIdConfusionOracleSql(): String =
    s"""WITH $langIdOracleCtes,
       |cells AS (
       |  SELECT lang AS actual, lng AS predicted,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM ranked WHERE rn = 1 GROUP BY 1, 2)
       |SELECT actual, predicted, n,
       |  round(CAST(n AS DOUBLE)
       |    / CAST(sum(n) OVER (PARTITION BY actual) AS DOUBLE), 6)
       |    AS recall
       |FROM cells ORDER BY actual, predicted""".stripMargin

  // --- TX13: PMI collocations — pointwise-mutual-information ranking
  // of corpus bigrams, the standard signal for multi-word expressions
  // when building tokenizer/vocab pipelines. Three hash aggs (bigram
  // counts, unigram counts, corpus total), all map-side combined; the
  // two count joins broadcast the unigram table's relevant slice only
  // after the min-count filter has cut the bigram tail, so the big
  // shuffle is the one bigram explode.
  //
  // The ranked/compared value is LIFT = n_ab·N / (n_a·n_b), not
  // ln(lift) (= PMI): every product stays under 2^53 so the doubles
  // are exact and the one division is IEEE-correctly-rounded — bit-
  // identical across engines. ln() is only ~1-ULP accurate per libm
  // with no cross-engine agreement, and a 1-ULP flip on the sort/limit
  // key or a 4dp rounding boundary would break the oracle gate at some
  // SF. ln is monotone, so lift order IS PMI order. ---
  def pmiCollocations(s: SparkSession, d: String,
                      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    val ws = Tables.documents(s, d)
      .select(Text.tokens(col("text")).as("ws"))
    val uni = ws.select(explode(col("ws")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
    val total = uni.agg(sum(col("n")).as("big_n"))
    // codegen explode form, not the wordNgrams HOF (interpreted lambda
    // per element — the hot-path rule the Dedup header documents)
    val bi = Dedup.gramStrings(s, d, 2)
      .select(col("gram").as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .withColumn("a", split_part(col("bigram"), lit(" "), lit(1)))
      .withColumn("b", split_part(col("bigram"), lit(" "), lit(2)))
    bi.join(uni.select(col("t").as("a"), col("n").as("n_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("n").as("n_b")), Seq("b"))
      .crossJoin(broadcast(total))
      .withColumn("lift_raw",
        col("n_ab").cast("double") * col("big_n").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")))
      .orderBy(col("lift_raw").desc, col("bigram").asc)
      .limit(topK)
      .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("lift_raw"), 4).as("lift"))
  }

  // --- TX17: BPE merge training — the tokenizer-training inner loop
  // as Spark relational algebra, one merge per round:
  //
  //   1. words as delimited symbol strings ("value" → "|v||a||l||u||e|"
  //      — the |sym| framing makes the pair-merge a plain substring
  //      replace with NO shared boundary characters, so left-to-right
  //      non-overlapping replacement == the standard greedy BPE merge);
  //   2. adjacent-pair counts weighted by corpus word frequency (exact
  //      integers — deterministic argmax with (count DESC, pair ASC)
  //      tie-break);
  //   3. merge the winning pair in every word; repeat.
  //
  // The corpus is scanned ONCE (the word-frequency aggregate); every
  // round then runs over the localCheckpoint'd vocabulary relation —
  // vocab-sized, corpus-independent, exactly how production BPE
  // trainers work (count words first, train on the weighted vocab).
  // Per-round driver traffic is the single winning pair. The DuckDB
  // oracle unrolls the same rounds as CTE blocks (replace() has the
  // same left-to-right non-overlap semantics) and hash-checks every
  // merge decision. ---
  // --- TX18: content-defined chunking + chunk-level dedup. Fixed-size
  // chunking breaks under a single inserted character (every later
  // chunk shifts); CDC puts boundaries where a rolling content hash
  // hits a modulus (Rabin-Karp polynomial of the w-byte window ≡ 0
  // mod D → average chunk ~D chars), so identical passages chunk
  // identically REGARDLESS of their offset in the document — the
  // property that lets chunk-level dedup catch copied paragraphs
  // doc-level near-dup misses. Boundary detection is the native
  // rolling-hash expression (plans.CdcBoundaries): O(1) per position
  // inside whole-stage codegen, vs the declarative per-position-md5
  // chain it replaced (one md5 per character of the corpus — measured
  // 2.4 s → sub-second at sf0.1). Stateless variant (no min/max chunk
  // guards): every position tests independently — production guards
  // add a sequential pass per doc, shape otherwise unchanged. Output:
  // chunks shared by ≥2 documents (portable h60 chunk fingerprints,
  // exact integer counts — the DuckDB oracle replays the whole chain,
  // the boundary hash as a 16-term polynomial sum). ---
  def cdcSharedChunks(s: SparkSession, d: String,
                      window: Int = 16, divisor: Int = 64,
                      topK: Int = 25): DataFrame =
    cdcSharedChunksOf(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      window, divisor, topK)

  /** Same over an arbitrary (doc_id, text) relation — the form the
    * shift-invariance property test drives with constructed documents.
    */
  private[graft] def cdcSharedChunksOf(docsIn: DataFrame,
                                       window: Int, divisor: Int,
                                       topK: Int): DataFrame = {
    val docs = docsIn.select(col("doc_id"), col("text"))
    // boundary positions: 2..len-w+1 (a chunk always starts at 1)
    val bounds = docs
      .select(col("doc_id"),
        explode(graft.plans.CdcBoundaries.cdcBounds(
          col("text"), window, divisor)).as("pos"))
    val starts = docs.select(col("doc_id"), lit(1).as("pos"))
      .unionByName(bounds)
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val chunks = starts
      .withColumn("next", lead(col("pos"), 1).over(wdoc))
      .join(docs, "doc_id")
      .select(col("doc_id"),
        col("pos").as("start"),
        (coalesce(col("next"), length(col("text")) + 1) - col("pos")).as("clen"),
        Text.h60(expr("substring(text, pos, " +
          "coalesce(next, length(text) + 1) - pos)")).as("fp"))
    chunks.groupBy("fp", "clen")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      // report only chunks at least one window long: sub-window slivers
      // (boundary-adjacent runs) are trivially shared and carry no
      // copied-passage signal — production CDC suppresses them with a
      // min-chunk guard at boundary time; the stateless variant filters
      // them at the report instead
      .filter(col("n_docs") >= 2 && col("clen") >= window)
      .orderBy(col("n_docs").desc, col("clen").desc, col("fp").asc)
      .limit(topK)
  }

  def bpeMerges(s: SparkSession, d: String, merges: Int = 10): DataFrame = {
    val (steps, _) = bpeTrain(s, d, merges)
    import s.implicits._
    steps.toDF("step", "sym_a", "sym_b", "pair_count", "merged")
      .orderBy("step")
  }

  // --- TX20: BPE ENCODING — apply the trained merge table to the
  // corpus and report the resulting token distribution (top-k by
  // corpus frequency). Training's |sym| framing makes application a
  // rank-ordered chain of plain substring replaces over the WEIGHTED
  // VOCABULARY — the corpus is still scanned exactly once (the word-
  // frequency aggregate); encoding cost is vocab-sized, corpus-
  // independent, and each token's corpus count is Σ freq over the
  // words containing it — exactly how production tokenizers batch-
  // encode (encode distinct words, multiply by counts). The DuckDB
  // oracle replays training AND encoding (same replace semantics),
  // so every merge decision and the final token histogram are both
  // hash-checked. ---
  def bpeEncodeTopTokens(s: SparkSession, d: String,
                         merges: Int = 10, topK: Int = 30): DataFrame = {
    val (_, words) = bpeTrain(s, d, merges)
    words
      .select(col("freq"), expr(
        "split(substring(wstr, 2, length(wstr) - 2), '\\\\|\\\\|')").as("sy"))
      .select(explode(col("sy")).as("token"), col("freq"))
      .groupBy("token").agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(topK)
  }

  /** Shared trainer for tx17/tx20: the merge-step log AND the final
    * merged vocabulary relation.
    */
  private def bpeTrain(s: SparkSession, d: String, merges: Int)
      : (Seq[(Int, String, String, Long, String)], DataFrame) = {
    import org.apache.spark.sql.DataFrame
    var words: DataFrame = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(expr("regexp_replace(w, '(.)', '|$1|')").as("wstr"), col("freq"))
      .localCheckpoint() // shared subplan: the first merge's pick and rewrite
    val steps = (0 until merges).map { i =>
      val best = words
        .select(col("freq"), expr(
          "split(substring(wstr, 2, length(wstr) - 2), '\\\\|\\\\|')").as("sy"))
        // guard: sequence(1, 0) is DESCENDING in Spark, not empty
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(
          expr("transform(sequence(1, size(sy) - 1), " +
            "j -> struct(sy[j - 1] AS a, sy[j] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).head
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      words = words
        .withColumn("wstr", expr(s"replace(wstr, '|$a||$b|', '|$a$b|')"))
        .localCheckpoint() // lineage cut per merge
      (i, a, b, cnt, a + b)
    }
    (steps, words)
  }

  // --- TX21: TextRank keyword extraction [Mihalcea & Tarau, EMNLP'04]
  // — WEIGHTED PageRank over the word co-occurrence graph: nodes are
  // vocabulary words, edge weight = corpus-wide count of the two words
  // appearing ADJACENT (either order), and the stationary rank is the
  // keyword salience score. This composes the text family with gr1's
  // integer fixed-point machinery: rank_{k+1}(v) = teleport +
  // (85 · Σ_{u~v} (pr_u · w_uv) div strength_u) div 100 in scaled
  // longs (strength_u = Σ_v w_uv), so every round hash-oracles — the
  // weighted variant gr1/gr5 don't cover. The corpus is scanned ONCE
  // (the adjacency-count aggregate); iterations then run over the
  // VOCABULARY graph — corpus-independent size, the same
  // count-first-then-train shape as tx17. Adjacent pairs come from a
  // per-row array transform (filter empties first so adjacency is
  // over real tokens), never a positional self-join. Overflow: the
  // per-edge product pr·w needs pr·max(w) < 2^63 — holds through
  // petabyte-scale adjacency counts (pr ≤ |V|·scale ≈ 3e10 here);
  // an extreme corpus would rescale weights by their GCD first. ---
  def textRank(s: SparkSession, d: String, iters: Int = 5,
               scale: Long = 1000000000L, topK: Int = 20): DataFrame = {
    val pairs = Tables.documents(s, d)
      .select(expr("filter(split(text, ' '), x -> length(x) > 0)").as("ws"))
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i - 1] AS a, ws[i] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val directed = pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a").as("src"), col("b").as("dst"))
      .agg(count(lit(1)).as("w"))
    // shared subplans: every round reads the edges and the strengths
    val edges = directed.localCheckpoint()
    val deg = edges.groupBy("src").agg(sum(col("w")).as("strength"))
      .select(col("src").as("node"), col("strength"))
      .localCheckpoint()
    val teleport = 15L * scale / 100L
    var ranks = deg.select(col("node"), col("strength"),
      lit(scale).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = ranks
        .join(edges, ranks("node") === edges("src"))
        .select(col("dst").as("node"),
          expr("(pr * w) div strength").as("c"))
      ranks = deg.join(
          contrib.groupBy("node")
            .agg((lit(teleport) + expr("(85 * sum(c)) div 100")).as("pr")),
          "node")
        .select(col("node"), col("strength"), col("pr"))
        .localCheckpoint() // lineage cut per round
    }
    ranks.select(col("node").as("word"), col("pr"))
      .orderBy(col("pr").desc, col("word").asc)
      .limit(topK)
  }

  /** Oracle twin of [[textRank]]: the weighted fixed-point chain
    * unrolled (gr1's contract — DuckDB `//` matches Spark `div` on
    * the all-positive ranks; per-round CAST undoes HUGEINT promotion).
    */
  def textRankOracleSql(iters: Int = 5, scale: Long = 1000000000L,
                        topK: Int = 20): String = {
    val teleport = 15L * scale / 100L
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT d.node, d.strength,
         |    CAST($teleport + (85 * sum((r.pr * e.w) // r.strength)) // 100
         |      AS BIGINT) AS pr
         |  FROM r${i - 1} r JOIN edges e ON e.src = r.node
         |  JOIN deg d ON d.node = e.dst
         |  GROUP BY d.node, d.strength)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (
       |  SELECT list_filter(string_split(text, ' '), x -> length(x) > 0)
       |    AS ws FROM documents),
       |p0 AS (
       |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
       |    i -> {'a': ws[i], 'b': ws[i + 1]})) AS p FROM w),
       |pairs AS (SELECT p.a AS a, p.b AS b FROM p0),
       |edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs)
       |  GROUP BY 1, 2),
       |deg AS MATERIALIZED (
       |  SELECT src AS node, CAST(sum(w) AS BIGINT) AS strength
       |  FROM edges GROUP BY 1),
       |r0 AS (SELECT node, strength, CAST($scale AS BIGINT) AS pr FROM deg),
       |$rounds
       |SELECT node AS word, pr FROM r$iters
       |ORDER BY pr DESC, word ASC LIMIT $topK""".stripMargin
  }

  // --- TX22: Zipf-law fit — OLS of ln(freq) on ln(rank) over the
  // token frequency table: the slope estimates −s in freq ∝ rank^−s,
  // and r² says how Zipfian the corpus is — the profiling statistic
  // behind vocabulary sizing and degenerate-corpus detection (a
  // machine-generated corpus shows a tell-tale flat/low-r² profile).
  // Composes tx2's frequency table with a26's regression algebra; the
  // global frequency rank comes from GlobalOrder.withRowNumber
  // (dp10's range-partition + offset two-pass), so the vocabulary —
  // which grows with the corpus under Heaps' law — never sorts on one
  // task. Log/sum doubles differ across engines only in last-bit
  // noise (≪ the 6-decimal output rounding); counts and ranks
  // themselves are exact. ---
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val freq = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val xy = GlobalOrder.withRowNumber(freq, "rk",
        col("cnt").desc, col("token").asc)
      .select(log(col("rk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    xy.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").cast("long").as("n_tokens"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
          / col("n"), 6).as("intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy"))
          * (col("n") * col("sxy") - col("sx") * col("sy")))
          / ((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** Oracle twin of [[zipfFit]] — identical rank/log/moment chain. */
  def zipfFitOracleSql(): String =
    """WITH freq AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE length(token) > 0 GROUP BY token),
      |xy AS (
      |  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, token ASC)
      |            AS DOUBLE)) AS x,
      |    ln(CAST(cnt AS DOUBLE)) AS y
      |  FROM freq),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
      |    sum(y * y) AS syy, sum(x * y) AS sxy
      |  FROM xy)
      |SELECT CAST(n AS BIGINT) AS n_tokens,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      |    AS intercept,
      |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM m""".stripMargin

  // --- TX19: BM25 ranked retrieval — the search-engine scoring layer
  // over the same tf/df/length statistics tx12 materializes. Okapi
  // BM25 (k1 = 1.2, b = 0.75): idf smoothed as ln(1 + (N − df + ½)/
  // (df + ½)), tf saturated by k1 and normalized by doc length against
  // the corpus mean. At 100 TB this is three broadcastable side tables
  // (per-term df, corpus N/avgdl — both tiny) against one partition-
  // parallel tf relation: the only corpus-wide shuffle is the tf
  // group-by, and the query-term filter cuts it to the posting lists
  // of the query terms BEFORE the shuffle (predicate on the exploded
  // token — at scale, an inverted index / pp1-style partition by term
  // serves the same filter from layout). Constants are written as the
  // SAME literals on both engines and every arithmetic step is double
  // with identical association order, so round-6 scores cross-match
  // (the tx12/tx13 float discipline). Ordering is by the ROUNDED
  // score with doc_id tie-break — a total order both engines agree on.
  def bm25TopDocs(s: SparkSession, d: String,
                  terms: Seq[String] = Seq("window", "merge", "scan"),
                  topK: Int = 20): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = tok.filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    bm25Tail(tf, dl, topK)
  }

  /** The Okapi scoring tail shared by batch tx19 and the stream-
    * maintained posting-list read side ([[graft.streaming.Streams
    * .readBm25]]): identical idf/saturation arithmetic over whatever
    * (doc_id, token, tf) and (doc_id, dl) relations the caller
    * derived, so the two paths can never score differently.
    */
  private[graft] def bm25Tail(tf: DataFrame, dl: DataFrame,
                              topK: Int): DataFrame = {
    val st = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(dfq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(1.0) - lit(0.75) +
              lit(0.75) * col("dl").cast("double") / col("avgdl"))))
    contrib.groupBy("doc_id")
      .agg(round(sum(col("contrib")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** BM25 from a maintained inverted index: postings carry every
    * (doc_id, token, tf); dl re-derives as Σtf per doc (tf preserves
    * multiplicity, so the sum IS the token count the batch path
    * counts directly). The term filter cuts the posting scan to the
    * query terms' lists — the serving read path.
    */
  private[graft] def bm25FromPostings(postings: DataFrame,
                                      terms: Seq[String],
                                      topK: Int): DataFrame = {
    val dl = postings.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val tf = postings.filter(col("token").isin(terms: _*))
      .select("doc_id", "token", "tf")
    bm25Tail(tf, dl, topK)
  }

  // --- TX23: source-divergence keywords — which tokens most
  // distinguish one source's language from another's? Per token a 2×2
  // contingency (this token vs all others × source A vs B); its χ²
  // contribution reduces to N·d²/(n_a·n_b·(o_a+o_b)·(N−o_a−o_b)) with
  // d = o_a·n_b − o_b·n_a — the signed EXACT-integer cross statistic
  // (sign says which source the token leans toward; hash-checked raw).
  // Doubles appear only per-row (one identical expression both
  // engines, no cross-row FP summation — the reason this ranks by
  // per-token χ² instead of reporting a corpus-level χ² total). Shape:
  // the exploded tokens shuffle as xxhash64 HASHES (strings never
  // cross the wire — the dd13/tx27 discipline), one hash agg with
  // map-side partials; the marginal totals na/nb are a 1-row aggregate
  // attached by broadcast (plans as BNLJ, the sanctioned tiny-cross
  // shape — never a global window over the vocabulary, which grows
  // with the corpus). Winner strings come back from the persisted
  // vocabulary-sized token catalog (TextIndex.tokenCatalog) for the
  // ≤topN+slack shortlist only; the final cut is on (chi2, token) —
  // the engine-independent key — so a boundary tie group merely has
  // to fit in the slack for both engines to cut identically. This is
  // the distinctive-vocabulary gate a mixing pipeline runs before
  // assuming two crawls are interchangeable. ---
  def sourceDivergence(s: SparkSession, d: String,
                       srcA: String = "src0", srcB: String = "src1",
                       topN: Int = 20, minCount: Int = 5): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val perTok = Tables.documents(s, d)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), explode(Text.tokens(col("text"))).as("token"))
      .select(col("source"), xxhash64(col("token")).as("h"))
      .groupBy("h")
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("oa"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("ob"))
      // shared subplan: the row relation and the 1-row marginal agg
      .localCheckpoint()
    val scored = perTok
      .crossJoin(broadcast(perTok.agg(sum(col("oa")).as("na"),
        sum(col("ob")).as("nb"))))
      .filter(col("oa") + col("ob") >= minCount)
      .withColumn("nn", col("na") + col("nb"))
      .withColumn("dcross", col("oa") * col("nb") - col("ob") * col("na"))
      .withColumn("chi2",
        dbl(col("nn")) * dbl(col("dcross")) * dbl(col("dcross"))
          / (dbl(col("na")) * dbl(col("nb")) * dbl(col("oa") + col("ob"))
            * dbl(col("nn") - col("oa") - col("ob"))))
    val shortlist = scored
      .orderBy(col("chi2").desc, col("h").asc)
      .limit(topN + 20)
    val winnerHashes = shortlist.select("h").collect().map(_.getLong(0))
    val names = graft.sources.TextIndex.tokenCatalog(s, d)
      .filter(col("h").isin(winnerHashes.toSeq: _*))
      .groupBy("h").agg(min(col("token")).as("token"))
    shortlist.join(broadcast(names), Seq("h"))
      .orderBy(col("chi2").desc, col("token").asc)
      .limit(topN)
      .select(col("token"), col("oa"), col("ob"), col("dcross"),
        round(col("chi2"), 6).as("chi2"))
  }

  // --- TX25: lexical-diversity profile per source — Simpson repeat
  // rate Σnᵢ(nᵢ−1)/(N(N−1)) and Yule's K = 10⁴·(Σnᵢ²−N)/N² over the
  // per-source token-frequency spectrum. These are the concentration
  // statistics a corpus-mix report uses to spot template-y or
  // low-entropy sources before training (high repeat rate = few token
  // types dominate); unlike per-doc TTR (tx1/tx4's diversity input)
  // they measure the SOURCE distribution, and unlike entropy they stay
  // in exact integer arithmetic until one final IEEE division — sums
  // of nᵢ² are order-independent longs (< 2⁵³ through sf10-scale
  // sources), so the oracle is bit-stable where Σp·ln(p) would be
  // libm-dependent. Shape: explode → (source, token) hash agg with
  // map-side combine → per-source rollup over ≤|vocab| rows; the one
  // data-scale shuffle carries (token, partial count), never raw text.
  // ---
  def lexicalDiversity(s: SparkSession, d: String): DataFrame =
    diversityFromSpectrum(tokenSpectrum(
      Tables.documents(s, d).select("source", "text")))

  /** The (source, t, n) token-frequency spectrum — tx25's additive
    * state, shared with the streaming twin (per-batch spectrum deltas
    * over disjoint docs merge by summing n per (source, t)).
    */
  private[graft] def tokenSpectrum(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(Text.tokens(col("text"))).as("t"))
      .groupBy("source", "t")
      .agg(count(lit(1)).as("n"))

  /** The statistics tail over a merged spectrum — one definition for
    * the batch query and the stream read side, so the two can never
    * disagree on the formulas.
    */
  private[graft] def diversityFromSpectrum(tf: DataFrame): DataFrame =
    tf.groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("n") * (col("n") - 1)).as("rep"),
        sum(col("n") * col("n")).as("sq"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("rep").cast("double")
          / (col("n_tokens") * (col("n_tokens") - 1)).cast("double"), 6)
          .as("simpson"),
        round(lit(10000.0) * (col("sq") - col("n_tokens")).cast("double")
          / (col("n_tokens") * col("n_tokens")).cast("double"), 4)
          .as("yule_k"))
      .orderBy("source")

  // --- TX26: per-document SELF-PERPLEXITY under the corpus trigram
  // LM — mean_nll = Σ (ln n_ctx − ln n_tri) / N over the doc's word
  // trigrams, i.e. the negative mean log of tx15's conditional
  // P(t3|t1,t2). THE canonical LLM-pipeline quality filter (drop
  // high-perplexity noise, flag low-perplexity boilerplate); tx16 is
  // its integer-ratio cousin, this is the real log form. No smoothing
  // term: the LM is trained on the corpus being scored, so every doc
  // trigram has n_tri ≥ 1 by construction. Numerics, deliberately:
  // the per-doc sum of ~10²–10³ ln terms carries ≲1e-13 absolute
  // error from libm's 1-ulp ln and engine-dependent summation order —
  // rounding mean_nll to 4dp leaves a 5e-5 half-width boundary, nine
  // orders above the jitter, so the oracle hash is stable where a
  // 6dp sort key on raw ln sums would not be (tx13's lift-not-PMI
  // rationale, applied in reverse). Shape: one trigram explode
  // projected to (doc_id, source, gh, ch) HASHES — strings never
  // shuffle — two hash aggs with map-side combine for the counts,
  // count joins left to AQE (the trigram-type relation grows with
  // vocab, not corpus, but hard-broadcasting a grow-with-data side
  // would be the 100 TB smell), and one per-doc rollup. ---
  def perplexityScore(s: SparkSession, d: String): DataFrame = {
    val ws = col("ws")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .filter(size(ws) >= 3)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), size(ws) - lit(2))).as("i"), ws)
      .select(col("doc_id"), col("source"),
        xxhash64(element_at(ws, col("i")), element_at(ws, col("i") + 1),
          element_at(ws, col("i") + 2)).as("gh"),
        xxhash64(element_at(ws, col("i")), element_at(ws, col("i") + 1))
          .as("ch"))
    val triCnt = base.groupBy("gh", "ch").agg(count(lit(1)).as("n_tri"))
    val ctxCnt = triCnt.groupBy("ch").agg(sum(col("n_tri")).as("n_ctx"))
    base.join(triCnt, Seq("gh", "ch")).join(ctxCnt, Seq("ch"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tri_doc"),
        sum(log(col("n_ctx").cast("double"))
          - log(col("n_tri").cast("double"))).as("nll"))
      .select(col("doc_id"), col("source"), col("n_tri_doc"),
        round(col("nll") / col("n_tri_doc").cast("double"), 4).as("mean_nll"))
      .orderBy("doc_id")
  }

  /** Oracle twin of [[perplexityScore]] — DuckDB counts the trigrams
    * by their strings (no xxhash64 there; equal counts unless a
    * 64-bit gram-hash collision, the dd-family's standing trade) and
    * replays the same ln sum and 4dp rounding.
    */
  def perplexityScoreOracleSql(): String =
    """WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS ws
      |            FROM documents),
      |tri AS (
      |  SELECT doc_id, source,
      |    ws[i] AS t1, ws[i + 1] AS t2, ws[i + 2] AS t3
      |  FROM (SELECT doc_id, source, ws,
      |          unnest(range(1, len(ws) - 1)) AS i
      |        FROM ws WHERE len(ws) >= 3)),
      |tc AS (SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_tri
      |       FROM tri GROUP BY 1, 2, 3),
      |cc AS (SELECT t1, t2, CAST(sum(n_tri) AS BIGINT) AS n_ctx
      |       FROM tc GROUP BY 1, 2)
      |SELECT tri.doc_id, tri.source,
      |  CAST(count(*) AS BIGINT) AS n_tri_doc,
      |  round(sum(ln(CAST(n_ctx AS DOUBLE)) - ln(CAST(n_tri AS DOUBLE)))
      |    / count(*), 4) AS mean_nll
      |FROM tri JOIN tc USING (t1, t2, t3) JOIN cc USING (t1, t2)
      |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  // --- TX27: token BURSTINESS — the variance-to-mean ratio (index of
  // dispersion) of each token's per-document count, zeros included:
  // VMR = (Σc²/N − (Σc/N)²) / (Σc/N) over all N docs. Content words
  // clump (a doc about a topic repeats its nouns — VMR ≫ 1); function
  // words spread Poisson-like (VMR ≈ 1) [Church & Gale 1995]. The
  // canonical keyword/stopword separator next to tx12's tf-idf, and a
  // quality signal: corpora of stitched boilerplate show inflated VMR
  // on template tokens. Shape: tokens shuffle as xxhash64 HASHES
  // through both count aggs (the dd13 discipline); Σc, Σc², df are
  // integer-exact so the ranking key is deterministic; winner strings
  // come from the persisted vocabulary-sized token catalog
  // (TextIndex.tokenCatalog — h-sorted, so the isin probe prunes at
  // row-group stats), NOT a second corpus tokenize: the corpus is
  // scanned exactly once. Ranking rounds VMR to 4dp before the sort so
  // the cross-engine double jitter (≲1e-12) cannot reorder the cut. ---
  def burstiness(s: SparkSession, d: String,
                 minDf: Int = 5, topK: Int = 20): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.count().toDouble
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      .select(col("doc_id"), xxhash64(col("tk")).as("h"))
    val perDoc = tok.groupBy("h", "doc_id")
      .agg(count(lit(1)).as("c"))
    val stats = perDoc.groupBy("h")
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
        sum(col("c") * col("c")).as("sumsq"))
      .filter(col("df") >= minDf)
      .withColumn("mean", col("tf").cast("double") / nDocs)
      .withColumn("vmr", round(
        (col("sumsq").cast("double") / nDocs - col("mean") * col("mean"))
          / col("mean"), 4))
    // shortlist topK + slack by the hash tie-break, recover strings for
    // the shortlist only, and make the FINAL cut on (vmr, tf, token) —
    // the engine-independent key. A boundary (vmr, tf) tie group merely
    // has to fit in the slack for both engines to cut identically.
    val shortlist = stats
      .orderBy(col("vmr").desc, col("tf").desc, col("h").asc)
      .limit(topK + 20)
    val winnerHashes = shortlist.select("h").collect().map(_.getLong(0))
    val names = graft.sources.TextIndex.tokenCatalog(s, d)
      .filter(col("h").isin(winnerHashes.toSeq: _*))
      .groupBy("h").agg(min(col("token")).as("token"))
    shortlist.join(broadcast(names), Seq("h"))
      .orderBy(col("vmr").desc, col("tf").desc, col("token").asc)
      .limit(topK)
      .select(col("token"), col("df"), col("tf"), col("vmr"))
      .orderBy(col("vmr").desc, col("tf").desc, col("token").asc)
  }

  /** Oracle twin of [[burstiness]] — DuckDB groups by the token
    * STRINGS (hash-collision equivalence is the dd-family's standing
    * trade) and replays the same VMR and the same final
    * (vmr, tf, token) cut; the Spark side's hash-ordered shortlist
    * only has to contain that cut, which its slack guarantees for any
    * boundary tie group of ≤ 20 tokens.
    */
  def burstinessOracleSql(minDf: Int = 5, topK: Int = 20): String =
    s"""WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |pd AS (
       |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2),
       |st AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS df,
       |    CAST(sum(c) AS BIGINT) AS tf,
       |    CAST(sum(c * c) AS BIGINT) AS sumsq
       |  FROM pd GROUP BY 1),
       |v AS (
       |  SELECT token, df, tf,
       |    round((CAST(sumsq AS DOUBLE) / nd
       |        - (CAST(tf AS DOUBLE) / nd) * (CAST(tf AS DOUBLE) / nd))
       |      / (CAST(tf AS DOUBLE) / nd), 4) AS vmr
       |  FROM st CROSS JOIN n WHERE df >= $minDf)
       |SELECT token, df, tf, vmr FROM v
       |ORDER BY vmr DESC, tf DESC, token ASC LIMIT $topK""".stripMargin

  // --- TX28: FLESCH READING EASE per source — 206.835 − 1.015·(W/S)
  // − 84.6·(Sy/W) over corpus-level exact counts: words = space
  // tokens, sentences = terminal-punctuation runs (min 1 per doc so a
  // fragment counts as one sentence), syllables = [aeiouy]+ vowel
  // groups per word (min 1 — the standard heuristic for consonant
  // fragments). The classic corpus-quality knob next to tx4's ratio
  // score: training mixes report it per source to spot OCR debris
  // (absurdly high) and legalese (deeply negative). Everything is an
  // integer sum until the one closed-form formula — the tx25
  // bit-stability rationale. Per-row work is a codegen'd HOF chain
  // (transform + aggregate, no UDF); one hash-agg by source. ---
  def readability(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val syllables = aggregate(
      transform(words, w => greatest(
        size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))),
        lit(1))),
      lit(0L), (acc, x) => acc + x.cast("long"))
    val sentences = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
    Tables.documents(s, d)
      .select(col("source"), size(words).cast("long").as("w"),
        sentences.cast("long").as("st"), syllables.as("sy"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("st")).as("n_sentences"),
        sum(col("sy")).as("n_syllables"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * col("n_words").cast("double")
            / col("n_sentences").cast("double")
          - lit(84.6) * col("n_syllables").cast("double")
            / col("n_words").cast("double"), 4).as("flesch"))
      .orderBy("source")
  }

  /** Oracle twin of [[readability]] — the same tokenization, vowel
    * grouping, and minimum clamps in DuckDB list functions.
    */
  def readabilityOracleSql(): String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |      AS BIGINT) AS st,
      |    CAST(list_sum(list_transform(string_split(text, ' '),
      |      x -> greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')),
      |                    1))) AS BIGINT) AS sy
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS n_words,
      |  CAST(sum(st) AS BIGINT) AS n_sentences,
      |  CAST(sum(sy) AS BIGINT) AS n_syllables,
      |  round(206.835
      |    - 1.015 * CAST(sum(w) AS DOUBLE) / CAST(sum(st) AS DOUBLE)
      |    - 84.6 * CAST(sum(sy) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 4)
      |    AS flesch
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** Oracle twin of [[lexicalDiversity]] — same frequency spectrum and
    * integer sums, one division per statistic.
    */
  def lexicalDiversityOracleSql(): String =
    """WITH tf AS (
      |  SELECT source, t, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
      |        FROM documents)
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
      |    CAST(count(*) AS BIGINT) AS vocab,
      |    CAST(sum(n * (n - 1)) AS BIGINT) AS rep,
      |    CAST(sum(n * n) AS BIGINT) AS sq
      |  FROM tf GROUP BY 1)
      |SELECT source, n_tokens, vocab,
      |  round(CAST(rep AS DOUBLE)
      |    / CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 6) AS simpson,
      |  round(10000.0 * CAST(sq - n_tokens AS DOUBLE)
      |    / CAST(n_tokens * n_tokens AS DOUBLE), 4) AS yule_k
      |FROM agg ORDER BY source""".stripMargin

  // --- TX29: COLLOCATION strength via Dunning's log-likelihood G²
  // [Dunning, CL 1993] — which adjacent word pairs co-occur far more
  // than their unigram frequencies predict? The statistic tf-idf and
  // PMI both get wrong on sparse counts (G² is the likelihood-ratio
  // form that stays calibrated at low frequency — Dunning's whole
  // point): per bigram, the 2×2 contingency (first = w1?) × (second
  // = w2?) over ALL adjacent pairs, G² = 2·Σ O·ln(O/E). Candidates
  // are constrained to bigrams of FREQUENT tokens (top-F unigrams by
  // (count, token) — collocations among rare words are unstable and
  // both engines cut the same F-set because the tie-break is the
  // string): that bounds the cell lattice at (F+1)², which is what
  // makes ONE corpus-scale shuffle enough — each bigram occurrence
  // maps to its (frequent-or-null, frequent-or-null) cell, the cell
  // relation is ≤ (F+1)² rows, and every marginal (c1, c2, N) is a
  // tiny re-aggregate of the cells, never a corpus re-scan. Counts
  // are exact integers; each G² is one fixed written-order per-row
  // expression of those integers; the cut key is (round(G²,4) desc,
  // w1, w2). Winner strings come from the same frequent-set collect
  // that defines the lattice (the tokenCatalog ranks it), so no
  // second corpus pass exists anywhere. ---
  def collocations(s: SparkSession, d: String, topF: Int = 200,
                   minPair: Long = 5L, topK: Int = 20): DataFrame = {
    val docs = Tables.documents(s, d)
    // frequent set: top-F unigrams by (count desc, token asc) — the
    // string tie-break is what lets DuckDB cut the identical set; the
    // persisted tokenCatalog supplies strings without a string shuffle
    // (the count agg rides hashes, the catalog join is vocab-scale).
    val uni = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .select(xxhash64(col("token")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))
    val freq = uni
      .join(graft.sources.TextIndex.tokenCatalog(s, d), Seq("h"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topF)
      .select("h", "token")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val freqHashes = freq.map(_._1).toSeq
    val ws = col("ws")
    val bi = docs
      .select(split(col("text"), " ").as("ws"))
      .filter(size(ws) >= 2)
      .select(explode(sequence(lit(1), size(ws) - lit(1))).as("i"), ws)
      .select(xxhash64(element_at(ws, col("i"))).as("h1"),
        xxhash64(element_at(ws, col("i") + 1)).as("h2"))
    // one corpus-scale shuffle: every adjacent pair lands in its
    // (frequent-or-null, frequent-or-null) cell; NULL collapses all
    // non-frequent tokens, so the grouped relation is ≤ (F+1)² rows
    val cells = bi
      .select(when(col("h1").isin(freqHashes: _*), col("h1")).as("f1"),
        when(col("h2").isin(freqHashes: _*), col("h2")).as("f2"))
      .groupBy("f1", "f2").agg(count(lit(1)).as("nn"))
      .localCheckpoint() // shared subplan: the total and both marginals
    val tot = cells.agg(sum(col("nn")).as("n_total"))
    val c1 = cells.filter(col("f1").isNotNull)
      .groupBy(col("f1").as("m1")).agg(sum(col("nn")).as("c1"))
    val c2 = cells.filter(col("f2").isNotNull)
      .groupBy(col("f2").as("m2")).agg(sum(col("nn")).as("c2"))
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    def term(o: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column,
             cc: org.apache.spark.sql.Column) =
      when(o > 0, dbl(o) * log(dbl(o)
        / (dbl(r) * dbl(cc) / dbl(col("n_total"))))).otherwise(lit(0.0))
    val names = s.createDataFrame(freq.toSeq).toDF("h", "w")
    val scored = cells
      .filter(col("f1").isNotNull && col("f2").isNotNull &&
        col("nn") >= minPair)
      .select(col("f1"), col("f2"), col("nn").as("o11"))
      .join(broadcast(c1), col("f1") === col("m1"))
      .join(broadcast(c2), col("f2") === col("m2"))
      .crossJoin(broadcast(tot))
      .withColumn("o12", col("c1") - col("o11"))
      .withColumn("o21", col("c2") - col("o11"))
      .withColumn("o22",
        col("n_total") - col("c1") - col("c2") + col("o11"))
      .withColumn("g2", round(lit(2.0) * (
        term(col("o11"), col("c1"), col("c2"))
          + term(col("o12"), col("c1"), col("n_total") - col("c2"))
          + term(col("o21"), col("n_total") - col("c1"), col("c2"))
          + term(col("o22"), col("n_total") - col("c1"),
              col("n_total") - col("c2"))), 4))
    scored
      .join(broadcast(names.toDF("h", "w1")), col("f1") === col("h"))
      .drop("h")
      .join(broadcast(names.toDF("h", "w2")), col("f2") === col("h"))
      .select(col("w1"), col("w2"), col("o11").as("n_pair"),
        col("c1").as("n_first"), col("c2").as("n_second"), col("g2"))
      .orderBy(col("g2").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Oracle twin of [[collocations]] — DuckDB works the token STRINGS
    * (hash-collision equivalence is the standing trade), cuts the same
    * (count, token) frequent set, builds the same (F+1)² cell lattice,
    * and replays the identical written-order G².
    */
  def collocationsOracleSql(topF: Int = 200, minPair: Long = 5L,
                            topK: Int = 20): String =
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |freq AS (
       |  SELECT token FROM (
       |    SELECT token, CAST(count(*) AS BIGINT) AS cnt
       |    FROM tok GROUP BY 1)
       |  ORDER BY cnt DESC, token ASC LIMIT $topF),
       |bi AS (
       |  SELECT ws[i] AS t1, ws[i + 1] AS t2
       |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i
       |        FROM (SELECT string_split(text, ' ') AS ws FROM documents)
       |        WHERE len(ws) >= 2)),
       |cells AS (
       |  SELECT
       |    CASE WHEN t1 IN (SELECT token FROM freq) THEN t1 END AS f1,
       |    CASE WHEN t2 IN (SELECT token FROM freq) THEN t2 END AS f2,
       |    CAST(count(*) AS BIGINT) AS nn
       |  FROM bi GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(nn) AS BIGINT) AS n_total FROM cells),
       |c1 AS (SELECT f1 AS m1, CAST(sum(nn) AS BIGINT) AS c1 FROM cells
       |  WHERE f1 IS NOT NULL GROUP BY 1),
       |c2 AS (SELECT f2 AS m2, CAST(sum(nn) AS BIGINT) AS c2 FROM cells
       |  WHERE f2 IS NOT NULL GROUP BY 1),
       |sc AS (
       |  SELECT f1 AS w1, f2 AS w2, nn AS o11, c1, c2, n_total,
       |    c1 - nn AS o12, c2 - nn AS o21,
       |    n_total - c1 - c2 + nn AS o22
       |  FROM cells
       |  JOIN c1 ON cells.f1 = c1.m1
       |  JOIN c2 ON cells.f2 = c2.m2, tot
       |  WHERE f1 IS NOT NULL AND f2 IS NOT NULL AND nn >= $minPair),
       |g AS (
       |  SELECT w1, w2, o11 AS n_pair, c1 AS n_first, c2 AS n_second,
       |    round(2.0 * (
       |      CASE WHEN o11 > 0 THEN CAST(o11 AS DOUBLE)
       |        * ln(CAST(o11 AS DOUBLE) / (CAST(c1 AS DOUBLE)
       |          * CAST(c2 AS DOUBLE) / CAST(n_total AS DOUBLE)))
       |        ELSE 0.0 END
       |      + CASE WHEN o12 > 0 THEN CAST(o12 AS DOUBLE)
       |        * ln(CAST(o12 AS DOUBLE) / (CAST(c1 AS DOUBLE)
       |          * CAST(n_total - c2 AS DOUBLE) / CAST(n_total AS DOUBLE)))
       |        ELSE 0.0 END
       |      + CASE WHEN o21 > 0 THEN CAST(o21 AS DOUBLE)
       |        * ln(CAST(o21 AS DOUBLE) / (CAST(n_total - c1 AS DOUBLE)
       |          * CAST(c2 AS DOUBLE) / CAST(n_total AS DOUBLE)))
       |        ELSE 0.0 END
       |      + CASE WHEN o22 > 0 THEN CAST(o22 AS DOUBLE)
       |        * ln(CAST(o22 AS DOUBLE) / (CAST(n_total - c1 AS DOUBLE)
       |          * CAST(n_total - c2 AS DOUBLE) / CAST(n_total AS DOUBLE)))
       |        ELSE 0.0 END), 4) AS g2
       |  FROM sc)
       |SELECT w1, w2, n_pair, n_first, n_second, g2
       |FROM g ORDER BY g2 DESC, w1 ASC, w2 ASC LIMIT $topK""".stripMargin

  // --- TX30: VOCABULARY GROWTH (Heaps' law) curve — distinct-token
  // count at 10%..100% corpus prefixes, the curve a data-scaling
  // report reads the Heaps exponent off (sublinear growth = healthy
  // natural text; near-linear growth = ID/hash debris inflating the
  // vocabulary — a corpus-health smell tx1's per-doc TTR cannot see).
  // The trick that makes this ONE corpus scan instead of ten: a
  // token is in prefix p iff its FIRST-OCCURRENCE doc id is under the
  // cutoff, so one per-token min(doc_id) aggregate (hash-keyed, the
  // dd13 discipline) feeds every prefix; the explode over the
  // 10-step ladder happens on the VOCAB-sized relation. Outputs are
  // exact integers only — no FP anywhere, the strongest oracle class
  // this engine has. Cutoffs are exact integer arithmetic
  // ((max_id + 1)·p / 100, integer division) so both engines cut
  // identical prefixes. ---
  def heapsCurve(s: SparkSession, d: String, steps: Int = 10): DataFrame = {
    val docs = Tables.documents(s, d)
    heapsFromState(tokenFirstDocState(docs), docs.select("doc_id"), steps)
  }

  /** tx30's per-token first-occurrence state over an arbitrary
    * (doc_id, text) relation — additive-by-MIN (idempotent, like the
    * Kaplan–Meier bounds), which is what lets the streaming twin
    * maintain the vocabulary-growth monitor without an admission
    * ledger. Shared with Streams.heapsMaintainBatch.
    */
  private[graft] def tokenFirstDocState(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .select(col("doc_id"), xxhash64(col("token")).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("fd"))

  /** The curve tail over merged state — ONE definition for the batch
    * query and the stream read side, so the two cannot disagree on
    * cutoffs or prefixes. `docIds` must be the distinct document ids
    * (the batch path passes the table's own id column).
    */
  private[graft] def heapsFromState(firstDoc: DataFrame, docIds: DataFrame,
                                    steps: Int = 10): DataFrame = {
    val mx = docIds.agg(max(col("doc_id")).as("mx"))
    val pcts = array((1 to steps).map(i => lit(i * 100 / steps)): _*)
    val vocab = firstDoc.crossJoin(broadcast(mx))
      .select(explode(pcts).as("pct"), col("fd"), col("mx"))
      .filter(col("fd") <
        ((col("mx") + 1) * col("pct") / 100).cast("long"))
      .groupBy("pct").agg(count(lit(1)).as("vocab"))
    val nd = docIds.crossJoin(broadcast(mx))
      .select(explode(pcts).as("pct"), col("doc_id"), col("mx"))
      .filter(col("doc_id") <
        ((col("mx") + 1) * col("pct") / 100).cast("long"))
      .groupBy("pct").agg(count(lit(1)).as("n_docs"))
    nd.join(vocab, Seq("pct"))
      .select(col("pct"), col("n_docs"), col("vocab"))
      .orderBy("pct")
  }

  /** Oracle twin of [[heapsCurve]] — same first-occurrence trick over
    * token strings, same integer cutoffs.
    */
  def heapsCurveOracleSql(steps: Int = 10): String = {
    val pcts = (1 to steps).map(i => i * 100 / steps).mkString(", ")
    s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
       |fd AS (
       |  SELECT token, min(doc_id) AS fd FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |    FROM documents)
       |  GROUP BY token),
       |pcts AS (SELECT unnest([$pcts]) AS pct),
       |v AS (
       |  SELECT pct, CAST(count(*) AS BIGINT) AS vocab
       |  FROM fd, mx, pcts
       |  WHERE fd < (mx + 1) * pct // 100
       |  GROUP BY pct),
       |nd AS (
       |  SELECT pct, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents, mx, pcts
       |  WHERE doc_id < (mx + 1) * pct // 100
       |  GROUP BY pct)
       |SELECT nd.pct, n_docs, vocab
       |FROM nd JOIN v ON nd.pct = v.pct
       |ORDER BY nd.pct""".stripMargin
  }

  // --- TX32: TOKENIZER FERTILITY by predicted language — unit-per-
  // word ratios, the tokenizer-eval metric multilingual corpus work
  // reads before fixing a vocabulary: a language with high fertility
  // is under-served (more units per word = more compute per content,
  // shorter effective context). Grouped by tx5's PREDICTED language —
  // what a deployed pipeline actually has — with the classifier
  // relation shared verbatim (the tx24 discipline), so metric and
  // classifier cannot drift. One extra scan for the two counts, exact
  // long sums, one division per language row. ---
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
        .cast("long").as("bpe_units"))
    langId(s, d).select(col("doc_id"), col("predicted"))
      .join(counts, "doc_id")
      .groupBy("predicted")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_units")).as("bpe_units"))
      .select(col("predicted"), col("n_docs"), col("ws_tokens"),
        col("bpe_units"),
        round(col("bpe_units").cast("double")
          / col("ws_tokens").cast("double"), 6).as("fertility"))
      .orderBy("predicted")
  }

  /** Oracle twin of [[tokenizerFertility]] — tx5's shared CTE chain
    * for the prediction, tx6's count expressions, same exact-sum
    * ratio.
    */
  def tokenizerFertilityOracleSql(): String =
    s"""WITH $langIdOracleCtes,
       |pred AS (SELECT doc_id, lng AS predicted FROM ranked WHERE rn = 1),
       |cnts AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
       |      AS bpe_units
       |  FROM documents)
       |SELECT predicted, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
       |  CAST(sum(bpe_units) AS BIGINT) AS bpe_units,
       |  round(CAST(sum(bpe_units) AS DOUBLE)
       |    / CAST(sum(ws_tokens) AS DOUBLE), 6) AS fertility
       |FROM pred JOIN cnts USING (doc_id)
       |GROUP BY predicted ORDER BY predicted""".stripMargin

  // --- TX31: HASHED-FEATURE LINEAR QUALITY CLASSIFIER — the
  // fastText-shaped model-based filter production corpus builds run
  // (CCNet's / WebText's quality gate): tokens hash into F buckets
  // (the hashing trick — the "model" is a pure function, no weight
  // table to store, join, or broadcast), each bucket carries a
  // deterministic integer weight, and a document's score is the
  // weight sum squashed to a keep-probability. Weights here are
  // md5-derived stand-ins for trained ones (no training data in this
  // container) — the SERVING shape is the deliverable: one tokenize,
  // per-row weight arithmetic, one map-side-combinable long sum per
  // doc; at 100 TB this is a map-only scan plus a doc-keyed agg, the
  // cheapest a per-document model score can be. FP discipline: the
  // raw score is an exact LONG; the squash is the RATIONAL logistic
  // x/(1+|x|) (one division — bit-identical cross-engine) instead of
  // 1/(1+e^-x), so no libm call sits between the hash chain and the
  // oracle. ---
  def qualityClassifier(s: SparkSession, d: String,
                        nBuckets: Int = 256): DataFrame = {
    val bucket = Text.h60(col("token")).mod(nBuckets.toLong)
    val w = Text.h60(concat(lit("w:"), bucket.cast("string")))
      .mod(1001L) - lit(500L)
    val margin = col("raw").cast("double") /
      (lit(100.0) * col("n_tokens").cast("double"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .select(col("doc_id"), w.as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("raw"))
      .select(col("doc_id"), col("n_tokens"), col("raw").as("raw_score"),
        round(lit(0.5) + lit(0.5) * margin / (lit(1.0) + abs(margin)), 6)
          .as("p_keep"))
      .withColumn("keep", col("p_keep") >= 0.5)
      .orderBy("doc_id")
  }

  /** Oracle twin of [[qualityClassifier]] — the same md5 bucket/weight
    * chain (h60 replay), exact long sums, and the identical rational
    * squash.
    */
  def qualityClassifierOracleSql(nBuckets: Int = 256): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |wtok AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5('w:' ||
       |      CAST(CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
       |        % $nBuckets AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % 1001 - 500 AS w
       |  FROM tok),
       |ag AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(w) AS BIGINT) AS raw_score
       |  FROM wtok GROUP BY doc_id)
       |SELECT doc_id, n_tokens, raw_score,
       |  round(0.5 + 0.5
       |      * (CAST(raw_score AS DOUBLE) / (100.0 * CAST(n_tokens AS DOUBLE)))
       |      / (1.0 + abs(CAST(raw_score AS DOUBLE)
       |                   / (100.0 * CAST(n_tokens AS DOUBLE)))), 6) AS p_keep,
       |  (round(0.5 + 0.5
       |      * (CAST(raw_score AS DOUBLE) / (100.0 * CAST(n_tokens AS DOUBLE)))
       |      / (1.0 + abs(CAST(raw_score AS DOUBLE)
       |                   / (100.0 * CAST(n_tokens AS DOUBLE)))), 6) >= 0.5) AS keep
       |FROM ag
       |ORDER BY doc_id""".stripMargin

  // --- TX33: pairwise SOURCE KL-DIVERGENCE matrix — the asymmetric
  // distribution distance behind "can these two crawls substitute for
  // each other" (tx23 ranks the distinguishing tokens; this scores the
  // whole distribution gap, the quantity mixture tuning reads). With
  // add-one smoothing over the global vocabulary V,
  //   KL(a‖b) = Σ_t p_t · ln(p_t/q_t),  p_t = (c_a(t)+1)/(n_a+V).
  // Computed via a closed-form factorization that never materializes
  // the union-vocabulary per pair:
  //   KL(a‖b) = [A(a) − X(a,b) − L(b)] / (n_a+V) + ln(n_b+V) − ln(n_a+V)
  // where A(a) = Σ (c_a+1)ln(c_a+1) and L(b) = Σ ln(c_b+1) are
  // per-source scans (absent tokens contribute exactly 0 to each) and
  // X(a,b) = Σ c_a·ln(c_b+1) needs only tokens present in BOTH — one
  // self-join of the per-source count relation on the token hash
  // produces the whole matrix. Shape at 100 TB: one tokenize, counts
  // shuffled as 8-byte hashes, the join bounded by (sources per
  // token)² ≤ |sources|² per vocab entry — sources and vocabulary are
  // both corpus-bounded, documents are not rescanned per pair. Pairs
  // sharing no token get X = 0 via the left join. Cross-row ln sums
  // round at 4dp — the tx26 discipline. ---
  def sourceKlMatrix(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.Text.tokens(col("text"))).as("t"))
      .select(col("source"), xxhash64(col("t")).as("th"))
    sourceKlFromCounts(tok.groupBy("source", "th")
      .agg(count(lit(1)).as("c")))
  }

  /** The A/X/L factorization over ANY per-(source, token-hash) count
    * relation — shared verbatim by batch [[sourceKlMatrix]] and the
    * streamed posting-list reader (Streams.readSourceKl), the third
    * readout of the artifact BM25 and DSIR already serve from: the
    * per-(source, th) counts are a pure function of the postings ⋈
    * admission-ledger join, so the live matrix can never disagree
    * with the batch one.
    */
  private[graft] def sourceKlFromCounts(c0: DataFrame): DataFrame = {
    // shared subplan: five consumers (the A/L per-source scans, V and
    // both self-join sides); PlanSpec pins that no documents scan
    // survives into the query plan
    val c = c0.localCheckpoint()
    val dblC = col("c").cast("double")
    val per = c.groupBy("source").agg(
      sum(col("c")).as("n"),
      sum((dblC + lit(1.0)) * log(dblC + lit(1.0))).as("a_term"),
      sum(log(dblC + lit(1.0))).as("l_term"))
    val v = c.agg(countDistinct(col("th")).as("v"))
    val x = c.as("ca").join(c.as("cb"), col("ca.th") === col("cb.th"))
      .groupBy(col("ca.source").as("src_a"), col("cb.source").as("src_b"))
      .agg(sum(col("ca.c").cast("double")
        * log(col("cb.c").cast("double") + lit(1.0))).as("x_term"))
    val pairs = per
      .select(col("source").as("src_a"), col("n").as("n_a"), col("a_term"))
      .crossJoin(broadcast(per.select(col("source").as("src_b"),
        col("n").as("n_b"), col("l_term"))))
      .filter(col("src_a") =!= col("src_b"))
    pairs.join(x, Seq("src_a", "src_b"), "left")
      .na.fill(0.0, Seq("x_term"))
      .crossJoin(broadcast(v))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        round((col("a_term") - col("x_term") - col("l_term"))
          / (col("n_a") + col("v")).cast("double")
          + log((col("n_b") + col("v")).cast("double"))
          - log((col("n_a") + col("v")).cast("double")), 4).as("kl"))
      .orderBy("src_a", "src_b")
  }

  /** Oracle twin of [[sourceKlMatrix]] — token strings instead of
    * xxhash64, same A/X/L factorization, same written-order tail and
    * 4dp cut.
    */
  def sourceKlMatrixOracleSql(): String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
      |c AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
      |      FROM tok GROUP BY 1, 2),
      |per AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
      |    sum((CAST(c AS DOUBLE) + 1.0) * ln(CAST(c AS DOUBLE) + 1.0))
      |      AS a_term,
      |    sum(ln(CAST(c AS DOUBLE) + 1.0)) AS l_term
      |  FROM c GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM c),
      |x AS (
      |  SELECT ca.source AS src_a, cb.source AS src_b,
      |    sum(CAST(ca.c AS DOUBLE) * ln(CAST(cb.c AS DOUBLE) + 1.0))
      |      AS x_term
      |  FROM c ca JOIN c cb ON ca.t = cb.t GROUP BY 1, 2)
      |SELECT pa.source AS src_a, pb.source AS src_b,
      |  pa.n AS n_a, pb.n AS n_b,
      |  round((pa.a_term - coalesce(x.x_term, 0.0) - pb.l_term)
      |      / CAST(pa.n + v.v AS DOUBLE)
      |    + ln(CAST(pb.n + v.v AS DOUBLE))
      |    - ln(CAST(pa.n + v.v AS DOUBLE)), 4) AS kl
      |FROM per pa
      |JOIN per pb ON pa.source <> pb.source
      |LEFT JOIN x ON x.src_a = pa.source AND x.src_b = pb.source, v
      |ORDER BY src_a, src_b""".stripMargin

  // --- TX34: CJK-RATIO TOKENIZER-BASIS DECISION — the dispatch rule
  // in front of the dual-basis families (word basis: dd2/dd3/dd26/
  // tx*; char basis: dd33/dd34/dd35). Whitespace tokenization is a
  // SCRIPT property, not a corpus property: a mixed crawl holds both,
  // and the basis must be chosen PER DOCUMENT before any shingling.
  // The classic heuristic: the fraction of codepoints in the CJK
  // Unified Ideographs block (U+4E00..U+9FFF); above a threshold the
  // doc is unsegmented and gets the char basis. Pure map-side
  // projection — one regexp_replace + two length()s per doc, no
  // exchange; at 100 TB this rides the corpus scan that routing has
  // to pay anyway. The corpus view plants determinism: every third
  // doc is de-spaced and mapped onto 26 CJK codepoints (a bijective
  // translate — reversible, length-preserving), reproducing the
  // mixed-script shape from the real table in both engines. ---
  /** 26 codepoints at the start of the CJK Unified Ideographs block —
    * the planted "script" the mixed-corpus view maps a..z onto.
    */
  private[graft] val CjkAlpha: String =
    (0x4E00 until 0x4E1A).map(_.toChar).mkString
  private[graft] val LatinAlpha = "abcdefghijklmnopqrstuvwxyz"

  /** Deterministic mixed-script corpus view: doc_id ≡ 0 (mod 3) docs
    * become unsegmented pseudo-CJK (spaces deleted, a..z translated
    * into [[CjkAlpha]]); the rest stay segmented Latin.
    */
  private[graft] def mixedScriptDocuments(s: SparkSession,
                                          d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        translate(translate(col("text"), " ", ""), LatinAlpha, CjkAlpha))
        .otherwise(col("text")).as("text"))

  /** The per-doc decision over any (doc_id, text) relation — the
    * testable core (specs plant mixed-script docs; the corpus form is
    * [[cjkBasisDecision]]).
    */
  private[graft] def cjkBasisOf(docs: DataFrame,
                                threshold: Double): DataFrame = {
    val t = col("text")
    val cjk = length(regexp_replace(t, "[^一-鿿]", ""))
    docs.select(col("doc_id"),
      length(t).cast("long").as("n_chars"),
      round(cjk.cast("double") /
        greatest(length(t), lit(1)).cast("double"), 4).as("cjk_ratio"),
      when(cjk.cast("double") /
        greatest(length(t), lit(1)).cast("double") > threshold, "char")
        .otherwise("word").as("basis"))
  }

  /** tx34_cjk_basis: per-doc CJK codepoint ratio and the tokenizer
    * basis it selects (char above `threshold`, word below).
    */
  def cjkBasisDecision(s: SparkSession, d: String,
                       threshold: Double = 0.3): DataFrame =
    cjkBasisOf(mixedScriptDocuments(s, d), threshold).orderBy("doc_id")

  /** The mixed-script corpus view as a DuckDB CTE — ONE definition
    * shared by the tx34 oracle and the dd36 router oracle, so the
    * planted view can never drift between them.
    */
  private[graft] val mixedViewCteSql: String =
    s"""m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0
       |      THEN translate(replace(text, ' ', ''),
       |                     '$LatinAlpha', '$CjkAlpha')
       |      ELSE text END AS text
       |  FROM documents)""".stripMargin

  /** Oracle twin of [[cjkBasisDecision]] — the same planted view
    * (replace + translate) and the same block-range regex, with the
    * range endpoints embedded as literal codepoints so both engines
    * match the identical character class.
    */
  def cjkBasisOracleSql(threshold: Double = 0.3): String =
    s"""WITH $mixedViewCteSql,
       |r AS (
       |  SELECT doc_id,
       |    CAST(len(text) AS BIGINT) AS n_chars,
       |    CAST(len(regexp_replace(text, '[^一-鿿]', '', 'g'))
       |      AS DOUBLE) AS cjk
       |  FROM m)
       |SELECT doc_id, n_chars,
       |  round(cjk / greatest(n_chars, 1), 4) AS cjk_ratio,
       |  CASE WHEN cjk / greatest(n_chars, 1) > $threshold
       |    THEN 'char' ELSE 'word' END AS basis
       |FROM r ORDER BY doc_id""".stripMargin
}
