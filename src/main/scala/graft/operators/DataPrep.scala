package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data-pipeline operators beyond the dedup/similarity/text
  * packs: deterministic dataset splits, token-budget sequence packing,
  * corpus histograms and per-source health stats, wide↔long reshaping,
  * and a distributed global cumulative sum.
  *
  * These are the ops a 100 TB corpus build runs between "raw documents"
  * and "training shards"; none exist in the reference (its pipeline is
  * six OLTP-ish queries, `DatabaseAccessor.py:88-131`) but all are part
  * of this engine's north-star surface (BASELINE.json `north_star`).
  *
  * Every operator is a declarative single-pass plan: narrow projections
  * (md5/conv/bin run codegen'd per row), window functions partitioned
  * by a real key, and aggregations with map-side partials. Nothing
  * collects to the driver except w9's per-partition offset table
  * (#shuffle-partitions rows).
  */
object DataPrep {

  /** First 32 bits of md5(id) as a long in [0, 2^32) — THE
    * deterministic hash-uniform primitive behind dataset splits (dp2)
    * and resampling (dp6); one definition so the two can never drift.
    * Oracle twin: `CAST(('0x' || substr(md5(...), 1, 8)) AS BIGINT)`.
    */
  private def hashUint32(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  // --- DP2: deterministic train/val/test split. Hash-based (md5 of
  // the stable doc id), NOT random: re-running on a grown corpus keeps
  // every previously-assigned doc in its split, which is what makes
  // eval sets stable across pipeline runs. The first 8 md5 hex chars
  // give a uniform 32-bit value; mod 100 buckets → 80/10/10. ---
  def splitAssign(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        hashUint32(col("doc_id")).mod(100L).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  // --- DP3: token-budget sequence packing — assign docs to fixed-size
  // training shards by cumulative length within each source. bin =
  // floor(exclusive-prefix-sum / budget): a doc that crosses a budget
  // boundary opens the next bin (first-fit-in-order, the streaming-
  // friendly policy). One shuffle on source; the window never goes
  // global. ---
  def tokenBudgetPack(s: SparkSession, d: String,
                      budget: Long = 16384L): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("prefix_chars",
        coalesce(sum(col("n_chars"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .cast("long"))
      // explicit floor(): DuckDB CAST(DOUBLE AS BIGINT) rounds while
      // Spark's cast truncates — floor-then-cast agrees everywhere
      .withColumn("bin_id", floor(col("prefix_chars") / budget).cast("long"))
      .orderBy("source", "doc_id")
  }

  // --- DP12: length-bucketed batch packing — the padding-efficiency
  // op behind every LLM training loader: batching similar-length
  // sequences together (here: same log2-length bucket, dp4's exact
  // integer bucketing) bounds the per-batch padding to the batch max,
  // where arrival-order batching pads every short doc up to whatever
  // long doc shares its batch. Output is the audit both policies'
  // totals — batches, real chars, padded chars (Σ batch_max·batch_n),
  // waste ratio — so the layout decision is itself a checked query
  // (DataPrepSpec asserts bucketed waste < arrival-order waste; the
  // oracle hash-checks both). The bucketed window partitions by
  // bucket; the arrival-order policy is id-block batching (doc_id div
  // batchSize) — no global window (the dp10 lesson). All integer math
  // except the final rounded ratio. ---
  def lengthBucketedPack(s: SparkSession, d: String,
                         batchSize: Int = 32): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").cast("long").as("len"))
      .withColumn("bucket", (length(bin(col("len"))) - 1).cast("int"))
    def policyStats(assigned: DataFrame, policy: String): DataFrame =
      assigned.groupBy("gk", "batch_id")
        .agg(max(col("len")).as("mx"), count(lit(1)).as("n"),
          sum(col("len")).as("sl"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("sl")).cast("long").as("total_chars"),
          sum(col("mx") * col("n")).cast("long").as("padded_chars"))
        .select(lit(policy).as("policy"), col("n_batches"),
          col("total_chars"), col("padded_chars"),
          round((col("padded_chars") - col("total_chars")).cast("double")
            / col("padded_chars"), 6).as("waste_ratio"))
    val wb = Window.partitionBy("bucket").orderBy("doc_id")
    val bucketed = docs
      .withColumn("batch_id",
        ((row_number().over(wb) - 1) / batchSize).cast("long"))
      .withColumn("gk", col("bucket").cast("long"))
    val idBlock = docs
      .withColumn("batch_id", (col("doc_id") / batchSize).cast("long"))
      .withColumn("gk", lit(0L))
    policyStats(bucketed, "bucketed")
      .unionByName(policyStats(idBlock, "id_block"))
      .orderBy("policy")
  }

  // --- DP4: corpus length histogram on a log2 grid. floor(log2(n)) is
  // computed as length(bin(n))-1 — pure integer/string ops, no float
  // log whose ulp error could flip a doc across a power-of-2 boundary
  // in one engine but not the other. ---
  def lengthHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select((length(bin(col("n_chars").cast("long"))) - 1).as("log2_bucket"),
        col("n_chars"))
      .groupBy("log2_bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("log2_bucket")

  // --- DP5: per-source corpus health — the table a pipeline owner
  // reads before admitting a source into the training mix. One
  // hash-agg pass; distinct-lang runs as a partial-agg expand, not a
  // second scan. ---
  def sourceStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        max(col("n_chars")).as("max_chars"),
        round(sum(when(col("n_chars") >= 200, 1L).otherwise(0L))
          .cast("double") * 100.0 / count(lit(1)), 6).as("pct_long"))
      .orderBy("source")

  // --- A19: unpivot (wide→long reshape), the inverse of a10's pivot.
  // Status counts computed as one conditional-agg row per priority,
  // then melted back to (priority, status, n) via Dataset.unpivot —
  // Spark plans an Expand, one extra narrow stage, no shuffle beyond
  // the agg's. ---
  def unpivotStatus(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("F"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("O"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("P"))
    wide.unpivot(
      Array(col("o_orderpriority")),
      Array(col("F"), col("O"), col("P")),
      "status", "n")
      .orderBy("o_orderpriority", "status")
  }

  // --- F-HOF: higher-order array functions over a synthesized
  // per-row list — transform / filter / aggregate / zip_with /
  // array_sort / slice, all integer-exact so cross-engine comparison
  // is bitwise. sequence(1, k) keeps the array data-dependent without
  // needing a collect_list (whose intra-group order is not a contract
  // either engine makes). ---
  def hofSuite(s: SparkSession, d: String): DataFrame = {
    val k = (col("p_partkey") % 5 + 3).cast("int")
    // Array-valued intermediates are joined to strings for the output:
    // the cross-engine hash compares stringified cells, and '|'-joined
    // integers are unambiguous (same convention as f_array_suite).
    Tables.part(s, d)
      .select(col("p_partkey"), sequence(lit(1), k).as("xs"))
      .select(col("p_partkey"),
        array_join(col("xs"), "|").as("xs_str"),
        array_join(expr("transform(xs, x -> x * 3 + 1)"), "|").as("tripled"),
        array_join(expr("filter(xs, x -> x % 2 = 0)"), "|").as("evens"),
        expr("aggregate(xs, 0L, (acc, x) -> acc + x * x)").as("sum_sq"),
        array_join(expr("zip_with(xs, reverse(xs), (a, b) -> a * b)"), "|")
          .as("palindrome_prod"),
        array_join(slice(sort_array(
          expr("transform(xs, x -> (x * p_partkey) % 7)"), asc = false),
          1, 3), "|").as("top3_mod"),
        expr("exists(xs, x -> x % 4 = 0)").as("has_mult4"),
        expr("forall(xs, x -> x > 0)").as("all_pos"))
      .orderBy("p_partkey")
  }

  // --- DP6: domain-mix resampling — hit a target language mix by
  // deterministic per-doc up/down-sampling. factor = target_share *
  // N_total / N_lang; every doc gets floor(factor + u) copies, where
  // u in [0,1) is a hash-uniform of its id — so expected counts hit
  // the target exactly while each doc's copy count is reproducible
  // run-to-run (the property random sampling loses on re-runs).
  // Shape: two tiny aggregates broadcast back onto one corpus scan +
  // explode — map-only on the 100 TB side. Parity note: factor is
  // double arithmetic over integer counts and literal shares, and u is
  // uint32/2^32 — every step is an exact-identical IEEE op in any
  // engine, so the copy counts are bit-stable cross-engine. ---
  def domainMix(s: SparkSession, d: String,
                target: Map[String, Double] = Map(
                  "en" -> 0.3, "de" -> 0.2, "fr" -> 0.2,
                  "es" -> 0.15, "zh" -> 0.15)): DataFrame = {
    val docs = Tables.documents(s, d)
    val share = target.foldLeft(lit(0.0)) { case (acc, (lng, w)) =>
      when(col("lang") === lng, lit(w)).otherwise(acc)
    }
    val factors = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
      .select(col("lang"), (share * col("n_total") / col("n_lang")).as("factor"))
    val u = hashUint32(col("doc_id")).cast("double") / lit(4294967296.0)
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(factors), "lang")
      .withColumn("n_repeats", floor(col("factor") + u).cast("long"))
      .filter(col("n_repeats") >= 1)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("n_repeats"))).as("rep"))
      .select(col("doc_id"), col("lang"), col("rep").cast("int").as("copy_id"))
      .orderBy("doc_id", "copy_id")
  }

  // --- W10: calendar gap-fill — materialize the full day grid for a
  // year and left-join sparse daily aggregates onto it, zero-filling
  // the holes (the step every time-series model needs before training
  // on "daily sales"). The calendar is sequence()+explode over ONE
  // row — a few hundred rows broadcast against the aggregate, never a
  // driver-side loop; the fact-side aggregation shuffles partials
  // only. ---
  def calendarGapFill(s: SparkSession, d: String,
                      minPrice: Double = 450000.0): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1996 &&
        col("o_totalprice") > minPrice)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      // integer-cents sum (repo parity convention) — a raw double sum
      // could land on a .005 boundary and round differently per engine
      .agg((sum(Benchmark2.priceCents(col("o_totalprice"))) / 100.0).as("sales"),
        count(lit(1)).as("n_orders"))
    val calendar = daily.sparkSession.range(1)
      .select(explode(sequence(
        to_date(lit("1996-01-01")), to_date(lit("1996-12-31")),
        expr("interval 1 day"))).as("day"))
    calendar.join(daily, Seq("day"), "left_outer")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("sales"), lit(0.0)).as("sales"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("sales").isNull.as("is_gap"))
      .orderBy("day")
  }

  // --- DP7: document chunking — split each document into fixed-size
  // token windows with overlap (stride < size), the step that turns
  // variable-length documents into training-context-sized pieces while
  // keeping boundary context. One codegen'd explode over chunk starts +
  // a slice/join projection — map-only, no shuffle until the
  // presentation sort; chunk counts are bounded by doc length so no
  // key skew. Emits (doc_id, chunk_id, n_tokens, chunk) with the tail
  // chunk kept (shorter than `size` but >= stride overlap remainder). ---
  def chunkDocuments(s: SparkSession, d: String,
                     chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    val ws = col("ws")
    val start = col("col") // chunk start (1-based), from the posexplode
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), ws,
        posexplode(sequence(lit(1), size(ws), lit(stride))))
      // keep the first chunk and any chunk that reaches tokens the
      // previous chunk (start - stride .. start - stride + size - 1)
      // did not already cover
      .filter(start === 1 ||
        start - lit(stride) + lit(chunkSize) - 1 < size(ws))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        least(size(ws) - start + 1, lit(chunkSize)).cast("int").as("n_tokens"),
        array_join(slice(ws, start, lit(chunkSize)), " ").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  // --- SQ1: user event sequences — collapse each user's event stream
  // into one ordered symbol sequence (the construction step for
  // behavioral/sequence-model training data). collect_list carries
  // (ts, event_id, type) structs whose array_sort gives a
  // DETERMINISTIC in-group order (Spark makes no intra-group order
  // contract otherwise); the transform extracts symbols after the
  // sort. Per-user arrays are bounded by user activity — the groupBy
  // shuffles each event once, nothing global. ---
  def userEventSequences(s: SparkSession, d: String,
                         maxUser: Long = 50L): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") < maxUser)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ">").as("seq"))
      .orderBy("user_id")

  // --- SQ2: event transition matrix — per (from, to) event-type pair,
  // the transition count and conditional probability P(to | from): the
  // Markov statistics behind next-event models and funnel diagnostics.
  // lead() pairs each event with its successor inside the per-user
  // window (one shuffle on user_id); the probability normalization
  // window runs over the k x k aggregate, never raw events. ---
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double")
          / sum(col("n")).over(Window.partitionBy("from_type")).cast("double"), 6))
      .orderBy("from_type", "to_type")
  }

  // --- SQ5: Markov next-event BACKTEST — sq2's transition matrix
  // evaluated with time-split discipline: transitions whose source
  // event falls in the first 80% of the event-time range train the
  // model (per-state argmax of transition counts, ties to the smaller
  // label); the last 20% is held out, and each held-out transition is
  // scored against the trained prediction. The readout is per-state
  // (n_eval, n_correct, accuracy) — the sim8-style "audit the model
  // with the engine itself" pattern applied to sequences, and the
  // split is on TIME, not rows, because a random split would leak
  // future behavior into the past (the j10 leakage rule). The cut is
  // integer epoch-micros arithmetic, counts are exact, the argmax is
  // a windowed rank over the aggregated matrix — everything
  // hash-oracles. ---
  def markovBacktest(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"),
        unix_micros(col("ts")).as("tsu"))
      .localCheckpoint() // shared subplan: feeds the cut, train and eval
    val cut = tr.agg((min(col("tsu")) +
        expr("((max(tsu) - min(tsu)) * 4) div 5")).as("cut"))
    val withCut = tr.crossJoin(broadcast(cut))
    val byState = Window.partitionBy("from_type")
      .orderBy(col("n").desc, col("to_type").asc)
    val pred = withCut.filter(col("tsu") < col("cut"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(byState))
      .filter(col("rn") === 1)
      .select(col("from_type"), col("to_type").as("predicted"))
    withCut.filter(col("tsu") >= col("cut"))
      .join(pred, "from_type")
      .groupBy("from_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("predicted") === col("to_type"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("from_type"), col("n_eval"), col("n_correct"),
        round(dbl(col("n_correct")) / dbl(col("n_eval")), 6).as("accuracy"))
      .orderBy("from_type")
  }

  /** Oracle twin of [[markovBacktest]] — identical time cut, trained
    * argmax, and held-out scoring.
    */
  def markovBacktestOracleSql(): String =
    """WITH tr AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC) AS to_type,
      |    epoch_us(ts) AS tsu
      |  FROM events),
      |tr2 AS (SELECT * FROM tr WHERE to_type IS NOT NULL),
      |b AS (SELECT min(tsu) + ((max(tsu) - min(tsu)) * 4) // 5 AS cut
      |  FROM tr2),
      |trainc AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM tr2, b WHERE tsu < cut GROUP BY 1, 2),
      |pred AS (
      |  SELECT from_type, to_type AS predicted FROM (
      |    SELECT from_type, to_type,
      |      row_number() OVER (PARTITION BY from_type
      |        ORDER BY n DESC, to_type ASC) AS rn
      |    FROM trainc) WHERE rn = 1),
      |ev AS (SELECT t.from_type, t.to_type FROM tr2 t, b
      |  WHERE t.tsu >= b.cut)
      |SELECT e.from_type, CAST(count(*) AS BIGINT) AS n_eval,
      |  CAST(sum(CASE WHEN p.predicted = e.to_type THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_correct,
      |  round(CAST(sum(CASE WHEN p.predicted = e.to_type
      |        THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS accuracy
      |FROM ev e JOIN pred p ON e.from_type = p.from_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- DP8: deterministic source interleave — order the corpus so
  // consecutive training examples rotate across sources (row i of
  // every source before row i+1 of any source), the standard
  // curriculum/mixing order that avoids source-contiguous batches.
  // One per-source window (distributes on source); the interleaved
  // order IS the (rn, source) sort key — no global index column, so
  // nothing needs a single-partition pass at scale. ---
  def interleaveSources(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .orderBy("rn", "source", "doc_id")
  }

  // --- W9: distributed global cumulative sum — the scale path for
  // what a naive Window.orderBy (no partition) computes on a single
  // task: GlobalOrder's range-partition + offset-table two-pass, so no
  // task sees more than its range slice (O(n/p) per task instead of
  // O(n) on one). Exact cents arithmetic end to end. ---
  def distributedCumsum(s: SparkSession, d: String): DataFrame =
    GlobalOrder.withCumSums(
        Tables.orders(s, d).select(col("o_orderkey"),
          Benchmark2.priceCents(col("o_totalprice")).as("cents")),
        Seq(col("o_orderkey")),
        Seq(GlobalOrder.CumSpec("cents", "cum_cents", "total_cents")))
      .select(col("o_orderkey"), (col("cum_cents") / 100.0).as("cum_spend"))
      .orderBy("o_orderkey")

  // --- DP10: deterministic corpus shuffle — a reproducible global
  // permutation for training-data ordering, keyed on md5 of a seeded
  // doc key (md5, not xxhash64: the oracle must order identically, and
  // md5 is the hash both engines spell the same). Global positions come
  // from GlobalOrder's two-pass row number over (shuffle key, doc id),
  // so no unpartitioned window ever sees the corpus. ---
  def deterministicShuffle(s: SparkSession, d: String,
                           seed: String = "seed42", topK: Int = 100): DataFrame = {
    val key = md5(concat(lit(s"$seed:"), col("doc_id").cast("string")).cast("binary"))
    GlobalOrder.withRowNumber(
        Tables.documents(s, d).select(col("doc_id"), key.as("shuffle_key")),
        "pos", col("shuffle_key"), col("doc_id"))
      .filter(col("pos") <= topK)
      .select(col("doc_id"), col("shuffle_key"), col("pos"))
      .orderBy("pos")
  }

  // --- DP9: per-source quality quota — keep the top-N longest docs
  // per source, the curation step that caps any one crawl source's
  // share of the training mix. One shuffle keyed on source; the
  // window sort is per-partition. At 100 TB with a skewed source
  // (one source ≫ others) the scale path is a two-phase top-N:
  // per-partition partial top-N before the window, which bounds the
  // shuffled rows to N × partitions per source. ---
  def sourceQuota(s: SparkSession, d: String, quota: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select(col("source"), col("doc_id"), col("n_chars"),
        col("rk").cast("int").as("rk"))
      .orderBy("source", "rk")
  }

  // --- SQ3: top in-session event paths — the 3-step event-type
  // sequences users actually take WITHIN a session (30-min gap
  // sessionization, st2's exact rule), ranked by frequency: the
  // path-mining statistic behind navigation analysis and funnel
  // discovery, one level up from sq2's single-step transitions.
  // One shuffle on user_id covers both the session assignment and the
  // two lead()s (same window spec → one WindowExec); path strings
  // never leave the per-user partition until the tiny per-path
  // hash-agg. Paths must not span sessions, so the leads re-partition
  // on (user_id, session_id) — a second window over the SAME shuffled
  // data (session_id is a function of the first window's order), which
  // Spark plans without a second exchange. At 100 TB: linear scans,
  // k^3-bounded aggregate output — no scale risk. ---
  def sessionPaths(s: SparkSession, d: String,
                   gapMinutes: Int = 30): DataFrame =
    sessionPathRows(
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")),
      gapMinutes)
      .groupBy("path")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("path").asc)

  /** The per-instance (user_id, path) rows over an arbitrary event
    * relation — shared by sq3 and its index-maintaining stream twin
    * (Streams.sessionPathMaintainStream), which recomputes exactly
    * this relation per affected user.
    */
  private[graft] def sessionPathRows(events: DataFrame,
                                     gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val bySession = Window.partitionBy("user_id", "session_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
            > gapMinutes * 60L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t2", lead(col("event_type"), 1).over(bySession))
      .withColumn("t3", lead(col("event_type"), 2).over(bySession))
      .filter(col("t3").isNotNull)
      .select(col("user_id"),
        concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
  }

  /** Oracle twin of [[sessionPaths]] — the identical
    * sessionize-then-lead chain in ANSI SQL (st2's epoch-difference
    * session rule verbatim).
    */
  def sessionPathsOracleSql(gapMinutes: Int = 30): String =
    s"""WITH seq AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |flags AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CASE WHEN prev_ts IS NULL
       |           OR (CAST(floor(epoch(ts)) AS BIGINT)
       |               - CAST(floor(epoch(prev_ts)) AS BIGINT))
       |              > ${gapMinutes * 60} THEN 1 ELSE 0 END AS new_session
       |  FROM seq),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flags),
       |paths AS (
       |  SELECT user_id,
       |    event_type AS t1,
       |    lead(event_type, 1) OVER (PARTITION BY user_id, session_id
       |                              ORDER BY ts, event_id) AS t2,
       |    lead(event_type, 2) OVER (PARTITION BY user_id, session_id
       |                              ORDER BY ts, event_id) AS t3
       |  FROM sess)
       |SELECT t1 || '>' || t2 || '>' || t3 AS path,
       |  count(*) AS n, count(DISTINCT user_id) AS n_users
       |FROM paths WHERE t3 IS NOT NULL
       |GROUP BY 1 ORDER BY n DESC, path ASC""".stripMargin

  // --- SQ4: funnel conversion latency — per user, the time from the
  // FIRST view to the FIRST purchase AFTER it: the time-to-convert
  // relation behind funnel-latency dashboards, the temporal complement
  // of w11's step-count funnel. Two per-user min aggregates and one
  // join — both shuffles on user_id; deltas are exact integer seconds
  // (the st2 epoch convention), so the whole relation hash-oracles.
  // Per-user rows keep the oracle strong; the percentile rollup is
  // a11's exact-rank machinery one groupBy away. ---
  def funnelLatency(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("tv"))
    ev.filter(col("event_type") === "purchase")
      .join(v, "user_id")
      .filter(col("ts") > col("tv"))
      .groupBy("user_id", "tv").agg(min(col("ts")).as("tp"))
      .select(col("user_id"),
        (unix_timestamp(col("tp")) - unix_timestamp(col("tv")))
          .as("delta_s"))
      .orderBy("user_id")
  }

  // --- DP15: LEAKAGE-SAFE train/val/test split — dp2's hash rule
  // applied to the NEAR-DUP CLUSTER instead of the document: every
  // member of a dd8 component lands on the same side, so a held-out
  // example can never have a near-duplicate in train — the
  // contamination mode a plain per-doc split (dp2) cannot prevent and
  // the reason production corpus builds split by cluster (or by
  // domain) rather than by row. Composition: dd8's components (min-
  // label over near-dup pairs — singleton docs are their own cluster,
  // so dp2's behavior is recovered exactly where no duplicates exist)
  // + the same md5-bucket thresholds. The split stays stable under
  // corpus growth for unchanged clusters (hash of the min doc id). ---
  def leakageSafeSplit(s: SparkSession, d: String): DataFrame =
    Dedup.dedupComponents(s, d)
      .withColumn("bucket", hashUint32(col("comp")).mod(100L))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select("doc_id", "comp", "bucket", "split")
      .orderBy("doc_id")

  /** Oracle twin of [[leakageSafeSplit]] — dd8's recursive component
    * chain with dp2's bucket tail keyed on the component label.
    */
  def leakageSafeSplitOracleSql(): String =
    """WITH RECURSIVE w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
      |           i -> array_to_string(ws[i:i+2], ' '))) AS g
      |  FROM w),
      |cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM shared
      |  JOIN cnt ca ON ca.doc_id = doc_a
      |  JOIN cnt cb ON cb.doc_id = doc_b
      |  WHERE CAST(s AS DOUBLE) / (ca.n + cb.n - s) >= 0.5),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
      |reach(doc, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.doc),
      |comps AS (
      |  SELECT doc AS doc_id, min(r) AS comp FROM reach GROUP BY doc)
      |SELECT doc_id, comp,
      |  CAST(('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 8)) AS BIGINT)
      |    % 100 AS bucket,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 8))
      |            AS BIGINT) % 100 < 80 THEN 'train'
      |       WHEN CAST(('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 8))
      |            AS BIGINT) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM comps ORDER BY doc_id""".stripMargin

  // --- DP14: curriculum ordering — the corpus arranged for curriculum
  // training: quality BANDS descending (highest-quality band first),
  // deterministically shuffled WITHIN each band (the md5 rule — order
  // inside a band must not correlate with doc id or source), then cut
  // into fixed-size training batches. Composes tx4's quality score
  // with dp10's shuffle discipline; the band assignment is pure
  // per-row arithmetic on the rounded score, the within-band rank is
  // one per-band window (distributes on band; at scale band ⊕ a hash
  // prefix is the finer partition key), and batch ids derive from the
  // rank — no global window anywhere. ---
  def curriculumOrder(s: SparkSession, d: String,
                      batchSize: Int = 32): DataFrame = {
    val banded = TextAnalysis.qualityScoreRaw(s, d)
      .withColumn("band",
        least(floor(col("quality") * 5).cast("long"), lit(4L)).cast("int"))
    val byBand = Window.partitionBy("band")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")).asc,
        col("doc_id").asc)
    banded
      .withColumn("rn", row_number().over(byBand).cast("long"))
      .select(col("band"), col("doc_id"), col("rn"),
        expr(s"(rn - 1) div $batchSize").as("batch_id"))
      .orderBy(col("band").desc, col("rn").asc)
  }

  /** Oracle twin of [[curriculumOrder]] — tx4's quality formula
    * verbatim, then the identical band/rank/batch chain.
    */
  def curriculumOrderOracleSql(batchSize: Int = 32): String =
    s"""WITH q AS (
       |  SELECT doc_id, round(
       |    (CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.4 END) * 0.4
       |    + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
       |    + (1.0 - least(CAST(len(list_filter(ws, t -> t IN ('the', 'a')))
       |                   AS DOUBLE) / len(ws) * 2.0, 1.0)) * 0.2, 4) AS quality
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |b AS (
       |  SELECT doc_id,
       |    CAST(least(CAST(floor(quality * 5) AS BIGINT), 4) AS INTEGER)
       |      AS band
       |  FROM q),
       |r AS (
       |  SELECT band, doc_id,
       |    CAST(row_number() OVER (PARTITION BY band
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
       |    AS BIGINT) AS rn
       |  FROM b)
       |SELECT band, doc_id, rn,
       |  CAST((rn - 1) // $batchSize AS BIGINT) AS batch_id
       |FROM r ORDER BY band DESC, rn ASC""".stripMargin

  // --- DP13: temperature-scaled source mixture — the multilingual /
  // multi-source sampling rule from large-LM data work (sample source
  // i with probability ∝ n_i^α, α<1 flattening the mix so dominant
  // sources are down-weighted and small sources up-weighted). The
  // quota math runs on the per-source COUNTS (a handful of rows —
  // α-powers and shares are plain IEEE doubles computed identically
  // by any engine); document selection is then the deterministic
  // md5-rank filter (sp2's rule) against the per-source target, so
  // the whole sample is reproducible row-for-row. One count agg + one
  // per-source window rank: two shuffles on source, nothing driver
  // side. At 100 TB the rank-filter is the standard scale shape
  // (per-source ordered take), and the quota table broadcasts. ---
  def temperatureMix(s: SparkSession, d: String,
                     alpha: Double = 0.5,
                     budgetFrac: Double = 0.4): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val wsum = Window.partitionBy(lit(0))
    val quotas = counts
      .withColumn("wt", pow(col("n_src").cast("double"), alpha))
      .withColumn("share", col("wt") / sum(col("wt")).over(wsum))
      .withColumn("budget",
        floor(sum(col("n_src")).over(wsum).cast("double") * budgetFrac))
      .withColumn("target_n",
        least(col("n_src"),
          floor(col("budget").cast("double") * col("share")).cast("long")))
      .select("source", "target_n")
    val byHash = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")).asc,
        col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(byHash).cast("long"))
      .join(broadcast(quotas), "source")
      .filter(col("rk") <= col("target_n"))
      .select(col("source"), col("doc_id"), col("rk"), col("target_n"))
      .orderBy("source", "rk")
  }

  /** Oracle twin of [[temperatureMix]]: the identical quota math
    * (same power/share/floor chain — scalar IEEE ops on the per-source
    * counts, bit-identical across engines) and the same md5-rank
    * selection.
    */
  def temperatureMixOracleSql(alpha: Double = 0.5,
                              budgetFrac: Double = 0.4): String =
    s"""WITH counts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_src
       |  FROM documents GROUP BY source),
       |quotas AS (
       |  SELECT source, n_src,
       |    least(n_src, CAST(floor(
       |      floor(CAST(sum(n_src) OVER () AS DOUBLE) * $budgetFrac)
       |      * (pow(CAST(n_src AS DOUBLE), $alpha)
       |         / sum(pow(CAST(n_src AS DOUBLE), $alpha)) OVER ())
       |    ) AS BIGINT)) AS target_n
       |  FROM counts),
       |ranked AS (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
       |    AS BIGINT) AS rk
       |  FROM documents)
       |SELECT r.source, r.doc_id, r.rk, q.target_n
       |FROM ranked r JOIN quotas q ON r.source = q.source
       |WHERE r.rk <= q.target_n
       |ORDER BY r.source, r.rk""".stripMargin

  // --- DP16: contrastive negative sampling — for each anchor
  // embedding, k reproducible random negatives that are NOT near-dups
  // of the anchor (a near-dup "negative" is a false negative that
  // poisons a contrastive objective — the dd6 threshold is the same
  // gate). Selection is a deterministic per-(anchor, candidate) md5
  // priority (dp2's hash-uniform, so the sample is stable across runs
  // and engines), shortlisted to 2k by priority, then cosine-verified
  // against the anchor. Scale shape: the hash prefilter (u below a
  // static threshold) is a pushed-down scan predicate that keeps the
  // per-anchor window input at ~dozens of rows regardless of corpus
  // size — the corpus is scanned once, anchors broadcast, nothing
  // global is sorted. ---
  def contrastiveNegatives(s: SparkSession, d: String,
                           numAnchors: Int = 6, k: Int = 4,
                           shortlist: Int = 8,
                           nearDupThreshold: Double = 0.3): DataFrame = {
    import graft.plans.VectorExpressions.vecCosine
    val e = Tables.embeddings(s, d)
    val anchors = e.filter(col("vec_id") < numAnchors)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val cands = e.filter(col("vec_id") >= numAnchors)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val u = conv(substring(md5(
      (col("a_id") * 1000000L + col("c_id")).cast("string")), 1, 8), 16, 10)
      .cast("long")
    // keep ~5% of pairs: the 2k-smallest priorities survive w.h.p. at
    // any corpus size, and the predicate prunes at the scan
    val uCap = (4294967296L * 5) / 100
    val wH = Window.partitionBy("a_id").orderBy(col("u").asc, col("c_id").asc)
    val wK = Window.partitionBy("a_id").orderBy(col("hrk").asc)
    cands.crossJoin(broadcast(anchors))
      .withColumn("u", u)
      .filter(col("u") < uCap)
      .withColumn("hrk", row_number().over(wH))
      .filter(col("hrk") <= shortlist)
      .withColumn("cs", vecCosine(col("a_emb"), col("c_emb")))
      .filter(col("cs") < nearDupThreshold)
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= k)
      .select(col("a_id"), col("c_id").as("neg_id"), col("rk"),
        round(col("cs"), 4).as("cos_sim"))
      .orderBy("a_id", "rk")
  }

  // --- DP19: token-budget planner — the per-source planning table a
  // training run prints before it starts: given a token budget (here
  // 2× the corpus — upsampling allowed, unlike dp13's doc-count cap)
  // and temperature-α shares over per-source token masses, how many
  // tokens does each source contribute, how many FULL epochs of the
  // source is that, and what remainder tops it off. α = 0.5 is
  // applied as sqrt (IEEE correctly-rounded in both engines, unlike
  // libm pow whose last ulp is platform-discretionary); everything
  // else is exact integers except the per-row share/epoch ratios.
  // One token-count aggregate + a 5-row window — the plan costs one
  // corpus scan regardless of scale. ---
  def tokenBudget(s: SparkSession, d: String,
                  budgetMult: Double = 2.0): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val wsum = Window.partitionBy(lit(0))
    Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("share",
        sqrt(dbl(col("n_tokens"))) / sum(sqrt(dbl(col("n_tokens")))).over(wsum))
      .withColumn("budget",
        floor(dbl(sum(col("n_tokens")).over(wsum)) * budgetMult))
      .withColumn("target_tokens",
        floor(dbl(col("budget")) * col("share")).cast("long"))
      .withColumn("full_repeats", expr("target_tokens div n_tokens"))
      .select(col("source"), col("n_tokens"),
        round(col("share"), 6).as("share"), col("target_tokens"),
        col("full_repeats"),
        (col("target_tokens") - col("full_repeats") * col("n_tokens"))
          .as("remainder_tokens"),
        round(dbl(col("target_tokens")) / dbl(col("n_tokens")), 4)
          .as("epochs"))
      .orderBy("source")
  }

  /** Oracle twin of [[tokenBudget]] — identical sqrt/share/floor
    * chain.
    */
  def tokenBudgetOracleSql(budgetMult: Double = 2.0): String =
    s"""WITH t AS (
       |  SELECT source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |q AS (
       |  SELECT source, n_tokens,
       |    sqrt(CAST(n_tokens AS DOUBLE))
       |      / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER () AS share,
       |    floor(CAST(sum(n_tokens) OVER () AS DOUBLE) * $budgetMult)
       |      AS budget
       |  FROM t),
       |p AS (
       |  SELECT source, n_tokens, share,
       |    CAST(floor(budget * share) AS BIGINT) AS target_tokens
       |  FROM q)
       |SELECT source, n_tokens, round(share, 6) AS share, target_tokens,
       |  target_tokens // n_tokens AS full_repeats,
       |  target_tokens - (target_tokens // n_tokens) * n_tokens
       |    AS remainder_tokens,
       |  round(CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4)
       |    AS epochs
       |FROM p ORDER BY source""".stripMargin

  // --- DP22: cluster-balanced corpus sampling — cap each semantic
  // cluster's contribution at a fixed quota so the sample is diverse
  // by construction (the "cluster then sample evenly" recipe from
  // DoReMi/D4-style data curation, on KM1's assignment relation).
  // Per-cluster pick order is the md5 pseudo-random key the sp-family
  // already uses — deterministic, replayable, uniform within cluster.
  // Shape: the assignment is a codegen'd projection (k·dim literal
  // centroids, no join); the quota is a per-cluster row_number — a
  // key-partitioned window exactly like sp2's reservoir, so it scales
  // as one shuffle on a real key. Returned rows grow with k·quota,
  // not the corpus. ---
  def clusterBalancedSample(s: SparkSession, d: String,
                            k: Int = 4, quota: Int = 40): DataFrame =
    Similarity.clusterAssignments(s, d, k)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(md5(col("vec_id").cast("string").cast("binary")).asc,
            col("vec_id").asc)))
      .filter(col("rk") <= quota)
      .select(col("cluster").cast("int").as("cluster"),
        col("rk").cast("int").as("rk"), col("vec_id"), col("label"))
      .orderBy("cluster", "rk")

  /** Oracle twin of [[clusterBalancedSample]] — KM1's assignment CTE
    * (argmax cosine, ties to the smaller centroid id) + the same
    * md5-ordered per-cluster quota.
    */
  def clusterBalancedSampleOracleSql(k: Int = 4, quota: Int = 40): String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
       |  WHERE vec_id < $k),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                             CAST(c.cemb AS DOUBLE[])) DESC,
       |      c.cid ASC) AS rn
       |  FROM embeddings e CROSS JOIN c),
       |asg AS (SELECT vec_id, label, cid AS cluster FROM scored
       |        WHERE rn = 1),
       |rk AS (
       |  SELECT cluster, vec_id, label,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rk
       |  FROM asg)
       |SELECT CAST(cluster AS INTEGER) AS cluster, CAST(rk AS INTEGER) AS rk,
       |  vec_id, CAST(label AS INTEGER) AS label
       |FROM rk WHERE rk <= $quota ORDER BY cluster, rk""".stripMargin

  // --- SQ6: KAPLAN–MEIER SURVIVAL with right-censoring — the
  // statistic st5's retention counts approximate without ever
  // handling CENSORING: a user last seen near the observation edge
  // has not churned, they are merely unobserved, and counting them as
  // churned biases every naive retention curve down. Per user:
  // the event is FIRST CONVERSION (a46's qualifying purchase,
  // value > 150): duration = days from the user's first activity to
  // their first conversion; a user who never converts is right-
  // censored at the corpus edge (duration = days observed, event
  // flag off). At each event time t: risk set n_t = users with
  // duration ≥ t (ties with censoring stay at risk at t — the
  // standard convention), deaths d_t = conversions at exactly t, and
  // S(t) = Π(1 − d_i/n_i), computed as exp of the ordered ln-sum so
  // both engines run the identical left-assoc chain. The duration
  // domain is calendar-bounded (≤ the corpus day span), so the
  // ordered window over the per-duration aggregate is hygiene-legal
  // by construction. ---
  def kaplanMeier(s: SparkSession, d: String): DataFrame =
    kaplanMeierFromPerUser(kmUserState(Tables.events(s, d)))

  /** sq6's per-user (first-activity, first-conversion, last-activity)
    * state over an arbitrary events relation — additive-by-min/max, so
    * disjoint OR overlapping event batches merge by (min fd, min cv,
    * max md): min/max are idempotent, which is what makes the
    * streaming twin redelivery-safe without an admission ledger.
    * Shared with Streams.kmMaintainBatch so batch and stream can never
    * define the event or the censoring edge differently.
    */
  private[graft] def kmUserState(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"),
        min(when(col("event_type") === "purchase" && col("value") > 150,
          to_date(col("ts")))).as("cv"),
        max(to_date(col("ts"))).as("md"))

  /** The estimator tail over merged per-user state — ONE definition
    * for the batch query and the stream read side (the
    * cupedFromPerUser discipline), so the two cannot disagree on risk
    * sets, the censoring convention, or the ordered exp-ln-sum chain.
    * The censoring edge mx = max(md) equals the corpus max event date.
    */
  private[graft] def kaplanMeierFromPerUser(perUser: DataFrame): DataFrame = {
    val mx = perUser.agg(max(col("md")).as("mx"))
    val du = perUser.crossJoin(broadcast(mx))
      .select(
        datediff(coalesce(col("cv"), col("mx")), col("fd"))
          .cast("long").as("dur_days"),
        col("cv").isNull.as("censored"))
    val byDur = du.groupBy("dur_days")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("censored"), 0L).otherwise(1L)).as("d_events"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    val w = Window.orderBy(col("dur_days").asc)
    byDur
      .withColumn("cum_before", coalesce(sum(col("n_total"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(du.agg(count(lit(1)).as("nn"))))
      .withColumn("n_risk", col("nn") - col("cum_before"))
      .withColumn("lnterm", when(col("d_events") > 0,
        log(lit(1.0) - col("d_events").cast("double")
          / col("n_risk").cast("double"))).otherwise(lit(0.0)))
      .withColumn("survival", round(exp(sum(col("lnterm"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))), 6))
      .filter(col("d_events") > 0)
      .select(col("dur_days"), col("n_risk"), col("d_events"),
        col("n_censored"), col("survival"))
      .orderBy("dur_days")
  }

  /** Oracle twin of [[kaplanMeier]] — same risk sets, censoring
    * convention, and ordered exp-ln-sum product.
    */
  def kaplanMeierOracleSql(): String =
    s"""WITH pu AS (
       |  SELECT user_id, min(CAST(ts AS DATE)) AS fd,
       |    min(CASE WHEN event_type = 'purchase' AND value > 150
       |        THEN CAST(ts AS DATE) END) AS cv
       |  FROM events GROUP BY 1),
       |mx AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events),
       |du AS (
       |  SELECT CAST(coalesce(cv, mx) - fd AS BIGINT) AS dur_days,
       |    (cv IS NULL) AS censored
       |  FROM pu CROSS JOIN mx),
       |bd AS (
       |  SELECT dur_days, CAST(count(*) AS BIGINT) AS n_total,
       |    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
       |      AS d_events,
       |    CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_censored
       |  FROM du GROUP BY 1),
       |r AS (
       |  SELECT *,
       |    (SELECT CAST(count(*) AS BIGINT) FROM du)
       |      - coalesce(sum(n_total) OVER (ORDER BY dur_days
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS n_risk
       |  FROM bd),
       |sv AS (
       |  SELECT *, exp(sum(CASE WHEN d_events > 0
       |      THEN ln(1.0 - CAST(d_events AS DOUBLE)
       |        / CAST(n_risk AS DOUBLE))
       |      ELSE 0.0 END)
       |    OVER (ORDER BY dur_days
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS surv
       |  FROM r)
       |SELECT dur_days, CAST(n_risk AS BIGINT) AS n_risk, d_events,
       |  n_censored, round(surv, 6) AS survival
       |FROM sv WHERE d_events > 0 ORDER BY dur_days""".stripMargin

  // --- DP23: EPOCH-SHUFFLE DECORRELATION AUDIT — multi-epoch training
  // reshuffles the corpus with a per-epoch keyed permutation
  // (md5("epN:" || id), dp10's primitive); this audits that epochs 0
  // and 1 are actually decorrelated by computing the exact Spearman ρ
  // between the two global positions: ρ = 1 − 6Σd²/(n(n²−1)), an
  // integer-exact statistic until one final division (the a37 lesson).
  // A loader bug that reuses one epoch's order (ρ = 1) or block-swaps
  // it (|ρ| near 1) shows immediately; keyed md5 epochs land near 0.
  // Both global positions come from the GlobalOrder two-pass — range
  // partition + offset table, never a single-task window. Σd² sums as
  // decimal(38,0) (Σd² ≤ n³/3 overflows a long past n ≈ 3·10⁶; the
  // BIGINT output cast is test-scale contract, the internal sum is
  // not). ---
  def epochShuffleAudit(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec = "decimal(38,0)"
    val docs = Tables.documents(s, d).select(col("doc_id"))
    def pos(e: Int, out: String) = GlobalOrder.withRowNumber(
        docs.withColumn("k",
          md5(concat(lit(s"ep$e:"), col("doc_id").cast("string")))),
        out, col("k"), col("doc_id"))
      .select(col("doc_id"), col(out))
    pos(0, "p0").join(pos(1, "p1"), Seq("doc_id"))
      .select(((col("p0") - col("p1")) * (col("p0") - col("p1")))
        .cast(dec).as("d2"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("d2")).as("sd2"))
      .select(col("n_docs"), col("sd2").cast("long").as("sum_d2"),
        round(lit(1.0) - lit(6.0) * dbl(col("sd2"))
          / (dbl(col("n_docs")) * (dbl(col("n_docs")) * dbl(col("n_docs"))
            - lit(1.0))), 6).as("spearman_rho"))
  }

  /** Oracle twin of [[epochShuffleAudit]] — the same keyed orders as
    * plain global windows (DuckDB's single-node window is its native
    * total order) and the same integer-exact ρ.
    */
  def epochShuffleAuditOracleSql(): String =
    """WITH p0 AS (
      |  SELECT doc_id, row_number() OVER (
      |    ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) AS p0
      |  FROM documents),
      |p1 AS (
      |  SELECT doc_id, row_number() OVER (
      |    ORDER BY md5('ep1:' || CAST(doc_id AS VARCHAR)), doc_id) AS p1
      |  FROM documents),
      |j AS (
      |  SELECT CAST(p0 - p1 AS HUGEINT) * CAST(p0 - p1 AS HUGEINT) AS d2
      |  FROM p0 JOIN p1 USING (doc_id))
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(d2) AS BIGINT) AS sum_d2,
      |  round(1.0 - 6.0 * CAST(sum(d2) AS DOUBLE)
      |    / (CAST(count(*) AS DOUBLE)
      |      * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - 1.0)),
      |    6) AS spearman_rho
      |FROM j""".stripMargin

  // --- DP24: MIXTURE CALIBRATION — the data-mixing step between
  // "here is the corpus" and "here is the training set": given a
  // TARGET domain distribution (a mixing recipe — DoReMi-style
  // weights; here a deterministic per-source formula so the oracle
  // replays it) and the corpus's CURRENT token mix, compute the
  // per-source subsampling rate that realizes the target. With
  // subsampling only (rate ≤ 1, no upweighting), the achievable
  // output size is total_out = min_s(n_s / w_s): the most
  // under-represented source binds the whole budget, its rate is
  // exactly 1, and every other source is downsampled to w_s·total_out
  // tokens. Shape: one corpus scan to per-source token counts (exact
  // longs, 20 rows), two tiny re-aggregates (weight normalizer, the
  // binding min) attached by broadcast — per-row double arithmetic on
  // exact integers, each value rounded once. ---
  def mixtureCalibration(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val per = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      // raw target weight: a deterministic function of the source id
      // (srcN -> N mod 4 + 1) standing in for a learned mixing recipe
      .withColumn("w_raw",
        (substring(col("source"), 4, 10).cast("long") % 4 + 1))
      .localCheckpoint() // shared subplan: feeds three aggregates
    val norm = per.agg(sum(col("w_raw")).as("w_total"),
      sum(col("n_tokens")).as("corpus_tokens"))
    val shaped = per.crossJoin(broadcast(norm))
      .withColumn("target_w", dbl(col("w_raw")) / dbl(col("w_total")))
      .withColumn("cap", dbl(col("n_tokens")) / col("target_w"))
    val binding = shaped.agg(min(col("cap")).as("total_out"))
    shaped.crossJoin(broadcast(binding))
      .select(col("source"), col("n_tokens"),
        round(dbl(col("n_tokens")) / dbl(col("corpus_tokens")), 6)
          .as("current_share"),
        round(col("target_w"), 6).as("target_share"),
        round(col("target_w") * col("total_out") / dbl(col("n_tokens")), 6)
          .as("sample_rate"),
        floor(col("target_w") * col("total_out")).cast("long")
          .as("n_tokens_out"))
      .orderBy("source")
  }

  /** Oracle twin of [[mixtureCalibration]] — same weight formula,
    * normalizer, binding min, and rounding.
    */
  def mixtureCalibrationOracleSql(): String =
    """WITH per AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |    (CAST(substr(source, 4) AS BIGINT) % 4 + 1) AS w_raw
      |  FROM documents GROUP BY 1),
      |norm AS (
      |  SELECT CAST(sum(w_raw) AS BIGINT) AS w_total,
      |    CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens
      |  FROM per),
      |shaped AS (
      |  SELECT source, n_tokens, corpus_tokens,
      |    CAST(w_raw AS DOUBLE) / CAST(w_total AS DOUBLE) AS target_w,
      |    CAST(n_tokens AS DOUBLE)
      |      / (CAST(w_raw AS DOUBLE) / CAST(w_total AS DOUBLE)) AS cap
      |  FROM per, norm),
      |binding AS (SELECT min(cap) AS total_out FROM shaped)
      |SELECT source, n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE), 6)
      |    AS current_share,
      |  round(target_w, 6) AS target_share,
      |  round(target_w * total_out / CAST(n_tokens AS DOUBLE), 6)
      |    AS sample_rate,
      |  CAST(floor(target_w * total_out) AS BIGINT) AS n_tokens_out
      |FROM shaped, binding
      |ORDER BY source""".stripMargin

  // --- DP25: DSIR — Data Selection via Importance Resampling [Xie et
  // al., NeurIPS 2023]: rank raw-pool documents by how target-like
  // their unigram profile is, w(doc) = Σ_tokens [ln p_target(t) −
  // ln p_raw(t)] with add-one smoothing over the raw vocabulary, keep
  // the top-N — the named recipe for cheap domain-targeted pretraining
  // selection (hashed n-gram features stand in for a trained LM).
  // Target = one exemplar source; candidates are every OTHER source's
  // docs (the exemplar defines the distribution, it isn't re-selected).
  // Shape at 100 TB: one tokenize projected to token HASHES (strings
  // never shuffle), two vocabulary-sized count relations, per-doc ln
  // sums with map-side combine; the smoothing normalizers fold into
  // ONE closed-form per-doc term n_tokens·[ln(R+V) − ln(T+V)], so no
  // per-token normalizer arithmetic survives into the hot path.
  // Cross-row ln sums round at 4dp — the tx26 discipline. ---
  def dsirSelect(s: SparkSession, d: String, target: String = "src0",
                 topK: Int = 25): DataFrame =
    dsirFromTokens(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(graft.functions.Text.tokens(col("text"))).as("token"))
        .select(col("doc_id"), col("source"),
          xxhash64(col("token")).as("th")),
      target, topK)

  /** The DSIR estimator over any per-OCCURRENCE (doc_id, source, th)
    * token relation — shared by batch dp25 and the stream-maintained
    * posting lists' read side ([[graft.streaming.Streams.readDsir]]),
    * so the two paths weigh documents identically.
    */
  private[graft] def dsirFromTokens(tok: DataFrame, target: String,
                                    topK: Int): DataFrame = {
    val raw = tok.groupBy("th").agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("source") === target)
      .groupBy("th").agg(count(lit(1)).as("ct"))
    val consts = raw.agg(count(lit(1)).as("v"), sum(col("cr")).as("r"))
      .crossJoin(tgt.agg(sum(col("ct")).as("t")))
    val vocab = raw.join(tgt, Seq("th"), "left")
      .select(col("th"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val perDoc = tok.join(vocab, "th")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(log((col("ct") + lit(1L)).cast("double"))
          - log((col("cr") + lit(1L)).cast("double"))).as("lsum"))
    perDoc.filter(col("source") =!= target)
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("lsum") + col("n_tokens").cast("double") *
          (log((col("r") + col("v")).cast("double"))
            - log((col("t") + col("v")).cast("double"))), 4).as("dsir_w"))
      .orderBy(col("dsir_w").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Oracle twin of [[dsirSelect]] — token strings instead of
    * xxhash64 (equal counts barring a 64-bit collision, the
    * dd-family's standing trade), same smoothed ln arithmetic and
    * 4dp cut.
    */
  def dsirSelectOracleSql(target: String = "src0", topK: Int = 25): String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |raw AS (SELECT t, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY 1),
       |tgt AS (SELECT t, CAST(count(*) AS BIGINT) AS ct FROM tok
       |        WHERE source = '$target' GROUP BY 1),
       |consts AS (SELECT CAST(count(*) AS BIGINT) AS v,
       |                  CAST(sum(cr) AS BIGINT) AS r FROM raw),
       |tc AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM tgt),
       |vocab AS (
       |  SELECT raw.t, cr, coalesce(ct, 0) AS ct
       |  FROM raw LEFT JOIN tgt ON raw.t = tgt.t),
       |perdoc AS (
       |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
       |    sum(ln(CAST(ct + 1 AS DOUBLE)) - ln(CAST(cr + 1 AS DOUBLE)))
       |      AS lsum
       |  FROM tok JOIN vocab USING (t) GROUP BY 1, 2)
       |SELECT doc_id, source, n_tokens,
       |  round(lsum + CAST(n_tokens AS DOUBLE)
       |    * (ln(CAST(r + v AS DOUBLE)) - ln(CAST(tt + v AS DOUBLE))), 4)
       |    AS dsir_w
       |FROM perdoc, consts, tc
       |WHERE source <> '$target'
       |ORDER BY dsir_w DESC, doc_id ASC LIMIT $topK""".stripMargin
}
