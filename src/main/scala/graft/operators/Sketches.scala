package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-backed scale operators: Count-Min heavy-hitter estimation
  * and Bloom-filter join pruning. With HLL (a8) and the t-digest
  * percentiles (a12) these complete the classic streaming-sketch
  * quartet an engine needs once exact state no longer fits:
  * cardinality (HLL), quantiles (t-digest), frequency (CMS),
  * membership (Bloom).
  *
  * Both sketches build distributed (merge is exact counter/bitmap
  * addition, so partitioning never changes the result) and ship to
  * executors as a broadcast — constant size regardless of data scale.
  */
object Sketches {

  // --- CMS1: Count-Min frequency AUDIT for probe keys — the gate a
  // pipeline runs on a key sample before trusting the sketch at corpus
  // scale (the frequency twin of the dd12/sim8 recall audits). The
  // sketch (eps x delta counters) replaces a full groupBy-count whose
  // shuffle would carry every distinct key; per probe key the audit
  // emits the exact count plus `est_ok` = the CMS guarantee holding:
  // exact <= estimate <= exact + ceil(eps x N) (collisions only ADD —
  // never underestimates; the upper bound is the published eps bound).
  // Deterministic: fixed seed, exact integer counter merges. The exact
  // side touches only the probe keys (one filtered mini-agg), so the
  // oracle hash-checks the invariant while the sketch stays the
  // scale-path artifact. ---
  def cmsHeavyHitters(s: SparkSession, d: String,
                      probeKeys: Seq[Long] = (1L to 20L).toSeq,
                      eps: Double = 0.001, confidence: Double = 0.99,
                      seed: Int = 42): DataFrame = {
    val li = Tables.lineitem(s, d)
    val cms = li.stat.countMinSketch("l_suppkey", eps, confidence, seed)
    val exact = li.filter(col("l_suppkey").isin(probeKeys: _*))
      .groupBy("l_suppkey").agg(count(lit(1)).as("exact_count"))
    cmsAuditTail(s, cms, exact, probeKeys, eps)
  }

  /** The probe/guarantee tail shared by batch cms1 and the
    * stream-maintained sketch's read side ([[graft.streaming.Streams
    * .readCmsAudit]]): per probe key the sketch estimate, the exact
    * count, and the published CMS bound holding — one definition, so
    * the two paths cannot audit differently.
    */
  private[graft] def cmsAuditTail(s: SparkSession,
                                  cms: org.apache.spark.util.sketch.CountMinSketch,
                                  exact: DataFrame, probeKeys: Seq[Long],
                                  eps: Double): DataFrame = {
    import s.implicits._
    val slack = math.ceil(eps * cms.totalCount()).toLong
    val est = probeKeys.map(k => (k, cms.estimateCount(k)))
      .toDF("l_suppkey", "est_count")
    est.join(exact, Seq("l_suppkey"), "left_outer")
      .select(col("l_suppkey"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        (col("est_count") >= coalesce(col("exact_count"), lit(0L)) &&
          col("est_count") <= coalesce(col("exact_count"), lit(0L)) + lit(slack))
          .as("est_ok"))
      .orderBy("l_suppkey")
  }

  // --- A29: HLL sketch REAGGREGATION audit — the pre-aggregated-cube
  // posture at 100 TB: per-partition (here per-month) Datasketches HLL
  // sketches are stored once, and any coarser rollup (the yearly /
  // all-time distinct) is answered by MERGING the stored sketches
  // (hll_union_agg) instead of rescanning raw data. countDistinct
  // cannot reaggregate (distinct counts don't add across overlapping
  // key sets); the sketch union does, which is why sketch columns —
  // not distinct counts — are what a 100 TB mart materializes.
  // Audit shape (the a8/cms1 pattern): per-month exact distinct + the
  // monthly sketch estimate in-bounds boolean, plus one TOTAL row
  // whose estimate comes ONLY from the merged monthly sketches while
  // its exact side is the global distinct — a drifting merge flips a
  // boolean the DuckDB oracle hashes. Per-month distinct first, then
  // count + sketch over the distinct keys (insert-idempotence, the a8
  // Expand-avoidance trick). lgK=14 → rsd ≈ 1.04/√2¹⁴ ≈ 0.8%; bound
  // 3·rsd with a +2 absolute floor for tiny months (where the sparse-
  // mode sketch is exact anyway). ---
  def sketchReagg(s: SparkSession, d: String, lgK: Int = 14): DataFrame = {
    val bound = 3 * 1.04 / math.sqrt((1 << lgK).toDouble)
    def ok(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      abs(est - exact) <= greatest(exact * bound, lit(2.0))
    val mc = Tables.orders(s, d)
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("int").as("ym"), col("o_custkey"))
      .distinct()
    val monthly = mc.groupBy("ym")
      .agg(count(lit(1)).as("exact_cust"),
        hll_sketch_agg(col("o_custkey"), lit(lgK)).as("sk"))
    val monthlyOut = monthly.select(col("ym"), col("exact_cust"),
      ok(hll_sketch_estimate(col("sk")), col("exact_cust")).as("est_ok"))
    // TOTAL: exact = global distinct; estimate = union of the 80 stored
    // monthly sketches — the raw keys are never rescanned on this path.
    val totalExact = mc.select("o_custkey").distinct()
      .agg(count(lit(1)).as("exact_cust"))
    val totalOut = monthly.agg(hll_union_agg(col("sk"), lit(true)).as("u"))
      .crossJoin(totalExact)
      .select(lit(999999).as("ym"), col("exact_cust"),
        ok(hll_sketch_estimate(col("u")), col("exact_cust")).as("est_ok"))
    monthlyOut.unionByName(totalOut).orderBy("ym")
  }

  // --- A30: HLL INTERSECTION estimate via inclusion–exclusion —
  // |A∩B| ≈ est(A) + est(B) − est(A∪B), where est(A∪B) comes from
  // MERGING the two stored sketches (never rescanning raw keys: the
  // a29 reaggregation posture). Sketch unions are lossless, but
  // inclusion–exclusion DIFFERENCES the estimates, so the error is
  // absolute in the set sizes, not the intersection — the audit bound
  // is therefore 3·rsd·(|A|+|B|+|A∪B|) plus a small-set floor, and the
  // operator's honest contract at 100 TB is "good when the overlap is
  // a nontrivial fraction of the sets". Audit shape (a8/a29/cms1
  // pattern): exact distincts + exact intersection hash-match in the
  // oracle; the sketch path contributes one in-bounds boolean.
  // Sets: customers active in consecutive years (year-over-year
  // retention at sketch scale — st5's question, answerable from a
  // sketch mart without the raw fact table). ---
  def hllIntersect(s: SparkSession, d: String,
                   yearA: Int = 1996, yearB: Int = 1997,
                   lgK: Int = 14): DataFrame = {
    val rsd = 1.04 / math.sqrt((1 << lgK).toDouble)
    val o = Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("yr"), col("o_custkey"))
    def keys(yr: Int) = o.filter(col("yr") === yr).select("o_custkey").distinct()
    // shared subplans: each key set feeds its sketch and the exact sides
    val a = keys(yearA).localCheckpoint()
    val b = keys(yearB).localCheckpoint()
    val skA = a.agg(hll_sketch_agg(col("o_custkey"), lit(lgK)).as("sk"))
    val skB = b.agg(hll_sketch_agg(col("o_custkey"), lit(lgK)).as("sk"))
    // union estimate from the two stored sketches only
    val merged = skA.unionByName(skB)
      .agg(hll_union_agg(col("sk"), lit(true)).as("u"))
    val exactA = a.count()
    val exactB = b.count()
    val exactBoth = a.join(b, "o_custkey").count()
    val est = skA.select(hll_sketch_estimate(col("sk")).as("ea"))
      .crossJoin(skB.select(hll_sketch_estimate(col("sk")).as("eb")))
      .crossJoin(merged.select(hll_sketch_estimate(col("u")).as("eu")))
      .select((col("ea") + col("eb") - col("eu")).cast("double").as("est_both"),
        col("eu").cast("double").as("est_union"))
      .head()
    val bound = 3.0 * rsd * (exactA + exactB +
      (exactA + exactB - exactBoth)) + 16.0
    val ok = math.abs(est.getDouble(0) - exactBoth) <= bound
    import s.implicits._
    Seq((yearA, yearB, exactA, exactB, exactBoth, ok))
      .toDF("year_a", "year_b", "exact_a", "exact_b", "exact_both", "est_ok")
  }

  // --- BF1: Bloom-pruned semi join. The bloom filter over the dim's
  // keys broadcasts (~1.2 bytes/key at 1% fpp) and prunes fact rows
  // BEFORE the shuffle — at 100 TB this is the difference between
  // shuffling the whole fact table and shuffling the ~selectivity
  // fraction that can possibly match. False positives pass the bloom
  // but are removed by the exact semi join that follows, so the result
  // is EXACTLY the plain semi join (oracled as such). ---
  // Probe stays codegen'd end to end: both the build (bloom_filter_agg)
  // and the probe (might_contain) are the native Catalyst expressions
  // Spark's own runtime row-level filtering injects — no ScalaUDF, no
  // per-row boxing (SketchesSpec pins the UDF-free plan).
  def bloomSemiJoin(s: SparkSession, d: String,
                    segment: String = "BUILDING", fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val dim = Tables.customer(s, d).filter(col("c_mktsegment") === segment)
    val n = math.max(dim.count(), 1L) // sketch sizing needs an estimate
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    val bloomAgg = Bridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(Bridge.expression(col("c_custkey")))),
        Literal(n), Literal(numBits)).toAggregateExpression())
    val bloomBytes = dim.select(bloomAgg.as("bf")).head.getAs[Array[Byte]](0)
    val mightContain = Bridge.column(
      new BloomFilterMightContain(Literal(bloomBytes, BinaryType),
        new XxHash64(Seq(Bridge.expression(col("o_custkey"))))))
    Tables.orders(s, d)
      .filter(mightContain) // pre-shuffle prune
      .join(dim.select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // --- MG1: MISRA-GRIES frequent-tokens audit — the fifth sketch next
  // to HLL/t-digest/CMS/Bloom, and the one with a DETERMINISTIC
  // guarantee: a k-counter summary ([[graft.functions.MisraGries]],
  // the library's typed Aggregator — SURVEY §7.3's planned custom
  // Aggregator leg) must contain EVERY token with true frequency
  // > n/(k+1), with its counter inside [true − n/(k+1), true]. The
  // audit mirrors cms1: the true heavy hitters' exact counts are
  // hash-matched against the oracle while mg_ok asserts the worst-case
  // bound held — a theory violation flips a hashed boolean. Shape at
  // 100 TB: the aggregator is partial+final (each partition folds its
  // rows into ≤ k counters; merges add + trim), so the shuffled state
  // is k counters per partition — the exact side below is the one
  // vocabulary-sized hash-agg the audit (not the sketch) needs. ---
  def mgHeavyHitters(s: SparkSession, d: String, k: Int = 64): DataFrame = {
    import s.implicits._
    import graft.functions.MisraGries
    val toks = Tables.documents(s, d)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("t"))
    val summary = toks.as[String]
      .select(new MisraGries.MGAgg(k).toColumn).head()
    mgAuditTail(
      toks.groupBy(col("t").as("token"))
        .agg(count(lit(1)).as("exact_count")),
      summary, k)
  }

  /** The probe/guarantee tail shared by batch mg1 and the
    * stream-maintained summary's read side ([[graft.streaming.Streams
    * .readMgAudit]]). The OUTPUT relation is schedule-independent even
    * though the summary itself is not: different fold orders produce
    * different counters, but the n/(k+1) bound holds for all of them,
    * so the audited booleans — and the exact heavy-hitter side — are
    * identical however the corpus arrived.
    */
  private[graft] def mgAuditTail(exactCounts: DataFrame,
                                 summary: graft.functions.MisraGries.MGSummary,
                                 k: Int): DataFrame = {
    val s = exactCounts.sparkSession
    import s.implicits._
    val threshold = summary.processed / (k + 1L) // integer floor
    val est = summary.counters.toSeq.toDF("token", "mg_count")
    exactCounts
      .filter(col("exact_count") > threshold)
      .join(broadcast(est), Seq("token"), "left")
      .select(col("token"), col("exact_count"),
        (col("mg_count").isNotNull &&
          col("mg_count") <= col("exact_count") &&
          col("mg_count") >= col("exact_count") - lit(threshold))
          .as("mg_ok"))
      .orderBy("token")
  }

  /** Oracle twin of [[mgHeavyHitters]]: the exact heavy-hitter side
    * (same integer threshold), with the guarantee boolean a literal
    * TRUE — the cms1 audit convention (the bound is worst-case
    * theory; a violation on the Spark side flips a hashed value).
    */
  def mgHeavyHittersOracleSql(k: Int = 64): String =
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
       |cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1)
       |SELECT t AS token, c AS exact_count, TRUE AS mg_ok
       |FROM cnt, n
       |WHERE c > n // ${k + 1}
       |ORDER BY token""".stripMargin
}
