package graft.operators

import graft.Tables
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality and privacy audits — the validation layer a training
  * pipeline runs BEFORE a corpus is trusted (the Deequ/Great-
  * Expectations surface, re-expressed as declarative Spark plans).
  * The reference has no audit surface — its only "validation" is the
  * write path's blanket `except BaseException: print("Error")` around
  * an unchecked insert (`Codes/MovieShoppingServer/DatabaseAccessor
  * .py:119-133`, which also derives keys from `max(order_id)+1`, the
  * uniqueness hazard dq2's first rule checks for). These are
  * extension operators
  * in the same spirit as the dedup/text families: at 100 TB nobody
  * eyeballs the data, so profiling, constraint checking, snapshot
  * diffing, and re-identification risk scans must be first-class
  * queries.
  *
  * Exactness discipline: every statistic is an integer count (or a
  * per-row double ratio of exact integers, rounded once), so all four
  * audits hash-oracle cross-engine.
  */
object DataQuality {

  // --- DQ1: single-pass column profile — per column of `orders`:
  // row count, null count, exact distinct count, completeness ratio.
  // ONE scan: the multi-column distinct aggregate plans as Spark's
  // Expand (k·rows intermediate, partial-agged map-side before the
  // shuffle) — the same cost class as a profiler's one pass, with no
  // per-column re-scan. Distinct counts are exact (a profiler gate
  // should not be approximate about key-ness); the approximate tier
  // for wide exploration is a8's HLL family. Output is one row per
  // column via an explode over the single agg row — constant-size
  // post-agg work at any corpus scale. ---
  def profile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = count(lit(1)).cast("long").as("n_rows") +:
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
    Tables.orders(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(s"nn_$c").as("n_null"),
          col(s"nd_$c").as("n_distinct"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("n_rows"),
        col("p.n_null").as("n_null"), col("p.n_distinct").as("n_distinct"),
        round(lit(1.0) - col("p.n_null").cast("double")
          / col("n_rows").cast("double"), 6).as("completeness"))
      .orderBy("col_name")
  }

  def profileOracleSql(): String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.map { c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  round(1.0 - CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS completeness
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  // --- DQ2: declarative constraint suite — (rule, violations,
  // checked) per assertion: key uniqueness, referential integrity,
  // domain ranges, and a cross-table temporal rule. Each rule is one
  // aggregate over its own (pruned, pushed-down) scan; the
  // referential and temporal rules are keyed joins (broadcast-able
  // dimension side). A CI gate diffs this relation against
  // all-zeros — the audit IS a query, so it scales exactly like the
  // queries it guards. ---
  def constraints(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val l = Tables.lineitem(s, d)
    def row(rule: String, viol: Column, checked: Column)(df: DataFrame) =
      df.agg(viol.cast("long").as("n_violations"),
          checked.cast("long").as("n_checked"))
        .select(lit(rule).as("rule"), col("n_violations"), col("n_checked"))

    val unique = row("o_orderkey_unique",
      count(lit(1)) - countDistinct(col("o_orderkey")), count(lit(1)))(o)
    val ref = row("orders_custkey_in_customer",
      sum(when(col("c_custkey").isNull, 1L).otherwise(0L)), count(lit(1)))(
      o.join(c, o("o_custkey") === c("c_custkey"), "left_outer"))
    val qty = row("l_quantity_in_1_50",
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)), count(lit(1)))(l)
    val price = row("o_totalprice_positive",
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)),
      count(lit(1)))(o)
    val temporal = row("l_shipdate_not_before_orderdate",
      sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)),
      count(lit(1)))(
      l.join(o, l("l_orderkey") === o("o_orderkey")))
    unique.unionByName(ref).unionByName(qty).unionByName(price)
      .unionByName(temporal)
      .orderBy("rule")
  }

  def constraintsOracleSql(): String =
    """SELECT 'o_orderkey_unique' AS rule,
      |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      |    AS n_violations,
      |  CAST(count(*) AS BIGINT) AS n_checked
      |FROM orders
      |UNION ALL
      |SELECT 'orders_custkey_in_customer',
      |  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(count(*) AS BIGINT)
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |UNION ALL
      |SELECT 'l_quantity_in_1_50',
      |  CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
      |           THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(count(*) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'o_totalprice_positive',
      |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(count(*) AS BIGINT)
      |FROM orders
      |UNION ALL
      |SELECT 'l_shipdate_not_before_orderdate',
      |  CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
      |    AS BIGINT),
      |  CAST(count(*) AS BIGINT)
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY rule""".stripMargin

  // --- DQ3: Merkle-style snapshot diff — which BUCKETS of a corpus
  // changed between two snapshots? Each side reduces to a per-bucket
  // digest (row count + sum of bounded per-row content hashes), and
  // the diff compares digests, never rows: the anti-entropy shape
  // replication/ingest pipelines use, O(corpus) scan but O(buckets)
  // comparison state. The second snapshot is simulated in-query (every
  // mutMod-th doc's text perturbed) so the audit is self-contained and
  // oracle-replayable; in production the two sides are two corpus
  // paths. The content hash is the portable h60 reduced mod 1e6+3
  // (keeps the per-bucket sum far from BIGINT overflow at any corpus
  // size while staying deterministic cross-engine; a digest collision
  // is astronomically unlikely AND deterministic, so the oracle always
  // agrees). ---
  def bucketDiff(s: SparkSession, d: String,
                 nBuckets: Int = 64, mutMod: Int = 97): DataFrame =
    bucketDiffFromCounts(
      bucketDigestRows(Tables.documents(s, d).select(col("doc_id"),
          col("text")), nBuckets, mutMod)
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_a"),
          sum(col("ha")).as("hsum_a"),
          count(lit(1)).cast("long").as("n_b"),
          sum(col("hb")).as("hsum_b")))

  /** Per-document digest rows — both snapshots' content hashes off ONE
    * scan (the mutation is a per-row projection, so computing side b's
    * hash beside side a's costs a column, not a second corpus pass; the
    * original two-scan + full-outer form paid 2× the IO for the same
    * values). ADDITIVE, which is what lets the streaming twin publish
    * per-batch digest deltas and sum them on read
    * ([[graft.streaming.Streams]] `bucketDigestMaintainStream`).
    */
  private[graft] def bucketDigestRows(docs: DataFrame, nBuckets: Int = 64,
                                      mutMod: Int = 97): DataFrame =
    docs.select((col("doc_id") % nBuckets).as("bucket"),
      (Text.h60(col("text")) % 1000003L).as("ha"),
      (Text.h60(when(col("doc_id") % mutMod === 0,
          concat(col("text"), lit("X"))).otherwise(col("text")))
        % 1000003L).as("hb"))

  /** The diff tail over the summed per-bucket digest relation
    * (bucket, n_a, hsum_a, n_b, hsum_b) — shared by batch dq3 and the
    * stream read side so the two can never diverge on what "changed"
    * means.
    */
  private[graft] def bucketDiffFromCounts(counts: DataFrame): DataFrame =
    counts
      .select("bucket", "n_a", "hsum_a", "n_b", "hsum_b")
      .filter(col("n_a") =!= col("n_b") || col("hsum_a") =!= col("hsum_b"))
      .orderBy("bucket")

  def bucketDiffOracleSql(nBuckets: Int = 64, mutMod: Int = 97): String = {
    val h = graft.OracleGen.h60("text")
    val hMut = graft.OracleGen.h60(
      s"CASE WHEN doc_id % $mutMod = 0 THEN text || 'X' ELSE text END")
    s"""WITH a AS (
       |  SELECT doc_id % $nBuckets AS bucket, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum($h % 1000003) AS BIGINT) AS hsum
       |  FROM documents GROUP BY 1),
       |b AS (
       |  SELECT doc_id % $nBuckets AS bucket, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum($hMut % 1000003) AS BIGINT) AS hsum
       |  FROM documents GROUP BY 1)
       |SELECT COALESCE(a.bucket, b.bucket) AS bucket,
       |  a.n AS n_a, a.hsum AS hsum_a, b.n AS n_b, b.hsum AS hsum_b
       |FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
       |WHERE COALESCE(a.n, -1) <> COALESCE(b.n, -1)
       |   OR COALESCE(a.hsum, -1) <> COALESCE(b.hsum, -1)
       |ORDER BY bucket""".stripMargin
  }

  // --- PV1: k-anonymity audit — quasi-identifier groups smaller than
  // k are re-identification risks [Sweeney 2002]: a released "anonymous"
  // record in a size-1 group IS its person. Quasi-identifiers here:
  // (nation, market segment, account-balance band). One hash-agg over
  // the grouped keys + a HAVING; the risky-group relation is what a
  // release gate inspects (empty = safe to publish at this
  // generalization level; non-empty = generalize further, e.g. widen
  // the band). Banding uses floor over an exact per-row division —
  // identical IEEE op both engines. ---
  def kAnonymity(s: SparkSession, d: String, k: Int = 5): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .agg(count(lit(1)).cast("long").as("n"))
      .filter(col("n") < k)
      .orderBy("nation", "segment", "bal_band")

  def kAnonymityOracleSql(k: Int = 5): String =
    s"""SELECT c_nationkey AS nation, c_mktsegment AS segment,
       |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM customer
       |GROUP BY 1, 2, 3
       |HAVING count(*) < $k
       |ORDER BY nation, segment, bal_band""".stripMargin

  // --- PV2: l-diversity audit — k-anonymity's necessary companion
  // [Machanavajjhala et al., 2007]: a quasi-identifier group can be
  // large (k-anonymous) yet still leak if everyone in it shares the
  // SENSITIVE value — here, groups of (nation, balance band) where
  // the market segment (the sensitive attribute) takes fewer than l
  // distinct values. Homogeneous groups let an attacker infer the
  // segment without re-identifying anyone. Same one-agg shape as pv1
  // with a distinct count; a release gate requires BOTH relations
  // empty at its chosen (k, l). ---
  def lDiversity(s: SparkSession, d: String, l: Int = 3): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("nation"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .agg(count(lit(1)).cast("long").as("n"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
      .filter(col("n_segments") < l)
      .orderBy("nation", "bal_band")

  def lDiversityOracleSql(l: Int = 3): String =
    s"""SELECT c_nationkey AS nation,
       |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
       |FROM customer
       |GROUP BY 1, 2
       |HAVING count(DISTINCT c_mktsegment) < $l
       |ORDER BY nation, bal_band""".stripMargin

  // --- DQ4: POPULATION STABILITY INDEX drift — the industry-standard
  // "did the serving distribution move off the training one" audit,
  // here between the year's two halves of orders: per feature, bucket
  // both cohorts, PSI = Σ (p_A − p_B)·ln(p_A/p_B) over buckets present
  // in BOTH, with one-sided bucket counts reported separately (the
  // standard epsilon-fudge hides exactly the buckets you most want to
  // see). Two features show both bucketing modes: fixed-width numeric
  // (a23's 25k-wide totalprice bins) and categorical (priority).
  // Cross-engine exactness discipline: each bucket's contribution is
  // rounded to 9dp and SUMMED AS A LONG (a26's scaled-int rule — a
  // cross-row double sum would be partition-order-dependent in both
  // engines); the one-per-bucket rounding is the same accepted risk
  // class as every rounded double output. One scan, one
  // (feature, bucket) hash-agg, per-feature rollup — trivially flat
  // at any corpus size. ---
  def psiDrift(s: SparkSession, d: String): DataFrame =
    psiFromCounts(
      psiFeatureRows(Tables.orders(s, d))
        .groupBy("feature", "bucket")
        .agg(sum(col("in_a")).as("na"), sum(lit(1L) - col("in_a")).as("nb")))

  /** The (feature, bucket, in_a) incidence rows — ONE definition of
    * the cohort split and both bucketings, shared by the batch audit
    * and the streaming maintained-count index (Streams
    * .psiIndexMaintainStream), so the two can never bucket
    * differently.
    */
  private[graft] def psiFeatureRows(orders: DataFrame): DataFrame = {
    val o = orders
      .withColumn("in_a", (month(col("o_orderdate")) <= 6).cast("long"))
    o.select(lit("totalprice_bucket").as("feature"),
        floor(col("o_totalprice") / 25000.0).cast("long").cast("string")
          .as("bucket"), col("in_a"))
      .unionByName(o.select(lit("orderpriority").as("feature"),
        col("o_orderpriority").as("bucket"), col("in_a")))
  }

  /** The PSI report tail over a (feature, bucket, na, nb) count
    * relation — counts are ADDITIVE, so the stream side can sum its
    * disjoint per-batch deltas into exactly this input.
    */
  private[graft] def psiFromCounts(counts: DataFrame): DataFrame = {
    val tots = counts.groupBy("feature")
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    val pa = col("na").cast("double") / col("ta").cast("double")
    val pb = col("nb").cast("double") / col("tb").cast("double")
    counts.join(broadcast(tots), "feature")
      .withColumn("contrib9",
        when(col("na") > 0 && col("nb") > 0,
          round((pa - pb) * log(pa / pb) * 1e9).cast("long"))
          .otherwise(0L))
      .groupBy("feature")
      .agg(round(sum(col("contrib9")).cast("double") / 1e9, 6).as("psi"),
        count(lit(1)).as("n_buckets"),
        sum((col("nb") === 0).cast("long")).as("only_a"),
        sum((col("na") === 0).cast("long")).as("only_b"))
      .orderBy("feature")
  }

  def psiDriftOracleSql: String =
    """WITH o AS (
      |  SELECT *, CASE WHEN month(o_orderdate) <= 6 THEN 1 ELSE 0 END
      |    AS in_a FROM orders),
      |f AS (
      |  SELECT 'totalprice_bucket' AS feature,
      |    CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS VARCHAR)
      |      AS bucket, in_a
      |  FROM o
      |  UNION ALL
      |  SELECT 'orderpriority', o_orderpriority, in_a FROM o),
      |c AS (
      |  SELECT feature, bucket, CAST(sum(in_a) AS BIGINT) AS na,
      |    CAST(sum(1 - in_a) AS BIGINT) AS nb
      |  FROM f GROUP BY 1, 2),
      |t AS (
      |  SELECT feature, sum(na) AS ta, sum(nb) AS tb
      |  FROM c GROUP BY 1),
      |k AS (
      |  SELECT c.feature, na, nb,
      |    CASE WHEN na > 0 AND nb > 0 THEN CAST(round(
      |      (CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
      |      * ln((CAST(na AS DOUBLE) / ta) / (CAST(nb AS DOUBLE) / tb))
      |      * 1e9) AS BIGINT) ELSE 0 END AS contrib9
      |  FROM c JOIN t ON c.feature = t.feature)
      |SELECT feature,
      |  round(CAST(sum(contrib9) AS DOUBLE) / 1e9, 6) AS psi,
      |  CAST(count(*) AS BIGINT) AS n_buckets,
      |  CAST(sum(CASE WHEN nb = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS only_a,
      |  CAST(sum(CASE WHEN na = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS only_b
      |FROM k GROUP BY feature ORDER BY feature""".stripMargin

  // --- PV3: the LAPLACE MECHANISM [Dwork et al., TCC 2006] over the
  // per-type event histogram — the release-side leg pv1/pv2 audit for:
  // counts go out with Laplace(Δf/ε) noise, Δf = 1 (one user event
  // moves one count by one). The draw is the inverse-CDF transform of
  // a DETERMINISTIC md5-uniform keyed on the released cell — the same
  // keyed-uniform primitive as dp2's split and sp5's bootstrap — so
  // the releases are reproducible across runs AND engines (a seeded
  // release is how a DP pipeline makes its audit replayable; fresh
  // randomness per query would compose ε per re-run). u is centered
  // to (0,1) with the +0.5/2^32 offset, so |u−1/2| < 1/2 strictly and
  // ln never sees zero. One hash-agg (tiny group domain) + per-row
  // arithmetic: the mechanism costs nothing at any scale. The noisy
  // values round to 4dp — far coarser than the one-ulp cross-engine
  // ln() wiggle, so the whole release hash-oracles. ---
  def dpNoisyCounts(s: SparkSession, d: String,
                    epsilon: Double = 0.5): DataFrame = {
    val u = (conv(substring(md5(concat(lit("pv3:"), col("event_type"))),
      1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
    val centered = u - 0.5
    val noise = -signum(centered) * lit(1.0 / epsilon) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_true"))
      .select(col("event_type"), col("n_true"),
        lit(epsilon).as("epsilon"),
        round(col("n_true") + noise, 4).as("n_noisy"))
      .orderBy("event_type")
  }

  def dpNoisyCountsOracleSql(epsilon: Double = 0.5): String =
    s"""WITH c AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
       |  FROM events GROUP BY 1),
       |u AS (
       |  SELECT event_type, n_true,
       |    (CAST(CAST('0x' || substr(md5('pv3:' || event_type), 1, 8)
       |       AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS uu
       |  FROM c)
       |SELECT event_type, n_true,
       |  CAST($epsilon AS DOUBLE) AS epsilon,
       |  round(n_true + (CASE WHEN uu < 0.5 THEN 1.0 ELSE -1.0 END)
       |    * (1.0 / $epsilon) * ln(1.0 - 2.0 * abs(uu - 0.5)), 4)
       |    AS n_noisy
       |FROM u ORDER BY event_type""".stripMargin

  // --- PV4: k-ary RANDOMIZED RESPONSE [Warner 1965; the generalized
  // k-RR of Kairouz et al., ICML 2016] — pv3 adds noise to the
  // RELEASED aggregate; RR perturbs each CONTRIBUTION, the local-DP
  // model where the collector never sees a true row. Each event
  // reports its true type with p = e^ε/(e^ε+K−1), else one of the
  // K−1 other types uniformly; the collector debiases with
  // n̂ = (n_rep − N·q)/(p−q), q = (1−p)/(K−1). Both coins are the
  // keyed md5-uniform primitive (keyed on event_id — pv3's
  // replayable-release rationale, per row). The type domain is the
  // fixed K=5 event vocabulary, enforced with a raise_error branch in
  // the scan itself — an out-of-domain row aborts the query loudly
  // (coverage cannot silently shrink, and q cannot silently skew)
  // instead of being filtered away. Shape: one
  // scan, two per-row codegen'd hashes, two 5-row aggs and a 5-row
  // join — local-DP collection costs nothing at any scale. ---
  def randomizedResponse(s: SparkSession, d: String,
                         epsilon: Double = 1.0): DataFrame = {
    val domain = Seq("click", "error", "purchase", "signup", "view")
    val kk = domain.size
    val p = math.exp(epsilon) / (math.exp(epsilon) + kk - 1)
    val q = (1.0 - p) / (kk - 1)
    def md5u(key: org.apache.spark.sql.Column) =
      (conv(substring(md5(key), 1, 8), 16, 10).cast("double") + 0.5) /
        4294967296.0
    val keep = md5u(concat(lit("pv4c:"), col("event_id").cast("string")))
    val pick = md5u(concat(lit("pv4r:"), col("event_id").cast("string")))
    val others = array_remove(
      array(domain.map(lit): _*), col("event_type"))
    val guarded =
      when(col("event_type").isin(domain: _*), col("event_type"))
        .otherwise(raise_error(concat(
          lit("pv4: event_type outside the fixed RR domain: "),
          col("event_type"))))
    val base = Tables.events(s, d)
      .select(guarded.as("event_type"),
        when(keep < p, guarded)
          .otherwise(element_at(others,
            (floor(pick * (kk - 1)) + 1).cast("int"))).as("reported"))
    val trueCnt = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_true"))
    val repCnt = base.groupBy(col("reported").as("event_type"))
      .agg(count(lit(1)).as("n_reported"))
    trueCnt.join(repCnt, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_reported"), lit(0L)).as("n_reported"))
      .crossJoin(broadcast(
        base.agg(count(lit(1)).cast("double").as("n_total"))))
      .select(col("event_type"), col("n_true"), col("n_reported"),
        lit(epsilon).as("epsilon"),
        round((col("n_reported").cast("double") - col("n_total") * q)
          / (p - q), 4).as("est_true"))
      .orderBy("event_type")
  }

  /** Oracle twin of [[randomizedResponse]] — same keyed coins, same
    * alphabetical other-category table, same debias arithmetic.
    */
  def randomizedResponseOracleSql(epsilon: Double = 1.0): String = {
    val domain = Seq("click", "error", "purchase", "signup", "view")
    val kk = domain.size
    val p = math.exp(epsilon) / (math.exp(epsilon) + kk - 1)
    val q = (1.0 - p) / (kk - 1)
    val domLit = domain.map(x => s"'$x'").mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT event_type,
       |    CASE WHEN (CAST(CAST('0x' ||
       |        substr(md5('pv4c:' || CAST(event_id AS VARCHAR)), 1, 8)
       |        AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 < $p
       |      THEN event_type
       |      ELSE list_filter($domLit, x -> x <> event_type)[
       |        CAST(floor(((CAST(CAST('0x' ||
       |          substr(md5('pv4r:' || CAST(event_id AS VARCHAR)), 1, 8)
       |          AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
       |          * ${kk - 1}) AS INTEGER) + 1]
       |    END AS reported
       |  FROM events WHERE event_type IN (SELECT unnest($domLit))),
       |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
       |       FROM base GROUP BY 1),
       |rc AS (SELECT reported AS event_type,
       |         CAST(count(*) AS BIGINT) AS n_reported
       |       FROM base GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM base)
       |SELECT coalesce(tc.event_type, rc.event_type) AS event_type,
       |  coalesce(n_true, 0) AS n_true,
       |  coalesce(n_reported, 0) AS n_reported,
       |  CAST($epsilon AS DOUBLE) AS epsilon,
       |  round((CAST(coalesce(n_reported, 0) AS DOUBLE) - n_total * $q)
       |    / (${p - q}), 4) AS est_true
       |FROM tc FULL OUTER JOIN rc ON tc.event_type = rc.event_type
       |CROSS JOIN n ORDER BY event_type""".stripMargin
  }

  // --- DQ5: half-over-half PROFILE DRIFT — dq1's one-pass column
  // profile, run over two time slices of `events` in the SAME scan
  // (conditional aggregates, not two passes) and diffed: per column,
  // row/null/exact-distinct counts for days 1–15 vs the rest, the
  // distinct-cardinality ratio, and the completeness delta. This is
  // the schema-drift gate a feed monitor runs before dq4's
  // distribution-level PSI: cardinality collapse (a upstream join
  // starts fanning out), completeness cliffs (a field goes null), or
  // a vocabulary explosion all show here first. Shape: one scan, one
  // Expand for the multi-distinct agg, constant post-agg work. ---
  def profileDrift(s: SparkSession, d: String): DataFrame = {
    val cols = profileCols
    val inA = profileHalfA
    def cnt(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1L).otherwise(0L))
    val aggs = cols.flatMap(c => Seq(
      cnt(inA).as(s"na_$c"), cnt(!inA).as(s"nb_$c"),
      cnt(inA && col(c).isNull).as(s"nulla_$c"),
      cnt(!inA && col(c).isNull).as(s"nullb_$c"),
      countDistinct(when(inA, col(c))).cast("long").as(s"nda_$c"),
      countDistinct(when(!inA, col(c))).cast("long").as(s"ndb_$c")))
    Tables.events(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"),
          col(s"na_$c").as("n_a"), col(s"nulla_$c").as("n_null_a"),
          col(s"nda_$c").as("n_distinct_a"),
          col(s"nb_$c").as("n_b"), col(s"nullb_$c").as("n_null_b"),
          col(s"ndb_$c").as("n_distinct_b"))): _*)).as("p"))
      .select(col("p.*"))
      .transform(profileFromStats)
  }

  /** The drift-derivation tail over a (col_name, n_a, n_null_a,
    * n_distinct_a, n_b, n_null_b, n_distinct_b) stats relation —
    * shared by [[profileDrift]] and the streaming monitor so the two
    * can never disagree on the derived ratios.
    */
  private[graft] def profileFromStats(stats: DataFrame): DataFrame =
    stats
      .withColumn("distinct_ratio",
        round(col("n_distinct_b").cast("double")
          / col("n_distinct_a").cast("double"), 4))
      .withColumn("completeness_delta",
        round((lit(1.0) - col("n_null_b").cast("double")
            / col("n_b").cast("double"))
          - (lit(1.0) - col("n_null_a").cast("double")
            / col("n_a").cast("double")), 6))
      .select(col("col_name"), col("n_a"), col("n_null_a"),
        col("n_distinct_a"), col("n_b"), col("n_null_b"),
        col("n_distinct_b"), col("distinct_ratio"),
        col("completeness_delta"))
      .orderBy("col_name")

  /** The profiled column set and the half-split rule — one definition
    * for the batch gate and the streaming monitor.
    */
  private[graft] val profileCols = Seq("event_type", "props", "user_id", "value")
  private[graft] def profileHalfA: org.apache.spark.sql.Column =
    dayofmonth(col("ts")) <= 15

  /** Additive per-column conditional counts of an event slice — the
    * streaming monitor's per-batch count delta (long format, one row
    * per profiled column).
    */
  private[graft] def profileCountRows(events: DataFrame): DataFrame = {
    val inA = profileHalfA
    def cnt(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1L).otherwise(0L))
    val aggs = profileCols.flatMap(c => Seq(
      cnt(inA).as(s"na_$c"), cnt(!inA).as(s"nb_$c"),
      cnt(inA && col(c).isNull).as(s"nulla_$c"),
      cnt(!inA && col(c).isNull).as(s"nullb_$c")))
    events.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(profileCols.map(c =>
        struct(lit(c).as("col_name"),
          col(s"na_$c").as("n_a"), col(s"nulla_$c").as("n_null_a"),
          col(s"nb_$c").as("n_b"), col(s"nullb_$c").as("n_null_b"))): _*))
        .as("p"))
      .select(col("p.*"))
  }

  /** The distinct-value key relation of an event slice: one row per
    * (col_name, half, value-hash) with values stringified before
    * hashing — the NON-additive distinct counts become a mergeable
    * key set (hash-collision equivalence is the standing trade).
    */
  private[graft] def profileValueKeys(events: DataFrame): DataFrame = {
    val inA = profileHalfA
    val half = when(inA, lit("a")).otherwise(lit("b"))
    events
      .select(half.as("half"), explode(array(profileCols.map(c =>
        struct(lit(c).as("col_name"),
          xxhash64(col(c).cast("string")).as("vh"),
          col(c).isNull.as("is_null"))): _*)).as("p"))
      .filter(!col("p.is_null"))
      .select(col("p.col_name").as("col_name"), col("half"),
        col("p.vh").as("vh"))
      .dropDuplicates("col_name", "half", "vh")
  }

  /** Oracle twin of [[profileDrift]] — per-column conditional counts
    * over the same day-15 split, one SELECT per column UNIONed.
    */
  def profileDriftOracleSql(): String = {
    val cols = Seq("event_type", "props", "user_id", "value")
    cols.map { c =>
      s"""SELECT '$c' AS col_name,
         |  CAST(sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_a,
         |  CAST(sum(CASE WHEN day(ts) <= 15 AND $c IS NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_null_a,
         |  CAST(count(DISTINCT CASE WHEN day(ts) <= 15 THEN $c END)
         |    AS BIGINT) AS n_distinct_a,
         |  CAST(sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_b,
         |  CAST(sum(CASE WHEN day(ts) > 15 AND $c IS NULL THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_null_b,
         |  CAST(count(DISTINCT CASE WHEN day(ts) > 15 THEN $c END)
         |    AS BIGINT) AS n_distinct_b,
         |  round(CAST(count(DISTINCT CASE WHEN day(ts) > 15 THEN $c END)
         |      AS DOUBLE)
         |    / count(DISTINCT CASE WHEN day(ts) <= 15 THEN $c END), 4)
         |    AS distinct_ratio,
         |  round((1.0 - CAST(sum(CASE WHEN day(ts) > 15 AND $c IS NULL
         |      THEN 1 ELSE 0 END) AS DOUBLE)
         |      / sum(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END))
         |    - (1.0 - CAST(sum(CASE WHEN day(ts) <= 15 AND $c IS NULL
         |      THEN 1 ELSE 0 END) AS DOUBLE)
         |      / sum(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)), 6)
         |    AS completeness_delta
         |FROM events""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // --- DQ6: cross-table REFERENTIAL-INTEGRITY audit — per foreign-key
  // edge of the warehouse schema, how many child rows point at a
  // parent key that does not exist? The first gate a warehouse load
  // runs after ingest (dq2 audits per-ROW constraints; this audits
  // the RELATIONSHIPS), and the one that catches partial loads,
  // truncated dimension refreshes, and out-of-order CDC application.
  // Shape: every edge's child COUNT relation and every edge's DISTINCT
  // parent key set carry an edge tag, so ONE (kind, k)-keyed left join
  // plus ONE groupBy(kind) audits all seven edges in a single pass
  // (r12, guide §2.4 — the per-edge formulation planned seven
  // independent join+agg subplans, 24 exec jobs at sf0.1 for seven
  // one-row answers); counting is integer-exact. ---
  def referentialIntegrity(s: SparkSession, d: String): DataFrame = {
    // The three lineitem edges share ONE fact scan: each row fans out
    // to its (kind, key) memberships and the per-key counts aggregate
    // map-side — the count relation that reaches the parent joins is
    // vocabulary-sized (distinct keys), not row-sized, so at 100 TB
    // the joins probe key counts, never the raw fact stream. Counts
    // per key are also the ADDITIVE state the stream-maintained twin
    // publishes per batch ([[graft.streaming.Streams
    // .refIntegrityLineitemBatch]]), which is why the audit tail
    // ([[refIntegrityFromCounts]]) is shared — batch and stream can
    // never count differently.
    // shared subplan: the tail slices the counts once per edge
    // (PlanSpec pins the single fact scan)
    val liCounts = lineitemKeyCounts(Tables.lineitem(s, d)).localCheckpoint()
    refIntegrityFromCounts(s, d, liCounts,
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")))
  }

  /** One-scan (kind, k, n) key-membership counts over a lineitem-shaped
    * relation: kind 'o'/'p'/'s' for the orderkey/partkey/suppkey
    * memberships of each row. Shared by the batch audit and the
    * streaming twin's per-batch delta.
    */
  private[graft] def lineitemKeyCounts(li: DataFrame): DataFrame =
    li.select(explode(array(
        struct(lit("o").as("kind"), col("l_orderkey").as("k")),
        struct(lit("p").as("kind"), col("l_partkey").as("k")),
        struct(lit("s").as("kind"), col("l_suppkey").as("k")))).as("e"))
      .groupBy(col("e.kind").as("kind"), col("e.k").as("k"))
      .agg(count(lit(1)).as("n"))

  /** The audit tail over the two FACT inputs (lineitem key counts and
    * the orders key projection) plus the static dimensions read from
    * `d` — the seven-edge report both the batch operator and the
    * stream-maintained read side ([[graft.streaming.Streams
    * .readRefIntegrity]]) assemble through this one definition.
    *
    * Fused form (r12, guide §2.4 — remove shuffles outright): the
    * seven per-edge `child-counts LEFT JOIN distinct-parent → one-row
    * agg` subplans each paid their own exchanges and AQE stages
    * (24 exec jobs at sf0.1 for a 7-row report). Tagging both sides
    * with the edge id collapses them to ONE (kind, k) left join and
    * ONE groupBy(kind) — same per-edge numbers, integer-exact, same
    * bytes shuffled in total. Keys are cast to long so the union is
    * type-uniform (int32 nation/region keys next to int64 fact keys;
    * the widening cast changes no equality). Join strategy stays with
    * AQE: every TPC-H parent grows with the corpus, so a hard
    * broadcast hint would be the grow-with-data smell; at 100 TB the
    * fused join is the one key-shuffle the biggest edge already paid.
    * The final 7-row shape is GUARANTEED by left-joining a literal
    * edge-name relation against the broadcast agg — an edge whose
    * child relation is empty (the stream twin before any admission)
    * must still report (0, 0), exactly as the per-edge single-row
    * aggregates did.
    */
  private[graft] def refIntegrityFromCounts(s: SparkSession, d: String,
                                            liCounts: DataFrame,
                                            orders: DataFrame): DataFrame = {
    def tag(kind: String, df: DataFrame, key: String): DataFrame =
      df.select(lit(kind).as("kind"), col(key).cast("long").as("k"))
    val childCounts = Seq(
      tag("oc", orders, "o_custkey"),
      tag("cn", Tables.customer(s, d), "c_nationkey"),
      tag("nr", Tables.nation(s, d), "n_regionkey"),
      tag("sn", Tables.supplier(s, d), "s_nationkey"))
      .reduce(_ unionByName _)
      .groupBy("kind", "k").agg(count(lit(1)).as("n"))
      .unionByName(liCounts
        .select(col("kind"), col("k").cast("long").as("k"), col("n")))
    val parents = Seq(
      tag("o", orders, "o_orderkey"),
      tag("p", Tables.part(s, d), "p_partkey"),
      tag("s", Tables.supplier(s, d), "s_suppkey"),
      tag("oc", Tables.customer(s, d), "c_custkey"),
      tag("cn", Tables.nation(s, d), "n_nationkey"),
      tag("nr", Tables.region(s, d), "r_regionkey"),
      tag("sn", Tables.nation(s, d), "n_nationkey"))
      .reduce(_ unionByName _)
      .distinct()
      .withColumn("hit", lit(1))
    val agg = childCounts.join(parents, Seq("kind", "k"), "left")
      .groupBy("kind")
      .agg(sum(col("n")).as("n_child"),
        sum(when(col("hit").isNull, col("n")).otherwise(0L)).as("n_orphans"))
    import s.implicits._
    val names = Seq(
      ("o", "lineitem->orders"), ("p", "lineitem->part"),
      ("s", "lineitem->supplier"), ("oc", "orders->customer"),
      ("cn", "customer->nation"), ("nr", "nation->region"),
      ("sn", "supplier->nation")).toDF("kind", "relationship")
    names.join(broadcast(agg), Seq("kind"), "left")
      .select(col("relationship"),
        coalesce(col("n_child"), lit(0L)).as("n_child"),
        coalesce(col("n_orphans"), lit(0L)).as("n_orphans"))
      .orderBy("relationship")
  }

  /** Oracle twin of [[referentialIntegrity]] — the same seven
    * left-join audits, one UNION ALL per FK edge.
    */
  def referentialIntegrityOracleSql(): String = {
    val edges = Seq(
      ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
    edges.map { case (name, c, ck, p, pk) =>
      s"""SELECT '$name' AS relationship,
         |  CAST(count(*) AS BIGINT) AS n_child,
         |  CAST(sum(CASE WHEN pp.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_orphans
         |FROM (SELECT $ck AS k FROM $c) cc
         |LEFT JOIN (SELECT DISTINCT $pk AS k FROM $p) pp ON cc.k = pp.k""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  // --- PV5: GENERALIZATION LADDER — how much must the
  // quasi-identifier be coarsened before the release is k-anonymous?
  // pv1 reports WHERE the k=5 violations are at one granularity; this
  // is the curve a privacy engineer actually walks: per ladder level
  // (full QI -> drop the balance band -> drop the nation -> publish
  // one class), the equivalence-class count, the smallest class, the
  // rows that would need suppression at k, and the suppression rate.
  // Shape: ONE scan of customer — each row explodes into its four
  // generalized keys (strings of enum-like attributes), one hash-agg
  // over (level, key), then a 4-row rollup; all counts exact longs,
  // one rounded ratio. ---
  def generalizationLadder(s: SparkSession, d: String,
                           k: Int = 5): DataFrame = {
    val lv = array(
      struct(lit(0).as("level"), concat_ws("|", col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long")).as("qi")),
      struct(lit(1).as("level"),
        concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("qi")),
      struct(lit(2).as("level"), col("c_mktsegment").as("qi")),
      struct(lit(3).as("level"), lit("all").as("qi")))
    Tables.customer(s, d)
      .select(explode(lv).as("g"))
      .groupBy(col("g.level").as("level"), col("g.qi").as("qi"))
      .agg(count(lit(1)).as("n"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_classes"),
        min(col("n")).as("min_class"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_suppressed"),
        sum(col("n")).as("n_rows"))
      .select(col("level"), col("n_classes"), col("min_class"),
        col("n_suppressed"),
        round(col("n_suppressed").cast("double")
          / col("n_rows").cast("double"), 6).as("suppression_rate"))
      .orderBy("level")
  }

  /** Oracle twin of [[generalizationLadder]] — the same four
    * generalized keys via UNION ALL, same rollup.
    */
  def generalizationLadderOracleSql(k: Int = 5): String =
    s"""WITH g AS (
       |  SELECT 0 AS level, concat_ws('|', c_nationkey, c_mktsegment,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS qi FROM customer
       |  UNION ALL
       |  SELECT 1, concat_ws('|', c_nationkey, c_mktsegment) FROM customer
       |  UNION ALL
       |  SELECT 2, c_mktsegment FROM customer
       |  UNION ALL
       |  SELECT 3, 'all' FROM customer),
       |cls AS (
       |  SELECT level, qi, CAST(count(*) AS BIGINT) AS n
       |  FROM g GROUP BY 1, 2)
       |SELECT level, CAST(count(*) AS BIGINT) AS n_classes,
       |  CAST(min(n) AS BIGINT) AS min_class,
       |  CAST(sum(CASE WHEN n < $k THEN n ELSE 0 END) AS BIGINT)
       |    AS n_suppressed,
       |  round(CAST(sum(CASE WHEN n < $k THEN n ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(n) AS DOUBLE), 6) AS suppression_rate
       |FROM cls GROUP BY level ORDER BY level""".stripMargin

  // --- PV6: t-CLOSENESS audit — the third rung of the release-gate
  // ladder (pv1 k-anonymity: classes big enough; pv2 l-diversity:
  // sensitive values varied enough; t-closeness [Li et al., ICDE
  // 2007]: the sensitive DISTRIBUTION inside each class close enough
  // to the global one, the property that stops an attacker learning
  // "this class skews rich" without identifying anyone). For the
  // ordered sensitive attribute (balance band) the distance is the
  // Earth Mover's over the ordered domain: EMD = Σ_k |CumP_c(k) −
  // CumP(k)| / (K−1). Exactness: the comparison runs on the
  // INTEGER-cleared form Σ_k |cum_ck·n_total − cum_gk·n_c| (every
  // term an exact long, the Σ an order-independent integer sum), and
  // the one division to t happens per class row, rounded once. Shape:
  // two bounded aggregates (class×band grid ≤ |classes|·K), cumulative
  // sums over the K-bounded band ladder, one row per class. ---
  def tCloseness(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = Tables.customer(s, d)
      .select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bucket"))
    val bands = rows.select("bucket").distinct()
    val nTotalDf = rows.agg(count(lit(1)).as("n_total"))
    // bands is the row-preserving side, so it must be the LEFT input:
    // Spark cannot build (broadcast) the preserved side of an outer
    // join, and a broadcast hint there is a silent no-op that spams
    // HintErrorLogger warnings into the bench tail. Build-right under
    // left-outer IS supported, so broadcast the per-bucket aggregate.
    val globalCum = bands
      .join(broadcast(rows.groupBy("bucket").agg(count(lit(1)).as("ngk"))),
        Seq("bucket"), "left")
      .withColumn("ngk", coalesce(col("ngk"), lit(0L)))
      .withColumn("cum_g", sum(col("ngk")).over(Window
        .partitionBy(lit(0)).orderBy(col("bucket").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("bucket", "cum_g")
    val classes = rows.groupBy("nation", "segment")
      .agg(count(lit(1)).as("n_c"))
    val grid = classes.crossJoin(broadcast(bands))
    val classCum = rows.groupBy("nation", "segment", "bucket")
      .agg(count(lit(1)).as("nck"))
      .join(grid, Seq("nation", "segment", "bucket"), "right")
      .withColumn("nck", coalesce(col("nck"), lit(0L)))
      .withColumn("cum_c", sum(col("nck")).over(Window
        .partitionBy(col("nation"), col("segment"))
        .orderBy(col("bucket").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val kBands = bands.agg(count(lit(1)).as("kk"))
    classCum
      .join(broadcast(globalCum), Seq("bucket"))
      .crossJoin(broadcast(nTotalDf))
      .groupBy(col("nation"), col("segment"), col("n_c"), col("n_total"))
      .agg(sum(abs(col("cum_c") * col("n_total")
        - col("cum_g") * col("n_c"))).as("numer"))
      .crossJoin(broadcast(kBands))
      .select(col("nation"), col("segment"), col("n_c"),
        round(col("numer").cast("double")
          / (col("n_c").cast("double") * col("n_total").cast("double")
            * (col("kk").cast("double") - 1.0)), 6).as("t_closeness"))
      .orderBy("nation", "segment")
  }

  /** Oracle twin of [[tCloseness]] — same complete band ladder,
    * integer-cleared cumulative distance, one rounded division.
    */
  def tClosenessOracleSql(): String =
    """WITH rows_ AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bucket
      |  FROM customer),
      |bands AS (SELECT DISTINCT bucket FROM rows_),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM rows_),
      |kb AS (SELECT CAST(count(*) AS BIGINT) AS kk FROM bands),
      |gc AS (
      |  SELECT bucket, sum(ngk) OVER (ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
      |  FROM (
      |    SELECT b.bucket, CAST(coalesce(g.ngk, 0) AS BIGINT) AS ngk
      |    FROM bands b LEFT JOIN (
      |      SELECT bucket, CAST(count(*) AS BIGINT) AS ngk
      |      FROM rows_ GROUP BY 1) g ON b.bucket = g.bucket)),
      |cls AS (
      |  SELECT nation, segment, CAST(count(*) AS BIGINT) AS n_c
      |  FROM rows_ GROUP BY 1, 2),
      |cc AS (
      |  SELECT nation, segment, n_c, bucket,
      |    sum(nck) OVER (PARTITION BY nation, segment ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
      |  FROM (
      |    SELECT cls.nation, cls.segment, cls.n_c, b.bucket,
      |      CAST(coalesce(x.nck, 0) AS BIGINT) AS nck
      |    FROM cls CROSS JOIN bands b
      |    LEFT JOIN (
      |      SELECT nation, segment, bucket, CAST(count(*) AS BIGINT) AS nck
      |      FROM rows_ GROUP BY 1, 2, 3) x
      |      ON x.nation = cls.nation AND x.segment = cls.segment
      |        AND x.bucket = b.bucket))
      |SELECT cc.nation, cc.segment, cc.n_c,
      |  round(CAST(sum(abs(cum_c * n_total - cum_g * n_c)) AS DOUBLE)
      |    / (CAST(n_c AS DOUBLE) * CAST(n_total AS DOUBLE)
      |      * (CAST(kk AS DOUBLE) - 1.0)), 6) AS t_closeness
      |FROM cc JOIN gc ON cc.bucket = gc.bucket, nt, kb
      |GROUP BY cc.nation, cc.segment, cc.n_c, n_total, kk
      |ORDER BY nation, segment""".stripMargin

  // --- DQ7: CALENDAR-GAP audit — which days inside the corpus span
  // have NO orders at all? Time-series queries (a38/a41/a42/a49) all
  // assume a reasonably dense daily series; a silent feed outage
  // shows up as missing days long before it shows up in totals. The
  // expected calendar is generated from the observed span (sequence
  // of dates — bounded by the calendar, not the data), observed days
  // anti-join it away, and the report is one row of exact counts plus
  // the gap extremes. ---
  def calendarGaps(s: SparkSession, d: String): DataFrame = {
    val days = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("day")).distinct()
      .localCheckpoint() // shared subplan: the span agg and the anti-join
    val span = days.agg(min(col("day")).as("mn"), max(col("day")).as("mx"),
      count(lit(1)).as("n_observed"))
    val expected = span.select(col("n_observed"),
      (datediff(col("mx"), col("mn")) + 1).cast("long").as("n_expected"),
      explode(sequence(col("mn"), col("mx"),
        expr("interval 1 day"))).as("day"))
    expected.join(days, Seq("day"), "left_anti")
      .groupBy(col("n_expected"), col("n_observed"))
      .agg(count(lit(1)).as("n_missing"),
        min(col("day")).as("first_missing"),
        max(col("day")).as("last_missing"))
      .select(col("n_expected").as("n_expected_days"),
        col("n_observed").as("n_observed_days"),
        col("n_missing"), col("first_missing"), col("last_missing"))
  }

  /** Oracle twin of [[calendarGaps]] — same generated calendar and
    * anti-join. NOTE: like the Spark side, emits NO row when the
    * calendar is complete (the groupBy sees zero missing days) — a
    * dense feed hashes as the empty relation on both engines.
    */
  def calendarGapsOracleSql(): String =
    """WITH days AS (
      |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders),
      |span AS (
      |  SELECT min(day) AS mn, max(day) AS mx,
      |    CAST(count(*) AS BIGINT) AS n_observed
      |  FROM days),
      |expected AS (
      |  SELECT n_observed,
      |    CAST(date_diff('day', mn, mx) + 1 AS BIGINT) AS n_expected,
      |    CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE)
      |      AS day
      |  FROM span),
      |missing AS (
      |  SELECT e.* FROM expected e
      |  WHERE NOT EXISTS (SELECT 1 FROM days WHERE days.day = e.day))
      |SELECT n_expected AS n_expected_days, n_observed AS n_observed_days,
      |  CAST(count(*) AS BIGINT) AS n_missing,
      |  min(day) AS first_missing, max(day) AS last_missing
      |FROM missing GROUP BY 1, 2""".stripMargin

  // --- DQ8: FUNCTIONAL-DEPENDENCY audit — does column A determine
  // column B? The profiling question behind key discovery and
  // denormalization safety (J3 keeps movie_name denormalized in the
  // reference — the audit that makes that safe is exactly "does
  // movie_id still determine movie_name"). Per audited pair: the
  // number of determinant values, how many of them map to MORE than
  // one dependent value, and the verdict. One groupBy + distinct
  // count per pair, exact integers, four independent subplans in one
  // union. ---
  def functionalDependencies(s: SparkSession, d: String): DataFrame = {
    def fd(name: String, df: DataFrame, a: String, b: String): DataFrame =
      df.groupBy(col(a)).agg(countDistinct(col(b)).as("nb"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(name).as("dependency"), col("n_keys"),
          col("n_violating"), (col("n_violating") === 0).as("fd_holds"))
    Seq(
      fd("c_custkey->c_nationkey", Tables.customer(s, d),
        "c_custkey", "c_nationkey"),
      fd("l_orderkey->l_returnflag", Tables.lineitem(s, d),
        "l_orderkey", "l_returnflag"),
      fd("o_custkey->o_orderpriority", Tables.orders(s, d),
        "o_custkey", "o_orderpriority"),
      fd("o_orderkey->o_custkey", Tables.orders(s, d),
        "o_orderkey", "o_custkey"))
      .reduce(_ unionByName _)
      .orderBy("dependency")
  }

  /** Oracle twin of [[functionalDependencies]] — same per-pair
    * distinct-count audits, one UNION ALL each.
    */
  def functionalDependenciesOracleSql(): String = {
    val pairs = Seq(
      ("c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
      ("l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
      ("o_custkey->o_orderpriority", "orders", "o_custkey",
        "o_orderpriority"),
      ("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"))
    pairs.map { case (name, t, a, b) =>
      s"""SELECT '$name' AS dependency,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
         |FROM (SELECT $a, count(DISTINCT $b) AS nb FROM $t GROUP BY $a)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY dependency")
  }
}
