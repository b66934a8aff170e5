package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Aggregation surface (SURVEY.md §2.4) + the Chart.vue analytics
  * (A2/A3) done the Spark-first way: pushed-down hash aggregation with
  * partial+final phases, instead of the reference's fetch-everything-
  * then-loop-in-JS (`Chart.vue:88-111` — SURVEY.md §7.4 calls out that
  * this must become a pushed-down aggregation at 100 TB).
  */
object Analytics {

  // --- A1: ungrouped MAX — the reference's id generator
  // (`SELECT MAX(order_id)`, DatabaseAccessor.py:123). ---
  def maxOrderId(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(max(col("o_orderkey")).as("max_id"))

  // --- A4: COUNT (reference: MovieList.vue:90-91 client-side length). ---
  def countAll(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(count(lit(1)).as("n"))

  // --- A2: SUM grouped by (year, month) — monthly sales
  // (Chart.vue:96-111, sum at :105). One shuffle, partial+final agg. ---
  def monthlySales(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(round(sum(col("o_totalprice")), 2).as("sales"),
        count(lit(1)).as("n_orders"))
      .orderBy("y", "m")

  // --- A2+A3 together: ROLLUP(year, month) — the de-facto GROUPING SETS
  // the reference computes as two JS loops (Chart.vue:96-111 months,
  // :182-190 yearly fold). One pass, one shuffle, yearly + monthly +
  // grand total (SURVEY.md §2.4 A3 "one pass with rollup"). ---
  def rollupSales(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(round(sum(col("o_totalprice")), 2).as("sales"))
      .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first)

  // --- Q1-shape wide aggregation (TPC-H Q1): the headline grouped-agg
  // benchmark — sums/avgs/count per flag+status, fully codegen'd. ---
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        // exact integer-cents sums (j1's sf0.001 lesson: float sums sit
        // on half-cent rounding boundaries where the engines disagree);
        // the tax term compounds to 1e-6 currency units, still integer
        (sum(Benchmark2.priceCents(col("l_extendedprice"))) / 100.0)
          .as("sum_base_price"),
        (sum(Benchmark2.lineRevenueCents1e4) / 10000.0).as("sum_disc_price"),
        (sum(Benchmark2.lineRevenueCents1e4 *
          (lit(100L) + Benchmark2.priceCents(col("l_tax")))) / 1000000.0)
          .as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // --- Grouped multi-measure agg with HAVING (general form of the
  // reference's per-movie review stats that Chart/Detail derive). ---
  def supplierStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("total_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"))
      .filter(col("n_items") > 10)
      .orderBy("l_suppkey")

  // --- Exact distinct count (SURVEY.md §2.4 ABSENT row: DISTINCT/
  // approx). Exact here for oracle parity; approxDistinct below is the
  // scale path (rows-only check — sketches aren't oracle-matchable). ---
  def distinctCounts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** HLL++ approximate-distinct AUDIT — the 100 TB path where exact
    * countDistinct's shuffle would dominate, gated the way a pipeline
    * gates any sketch: estimate vs exact on one audit pass, emitting
    * the exact cardinalities plus `*_ok` = |approx − exact| ≤ 3·rsd
    * (the HLL++ error bound with a 50% margin; realized error on this
    * data is ≈1·rsd). The booleans carry the sketch's contribution
    * into the DuckDB hash check — an estimate drifting out of bounds
    * flips a bit the oracle sees.
    * rsd 0.02, not tighter: sketch size grows ~1/rsd² (0.01 cost 4×
    * the registers per partial for one extra bit of accuracy — wrong
    * trade for an op whose whole point is the fixed small sketch).
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    val bound = 3 * 0.02
    // Per-column distinct FIRST, then count + HLL over the distinct
    // values: two narrow exchanges of distinct keys instead of the
    // multi-countDistinct Expand (which triples the scanned rows
    // through the aggregate — measured 3.2 s vs ~0.9 s at sf0.1). The
    // HLL sketch is insert-idempotent, so building it over the
    // distinct set yields the IDENTICAL estimate as over the raw
    // multiset.
    def auditOne(keyCol: String, prefix: String): DataFrame =
      Tables.lineitem(s, d).select(keyCol).distinct()
        .agg(count(lit(1)).as(s"exact_$prefix"),
          approx_count_distinct(col(keyCol), 0.02).as(s"a_$prefix"))
    auditOne("l_partkey", "parts").crossJoin(auditOne("l_orderkey", "orders"))
      .select(col("exact_parts"), col("exact_orders"),
        (abs(col("a_parts") - col("exact_parts"))
          <= col("exact_parts") * bound).as("parts_ok"),
        (abs(col("a_orders") - col("exact_orders"))
          <= col("exact_orders") * bound).as("orders_ok"))
  }

  // --- Percentiles: exact (interpolated, oracle-matched) per group;
  // the approx_percentile partner below is the 100 TB path (fixed-size
  // sketch, rows-only check). ---
  // a11 ships the HISTOGRAM-REFINE engine (exactPercentilesHist
  // below): two scans, a bounded bucket relation, and exact ranking
  // of only the target buckets — no plan piece grows with the corpus.
  // The window form (exactPercentilesWindow) is kept as an independent
  // formulation: PercentileEquivalenceSpec proves both emit
  // bit-identical values.
  def percentiles(s: SparkSession, d: String): DataFrame = {
    val ps = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    exactPercentilesHist(s, d, ps)
      .select(col("l_returnflag") +:
        ps.map { case (name, _) => round(col(name), 4).as(name) }: _*)
      .orderBy("l_returnflag")
  }

  /** Histogram-refine exact percentiles — the two-scan shape that
    * replaces the (group, value)-grained aggregate with a BOUNDED
    * bucket relation. Scan 1 histograms values into fixed-width
    * buckets (≤ domain/width rows per group — data-size independent,
    * so the cumulative window is over a small bounded relation); the
    * target ranks' buckets are then identified with a broadcast
    * range probe, and scan 2 ranks ONLY the rows inside those ≤
    * 2·|fractions| buckets (a ~0.1% slice here) to read the exact
    * order statistics. Values are bit-identical to the
    * all-distinct-values form (PercentileEquivalenceSpec collects
    * both): the k-th order statistic is the k-th order statistic no
    * matter how you find it, and the interpolation expression is
    * shared verbatim. This is the 100 TB plan: the old form's
    * value-grained hash-agg grows 1:1 with the corpus (600k groups at
    * sf0.1 — measured 1.8 s for three output rows), while here no
    * shuffle ever exceeds buckets + selected-bucket contents.
    */
  private[graft] def exactPercentilesHist(s: SparkSession, d: String,
                                          ps: Seq[(String, Double)],
                                          bucketWidth: Double = 16.0)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"),
        floor(col("l_extendedprice") / bucketWidth).cast("long").as("b"))
    val bc = li.groupBy("g", "b").agg(count(lit(1)).as("c"))
    val wB = Window.partitionBy("g").orderBy("b")
    val bcum = bc
      .withColumn("bhi", sum(col("c")).over(wB))
      .withColumn("blo", col("bhi") - col("c"))
    val tot = bc.groupBy("g").agg(sum(col("c")).as("n"))
    // 0-based bracketing ranks per fraction: k ∈ {⌊t⌋, ⌈t⌉}, t=(n−1)p
    val targets = tot
      .select(col("g"), col("n"), explode(array(ps.map { case (name, p) =>
        struct(lit(name).as("pname"), lit(p).as("p"))
      }: _*)).as("t"))
      .select(col("g"), col("t.pname").as("pname"), col("t.p").as("p"),
        explode(array(
          struct(lit("lo").as("side"),
            floor((col("n") - 1).cast("double") * col("t.p"))
              .cast("long").as("k")),
          struct(lit("hi").as("side"),
            ceil((col("n") - 1).cast("double") * col("t.p"))
              .cast("long").as("k")))).as("sd"))
      .select(col("g"), col("pname"), col("p"),
        col("sd.side").as("side"), col("sd.k").as("k"))
    // the bucket holding rank k: blo <= k < bhi (equi on g + tiny
    // broadcast, range predicate as the join filter)
    val needed = bcum.join(broadcast(targets).withColumnRenamed("g", "tg"),
        col("g") === col("tg")
          && col("blo") <= col("k") && col("k") < col("bhi"))
      .select(col("g"), col("b"), col("blo"),
        col("pname"), col("p"), col("side"), col("k"))
    val selBuckets = needed.select("g", "b", "blo").distinct()
    // scan 2: exact rank inside the selected buckets only — ties in v
    // are interchangeable for order statistics, so row_number's
    // arbitrary tie order cannot change the picked VALUE
    val wV = Window.partitionBy("g", "b").orderBy("v")
    val ranked = li.join(broadcast(selBuckets), Seq("g", "b"))
      .withColumn("idx", col("blo") + row_number().over(wV) - 1)
    val picked = ranked.alias("r")
      .join(broadcast(needed.select(col("g").as("ng"), col("b").as("nb"),
        col("pname"), col("p"), col("side"), col("k"))),
        col("g") === col("ng") && col("b") === col("nb")
          && col("idx") === col("k"))
      .select(col("g"), col("pname"), col("p"), col("side"), col("v"))
    val vals = picked.groupBy("g", "pname")
      .agg(max(col("p")).as("p"),
        max(when(col("side") === "lo", col("v"))).as("vlo"),
        max(when(col("side") === "hi", col("v"))).as("vhi"))
      .join(broadcast(tot), "g")
      .withColumn("t", (col("n") - 1).cast("double") * col("p"))
      .withColumn("val",
        col("vlo") + (col("t") - floor(col("t")))
          * (col("vhi") - col("vlo")))
    vals.groupBy(col("g").as("l_returnflag"))
      .agg(ps.head match { case (name, _) =>
        max(when(col("pname") === name, col("val"))).as(name)
      }, ps.tail.map { case (name, _) =>
        max(when(col("pname") === name, col("val"))).as(name)
      }: _*)
  }

  /** Exact interpolated percentiles of l_extendedprice per returnflag
    * at arbitrary fraction lists, by one cumulative-count window over
    * the (group, value)-grained aggregate — the reference form
    * [[exactPercentilesHist]] is proved against.
    */
  private[graft] def exactPercentilesWindow(s: SparkSession, d: String,
                                            ps: Seq[(String, Double)])
      : DataFrame = {
    // Exact percentile_cont, but distributed: Spark's percentile() agg
    // builds a value->count OpenHashMap per partial and merges the 32
    // partial maps single-threaded per group (measured 5.5s at sf0.1).
    // Instead: codegen'd hash-agg to (group, value, count), cumulative
    // count via window, then pick/interpolate the two bracketing values
    // per requested fraction (identical interpolation: v[floor(t)] +
    // frac * (v[ceil(t)] - v[floor(t)]) at t = (n-1)*p). Heavy lifting
    // is partial+final hash-agg at full parallelism; the window sorts
    // only the distinct values per group.
    val cnts = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag").orderBy("v")
    val cum = cnts
      .withColumn("hi", sum(col("c")).over(w)) // # values <= v
      .withColumn("lo", col("hi") - col("c"))  // # values <  v
    val tot = cnts.groupBy("l_returnflag").agg(sum(col("c")).as("n"))
    val bracketAggs = ps.flatMap { case (name, p) =>
      val t = (col("n") - 1).cast("double") * lit(p)
      val kLo = floor(t)
      val kHi = ceil(t)
      // exactly one distinct-value row satisfies lo <= k < hi
      Seq(max(when(col("lo") <= kLo && kLo < col("hi"), col("v"))).as(s"${name}_lo"),
        max(when(col("lo") <= kHi && kHi < col("hi"), col("v"))).as(s"${name}_hi"))
    }
    val agged = cum.join(broadcast(tot), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"), bracketAggs: _*)
    val outCols = col("l_returnflag") +: ps.map { case (name, p) =>
      val t = (col("n") - 1).cast("double") * lit(p)
      val frac = t - floor(t)
      (col(s"${name}_lo")
        + frac * (col(s"${name}_hi") - col(s"${name}_lo"))).as(name)
    }
    agged.select(outCols: _*)
  }

  // --- A18: median + deterministic mode per group. median() is fine
  // here (l_quantity has ~50 distinct values, so the percentile map
  // stays tiny — unlike a11's price domain); mode is computed manually
  // (counts + row_number) because engines leave mode() tie-breaks
  // unspecified — smallest value wins here, deterministically. ---
  def medianMode(s: SparkSession, d: String): DataFrame = {
    val med = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(median(col("l_quantity")), 4).as("median_qty"))
    val cnts = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag")
      .orderBy(col("c").desc, col("l_quantity").asc)
    val mode = cnts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("c").as("mode_count"))
    med.join(mode, "l_returnflag")
      .select("l_returnflag", "median_qty", "mode_qty", "mode_count")
      .orderBy("l_returnflag")
  }

  // t-digest-style sketch AUDIT: approx_percentile(accuracy 10000 →
  // rank error ≤ 1e-4) checked against the exact interpolated
  // percentiles at rank ±0.001 (10× the bound — the sketch returns a
  // real data element, so its VALUE must sit between the exact
  // quantiles at the widened rank band). Output = the exact quantiles
  // (hash-matched by DuckDB quantile_cont) + the three bound bits, so
  // the sketch's behavior is inside the oracle check.
  def approxPercentiles(s: SparkSession, d: String): DataFrame = {
    // The nine-point exact band comes from the a11 distributed
    // percentile engine, NOT the built-in percentile() aggregate —
    // the built-in buffers a value→count map per partial and merges
    // the 32 partials single-threaded per group, which made this the
    // 5th most expensive query (1.97 s at sf0.1) for three rows of
    // output. Same interpolation, same values, full-parallel hash-agg.
    val band = Seq(
      ("e0", 0.499), ("e1", 0.5), ("e2", 0.501),
      ("e3", 0.899), ("e4", 0.9), ("e5", 0.901),
      ("e6", 0.989), ("e7", 0.99), ("e8", 0.991))
    val ex = exactPercentilesHist(s, d, band)
    val ap = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
        .as("ps"))
    // Scalar columns, not array<double>: the driver's compare sorts
    // the frame, and array cells break that sort.
    ex.join(ap, "l_returnflag")
      .select(col("l_returnflag"),
        round(col("e1"), 4).as("p50"),
        round(col("e4"), 4).as("p90"),
        round(col("e7"), 4).as("p99"),
        col("ps")(0).between(col("e0"), col("e2")).as("p50_ok"),
        col("ps")(1).between(col("e3"), col("e5")).as("p90_ok"),
        col("ps")(2).between(col("e6"), col("e8")).as("p99_ok"))
      .orderBy("l_returnflag")
  }

  // --- A28: EQUI-DEPTH histogram — buckets of ~equal row count with
  // data-dependent boundaries (the fixed-width twin is a23). The
  // boundary vector is ONE exact-percentile aggregate (a 1-row
  // broadcast); bucket assignment is then a pure scan-side projection
  // (sum of comparisons against the broadcast boundaries) feeding one
  // hash-agg — the shape that sizes range partitioners and spots skew
  // before a big sort at 100 TB. Boundary comparisons are engine-safe:
  // interpolated quantiles land strictly between adjacent cent-grid
  // values (or exactly on one), so `v > boundary` agrees cross-engine
  // even though the interpolation arithmetic differs in the last ulp. ---
  def equiDepthHistogram(s: SparkSession, d: String, buckets: Int = 8): DataFrame = {
    val ps = (1 until buckets).map(i => i.toDouble / buckets)
    val bounds = Tables.orders(s, d)
      .agg(expr(s"percentile(o_totalprice, array(${ps.mkString(", ")}))").as("bs"))
    Tables.orders(s, d).crossJoin(broadcast(bounds))
      .withColumn("bucket",
        ((1 until buckets).map(i =>
          when(col("o_totalprice") > col("bs")(i - 1), 1).otherwise(0))
          .reduce(_ + _) + lit(1)).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        (sum(Benchmark2.priceCents(col("o_totalprice"))) / 100.0).as("sum_price"))
      .orderBy("bucket")
  }

  // --- A13: explicit GROUPING SETS ((y), (priority), ()) with
  // grouping_id — the general form that rollup/cube specialize.
  // One Expand + one hash-agg, same as rollup. ---
  def groupingSetsSales(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      // pre-project the grouping expressions: groupingSets matches set
      // members to grouping columns by expression equality, and an
      // aliased year() in one list vs bare year() in the other splits
      // into two grouping dimensions (observed: 3-bit grouping_id)
      .select(year(col("o_orderdate")).as("y"), col("o_orderpriority"),
        col("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("y")), Seq(col("o_orderpriority")), Seq()),
        col("y"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        round(sum(col("o_totalprice")), 2).as("sales"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("gid").asc, col("y").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  // --- A14: statistical aggregate family — stddev/variance/corr/
  // covariance per group. All are single-pass merge-able aggregates
  // (partial moments map-side; small-magnitude columns chosen so the
  // parallel-merge accumulation order stays within oracle rounding). ---
  def statsSuite(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(stddev_pop(col("l_quantity")), 4).as("sdp_qty"),
        round(var_samp(col("l_discount")), 6).as("var_disc"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("covp_qty_disc"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covs_qty_disc"))
      .orderBy("l_returnflag")

  // --- A16: argmax family + boolean/conditional aggregates — max_by/
  // min_by keyed on a fixed-width (price, orderkey) string so ties on
  // price resolve deterministically in any engine. ---
  // --- A20: higher moments (skewness / excess kurtosis) from raw
  // power sums — one hash-agg pass (4 sums + count, all map-side
  // partial). Built from explicit sums instead of engine-native
  // skewness()/kurtosis() because engines disagree on sample-vs-
  // population formulas; the moment algebra below is unambiguous.
  // Parity design: l_quantity is integer-valued, so s1..s4 are exact
  // integers in double (far below 2^53 at any tested SF) regardless of
  // summation order, and every downstream op (div/mul/sub/sqrt) is an
  // IEEE correctly-rounded operation applied in an identical tree in
  // both engines — sqrt(m2), not pow(m2, 1.5), because pow is allowed
  // platform ulp drift while sqrt is not. ---
  def momentsSuite(s: SparkSession, d: String): DataFrame = {
    val q = col("l_quantity").cast("double")
    val base = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(q).as("s1"), sum(q * q).as("s2"),
        sum(q * q * q).as("s3"), sum(q * q * q * q).as("s4"))
    val m = col("s1") / col("n")
    val m2 = col("s2") / col("n") - m * m
    val m3 = col("s3") / col("n") - lit(3.0) * m * (col("s2") / col("n")) +
      lit(2.0) * m * m * m
    val m4 = col("s4") / col("n") - lit(4.0) * m * (col("s3") / col("n")) +
      lit(6.0) * m * m * (col("s2") / col("n")) - lit(3.0) * m * m * m * m
    base.select(col("l_returnflag"),
        round(m, 6).as("mean_qty"),
        round(m2, 6).as("var_pop_qty"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skew_qty"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("kurt_qty"))
      .orderBy("l_returnflag")
  }

  // --- A22: z-score outlier flagging — the data-quality gate that
  // drops statistically wild rows before training. Group mean/std come
  // from the same explicit power-sum algebra as a20 (one hash-agg),
  // broadcast back onto the scan; output is the flagged rows only.
  // Power sums run over integer-valued l_quantity cast to BIGINT, so
  // s1/s2 are EXACT in both engines regardless of summation order
  // (the a20 parity design); mu/sigma/z are then the same double
  // expression tree over identical inputs → bit-identical results.
  // The 1.5 cut flags the uniform tails (~12% of rows) on the test
  // corpus — quantity is discrete, so no z lands near the cut. ---
  def outlierFlags(s: SparkSession, d: String,
                   zCut: Double = 1.5): DataFrame = {
    val q = col("l_quantity")
    val stats = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(q.cast("bigint")).as("s1"),
        sum((q * q).cast("bigint")).as("s2"))
      .select(col("l_returnflag"),
        (col("s1").cast("double") / col("n")).as("mu"),
        sqrt(col("s2").cast("double") / col("n")
          - (col("s1").cast("double") / col("n"))
            * (col("s1").cast("double") / col("n"))).as("sigma"))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), q)
      .join(broadcast(stats), "l_returnflag")
      .withColumn("z", (q - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > zCut)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        q.as("qty"), round(col("z"), 4).as("z"))
      // qty in the sort key: (l_orderkey, l_linenumber) is NOT unique in
      // the synthetic lineitem, and engines order ties differently.
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "qty")
  }

  def argmaxSuite(s: SparkSession, d: String): DataFrame = {
    // Integer-cents key: float printf diverges between engines (Java
    // Formatter rounds the decimal expansion HALF_UP, C printf rounds
    // the binary double half-even), so format a BIGINT on both sides.
    val key = format_string("%018d#%012d",
      Benchmark2.priceCents(col("o_totalprice")), col("o_orderkey"))
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        max_by(col("o_orderkey"), key).as("top_order"),
        min_by(col("o_orderkey"), key).as("bottom_order"),
        count_if(col("o_totalprice") > 200000).as("n_big"),
        bool_or(col("o_orderstatus") === "P").as("any_pending"),
        bool_and(col("o_totalprice") > 0).as("all_positive"))
      .orderBy("o_orderpriority")
  }

  // --- Null-handling suite: coalesce / nullif / nvl2-style / null-safe
  // equality — the null algebra an engine must get right. ---
  def nullHandling(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(redacted)"))
          .as("seg_coalesced"),
        when(nullif(col("c_mktsegment"), lit("BUILDING")).isNull, 1).otherwise(0)
          .as("is_building"),
        (nullif(col("c_mktsegment"), lit("BUILDING")) <=> lit(null)).as("nullsafe_eq"))
      .orderBy("c_custkey")

  // --- ST1 (batch view of §2.10 tumbling window): hourly event rollup.
  // date_trunc keys instead of window() so the same query is
  // DuckDB-expressible; the streaming twin lives in graft.streaming. ---
  def hourlyEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy("hour", "event_type")

  // --- ST9 (batch view): hourly data-quality counters — the batch
  // twin of Streams.dqMonitorStream (volume + out-of-range values +
  // hot props-k band per hour). One scan, one hash-agg; the counters
  // are exact integers so the monitor hash-oracles. ---
  def dqMonitor(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < 0 || col("value") > 400, 1L).otherwise(0L))
          .as("n_value_range"),
        sum(when(get_json_object(col("props"), "$.k").cast("int") >= 90, 1L)
          .otherwise(0L)).as("n_hot_props"))
      .orderBy("hour")

  // --- ST4 (batch view): windowed top-k — the "trending items per
  // hour" report: per hour bucket, the top 2 event types by count
  // (ties to the lexicographically smaller type). Aggregate first
  // (hour × type is tiny), THEN rank — the window runs over the
  // aggregate, never raw events, so the per-hour sort input is
  // bounded by the type cardinality at any corpus size. ---
  def hourlyTopTypes(s: SparkSession, d: String, k: Int = 2): DataFrame = {
    val w = Window.partitionBy("hour")
      .orderBy(col("n").desc, col("event_type").asc)
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("hour"), col("event_type"), col("n"),
        col("rk").cast("int").as("rk"))
      .orderBy("hour", "rk")
  }

  // --- ST3 (batch view of §2.10 sliding window): 1-hour windows
  // sliding every 15 minutes — each event contributes to 4 windows.
  // Spark's window() aligns starts to the epoch; the oracle reproduces
  // the same bucketing with time_bucket arithmetic. ---
  def slidingEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      // sum, not avg: small-count averages of 2-decimal values land on
      // rounding half-way points (oracle-parity trap)
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("total_value"))
      .orderBy("window_start")

  // --- ST2: sessionization as gaps-and-islands (batch twin of
  // session_window; G8 liveness semantics per SURVEY.md §2.9/2.10 —
  // a session dies after a 30-minute silence). Window-function form is
  // deterministic and oracle-matchable; the stateful streaming form is
  // in graft.streaming.Streams. ---
  def sessionize(s: SparkSession, d: String, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapMinutes * 60L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  // --- A23: equi-width histogram of order value — the profiling pass
  // that sizes skew handling before a big job. Bucket key is pure
  // per-row arithmetic (no shuffle until the tiny per-bucket agg);
  // sums are exact integer cents, min/max are raw input values, so
  // every output cell is engine-exact. At 100 TB this is one
  // map-side-combined hash agg over ~20 buckets — no scale risk. ---
  def totalpriceHistogram(s: SparkSession, d: String,
                          width: Double = 25000.0): DataFrame =
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / width).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(Benchmark2.priceCents(col("o_totalprice"))).as("sum_cents"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("bucket")

  // --- A24: weighted mean / variance of quantity, weighted by line
  // revenue — sampling-weight statistics for mixture tuning. All three
  // power sums are exact integers (cents × integer quantity), summed
  // as decimal(38,0): the per-row swx2 term is ~2.5e10, so a LongType
  // sum passes 2^63 around ~4e8 rows per group (well under the 100 TB
  // design point) — an ANSI-mode error, or a silent wrap with ANSI
  // off; decimal overflows only past 10^38.
  // Decimal sums match DuckDB's HUGEINT sum exactly, so the final
  // double expressions stay bit-identical; one hash agg, partial+
  // final, nothing driver-side. ---
  def weightedStats(s: SparkSession, d: String): DataFrame = {
    val w = Benchmark2.priceCents(col("l_extendedprice"))
    val x = col("l_quantity").cast("long")
    val dec = "decimal(38,0)"
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(sum(w.cast(dec)).as("sw"), sum((w * x).cast(dec)).as("swx"),
        sum((w * x * x).cast(dec)).as("swx2"))
      .select(col("l_returnflag"),
        round(col("swx").cast("double") / col("sw").cast("double"), 6)
          .as("w_mean"),
        round(col("swx2").cast("double") / col("sw").cast("double")
          - (col("swx").cast("double") / col("sw").cast("double"))
            * (col("swx").cast("double") / col("sw").cast("double")), 6)
          .as("w_var"))
      .orderBy("l_returnflag")
  }

  // --- ST5: day-over-day retention — of the users active on day d,
  // how many return on d+1. Shape: dedup to (day, user) pairs (one
  // shuffle keyed on day+user, map-side combine kills the per-user
  // event fan-in), then a self equi-join on (day+1, user) — both
  // sides share the dedup's partitioning, and at 100 TB the pair
  // relation is ~|users|×|days|, orders of magnitude under the raw
  // event stream. The tail is factored out over the DISTINCT pair
  // relation so Streams.readRetention can feed it the
  // stream-maintained (day, user) activity index — stream and batch
  // share the exact scoring plan by construction. ---
  def dayRetention(s: SparkSession, d: String): DataFrame =
    retentionFromPairs(activityPairs(s, d))

  /** The distinct (day, user_id) activity relation — the shared input
    * of st5/st6 and the relation the streaming activity index
    * (Streams.activityIndexMaintainStream) maintains incrementally.
    */
  private[graft] def activityPairs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .distinct()

  /** st5's scoring tail over an already-distinct (day, user_id) pair
    * relation.
    */
  private[graft] def retentionFromPairs(pairs: DataFrame): DataFrame = {
    val next = pairs.select(
      (col("day") - expr("INTERVAL 1 DAY")).as("day"),
      col("user_id").as("u2"))
    pairs
      .join(next, pairs("day") === next("day") && col("user_id") === col("u2"),
        "left_outer")
      .groupBy(pairs("day"))
      .agg(count(lit(1)).as("dau"),
        count(col("u2")).as("retained"),
        round(count(col("u2")).cast("double") / count(lit(1)), 4)
          .as("retention"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("retained"), col("retention"))
      .orderBy("day")
  }

  // --- A25: median absolute deviation — the robust spread measure
  // for outlier gating when heavy tails poison stddev (a22's z-score
  // assumes near-normal data; MAD doesn't). Two exact-percentile
  // passes: group medians broadcast back onto the scan, then the
  // median of absolute deviations. Quantity is integer-valued, so
  // both medians land on integers or exact halves — engine-exact.
  // At 100 TB the exact percentile becomes approx_percentile (fixed
  // sketch) with the same two-pass shape. ---
  def madStats(s: SparkSession, d: String): DataFrame = {
    val q = col("l_quantity")
    val med = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(percentile(q, lit(0.5)).as("med"))
    Tables.lineitem(s, d)
      .join(broadcast(med), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(min(col("med")).as("med_raw"), // constant per group; min is the deterministic pick
        percentile(abs(q - col("med")), lit(0.5)).as("mad_raw"))
      .select(col("l_returnflag"),
        round(col("med_raw"), 4).as("med_qty"),
        round(col("mad_raw"), 4).as("mad_qty"))
      .orderBy("l_returnflag")
  }

  // --- A26: per-group OLS fit (price vs quantity) — regression as a
  // single aggregation over exact power sums, the only shape that
  // scales: n, Σx, Σy, Σxx, Σxy, Σyy as decimal(38,0) sums of integer
  // per-row terms (y in cents), then slope/intercept/r² as double
  // expressions over the exact sums. Every double op (cast, product,
  // divide, sqrt) is IEEE-correctly-rounded → bit-identical across
  // engines; no second pass, no driver math. ---
  def linearFit(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val y = Benchmark2.priceCents(col("l_extendedprice"))
    val dec = "decimal(38,0)"
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
        sum((x * x).cast(dec)).as("sxx"), sum((x * y).cast(dec)).as("sxy"),
        sum((y * y).cast(dec)).as("syy"))
      // covariance/variance numerators; r² via (num/sqrt(d1*d2))² with
      // an explicit square (x*x), NOT pow() — libm pow isn't correctly
      // rounded and would reintroduce cross-engine ULP drift
      .withColumn("num",
        dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
      .withColumn("dxx",
        dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("dyy",
        dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
      .withColumn("r", col("num") / sqrt(col("dxx") * col("dyy")))
      .select(col("l_returnflag"), col("n"),
        round(col("num") / col("dxx"), 6).as("slope_cents"),
        round((dbl(col("sy")) - col("num") / col("dxx") * dbl(col("sx")))
          / dbl(col("n")), 6).as("intercept_cents"),
        round(col("r") * col("r"), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  // --- A27: contingency table (event_type × weekday) with expected
  // counts and per-cell χ² contributions — the independence check
  // behind "is traffic shape stable across the week". Everything
  // downstream of the one count agg is per-cell arithmetic over exact
  // integers (row/col totals via tiny self-aggregations, broadcast
  // back), so no cross-cell double summation exists to diverge between
  // engines; the global χ² is the (deterministic) sum of the emitted
  // column, left to the consumer. weekday = isodow-1 (0=Monday), the
  // one day-numbering both engines agree on. ---
  def contingency(s: SparkSession, d: String): DataFrame = {
    // shared subplan: the cell table feeds the row, column and grand
    // totals and the final join
    val cells = Tables.events(s, d)
      .groupBy(col("event_type"), weekday(col("ts")).as("dow"))
      .agg(count(lit(1)).as("observed"))
      .localCheckpoint()
    val rowTot = cells.groupBy("event_type").agg(sum(col("observed")).as("row_tot"))
    val colTot = cells.groupBy("dow").agg(sum(col("observed")).as("col_tot"))
    val n = cells.agg(sum(col("observed")).as("n"))
    val expected = col("row_tot").cast("double") * col("col_tot").cast("double") /
      col("n").cast("double")
    val dev = col("observed").cast("double") - expected
    cells.join(broadcast(rowTot), "event_type")
      .join(broadcast(colTot), "dow")
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("dow"), col("observed"),
        round(expected, 4).as("expected"),
        round(dev * dev / expected, 6).as("chi2_cell"))
      .orderBy("event_type", "dow")
  }

  // --- W13: cohort retention matrix — users grouped by first-active
  // week, activity counted per week offset since the cohort started:
  // the standard "does week-3 retention hold across cohorts" table.
  // Shapes: (day,user) dedup, per-user min (both shuffle on user_id
  // and the second reuses the first's partitioning), then a tiny
  // (cohort, offset) count-distinct rollup. ---
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(s, d)
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .distinct()
    val first = pairs.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    pairs.join(first, "user_id")
      .select(
        date_format(date_trunc("WEEK", col("cohort_day")), "yyyy-MM-dd")
          .as("cohort_week"),
        floor(datediff(col("day"), col("cohort_day")) / 7).cast("int")
          .as("week_offset"),
        col("user_id"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  // --- ST6: rolling 7-day active users — EXACT sliding-window
  // distinct. The (day, user) dedup happens once; the 7-day window is
  // a bounded fan-out (each pair contributes to ≤7 window ends), so
  // the explode-to-window-end form shuffles 7×|pairs| — bounded and
  // predictable, vs. a range-join whose planning degenerates to BNLJ.
  // At larger windows an HLL-sketch-per-day union (approx) is the
  // scale path; exact is right while 7×|pairs| fits a shuffle. The
  // tail is factored over the distinct pair relation (see
  // dayRetention) so Streams.readRollingWau shares it. ---
  def rollingWau(s: SparkSession, d: String, windowDays: Int = 7): DataFrame =
    rollingWauFromPairs(activityPairs(s, d), windowDays)

  /** st6's scoring tail over an already-distinct (day, user_id) pair
    * relation.
    */
  private[graft] def rollingWauFromPairs(pairs: DataFrame,
                                         windowDays: Int): DataFrame = {
    val days = pairs.select(col("day")).distinct()
    val ends = pairs.select(col("day"), col("user_id"),
      explode(sequence(lit(0), lit(windowDays - 1))).as("k"))
      .select((col("day") + expr("make_interval(0, 0, 0, k)")).as("wend"),
        col("user_id"))
    // only report windows ending on an observed day
    ends.join(days.select(col("day").as("wend")), Seq("wend"))
      .groupBy("wend")
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(date_format(col("wend"), "yyyy-MM-dd").as("window_end"),
        col("wau"))
      .orderBy("window_end")
  }

  // --- A31: decile lift / gain chart — rank customers by lifetime
  // spend, cut into 10 equal-frequency bins, report each decile's
  // revenue share and cumulative share: the concentration statistic
  // ("top 10% of customers carry X% of revenue") behind campaign
  // targeting, next to w12's 80/20 Pareto per-part view. Spend is
  // summed in exact integer cents; the decile cut runs over the
  // CUSTOMER AGGREGATE (dimension-sized, not fact-sized — the fact
  // scan never sees a global window) via GlobalOrder.withNtile — the
  // dp10 range-partition + offset two-pass, so even the customer
  // dimension (which grows with the corpus) never funnels through one
  // task. The (spend DESC, custkey ASC) total order makes both
  // engines cut identical bins (ANSI ntile: the first n mod 10 bins
  // take the extra row); the 10-row share math below is bounded-key
  // (decile) window work. ---
  def decileLift(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(Benchmark2.priceCents(col("o_totalprice"))).as("cents"))
    val agg = GlobalOrder.withNtile(spend, 10, "decile",
        col("cents").desc, col("o_custkey").asc)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("cents"))
    val total = Window.partitionBy(lit(0))
    val cum = Window.partitionBy(lit(0)).orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg
      .withColumn("share",
        round(col("cents").cast("double")
          / sum(col("cents")).over(total).cast("double"), 6))
      .withColumn("cum_share",
        round(sum(col("cents")).over(cum).cast("double")
          / sum(col("cents")).over(total).cast("double"), 6))
      .orderBy("decile")
  }

  // --- A32: two-sample Kolmogorov–Smirnov test — are two segments'
  // order-value distributions the same? D = sup_v |F₁(v) − F₂(v)|
  // over the pooled distinct values, with the asymptotic α = 0.05
  // critical value c(α)·√((n₁+n₂)/(n₁·n₂)), c(0.05) = 1.358 — the
  // drift-detection statistic a pipeline runs before assuming one
  // segment generalizes to another. Exact integer machinery: prices
  // in cents, per-value counts, CUMULATIVE counts + grand totals via
  // GlobalOrder.withCumSums over the per-value AGGREGATE — the dp10
  // range-partition + offset two-pass, so the distinct-value relation
  // (which saturates at the price-domain cardinality but is not
  // provably bounded) never sorts on one task; ECDFs become doubles
  // only at the final division, same association both engines. The
  // sup over step points evaluated post-jump is the exact D for
  // right-continuous ECDFs. ---
  def ksTest(s: SparkSession, d: String,
             segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val seg = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(Benchmark2.priceCents(col("o_totalprice")).as("cents"),
        when(col("c_mktsegment") === segA, 1).otherwise(0).as("in_a"))
    val perValue = seg.groupBy("cents")
      .agg(sum(col("in_a")).as("cnt_a"),
        sum(lit(1) - col("in_a")).as("cnt_b"))
    GlobalOrder.withCumSums(perValue, Seq(col("cents").asc),
        Seq(GlobalOrder.CumSpec("cnt_a", "ca", "na"),
          GlobalOrder.CumSpec("cnt_b", "cb", "nb")))
      .withColumn("gap",
        abs(col("ca").cast("double") / col("na").cast("double")
          - col("cb").cast("double") / col("nb").cast("double")))
      .groupBy("na", "nb")
      .agg(round(max(col("gap")), 6).as("d_stat"))
      .withColumn("crit_05",
        round(lit(1.358) * sqrt((col("na") + col("nb")).cast("double")
          / (col("na") * col("nb")).cast("double")), 6))
      .withColumn("reject", (col("d_stat") > col("crit_05")).cast("int"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("d_stat"), col("crit_05"), col("reject"))
  }

  // --- A34: Gini coefficient of customer spend — the single-number
  // inequality summary next to a31's decile view, computed by the
  // exact rank formula G = (2·Σ i·xᵢ)/(n·Σ xᵢ) − (n+1)/n over spend
  // sorted ascending. The rank comes from GlobalOrder.withRowNumber
  // (dp10's range-partition + offset two-pass), so the customer
  // aggregate never sorts on a single task. Σ i·xᵢ and n·Σ xᵢ run in
  // decimal(38,0) — at TPC-H magnitudes the long products overflow
  // around n≈3e5 customers (≈ sf 2), where the non-decimal form would
  // silently diverge from DuckDB's HUGEINT sums (a26/a42/a47's
  // discipline); decimal→double at the final division rounds to the
  // same nearest double as long→double wherever both fit. ---
  def giniSpend(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(Benchmark2.priceCents(col("o_totalprice"))).as("cents"))
    GlobalOrder.withRowNumber(spend, "i",
        col("cents").asc, col("o_custkey").asc)
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total_cents"),
        sum(col("i").cast("decimal(38,0)") * col("cents")).as("iwsum"))
      .select(col("n"), col("total_cents"),
        round(lit(2.0) * col("iwsum").cast("double")
          / (col("n").cast("decimal(38,0)") * col("total_cents"))
            .cast("double")
          - (col("n") + 1).cast("double") / col("n").cast("double"), 6)
          .as("gini"))
  }

  // --- A35: Benford first-digit audit — the fraud/synthetic-data
  // smell test: naturally-occurring monetary amounts follow
  // P(d) = log₁₀(1 + 1/d); fabricated or truncated data doesn't. The
  // leading digit comes off the EXACT integer cents (no float
  // formatting in the hot path — substring of the decimal rendering
  // of a long), one 9-row aggregate, shares and the χ² distance from
  // the Benford profile as 6-decimal doubles. χ² is a window total
  // over the 9-row aggregate so the relation stays one table. ---
  def benfordAudit(s: SparkSession, d: String): DataFrame = {
    val digits = Tables.orders(s, d)
      .select(substring(Benchmark2.priceCents(col("o_totalprice"))
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = Window.partitionBy(lit(0))
    digits
      .withColumn("ntot", sum(col("n")).over(total))
      .withColumn("share", col("n").cast("double") / col("ntot").cast("double"))
      .withColumn("exp_share",
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .withColumn("chi2",
        round(sum(
          (col("n").cast("double") - col("ntot").cast("double") * col("exp_share"))
            * (col("n").cast("double") - col("ntot").cast("double") * col("exp_share"))
            / (col("ntot").cast("double") * col("exp_share"))).over(total), 6))
      .select(col("digit"), col("n"), round(col("share"), 6).as("share"),
        round(col("exp_share"), 6).as("exp_share"), col("chi2"))
      .orderBy("digit")
  }

  // --- ST8 batch twin: purchase→click attribution — every purchase
  // matched to the same user's clicks in the preceding hour, the exact
  // batch semantics of Streams.purchaseAttribution's stream-stream
  // interval join (watermarked both sides, time-bounded condition →
  // GC-able state). Batch plan: two filtered scans of one table,
  // equi-join on user with the interval test as a post-filter — the
  // j9 shape, a hash join at any scale, never a BNLJ. ---
  def attribution(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"), col("value"))
      .orderBy("purchase_id", "click_id")
  }

  // --- ST10 batch twin: LEFT OUTER attribution — st8 plus the rows
  // the inner join silently drops: purchases with NO qualifying click
  // in the preceding hour, carried with a NULL click_id. On the
  // stream side this is the one join flavor whose rows can only be
  // emitted by WATERMARK EXPIRY (a match might still arrive until the
  // watermark passes the purchase's eligibility window), so its
  // stream-batch equivalence pins Spark's outer-join state GC, not
  // just the interval condition. NULLS FIRST on the click column is
  // pinned explicitly — Spark and DuckDB default opposite null
  // orders for ASC. ---
  def attributionOuter(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"), col("value"))
      .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
  }

  // --- SQ7: POSITION-BASED (U-shaped) MULTI-TOUCH ATTRIBUTION — the
  // credit model between st8's all-touch join and a last-touch rule:
  // over each purchase's qualifying clicks (st8's own touch set — same
  // user, preceding hour), the first and last touch earn 40% each and
  // the middle splits the remaining 20% evenly; one- and two-touch
  // paths degenerate to 100% / 50-50. Positions come from a window
  // partitioned BY PURCHASE (each partition is the ≤1-hour click
  // burst — bounded, never grow-with-data), credits are single
  // divisions of exact integers, and the credited revenue rounds to
  // 4dp — both engines agree bit-for-bit. At 100 TB this is st8's
  // hash join plus a per-purchase window: the credit model adds no
  // extra scan or shuffle beyond the join it decorates. ---
  def ushapeAttribution(s: SparkSession, d: String): DataFrame = {
    // st8's touch join, re-derived here to KEEP click_ts: first/last
    // are time positions, and click ids need not be time-ordered
    val e = Tables.events(s, d)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val touches = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .join(c,
        col("p_user") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"), col("value"), col("click_ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("purchase_id")
    val wo = w.orderBy(col("click_ts"), col("click_id"))
    val n = col("n_touches")
    val credit =
      when(n === 1, lit(1.0))
        .when(n === 2, lit(0.5))
        .when(col("position") === 1 || col("position") === n, lit(0.4))
        .otherwise(lit(0.2) / (n - lit(2)).cast("double"))
    touches
      .withColumn("position", row_number().over(wo))
      .withColumn("n_touches", count(lit(1)).over(w))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("position"), n,
        round(credit, 6).as("credit"),
        round(credit * col("value"), 4).as("credited_value"))
      .orderBy("purchase_id", "position")
  }

  /** Oracle twin of [[ushapeAttribution]] — st8's interval join with
    * the identical positional credit arithmetic.
    */
  def ushapeAttributionOracleSql(): String =
    """WITH touches AS (
      |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |    p.user_id, p.value, c.ts AS click_ts
      |  FROM events p JOIN events c
      |    ON p.user_id = c.user_id
      |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |  WHERE p.event_type = 'purchase' AND c.event_type = 'click'),
      |pos AS (
      |  SELECT purchase_id, click_id, user_id, value,
      |    CAST(row_number() OVER (PARTITION BY purchase_id
      |      ORDER BY click_ts, click_id) AS INTEGER) AS position,
      |    CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT)
      |      AS n_touches
      |  FROM touches),
      |cr AS (
      |  SELECT *,
      |    CASE WHEN n_touches = 1 THEN 1.0
      |         WHEN n_touches = 2 THEN 0.5
      |         WHEN position = 1 OR position = n_touches THEN 0.4
      |         ELSE 0.2 / CAST(n_touches - 2 AS DOUBLE) END AS c
      |  FROM pos)
      |SELECT purchase_id, click_id, user_id, position, n_touches,
      |  round(c, 6) AS credit,
      |  round(c * value, 4) AS credited_value
      |FROM cr
      |ORDER BY purchase_id, position""".stripMargin

  // --- A36: Mann–Whitney U (Wilcoxon rank-sum) — a32's KS sibling:
  // does one segment's order-value distribution stochastically
  // dominate the other's? Rank-based, so it needs tie-averaged ranks
  // over the pooled sample — the DOUBLED-rank trick keeps that exact
  // integer: for a value whose pooled cumulative count runs
  // (prev, cum], the tie-averaged rank is (prev+1+cum)/2, so twice it
  // is prev+cum+1, an integer. 2·R_A and 2·U_A are therefore exact
  // longs (hash-checked); the normal-approximation z only goes double
  // at the final expression, with the standard tie-corrected variance
  // σ² = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1))). The pooled
  // cumulative count runs through GlobalOrder.withCumSums (dp10's
  // range-partition + offset two-pass) over the per-value AGGREGATE,
  // so the distinct-value relation never sorts on one task; past
  // ~1e9 pooled rows the rank sums move to decimal(38,0), a26's
  // discipline. ---
  def mannWhitney(s: SparkSession, d: String,
                  segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val seg = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(Benchmark2.priceCents(col("o_totalprice")).as("cents"),
        when(col("c_mktsegment") === segA, 1).otherwise(0).as("in_a"))
    val perValue = seg.groupBy("cents")
      .agg(sum(col("in_a")).cast("long").as("cnt_a"),
        sum(lit(1) - col("in_a")).cast("long").as("cnt_b"))
      .withColumn("cnt", col("cnt_a") + col("cnt_b"))
    GlobalOrder.withCumSums(perValue, Seq(col("cents").asc),
        Seq(GlobalOrder.CumSpec("cnt", "cumn", "__pooled_n")))
      .drop("__pooled_n")
      // doubled tie-averaged rank: prev + cum + 1 = 2·cum − cnt + 1
      .withColumn("rank2", col("cumn") * 2 - col("cnt") + 1)
      .agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"),
        sum(col("cnt_a") * col("rank2")).as("r2_a"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("t_ties"))
      .withColumn("u2_a", col("r2_a") - col("n_a") * (col("n_a") + 1))
      .withColumn("nn", col("n_a") + col("n_b"))
      .withColumn("sigma2",
        dbl(col("n_a")) * dbl(col("n_b")) / lit(12.0)
          * (dbl(col("nn") + 1)
            - dbl(col("t_ties")) / dbl(col("nn") * (col("nn") - 1))))
      .withColumn("z",
        round(dbl(col("u2_a") - col("n_a") * col("n_b"))
          / (lit(2.0) * sqrt(col("sigma2"))), 6))
      .select(col("n_a"), col("n_b"), col("r2_a"), col("u2_a"),
        col("t_ties"), col("z"),
        (abs(col("z")) > lit(1.96)).cast("int").as("reject"))
  }

  // --- A37: Spearman rank correlation — is a customer's account
  // balance monotonically related to lifetime spend? Pearson over
  // tie-averaged ranks; a36's doubled-rank trick makes the ranks
  // exact integers, and Pearson is scale/shift-invariant so the
  // doubling cancels. Ranks come from the per-distinct-value
  // cumulative count (GlobalOrder.withCumSums — dp10's two-pass —
  // over each variable's value AGGREGATE) joined back to the rows —
  // two keyed equi-joins, never a single-task global sort; the power
  // sums then follow a26's exact-integer
  // formula with the same double association, so ρ is bit-identical
  // across engines. Sums stay in long through ~1e6 customers (rank²
  // ≤ 4n²; Σ ≤ 4n³); past that they move to decimal(38,0), a26's
  // discipline. ---
  def spearmanBalSpend(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(Benchmark2.priceCents(col("o_totalprice"))).as("yv"))
    // shared subplan: feeds the row relation and both rank aggregations
    val rows = Tables.customer(s, d)
      .select(col("c_custkey"), Benchmark2.priceCents(col("c_acctbal")).as("xv"))
      .join(spend, col("c_custkey") === col("o_custkey"))
      .select(col("xv"), col("yv"))
      .localCheckpoint()
    def rank2(vcol: String): DataFrame =
      GlobalOrder.withCumSums(
          rows.groupBy(vcol).agg(count(lit(1)).as("cnt")),
          Seq(col(vcol).asc),
          Seq(GlobalOrder.CumSpec("cnt", "cumn", "__n_" + vcol)))
        .select(col(vcol), (col("cumn") * 2 - col("cnt") + 1).as(vcol + "_r2"))
    rows.join(rank2("xv"), "xv").join(rank2("yv"), "yv")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("xv_r2")).as("sx"), sum(col("yv_r2")).as("sy"),
        sum(col("xv_r2") * col("xv_r2")).as("sxx"),
        sum(col("xv_r2") * col("yv_r2")).as("sxy"),
        sum(col("yv_r2") * col("yv_r2")).as("syy"))
      .withColumn("num",
        dbl(col("n")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
      .withColumn("dxx",
        dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("dyy",
        dbl(col("n")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
      .select(col("n"), col("sx"), col("sy"),
        round(col("num") / sqrt(col("dxx") * col("dyy")), 6).as("rho"))
  }

  // --- A39: RFM segmentation — the classic customer-value cube:
  // recency (days since last order, anchored to the corpus max date so
  // the result is run-date-independent), frequency (order count),
  // monetary (exact lifetime cents), each scored 1–5 by equal-
  // frequency ntile over a TOTAL order (metric, then custkey — ties
  // can never make the bucketing nondeterministic), 5 = best. Output
  // is the segment distribution (≤125 rows) with per-segment customer
  // counts and exact revenue. The three scores run as one
  // GlobalOrder.withNtiles batch over the per-customer AGGREGATE
  // (dp10's range-partition + offset two-pass per metric, each over a
  // skinny (custkey, metric) projection — never a single-task sort,
  // never a full-width re-shuffle); the recency anchor is a 1-row max
  // aggregate attached by broadcast (plans as BNLJ, the j8-sanctioned
  // tiny-cross shape), and the anchored relation is checkpointed once
  // so the three ntile passes don't re-aggregate orders. ---
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_o"),
        count(lit(1)).as("freq"),
        sum(Benchmark2.priceCents(col("o_totalprice"))).as("monetary"))
    // score 5 = most recent / most frequent / highest spend:
    // recency_days DESC puts the stalest customers in ntile 1
    val anchored = per
      .crossJoin(broadcast(per.agg(max(col("last_o")).as("maxd"))))
      .withColumn("recency_days",
        datediff(col("maxd").cast("date"), col("last_o").cast("date"))
          .cast("long"))
      .localCheckpoint() // shared subplan: read by all three ntile passes
    val scored = GlobalOrder.withNtiles(anchored, "o_custkey", 5, Seq(
      ("r_score", col("recency_days"), false),
      ("f_score", col("freq"), true),
      ("m_score", col("monetary"), true)))
    scored
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary")).as("segment_cents"))
      .orderBy("r_score", "f_score", "m_score")
  }

  // --- A41: Theil–Sen robust trend — the median of all pairwise
  // slopes of the monthly revenue series (a26's OLS sibling that one
  // outlier month cannot move; breakdown point 29%). The pair
  // relation is month-aggregate² — BOUNDED (84 months → ~3.5k pairs at any
  // corpus size; the series length is calendar-bounded, not
  // data-bounded), so the O(n²) is by construction scale-safe. x is
  // months-since-epoch (exact integer), each slope one per-row double
  // division, the median an exact rank pick (row_number over (slope,
  // pair key) — lower median for even counts, deterministic under
  // ties). Sen's intercept = median of per-month residuals against
  // the chosen slope, same discipline. ---
  def theilSen(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    // reused three times (pair self-join sides + residuals) but NOT
    // checkpointed: the recompute is one cheap scan+agg each, and an
    // opaque checkpoint scan would hide the aggregate provenance the
    // plan-hygiene guard uses to allow the global median windows
    val monthly = Tables.orders(s, d)
      .groupBy(((year(col("o_orderdate")) - 1992) * 12
        + month(col("o_orderdate")) - 1).cast("long").as("x"))
      .agg(sum(Benchmark2.priceCents(col("o_totalprice"))).as("c"))
    val a = monthly.select(col("x").as("xa"), col("c").as("ca"))
    val b = monthly.select(col("x").as("xb"), col("c").as("cb"))
    val slopes = a.join(broadcast(b), col("xa") < col("xb"))
      .select(col("xa"), col("xb"),
        (dbl(col("cb") - col("ca")) / dbl(col("xb") - col("xa")))
          .as("slope"))
    val wS = Window.partitionBy(lit(0)).orderBy(col("slope").asc, col("xa").asc, col("xb").asc)
    val tot = Window.partitionBy(lit(0))
    val med = slopes
      .withColumn("rn", row_number().over(wS).cast("long"))
      .withColumn("np", sum(lit(1L)).over(tot))
      .filter(col("rn") === expr("(np + 1) div 2")) // lower median
      .select(col("slope"), col("np").as("n_pairs"))
    val wR = Window.partitionBy(lit(0)).orderBy(col("resid").asc, col("x").asc)
    monthly.crossJoin(broadcast(med))
      .select(col("x"), col("slope"), col("n_pairs"),
        (dbl(col("c")) - col("slope") * dbl(col("x"))).as("resid"))
      .withColumn("rn", row_number().over(wR).cast("long"))
      .withColumn("nm", sum(lit(1L)).over(Window.partitionBy(lit(0))))
      .filter(col("rn") === expr("(nm + 1) div 2"))
      .select(col("nm").as("n_months"), col("n_pairs"),
        round(col("slope"), 6).as("slope_cents_per_month"),
        // whole cents via floor(x+0.5), NOT round(x, 6): the residual
        // is ~1e10, where round-by-1e6-multiply exceeds 2^53 and the
        // engines' round() implementations diverge in the last ULP;
        // floor(x+0.5) is two IEEE ops, bit-identical, and sub-cent
        // precision of a median residual carries no information
        floor(col("resid") + 0.5).cast("long").as("intercept_cents"))
  }

  // --- A38: changepoint detection — where does the daily revenue
  // series most decisively shift its mean? The CUSUM split statistic
  // G_t = |n·S_t − t·S_n| (S = prefix sum of daily cents), maximized
  // over all split points t: this is the n-scaled form of
  // |S_t − (t/n)·S_n|, kept EXACT integer so the argmax can never be
  // an FP artifact — the division into means happens only on the one
  // winning row. Shape: one day-level hash agg, one ordered window
  // over the (bounded) daily aggregate for the prefix sum, a 1-row
  // TakeOrdered argmax (ties to the earliest day). Past ~10⁹ days ×
  // cents the n·S product moves to decimal(38,0), a26's discipline.
  // ---
  def changepoint(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val daily = Tables.orders(s, d)
      .groupBy(date_format(date_trunc("day", col("o_orderdate")),
        "yyyy-MM-dd").as("day"))
      .agg(sum(Benchmark2.priceCents(col("o_totalprice"))).as("cents"))
    val ord = Window.partitionBy(lit(0)).orderBy("day")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(lit(0))
    daily
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("cs", sum(col("cents")).over(cum))
      .withColumn("n", sum(lit(1L)).over(tot))
      .withColumn("total", sum(col("cents")).over(tot))
      .filter(col("t") < col("n"))
      .withColumn("g_stat", abs(col("n") * col("cs") - col("t") * col("total")))
      .orderBy(col("g_stat").desc, col("day").asc)
      .limit(1)
      .select(col("day").as("split_day"), col("t"), col("n"), col("g_stat"),
        round(dbl(col("cs")) / dbl(col("t")), 6).as("mean_left"),
        round(dbl(col("total") - col("cs")) / dbl(col("n") - col("t")), 6)
          .as("mean_right"))
  }

  // --- A42: autocorrelation function — Pearson r between the daily
  // revenue series and itself at lags 1..maxLag, the first diagnostic
  // a forecasting pipeline computes (is there weekly seasonality? how
  // fast does the signal decorrelate?). The series is the exact
  // daily cents aggregate; lag pairs come from a calendar-date
  // equi-join (day, day+lag) — gap days simply contribute no pair,
  // the irregular-series convention w15 (TWAP) also uses. Per lag,
  // a26's discipline: exact decimal(38,0) power sums (daily cents
  // ~1e9, products ~1e18 — wide headroom), doubles only in the final
  // per-row r with explicit association. The lag table is a tiny
  // broadcast; the join shuffles the (small, one-row-per-day)
  // aggregate, never the fact table. ---
  def autocorrelation(s: SparkSession, d: String, maxLag: Int = 7): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec = "decimal(38,0)"
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Benchmark2.priceCents(col("o_totalprice")).cast(dec)).as("x"))
    val lags = s.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    daily.as("a").crossJoin(broadcast(lags))
      .join(daily.as("b"),
        col("b.day") === date_add(col("a.day"), col("lag")))
      .select(col("lag"), col("a.x").as("xa"), col("b.x").as("xb"))
      .groupBy("lag")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"))
      .select(col("lag"), col("n"),
        round((dbl(col("n")) * dbl(col("sxy"))
            - dbl(col("sx")) * dbl(col("sy")))
          / sqrt((dbl(col("n")) * dbl(col("sxx"))
              - dbl(col("sx")) * dbl(col("sx")))
            * (dbl(col("n")) * dbl(col("syy"))
              - dbl(col("sy")) * dbl(col("sy")))), 6).as("acf"))
      .orderBy("lag")
  }

  // --- A49: SEASONALITY & TREND STRENGTH — Hyndman's STL-based
  // strength measures (FPP3 §4.3) over the daily revenue series:
  // detrend with a centered 7-day moving average (a42's offset-join
  // trick — 7 shifted self-joins on date arithmetic, NO global
  // window, interior days only so every MA has exactly 7 terms),
  // estimate the weekly seasonal as the per-dow mean of the
  // detrended series, and report F_s = max(0, 1 − var(rem)/var(det))
  // and F_t = max(0, 1 − var(rem)/var(x − seasonal)) — the two
  // numbers a forecasting triage reads first. Daily sums are exact
  // decimal cents; variances are explicit population moments (same
  // arithmetic both engines); per-dow remainder means are zero by
  // construction, so the var cancellation is benign. Scale shape:
  // day-keyed aggregates (calendar-bounded), a 7-row broadcast, one
  // final scalar agg. ---
  def seasonalityStrength(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec = "decimal(38,0)"
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Benchmark2.priceCents(col("o_totalprice")).cast(dec)).as("x"))
    val offs = s.range(-3, 4).select(col("id").cast("int").as("off"))
    val ma = daily.as("a").crossJoin(broadcast(offs))
      .join(daily.as("b"),
        col("b.day") === date_add(col("a.day"), col("off")))
      .groupBy(col("a.day").as("day"), col("a.x").as("xd"))
      .agg(count(lit(1)).as("nw"), sum(col("b.x")).as("wsum"))
      .filter(col("nw") === 7)
      .select(col("day"), dbl(col("xd")).as("x"),
        (dbl(col("wsum")) / 7.0).as("trend"))
    val det = ma
      .withColumn("dow", dayofweek(col("day")) - 1)
      .withColumn("det", col("x") - col("trend"))
    val seas = det.groupBy("dow")
      .agg(avg(col("det")).as("seasonal"))
    det.join(broadcast(seas), Seq("dow"))
      .withColumn("rem", col("det") - col("seasonal"))
      .withColumn("sa", col("x") - col("seasonal"))
      .agg(count(lit(1)).as("n_days"),
        (sum(col("rem") * col("rem")) / count(lit(1))
          - avg(col("rem")) * avg(col("rem"))).as("vr"),
        (sum(col("det") * col("det")) / count(lit(1))
          - avg(col("det")) * avg(col("det"))).as("vd"),
        (sum(col("sa") * col("sa")) / count(lit(1))
          - avg(col("sa")) * avg(col("sa"))).as("vs"))
      .select(col("n_days"),
        round(greatest(lit(0.0), lit(1.0) - col("vr") / col("vd")), 5)
          .as("f_seasonal"),
        round(greatest(lit(0.0), lit(1.0) - col("vr") / col("vs")), 5)
          .as("f_trend"))
  }

  /** Oracle twin of [[seasonalityStrength]] — same centered-MA
    * offset join, per-dow seasonal means, and population moments.
    */
  def seasonalityStrengthOracleSql(): String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
      |      AS x
      |  FROM orders GROUP BY 1),
      |ma AS (
      |  SELECT a.day, CAST(a.x AS DOUBLE) AS x,
      |    CAST(sum(b.x) AS DOUBLE) / 7.0 AS trend
      |  FROM daily a
      |  CROSS JOIN (SELECT CAST(unnest(generate_series(-3, 3)) AS INTEGER)
      |              AS off) o
      |  JOIN daily b ON b.day = a.day + o.off
      |  GROUP BY a.day, a.x
      |  HAVING count(*) = 7),
      |det AS (
      |  SELECT day, x, trend, CAST(dayofweek(day) AS INTEGER) AS dow,
      |    x - trend AS det
      |  FROM ma),
      |seas AS (
      |  SELECT dow, avg(det) AS seasonal FROM det GROUP BY 1),
      |r AS (
      |  SELECT det.det - seasonal AS rem, det.det AS det,
      |    det.x - seasonal AS sa
      |  FROM det JOIN seas ON det.dow = seas.dow)
      |SELECT CAST(count(*) AS BIGINT) AS n_days,
      |  round(greatest(0.0, 1.0
      |    - (sum(rem * rem) / count(*) - avg(rem) * avg(rem))
      |      / (sum(det * det) / count(*) - avg(det) * avg(det))), 5)
      |    AS f_seasonal,
      |  round(greatest(0.0, 1.0
      |    - (sum(rem * rem) / count(*) - avg(rem) * avg(rem))
      |      / (sum(sa * sa) / count(*) - avg(sa) * avg(sa))), 5)
      |    AS f_trend
      |FROM r""".stripMargin

  // --- A43: trimmed & winsorized means — the robust-location pair
  // next to a18's median and a25's MAD: drop (trimmed) or clamp
  // (winsorized) the tail 5% at each end before averaging, the
  // standard way a metrics pipeline reports a mean that one fat-finger
  // order can't move. Exactness: rows get a row_number under the
  // (cents, o_orderkey) total order per priority group (partitioned
  // window — scales by group), the trim bounds are integer ranks, and
  // both means are ratios of exact cents sums, doubles per-row only.
  // Winsorization clamps to the exact cents value AT the boundary
  // ranks (joined in by rank), so every engine agrees bit-for-bit. ---
  def trimmedStats(s: SparkSession, d: String, trimPct: Int = 5): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val w = Window.partitionBy(col("pr"))
      .orderBy(col("cents").asc, col("o_orderkey").asc)
    val ranked = Tables.orders(s, d)
      .select(col("o_orderpriority").as("pr"), col("o_orderkey"),
        Benchmark2.priceCents(col("o_totalprice")).as("cents"))
      .withColumn("rn", row_number().over(w))
    // shared subplan: `counted` feeds both bound filters and the final
    // agg; unpinned, each re-ran the ranking window (r12)
    val counted = ranked
      .join(ranked.groupBy("pr").agg(count(lit(1)).as("n")), "pr")
      .withColumn("lo", expr(s"(n * $trimPct) div 100")) // integral div
      .withColumn("hi", col("n") - col("lo"))
      .localCheckpoint()
    val bounds = counted.filter(col("rn") === col("lo") + 1)
      .select(col("pr"), col("cents").as("lo_cents"))
      .join(counted.filter(col("rn") === col("hi"))
        .select(col("pr"), col("cents").as("hi_cents")), "pr")
    counted.join(broadcast(bounds), "pr")
      .groupBy("pr")
      .agg(count(lit(1)).as("n"),
        sum(when(col("rn") > col("lo") && col("rn") <= col("hi"),
          col("cents"))).as("trim_sum"),
        sum(when(col("rn") > col("lo") && col("rn") <= col("hi"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
          .as("wins_sum"))
      .select(col("pr"), col("n"), col("n_kept"),
        round(dbl(col("trim_sum")) / dbl(col("n_kept")) / 100.0, 6)
          .as("trimmed_mean"),
        round(dbl(col("wins_sum")) / dbl(col("n")) / 100.0, 6)
          .as("winsorized_mean"))
      .orderBy("pr")
  }

  /** Oracle twin of [[trimmedStats]] — identical rank/bound/clamp
    * chain.
    */
  def trimmedStatsOracleSql(trimPct: Int = 5): String =
    s"""WITH ranked AS (
       |  SELECT o_orderpriority AS pr, o_orderkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) ASC,
       |               o_orderkey ASC) AS rn
       |  FROM orders),
       |counted AS (
       |  SELECT r.*, g.n, (g.n * $trimPct) // 100 AS lo,
       |    g.n - (g.n * $trimPct) // 100 AS hi
       |  FROM ranked r JOIN (SELECT pr, CAST(count(*) AS BIGINT) AS n
       |                      FROM ranked GROUP BY 1) g USING (pr)),
       |bounds AS (
       |  SELECT a.pr, a.cents AS lo_cents, b.cents AS hi_cents
       |  FROM counted a JOIN counted b
       |    ON a.pr = b.pr AND a.rn = a.lo + 1 AND b.rn = b.hi)
       |SELECT c.pr, c.n, CAST(sum(CASE WHEN rn > lo AND rn <= hi
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  round(CAST(sum(CASE WHEN rn > lo AND rn <= hi THEN cents END)
       |      AS DOUBLE)
       |    / CAST(sum(CASE WHEN rn > lo AND rn <= hi THEN 1 ELSE 0 END)
       |      AS DOUBLE) / 100.0, 6) AS trimmed_mean,
       |  round(CAST(sum(greatest(least(cents, b.hi_cents), b.lo_cents))
       |      AS DOUBLE) / CAST(c.n AS DOUBLE) / 100.0, 6)
       |    AS winsorized_mean
       |FROM counted c JOIN bounds b USING (pr)
       |GROUP BY c.pr, c.n ORDER BY c.pr""".stripMargin

  // --- A44: day-of-week seasonality index — mean daily revenue per
  // weekday relative to the overall daily mean, the decomposition step
  // between a2's calendar rollup and a42's ACF (is the lag-7 signal a
  // weekly cycle, and how strong per day?). Two stacked exact
  // aggregates (day cents → dow sums) + one broadcast 1-row overall
  // mean; the index is a per-row ratio of exact integers. dow is
  // 0=Sunday..6 in both engines (Spark dayofweek()−1, DuckDB
  // dayofweek()). ---
  def dowSeasonality(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec = "decimal(38,0)"
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Benchmark2.priceCents(col("o_totalprice")).cast(dec)).as("x"))
    val overall = daily.agg(sum(col("x")).as("tot"),
      count(lit(1)).cast("long").as("n_days"))
    daily
      .groupBy((dayofweek(col("day")) - 1).as("dow"))
      .agg(count(lit(1)).cast("long").as("n_days_dow"),
        sum(col("x")).as("dow_sum"))
      .crossJoin(broadcast(overall))
      .select(col("dow"), col("n_days_dow"),
        round((dbl(col("dow_sum")) / dbl(col("n_days_dow")))
          / (dbl(col("tot")) / dbl(col("n_days"))), 6).as("seasonal_idx"))
      .orderBy("dow")
  }

  // --- A45: OHLC bars — the classic time-series downsample (open/
  // high/low/close + volume per day) that turns an event stream into
  // chartable candles; here over order totals. Open/close are argmin/
  // argmax over the a16 fixed-width (epoch-micros, key) string total
  // order, so intra-day ties resolve identically in any engine; all
  // four prices are exact cents. One hash-agg with map-side partials —
  // the downsample a market-data pipeline runs per symbol-day at any
  // scale. ---
  def ohlcBars(s: SparkSession, d: String): DataFrame = {
    val cents = Benchmark2.priceCents(col("o_totalprice"))
    // o_orderdate surfaces as TIMESTAMP_NTZ; the UTC session makes the
    // cast a plain reinterpretation, and DuckDB's epoch_us reads the
    // same micros off the same parquet values
    val key = format_string("%018d#%012d",
      unix_micros(col("o_orderdate").cast("timestamp")), col("o_orderkey"))
    Tables.orders(s, d)
      .groupBy(date_format(date_trunc("day", col("o_orderdate")),
        "yyyy-MM-dd").as("day"))
      .agg(min_by(cents, key).as("open_c"), max(cents).as("high_c"),
        min(cents).as("low_c"), max_by(cents, key).as("close_c"),
        count(lit(1)).as("n_orders"), sum(cents).as("volume_c"))
      .orderBy("day")
  }

  // --- A46: two-proportion z-test — the A/B experiment readout next
  // to the distributional tests (a32 KS, a36 Mann-Whitney): users are
  // assigned to variants by id parity (the deterministic stand-in for
  // an experiment bucket), conversion = >= 1 HIGH-VALUE purchase
  // (value > 150 — plain purchase is universal in the synthetic feed,
  // which would zero the pooled variance and the z denominator), and
  // the pooled-variance z statistic decides significance at 5%. All four
  // inputs are exact integer counts from one distinct-user aggregate;
  // p_a/p_b/z are single-row doubles with explicit association, so the
  // readout hash-oracles. The plan is one events scan + one (user,
  // converted) agg + one 2-row group — at any corpus scale the
  // experiment readout costs one pass. ---
  def abTest(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
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
      .withColumn("p_pool",
        (dbl(col("conv_a")) + dbl(col("conv_b")))
          / (dbl(col("n_a")) + dbl(col("n_b"))))
      .withColumn("z",
        (col("p_a") - col("p_b"))
          / sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
            * (lit(1.0) / dbl(col("n_a")) + lit(1.0) / dbl(col("n_b")))))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(col("z"), 6).as("z"),
        (abs(col("z")) > 1.96).as("significant_5pct"))
  }

  // --- A47: Herfindahl–Hirschman concentration index — how
  // concentrated is each year's revenue across suppliers?
  // HHI = 10000·Σ(sᵢ/S)² = 10000·Σsᵢ²/S², the antitrust-style
  // concentration number next to a34's Gini (inequality of the same
  // distribution, different question). Per-supplier year revenue is
  // the exact 1e-4-cents line revenue summed as decimal(38,0); Σsᵢ²
  // and S are exact decimals, and the index is one per-row double.
  // Two stacked hash-aggs (line → supplier-year → year), all
  // map-side-partial — a fact-table scan at any scale. ---
  def hhi(s: SparkSession, d: String): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val dec = "decimal(38,0)"
    val bySupplier = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(year(col("o_orderdate")).as("y"), col("l_suppkey"))
      .agg(sum(Benchmark2.lineRevenueCents1e4.cast(dec)).as("rev"))
    bySupplier.groupBy("y")
      .agg(count(lit(1)).cast("long").as("n_suppliers"),
        sum(col("rev")).as("total"),
        sum(col("rev") * col("rev")).as("sumsq"))
      .select(col("y"), col("n_suppliers"),
        round(lit(10000.0) * dbl(col("sumsq"))
          / (dbl(col("total")) * dbl(col("total"))), 6).as("hhi"))
      .orderBy("y")
  }

  /** Oracle twin of [[hhi]]. */
  def hhiOracleSql(): String =
    """WITH sup AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS y, l_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS HUGEINT)
      |      AS rev
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2)
      |SELECT y, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  round(10000.0 * CAST(sum(rev * rev) AS DOUBLE)
      |    / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE)), 6)
      |    AS hhi
      |FROM sup GROUP BY y ORDER BY y""".stripMargin

  /** Oracle twin of [[abTest]]. */
  def abTestOracleSql(): String =
    """WITH pu AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value > 150
      |        THEN 1 ELSE 0 END)
      |      AS converted
      |  FROM events GROUP BY 1),
      |v AS (
      |  SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(converted) AS BIGINT) AS conv
      |  FROM pu GROUP BY 1),
      |ab AS (
      |  SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
      |  FROM (SELECT n, conv FROM v WHERE variant = 0) a
      |  CROSS JOIN (SELECT n, conv FROM v WHERE variant = 1) b),
      |c AS (
      |  SELECT *,
      |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
      |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
      |    (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
      |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p_pool
      |  FROM ab)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
      |  round((p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
      |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
      |    AS z,
      |  abs((p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
      |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))))
      |    > 1.96 AS significant_5pct
      |FROM c""".stripMargin

  // --- A48: CUPED-adjusted A/B readout (Deng et al., WSDM'13) — the
  // industry-standard variance-reduction companion to a46's z-test.
  // Per user: x = pre-period spend (days 1–15), y = post-period spend
  // (days 16+); θ = pooled cov(x,y)/var(x) fitted once across ALL
  // users (the standard pooled estimator — fitting per-arm would bias
  // the contrast); adjusted metric y′ = y − θ(x − x̄). Reported per
  // variant: n, mean(y), mean(y′), and the variance reduction
  // 1 − var(y′)/var(y) that tells the experimenter how much extra
  // power CUPED bought. Moments are explicit Σ/Σxy sums (population
  // form) so Spark and DuckDB execute the same arithmetic — engine
  // var_pop implementations (Welford vs raw) would differ in low
  // bits for no gain. Shape: one events scan → per-user hash-agg →
  // one scalar broadcast (θ, x̄ — two doubles) → per-variant hash-agg;
  // at 100 TB it is two map-side-combined aggregations and a
  // two-double broadcast, nothing else. ---
  def cupedAbTest(s: SparkSession, d: String): DataFrame =
    cupedFromPerUser(cupedPerUserRows(Tables.events(s, d)))

  /** Per-user (x = pre-period spend, y = post-period spend) — the
    * ADDITIVE state under a48: disjoint event batches contribute
    * per-user partial sums that merge by summation, which is what the
    * streaming experiment monitor maintains.
    */
  private[graft] def cupedPerUserRows(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15, col("value"))
          .otherwise(lit(0.0))).as("x"),
        sum(when(dayofmonth(col("ts")) > 15, col("value"))
          .otherwise(lit(0.0))).as("y"))

  /** The θ fit + per-arm rollup over a per-user (user_id, x, y)
    * relation — shared by [[cupedAbTest]] and the streaming twin so
    * the two can never disagree on the estimator.
    */
  private[graft] def cupedFromPerUser(perUser: DataFrame): DataFrame = {
    val m = perUser
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sxx") - col("sx") * col("sx"))).as("theta"),
        (col("sx") / col("n")).as("xbar"))
    perUser.crossJoin(broadcast(m))
      .withColumn("y_adj", col("y") - col("theta") * (col("x") - col("xbar")))
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("y")), 4).as("mean_y"),
        round(avg(col("y_adj")), 4).as("mean_y_cuped"),
        round(lit(1.0)
          - (sum(col("y_adj") * col("y_adj")) / count(lit(1))
              - avg(col("y_adj")) * avg(col("y_adj")))
            / (sum(col("y") * col("y")) / count(lit(1))
              - avg(col("y")) * avg(col("y"))), 5).as("var_reduction"))
      .orderBy("variant")
  }

  /** Oracle twin of [[cupedAbTest]] — identical pooled-θ fit and
    * population-moment variance chain.
    */
  def cupedAbTestOracleSql(): String =
    """WITH pu AS (
      |  SELECT user_id,
      |    sum(CASE WHEN day(ts) <= 15 THEN value ELSE 0 END) AS x,
      |    sum(CASE WHEN day(ts) > 15 THEN value ELSE 0 END) AS y
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM pu),
      |t AS (
      |  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
      |    sx / n AS xbar
      |  FROM m),
      |adj AS (
      |  SELECT user_id % 2 AS variant, y,
      |    y - theta * (x - xbar) AS y_adj
      |  FROM pu CROSS JOIN t)
      |SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
      |  round(avg(y), 4) AS mean_y,
      |  round(avg(y_adj), 4) AS mean_y_cuped,
      |  round(1.0
      |    - (sum(y_adj * y_adj) / count(*) - avg(y_adj) * avg(y_adj))
      |      / (sum(y * y) / count(*) - avg(y) * avg(y)), 5)
      |    AS var_reduction
      |FROM adj GROUP BY 1 ORDER BY variant""".stripMargin

  /** Oracle twin of [[ohlcBars]]. */
  def ohlcBarsOracleSql(): String =
    """SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
      |  min_by(CAST(round(o_totalprice * 100) AS BIGINT),
      |    printf('%018d#%012d', epoch_us(o_orderdate), o_orderkey))
      |    AS open_c,
      |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS high_c,
      |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS low_c,
      |  max_by(CAST(round(o_totalprice * 100) AS BIGINT),
      |    printf('%018d#%012d', epoch_us(o_orderdate), o_orderkey))
      |    AS close_c,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS volume_c
      |FROM orders GROUP BY 1 ORDER BY day""".stripMargin

  /** Oracle twin of [[dowSeasonality]]. */
  def dowSeasonalityOracleSql(): String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
      |      AS x
      |  FROM orders GROUP BY 1),
      |overall AS (SELECT CAST(sum(x) AS HUGEINT) AS tot,
      |  CAST(count(*) AS BIGINT) AS n_days FROM daily)
      |SELECT CAST(dayofweek(day) AS INTEGER) AS dow,
      |  CAST(count(*) AS BIGINT) AS n_days_dow,
      |  round((CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |    / (CAST(o.tot AS DOUBLE) / CAST(o.n_days AS DOUBLE)), 6)
      |    AS seasonal_idx
      |FROM daily CROSS JOIN overall o
      |GROUP BY 1, o.tot, o.n_days ORDER BY dow""".stripMargin

  /** Oracle twin of [[autocorrelation]] — same daily-cents series,
    * calendar-join lag pairs, exact sums, and double association.
    */
  def autocorrelationOracleSql(maxLag: Int = 7): String =
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
       |      AS x
       |  FROM orders GROUP BY 1),
       |lags AS (SELECT CAST(unnest(range(1, ${maxLag + 1})) AS INTEGER)
       |  AS lag),
       |p AS (
       |  SELECT l.lag, a.x AS xa, b.x AS xb
       |  FROM lags l
       |  CROSS JOIN daily a
       |  JOIN daily b ON b.day = a.day + l.lag),
       |m AS (
       |  SELECT lag, CAST(count(*) AS BIGINT) AS n,
       |    sum(xa) AS sx, sum(xb) AS sy, sum(xa * xb) AS sxy,
       |    sum(xa * xa) AS sxx, sum(xb * xb) AS syy
       |  FROM p GROUP BY 1)
       |SELECT lag, n,
       |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
       |FROM m ORDER BY lag""".stripMargin

  // --- A50: MANN-KENDALL trend test on the monthly revenue series —
  // the nonparametric significance companion to a41's Theil-Sen
  // slope (Sen estimates HOW MUCH, Mann-Kendall says WHETHER):
  // S = SUM_{i<j} sign(c_j - c_i), Var(S) with the tie correction
  // (n(n-1)(2n+5) - SUM_g t_g(t_g-1)(2t_g+5))/18, and the
  // continuity-corrected z = (S -/+ 1)/sqrt(Var). S and both variance
  // numerators are EXACT integers (cents series, bounded 84-month
  // domain -> ~3.5k pairs at any corpus size, a41's boundedness
  // argument verbatim); doubles appear only in the one final division
  // and sqrt — identical per-row arithmetic on both engines. ---
  def mannKendall(s: SparkSession, d: String): DataFrame =
    mannKendallFromMonthly(monthlyRevenueState(Tables.orders(s, d)))

  /** The (month index, cents) state BOTH trend tests read — additive
    * over disjoint order sets (cents sums merge by summation), so the
    * streaming twin maintains exactly this relation and the batch
    * queries and the live monitor share one definition of the series.
    */
  private[graft] def monthlyRevenueState(orders: DataFrame): DataFrame =
    orders.groupBy(((year(col("o_orderdate")) - 1992) * 12
      + month(col("o_orderdate")) - 1).cast("long").as("x"))
      .agg(sum(Benchmark2.priceCents(col("o_totalprice"))).as("c"))

  /** a50's estimator tail over a merged monthly state — one definition
    * for batch and stream (the cupedFromPerUser discipline).
    */
  private[graft] def mannKendallFromMonthly(monthly0: DataFrame): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val monthly = monthly0
    val pairs = monthly.select(col("x").as("xa"), col("c").as("ca"))
      .join(broadcast(monthly.select(col("x").as("xb"), col("c").as("cb"))),
        col("xa") < col("xb"))
      .agg(sum(signum(dbl(col("cb") - col("ca"))).cast("long")).as("s_stat"))
    val nn = monthly.agg(count(lit(1)).as("n"))
    val ties = monthly.groupBy("c").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)),
        lit(0L)).as("tie_term"))
    pairs.crossJoin(broadcast(nn)).crossJoin(broadcast(ties))
      .withColumn("var_num",
        col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tie_term"))
      .select(col("n").as("n_months"), col("s_stat"),
        round(dbl(col("var_num")) / 18.0, 4).as("var_s"),
        round(
          when(col("s_stat") > 0,
            dbl(col("s_stat") - 1) / sqrt(dbl(col("var_num")) / 18.0))
          .when(col("s_stat") < 0,
            dbl(col("s_stat") + 1) / sqrt(dbl(col("var_num")) / 18.0))
          .otherwise(lit(0.0)), 4).as("z"))
  }

  /** Oracle twin of [[mannKendall]] — same exact-integer S, tie
    * correction, and continuity-corrected z.
    */
  def mannKendallOracleSql(): String =
    """WITH m AS (
      |  SELECT ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1)
      |    AS x, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT CAST(sum(CAST(sign(CAST(b.c - a.c AS DOUBLE)) AS BIGINT))
      |    AS BIGINT) AS s_stat
      |  FROM m a JOIN m b ON a.x < b.x),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
      |t AS (
      |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
      |    AS tie_term
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM m GROUP BY c)),
      |v AS (
      |  SELECT n.n, p.s_stat,
      |    n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term AS var_num
      |  FROM p, n, t)
      |SELECT n AS n_months, s_stat,
      |  round(CAST(var_num AS DOUBLE) / 18.0, 4) AS var_s,
      |  round(CASE
      |    WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
      |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)
      |    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
      |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)
      |    ELSE 0.0 END, 4) AS z
      |FROM v""".stripMargin

  // --- A51: WALD-WOLFOWITZ runs test — is the monthly revenue series
  // RANDOM around its median, or does it clump (momentum) / alternate
  // (overcorrection)? Months equal to the median are dropped (the
  // standard convention); R = number of sign runs in time order,
  // mu_R = 1 + 2*n1*n2/(n1+n2), sigma2_R = 2*n1*n2*(2*n1*n2-n1-n2) /
  // ((n1+n2)^2*(n1+n2-1)), z = (R - mu_R)/sigma_R. The median is the
  // exact lower-median rank pick and every count is an exact integer;
  // the lag window rides the calendar-bounded monthly aggregate
  // (a38/a41's hygiene argument). ---
  def runsTest(s: SparkSession, d: String): DataFrame =
    runsTestFromMonthly(monthlyRevenueState(Tables.orders(s, d)))

  /** a51's estimator tail over the same merged monthly state. */
  private[graft] def runsTestFromMonthly(monthly0: DataFrame): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    val monthly = monthly0
    val wM = Window.partitionBy(lit(0)).orderBy(col("c").asc, col("x").asc)
    val med = monthly
      .withColumn("rn", row_number().over(wM).cast("long"))
      .withColumn("nm", sum(lit(1L)).over(Window.partitionBy(lit(0))))
      .filter(col("rn") === expr("(nm + 1) div 2"))
      .select(col("c").as("med"))
    val signed = monthly.crossJoin(broadcast(med))
      .filter(col("c") =!= col("med"))
      .select(col("x"), (col("c") > col("med")).cast("int").as("up"))
    val wX = Window.partitionBy(lit(0)).orderBy(col("x").asc)
    signed
      .withColumn("flip",
        when(lag(col("up"), 1).over(wX).isNull, 1L)
          .when(lag(col("up"), 1).over(wX) =!= col("up"), 1L)
          .otherwise(0L))
      .agg(sum(col("up").cast("long")).as("n1"),
        sum(lit(1L) - col("up")).as("n2"),
        sum(col("flip")).as("n_runs"))
      .withColumn("mu", lit(1.0)
        + lit(2.0) * dbl(col("n1")) * dbl(col("n2")) / dbl(col("n1") + col("n2")))
      .withColumn("s2", lit(2.0) * dbl(col("n1")) * dbl(col("n2"))
        * (lit(2.0) * dbl(col("n1")) * dbl(col("n2")) - dbl(col("n1")) - dbl(col("n2")))
        / (dbl(col("n1") + col("n2")) * dbl(col("n1") + col("n2"))
          * dbl(col("n1") + col("n2") - 1)))
      .select(col("n1"), col("n2"), col("n_runs"),
        round((dbl(col("n_runs")) - col("mu")) / sqrt(col("s2")), 4).as("z"))
  }

  /** Oracle twin of [[runsTest]] — same median pick, run counting via
    * lag, and closed-form moments.
    */
  def runsTestOracleSql(): String =
    """WITH m AS (
      |  SELECT ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1)
      |    AS x, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |md AS (
      |  SELECT c AS med FROM (
      |    SELECT c, row_number() OVER (ORDER BY c ASC, x ASC) AS rn,
      |      count(*) OVER () AS nm
      |    FROM m) WHERE rn = (nm + 1) // 2),
      |sg AS (
      |  SELECT x, CAST(c > med AS INTEGER) AS up
      |  FROM m, md WHERE c <> med),
      |fl AS (
      |  SELECT up, CASE WHEN lag(up) OVER (ORDER BY x) IS NULL THEN 1
      |    WHEN lag(up) OVER (ORDER BY x) <> up THEN 1 ELSE 0 END AS flip
      |  FROM sg),
      |agg AS (
      |  SELECT CAST(sum(up) AS BIGINT) AS n1,
      |    CAST(sum(1 - up) AS BIGINT) AS n2,
      |    CAST(sum(flip) AS BIGINT) AS n_runs
      |  FROM fl)
      |SELECT n1, n2, n_runs,
      |  round((CAST(n_runs AS DOUBLE)
      |    - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        / CAST(n1 + n2 AS DOUBLE)))
      |    / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
      |      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
      |        * CAST(n1 + n2 - 1 AS DOUBLE))), 4) AS z
      |FROM agg""".stripMargin

  // --- A54: HODGES-LEHMANN location estimate [Hodges & Lehmann 1963]
  // of the monthly revenue — the robust companion to the mean/median
  // pair (a14/a18) and the location sibling of a41's Theil-Sen slope:
  // the median of all Walsh averages (c_i + c_j)/2, i <= j, which
  // keeps the plain median's outlier resistance while recovering most
  // of the mean's efficiency under symmetric noise. Walsh SUMS are
  // exact cent integers; the pair relation rides the calendar-bounded
  // monthly aggregate (~84 rows -> ~3.6k pairs at ANY corpus size —
  // the a41/a50 boundedness argument verbatim), so the one global
  // window ranks a constant-size relation. The median is the exact
  // lower/upper-middle average (odd m: both picks are the same row),
  // computed on integer sums; doubles appear only in the two final
  // divisions, rounded at 6dp on both engines. Reported next to the
  // plain median via the SAME rank-pick rule, so the two columns are
  // directly comparable. ---
  def hodgesLehmann(s: SparkSession, d: String): DataFrame =
    hodgesLehmannFromMonthly(monthlyRevenueState(Tables.orders(s, d)))

  /** a54's estimator tail over the shared monthly state — the
    * mannKendallFromMonthly discipline (one definition for batch and
    * any future maintained-state reader).
    */
  private[graft] def hodgesLehmannFromMonthly(monthly: DataFrame): DataFrame = {
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    // middle-rank average over any (v, tie-break x) relation: odd
    // counts pick one row twice (the two conditions coincide), even
    // counts average the two middles — exact on integer inputs
    def midAvg(df: DataFrame, v: String): DataFrame = {
      val w = Window.partitionBy(lit(0)).orderBy(col(v).asc)
      df.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("mm", sum(lit(1L)).over(Window.partitionBy(lit(0))))
        .filter(col("rn") === expr("(mm + 1) div 2") ||
          col("rn") === expr("mm div 2 + 1"))
        .agg((sum(dbl(col(v))) / count(lit(1))).as(s"${v}_med"))
    }
    val walsh = monthly.select(col("x").as("xa"), col("c").as("ca"))
      .join(broadcast(monthly.select(col("x").as("xb"), col("c").as("cb"))),
        col("xa") <= col("xb"))
      .select((col("ca") + col("cb")).as("w"))
    val n = monthly.agg(count(lit(1)).as("n_months"))
    n.crossJoin(broadcast(midAvg(monthly, "c")))
      .crossJoin(broadcast(midAvg(walsh, "w")))
      .select(col("n_months"),
        (col("n_months") * (col("n_months") + 1) / 2).cast("long")
          .as("n_pairs"),
        round(col("c_med") / 100.0, 6).as("median_rev"),
        round(col("w_med") / 200.0, 6).as("hl_rev"))
  }

  /** Oracle twin of [[hodgesLehmann]] — same cents series, Walsh sum
    * relation, middle-rank picks, and final divisions.
    */
  def hodgesLehmannOracleSql(): String =
    """WITH m AS (
      |  SELECT ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1)
      |    AS x, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT a.c + b.c AS w
      |  FROM m a JOIN m b ON a.x <= b.x),
      |cm AS (
      |  SELECT sum(CAST(c AS DOUBLE)) / count(*) AS c_med FROM (
      |    SELECT c, row_number() OVER (ORDER BY c ASC) AS rn,
      |      count(*) OVER () AS mm FROM m)
      |  WHERE rn = (mm + 1) // 2 OR rn = mm // 2 + 1),
      |wm AS (
      |  SELECT sum(CAST(w AS DOUBLE)) / count(*) AS w_med FROM (
      |    SELECT w, row_number() OVER (ORDER BY w ASC) AS rn,
      |      count(*) OVER () AS mm FROM w)
      |  WHERE rn = (mm + 1) // 2 OR rn = mm // 2 + 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM m)
      |SELECT n_months,
      |  CAST(n_months * (n_months + 1) // 2 AS BIGINT) AS n_pairs,
      |  round(c_med / 100.0, 6) AS median_rev,
      |  round(w_med / 200.0, 6) AS hl_rev
      |FROM n, cm, wm""".stripMargin

  // --- A52: COHEN'S KAPPA [Cohen 1960] — inter-annotator agreement
  // on a labeled corpus, THE acceptance gate before human labels feed
  // a training pipeline: raw agreement p_o is inflated by chance, so
  // kappa rescales it against the agreement p_e two independent
  // raters with these marginals would reach by luck:
  //   kappa = (p_o − p_e) / (1 − p_e).
  // Raters here are TextAnalysis.annotatorLabels' two deterministic
  // heuristics over `documents` (quality terciles vs token-length
  // terciles, one shared tokenize pass). Shape at 100 TB: one
  // map-only label projection into a 3×3 confusion matrix PIVOTED to
  // a single row (9 conditional counts, map-side combinable — no
  // grow-with-data groupBy), then p_o/p_e/kappa as one fixed
  // written-order double expression over exact longs. Degenerate
  // corpora where p_e = 1 (every doc in one cell) return NULL kappa —
  // the honest answer, not a sentinel. ---
  def cohenKappa(s: SparkSession, d: String): DataFrame =
    cohenKappaFrom(TextAnalysis.annotatorLabels(s, d))

  /** Generic Cohen's kappa over any (rater_a, rater_b) label pairs
    * with categories in {low, mid, high}. Split from the rater
    * construction so other labeled relations can reuse the estimator.
    */
  private[graft] def cohenKappaFrom(rated: DataFrame): DataFrame = {
    val cats = Seq("low", "mid", "high")
    val cells = for { a <- cats; b <- cats } yield
      sum(when(col("rater_a") === a && col("rater_b") === b, 1L)
        .otherwise(0L)).as(s"n_${a}_$b")
    val one = rated.groupBy()
      .agg(cells.head, cells.tail :+ count(lit(1)).as("n_docs"): _*)
    val n = col("n_docs").cast("double")
    def rowSum(a: String) = cats.map(b => col(s"n_${a}_$b")).reduceLeft(_ + _)
    def colSum(b: String) = cats.map(a => col(s"n_${a}_$b")).reduceLeft(_ + _)
    val agree = cats.map(c => col(s"n_${c}_$c")).reduceLeft(_ + _)
    val po = agree.cast("double") / n
    val pe = cats.map(c =>
      (rowSum(c).cast("double") / n) * (colSum(c).cast("double") / n))
      .reduceLeft(_ + _)
    // the degenerate p_e = 1 corpus (every doc in one cell) must be
    // NULL by CONSTRUCTION on both engines: an unguarded 0/0 is
    // engine-dependent (Spark NULL, or an ANSI error; DuckDB under
    // default ieee_floating_point_ops returns NaN) and would split
    // the oracle twins — so the guard is part of the estimator
    one.select(col("n_docs"), agree.cast("long").as("n_agree"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      round(when(pe < lit(1.0), (po - pe) / (lit(1.0) - pe)), 6).as("kappa"))
  }

  // --- A53: FLEISS' KAPPA [Fleiss 1971] — a52 generalized to a PANEL
  // of m raters (here the three tokenAggs-shared heuristics): per
  // item, P_i = (Σ_j n_ij² − m)/(m(m−1)) where n_ij counts raters
  // assigning category j; κ = (P̄ − P̄_e)/(1 − P̄_e) with
  // P̄_e = Σ_j p_j². With raters as COLUMNS the per-item category
  // counts are a per-row projection (no groupBy at all until the one
  // global roll-up of five exact long sums), so the whole panel audit
  // is a map-only scan — at any corpus size the shuffled state is
  // five longs. P̄'s numerator stays an exact integer; the three
  // p_j² terms sum in fixed written order. ---
  def fleissKappa(s: SparkSession, d: String): DataFrame = {
    val rated = TextAnalysis.annotatorLabels3(s, d)
    val cats = Seq("low", "mid", "high")
    def nOf(cat: String) =
      Seq("rater_a", "rater_b", "rater_c")
        .map(r => when(col(r) === cat, 1L).otherwise(0L))
        .reduceLeft(_ + _)
    val perDoc = rated.select(cats.map(c => nOf(c).as(s"n_$c")): _*)
      .select(col("n_low"), col("n_mid"), col("n_high"),
        (col("n_low") * col("n_low") + col("n_mid") * col("n_mid") +
          col("n_high") * col("n_high") - lit(3L)).as("pi_num"))
    val agg = perDoc.groupBy().agg(
      count(lit(1)).as("n_docs"),
      sum(col("pi_num")).as("pi_sum"),
      sum(col("n_low")).as("t_low"),
      sum(col("n_mid")).as("t_mid"),
      sum(col("n_high")).as("t_high"))
    val n = col("n_docs").cast("double")
    val pBar = col("pi_sum").cast("double") / (n * lit(6.0))
    val pe = cats.map(c =>
      (col(s"t_$c").cast("double") / (n * lit(3.0))) *
        (col(s"t_$c").cast("double") / (n * lit(3.0))))
      .reduceLeft(_ + _)
    // same degenerate-p_e guard as [[cohenKappaFrom]]: NULL by
    // construction, never an engine-dependent 0/0
    agg.select(col("n_docs"),
      round(pBar, 6).as("p_bar"), round(pe, 6).as("p_e"),
      round(when(pe < lit(1.0), (pBar - pe) / (lit(1.0) - pe)), 6).as("kappa"))
  }

  /** Oracle twin of [[fleissKappa]] — same rater thresholds over one
    * tokenize, same per-row category counts, same written-order tail.
    */
  def fleissKappaOracleSql(): String = {
    // the P̄_e = Σ p_j² block, built once — it appears four times in
    // the tail (p_e output, kappa numerator/denominator, and the
    // degenerate guard); left-to-right sum order matches the Spark side
    val pe = Seq("low", "mid", "high").map(c =>
      s"(CAST(t_$c AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 3.0))" +
        s"\n      * (CAST(t_$c AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 3.0))")
      .mkString("\n    + ")
    s"""WITH ag AS (
      |  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws
      |  FROM documents),
      |feat AS (
      |  SELECT doc_id,
      |    round((CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.4 END) * 0.4
      |      + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
      |      + (1.0 - least(CAST(len(list_filter(ws, t -> t IN ('the', 'a'))) AS DOUBLE)
      |                     / len(ws) * 2.0, 1.0)) * 0.2, 4) AS quality,
      |    CAST(n_chars - (len(ws) - 1) AS DOUBLE)
      |      / CAST(len(ws) AS DOUBLE) AS avg_len,
      |    CAST(len(list_filter(ws, t -> t IN ('the', 'a'))) AS DOUBLE)
      |      / CAST(len(ws) AS DOUBLE) AS stop_share
      |  FROM ag),
      |rated AS (
      |  SELECT doc_id,
      |    CASE WHEN quality < 0.72 THEN 'low'
      |         WHEN quality < 0.78 THEN 'mid' ELSE 'high' END AS ra,
      |    CASE WHEN avg_len < 4.43 THEN 'low'
      |         WHEN avg_len < 4.59 THEN 'mid' ELSE 'high' END AS rb,
      |    CASE WHEN stop_share < 0.046 THEN 'low'
      |         WHEN stop_share < 0.072 THEN 'mid' ELSE 'high' END AS rc
      |  FROM feat),
      |perdoc AS (
      |  SELECT
      |    (CASE WHEN ra = 'low' THEN 1 ELSE 0 END
      |      + CASE WHEN rb = 'low' THEN 1 ELSE 0 END
      |      + CASE WHEN rc = 'low' THEN 1 ELSE 0 END) AS n_low,
      |    (CASE WHEN ra = 'mid' THEN 1 ELSE 0 END
      |      + CASE WHEN rb = 'mid' THEN 1 ELSE 0 END
      |      + CASE WHEN rc = 'mid' THEN 1 ELSE 0 END) AS n_mid,
      |    (CASE WHEN ra = 'high' THEN 1 ELSE 0 END
      |      + CASE WHEN rb = 'high' THEN 1 ELSE 0 END
      |      + CASE WHEN rc = 'high' THEN 1 ELSE 0 END) AS n_high
      |  FROM rated),
      |agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_low * n_low + n_mid * n_mid + n_high * n_high - 3)
      |      AS BIGINT) AS pi_sum,
      |    CAST(sum(n_low) AS BIGINT) AS t_low,
      |    CAST(sum(n_mid) AS BIGINT) AS t_mid,
      |    CAST(sum(n_high) AS BIGINT) AS t_high
      |  FROM perdoc)
      |SELECT n_docs,
      |  round(CAST(pi_sum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 6.0), 6)
      |    AS p_bar,
      |  round($pe, 6)
      |    AS p_e,
      |  CASE WHEN ($pe) < 1.0 THEN
      |    round((CAST(pi_sum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 6.0)
      |        - ($pe))
      |      / (1.0 - ($pe)), 6)
      |  END AS kappa
      |FROM agg""".stripMargin
  }

  /** Oracle twin of [[cohenKappa]]: same rater thresholds over the
    * same single tokenize, same pivoted 3×3 cells, same written-order
    * p_o/p_e/kappa arithmetic.
    */
  def cohenKappaOracleSql(): String = {
    val cats = Seq("low", "mid", "high")
    val cellCols = (for { a <- cats; b <- cats } yield
      s"CAST(sum(CASE WHEN rater_a = '$a' AND rater_b = '$b' THEN 1 " +
        s"ELSE 0 END) AS BIGINT) AS n_${a}_$b").mkString(",\n    ")
    def rowSum(a: String) = cats.map(b => s"n_${a}_$b").mkString(" + ")
    def colSum(b: String) = cats.map(a => s"n_${a}_$b").mkString(" + ")
    val agree = cats.map(c => s"n_${c}_$c").mkString(" + ")
    val pe = cats.map(c =>
      s"(CAST(${rowSum(c)} AS DOUBLE) / CAST(n_docs AS DOUBLE))" +
        s" * (CAST(${colSum(c)} AS DOUBLE) / CAST(n_docs AS DOUBLE))")
      .mkString("\n      + ")
    s"""WITH ag AS (
       |  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws
       |  FROM documents),
       |feat AS (
       |  SELECT doc_id,
       |    round((CASE WHEN len(ws) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.4 END) * 0.4
       |      + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
       |      + (1.0 - least(CAST(len(list_filter(ws, t -> t IN ('the', 'a'))) AS DOUBLE)
       |                     / len(ws) * 2.0, 1.0)) * 0.2, 4) AS quality,
       |    CAST(n_chars - (len(ws) - 1) AS DOUBLE)
       |      / CAST(len(ws) AS DOUBLE) AS avg_len
       |  FROM ag),
       |rated AS (
       |  SELECT doc_id,
       |    CASE WHEN quality < 0.72 THEN 'low'
       |         WHEN quality < 0.78 THEN 'mid' ELSE 'high' END AS rater_a,
       |    CASE WHEN avg_len < 4.43 THEN 'low'
       |         WHEN avg_len < 4.59 THEN 'mid' ELSE 'high' END AS rater_b
       |  FROM feat),
       |piv AS (
       |  SELECT
       |    $cellCols,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM rated)
       |SELECT n_docs, CAST($agree AS BIGINT) AS n_agree,
       |  round(CAST($agree AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS po,
       |  round($pe, 6) AS pe,
       |  CASE WHEN ($pe) < 1.0 THEN
       |    round((CAST($agree AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |        - ($pe))
       |      / (1.0 - ($pe)), 6)
       |  END AS kappa
       |FROM piv""".stripMargin
  }
}
