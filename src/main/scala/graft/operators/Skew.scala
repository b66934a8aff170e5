package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation (the "salting for skew" leg of the scale posture;
  * AQE's skew-join split handles sort-merge skew at runtime, salting
  * is the static fallback for pathological keys and for shuffled hash
  * joins).
  *
  * `saltedEquiJoin`: the fact side gets a deterministic per-row salt
  * in [0, n) derived from `saltSource` (any expression that varies
  * within a hot key — a line number, an id; NOT rand(), which breaks
  * retry determinism); the dim side is replicated n times with an
  * exploded salt column, so one hot key fans out over n shuffle
  * partitions instead of one straggler.
  */
object Skew {

  def saltedEquiJoin(fact: DataFrame, dim: DataFrame,
                     factKey: Column, dimKey: Column,
                     saltSource: Column, saltFactor: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(saltSource), lit(saltFactor)).cast("int"))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedFact.join(saltedDim,
        factKey === dimKey && saltedFact("__salt") === saltedDim("__salt"))
      .drop("__salt")
  }

  // --- SK1: NULL-BUCKET ATTRIBUTION — the deliberately hot-keyed
  // fact-fact join, i.e. the classic 100 TB skew pathology made a
  // first-class query: only high-value events carry a user
  // attribution key; everything else falls into the shared
  // unattributed bucket (-1) — the "default/null key" that every
  // warehouse join eventually meets, here ~86% of the fact. The other
  // side is the per-user profile relation derived from the same fact
  // (at production scale that is |users| rows — far past any
  // broadcast threshold, so the join is a genuine shuffle join whose
  // -1 partition serializes a plain sort-merge). This engine's answer
  // is AQE's OptimizeSkewedJoin: the hot partition splits at runtime
  // (PlanSpec pins `skew=true` in the adaptive plan with skew
  // handling on, and its absence with skew handling off — the pin
  // fails if anyone disables the machinery). The static fallback for
  // shapes AQE can't re-plan is [[saltedEquiJoin]] above. At the test
  // and bench tiers the profile side is small enough that AQE
  // correctly broadcasts instead — also the right plan; the pin
  // disables broadcast to exercise the path that matters at scale. ---
  def hotBucketAttribution(s: SparkSession, d: String,
                           minAttributable: Double = 100.0): DataFrame = {
    val ev = Tables.events(s, d)
    val keyed = ev.select(col("event_type"),
      when(col("value") >= minAttributable, col("user_id"))
        .otherwise(lit(-1L)).as("attr_key"))
    // integer cents keep the money sum exact under any partitioning /
    // merge order (the suite's standing FP-determinism discipline).
    // Lineage cut: the materialized profile side (at 100 TB a stored
    // per-user table) puts the join directly over two shuffle stages,
    // the pattern OptimizeSkewedJoin rewrites; with the aggregate fused
    // in, AQE declines to split (AQEShuffleRead stays `coalesced`)
    val profiles = ev.groupBy("user_id")
      .agg(sum(round(col("value") * 100).cast("long"))
        .as("user_total_cents"))
      .localCheckpoint(true)
    keyed.join(profiles, keyed("attr_key") === profiles("user_id"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("user_id")).as("n_attributed"),
        coalesce(sum("user_total_cents"), lit(0L))
          .as("attributed_total_cents"))
      .orderBy("event_type")
  }

  /** Oracle twin of [[hotBucketAttribution]] — same bucketing, same
    * cents arithmetic, replayed relationally in DuckDB.
    */
  def hotBucketAttributionOracleSql(minAttributable: Double = 100.0): String =
    s"""WITH keyed AS (
       |  SELECT event_type,
       |    CASE WHEN value >= $minAttributable THEN user_id
       |         ELSE -1 END AS attr_key
       |  FROM events),
       |profiles AS (
       |  SELECT user_id,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       |      AS user_total_cents
       |  FROM events GROUP BY user_id)
       |SELECT k.event_type,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(count(p.user_id) AS BIGINT) AS n_attributed,
       |  CAST(coalesce(sum(p.user_total_cents), 0) AS BIGINT)
       |    AS attributed_total_cents
       |FROM keyed k LEFT JOIN profiles p ON k.attr_key = p.user_id
       |GROUP BY k.event_type
       |ORDER BY k.event_type""".stripMargin
}
