package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The round loop of every iterative operator that runs under the loop
  * conf: gr1/gr5's scaled-rank chain, gr7's label propagation, gr12's
  * HITS half-rounds, the min-plus relaxation behind gr4/gr6/gr16,
  * gr8's k-core peeling, gr13's multi-source BFS and dd8's component
  * fixpoint (dd18/dd24/dd25/dp15/dp22 and the stream replay). Callers
  * hand over their round body and, for a fixpoint, their convergence
  * measure; the rules below hold here, once.
  *
  *  - Each round runs under [[withLoopConf]]: AQE scoped off and the
  *    shuffle width pinned to the loop's data-proportional partition
  *    count, with the adaptive escape once the round's state outgrows
  *    [[StateBcastRowCap]].
  *  - Each round's state is lineage-cut with an eager
  *    `localCheckpoint` (the componentsFromPairs lesson): without it
  *    the iteration nests one join per round into a single plan and
  *    the optimizer re-derives the edge relation every round.
  *  - A fixpoint reads its measure inside the round's scope (the read
  *    is one job over the checkpointed state, not one per query stage)
  *    and stops at the first round whose measure says "stable". Past
  *    `maxIter` rounds it fails with an `IllegalArgumentException`
  *    naming the loop: a silent partial answer (an unfinished BFS, a
  *    split component) would look like a real one.
  *
  * '''Early exit against the unrolled oracles.''' Every DuckDB twin of a
  * fixpoint unrolls a fixed number of rounds, at least the rounds the
  * loop needs, while the loop stops as soon as it is stable. The two
  * agree because every measure here is monotone in the state: min-plus
  * distances and min labels only decrease, k-core edges only disappear,
  * so an unchanged measure (or an empty frontier) means an unchanged
  * state. A round at the fixpoint therefore maps the state to itself,
  * and the oracle's extra rounds replay exactly the state the loop
  * returned.
  *
  * '''Every other eager checkpoint in `operators/`.''' A construction-
  * time `localCheckpoint` is a plan decision Catalyst cannot undo, so
  * each must materialize something not already materialized, for one
  * of four reasons, named in a few words at the site:
  *  - shared subplan: several consumers read a relation that each
  *    would otherwise re-derive;
  *  - partition-id stability: two reads must agree on partition ids;
  *    [[GlobalOrder]] owns every such pin;
  *  - lineage cut: a per-round state (this module owns the loop ones)
  *    or a plan shape an optimizer rule needs;
  *  - driver-decided constant: a driver-side decision and the plan
  *    that uses it read one materialization.
  * A pin over a loop's returned state or over another pin only copies
  * what is already materialized: one more job, nothing shared. Over a
  * persisted index read the same holds, unless a selective filter of it
  * is read several times (Graph's support-thresholded edges keep about
  * 3.6k of basket_pairs' 1.2M rows at sf0.1): there the pin is a shared
  * subplan.
  */
object Rounds {

  /** Materialize an iterative operator's per-round PROBE relation (the
    * edge set every round scans) with a data-proportional partition
    * count: ~[[IterRowsPerPartition]] rows per partition, capped at the
    * cluster's default parallelism. The count is one cheap pass over
    * the (index-backed) derivation; the relation is then
    * hash-distributed on its join key and lineage-cut, so each round
    * starts from cached blocks. Returns the row count alongside —
    * callers feed it to [[guardedBroadcast]]. Rationale: a
    * checkpointed frame is a `LogicalRDD` with UNKNOWN stats, so
    * Catalyst sizes every per-round shuffle for the default
    * 200-partition worst case and never broadcasts either side; at
    * graph scales (saturating edge relations, per-node state) that
    * meant re-shuffling the full edge relation once per round
    * (measured: 60% of gr6's wall time at sf0.1).
    */
  private val IterRowsPerPartition = 300000L
  /** Data-proportional partition count for an n-row loop relation:
    * ~[[IterRowsPerPartition]] rows per partition, capped at the
    * cluster's default parallelism (both inputs measured, not
    * local-mode constants).
    */
  private[graft] def partsFor(n: Long, s: SparkSession): Int =
    math.max(1L, math.min((n + IterRowsPerPartition - 1) / IterRowsPerPartition,
      s.sparkContext.defaultParallelism.toLong)).toInt
  private[graft] def iterRelation(df: DataFrame, key: String)
      : (DataFrame, Long, Int) = {
    val n = df.count()
    val parts = partsFor(n, df.sparkSession)
    (df.repartition(parts, col(key)).localCheckpoint(), n, parts)
  }

  /** Run a ROUND with adaptive execution scoped OFF and the shuffle
    * width pinned to the loop's data-proportional partition count
    * (restored after). Inside these loops every join side is either
    * explicitly broadcast-hinted ([[guardedBroadcast]]) or
    * pre-partitioned by [[iterRelation]], so AQE has no decision left
    * to improve — but it still costs: each per-round `localCheckpoint`
    * materialization runs one DRIVER JOB PER QUERY STAGE instead of one
    * per round (probed at sf0.1: gr16 spent 66 construction jobs on
    * two 5-round sweeps against 0.05 s of execution). Scoping AQE off
    * alone is NOT enough — without its partition coalescing each
    * round's one hash-agg shuffle runs at the session width (32 here,
    * 200 default) in tiny tasks, which was measured to give the
    * job-count win back in task scheduling. Pinning
    * `spark.sql.shuffle.partitions` to [[iterRelation]]'s
    * data-proportional `parts` keeps the reduce width exactly what AQE
    * would have coalesced to, at any scale — both knobs derive from
    * the measured input, neither is a local-mode constant. The
    * `adaptive` escape matters at the broadcast-cap fallback: past
    * [[StateBcastRowCap]] rounds become plain co-partitioned shuffle
    * joins whose skew AQE could split, so the loops below keep AQE
    * when state outgrows the broadcast path.
    */
  private[graft] def withLoopConf[T](s: SparkSession, parts: Int,
                                     adaptive: Boolean = false)
                                    (body: => T): T =
    if (adaptive) body
    else {
      val aqeKey = "spark.sql.adaptive.enabled"
      val widthKey = "spark.sql.shuffle.partitions"
      val aqe0 = s.conf.get(aqeKey, "true")
      val width0 = s.conf.get(widthKey)
      s.conf.set(aqeKey, "false")
      s.conf.set(widthKey, parts.toString)
      try body finally {
        s.conf.set(aqeKey, aqe0); s.conf.set(widthKey, width0)
      }
    }

  /** Runtime-size-guarded broadcast of an iteration's STATE relation
    * (rank vector, BFS frontier): per-node state is orders of
    * magnitude smaller than the edge relation it joins, so hinting it
    * broadcast turns each round into a cached-edge-scan + hash probe +
    * partial agg — no edge shuffle. The guard keeps the 100 TB
    * posture: state row counts GROW with the corpus, and past the cap
    * (~32 MB at two longs/row) the round falls back to the plain
    * co-partitioned shuffle join, which is the correct plan at that
    * size. The count is free — every caller already measures its state
    * for the loop's own rules (convergence, width, escape).
    */
  private[graft] val StateBcastRowCap = 2000000L
  private[graft] def guardedBroadcast(state: DataFrame, rows: Long): DataFrame =
    if (rows <= StateBcastRowCap) broadcast(state) else state

  /** `n` rounds of `round(state, i)` from `init` (i from 0), each under
    * the loop conf and checkpointed. `stateRows` sizes the adaptive
    * escape. A fixed budget needs no convergence read: the iteration
    * is deterministic, and its oracle unrolls the same `n` rounds.
    */
  private[graft] def fixed(parts: Int, stateRows: Long, n: Int)
                          (init: DataFrame)
                          (round: (DataFrame, Int) => DataFrame): DataFrame =
    run[Unit](parts, n, init, ())(_ => stateRows, _ => (),
      (_, _) => false)((state, _, i) => round(state, i))._1

  /** Rounds of `round(state, m, i)` from `init` until `stable(m, m')`
    * holds for a round's measure `m'` against the previous one `m`
    * (default: equal), failing loudly when `maxIter` rounds are not
    * enough. `m0` is the caller's measure of `init`, usually a count it
    * already paid for. `rows(m)` is the state size behind the next
    * round's broadcast guards and adaptive escape.
    */
  private[graft] def fixpoint[M](name: String, parts: Int, maxIter: Int,
                                 init: DataFrame, m0: M)
                                (rows: M => Long, measure: DataFrame => M,
                                 stable: (M, M) => Boolean = (a: M, b: M) => a == b)
                                (round: (DataFrame, M, Int) => DataFrame)
      : DataFrame = {
    val (state, converged) =
      run(parts, maxIter, init, m0)(rows, measure, stable)(round)
    require(converged, s"$name did not converge within $maxIter rounds")
    state
  }

  private def run[M](parts: Int, maxIter: Int, init: DataFrame, m0: M)
                    (rows: M => Long, measure: DataFrame => M,
                     stable: (M, M) => Boolean)
                    (round: (DataFrame, M, Int) => DataFrame)
      : (DataFrame, Boolean) = {
    val s = init.sparkSession
    var (state, m, converged, i) = (init, m0, false, 0)
    while (!converged && i < maxIter) {
      val (next, m1) = withLoopConf(s, parts, adaptive = rows(m) > StateBcastRowCap) {
        val next = round(state, m, i).localCheckpoint()
        (next, measure(next))
      }
      converged = stable(m, m1)
      state = next; m = m1; i += 1
    }
    (state, converged)
  }
}
