package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted derived-graph relations — the build-once side of the
  * graph-analytics scale path, completing the index trilogy next to
  * [[VectorIndex]] (ANN) and [[TextIndex]] (text dedup).
  *
  * Every `Graph` operator starts from one of three relations derived
  * from the sales tables, and until this index each query re-derived
  * its base graph inline:
  *
  *  - the TRADE graph: `DISTINCT (cust, supp)` pairs sharing an order
  *    line — an orders⋈lineitem join + distinct shuffle (gr1, gr4,
  *    gr5, gr12);
  *  - its WEIGHTED variant: the same pairs with `min(l_quantity)` as
  *    the edge weight (gr6);
  *  - the BASKET pair relation: the per-order part-pair self-join with
  *    co-purchase counts — the quadratic-per-basket pass that feeds
  *    gr2, gr3, gr7, gr8, gr9, gr10, gr11.
  *
  * All three are deterministic pure functions of the corpus — indexes,
  * not caches — so persisting them is bit-transparent: every consumer
  * reads exactly the rows the inline chain produced (asserted by
  * GraphIndexSpec), and every DuckDB oracle keeps replaying the inline
  * derivation unchanged. At 100 TB this is the edge table a graph
  * service maintains next to the fact tables: the per-query cost drops
  * to a parquet scan of the (small, saturating — see
  * `Graph.supportedEdges`) edge relation, and the O(|lineitem|) join +
  * distinct + pair-explosion passes are paid once per corpus, not once
  * per query.
  *
  * Storage notes: edges are stored in ONE canonical direction (the
  * symmetric closure is a union the consumer derives on scan — cheaper
  * to mirror 3.5k rows at read than to double every index file);
  * basket pairs are stored UNTHRESHOLDED with their counts, so one
  * index serves every `minSupport` (the threshold is a pushed-down
  * scan filter, and association mining reads the counts it needs
  * directly). Every index here is published and read through
  * [[Artifacts]].
  */
object GraphIndex {

  private def persist(s: SparkSession, d: String, kind: String)
                     (frame: => DataFrame): DataFrame =
    Artifacts.persist(s, new java.io.File(d, "lineitem.parquet"), d, kind)(frame)

  /** The trade graphs join orders too, so their kind carries its
    * fingerprint.
    */
  private def persistTrade(s: SparkSession, d: String, kind: String)
                          (frame: => DataFrame): DataFrame =
    persist(s, d,
      Artifacts.alsoOver(kind, "o", new java.io.File(d, "orders.parquet")))(frame)

  /** Directed distinct (src = cust·2, dst = supp·2+1) trade edges —
    * one canonical direction; [[Graph]] consumers mirror it for the
    * undirected algorithms and use it as-is for the bipartite ones
    * (HITS).
    */
  def tradeEdges(s: SparkSession, d: String): DataFrame =
    persistTrade(s, d, "trade") {
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
    }

  /** Trade edges with the cheapest hand-off weight
    * (`min(l_quantity)` over the lines linking the pair) — gr6's
    * Bellman–Ford edge relation.
    */
  def tradeWeightedEdges(s: SparkSession, d: String): DataFrame =
    tradeWeightedSlice(s, d, Artifacts.Whole)

  /** One order-key slice of the weighted trade derivation — the
    * building block of the INCREMENTAL edge index (the graph leg of
    * the delta story TextIndex/VectorIndex already tell). `o_orderkey`
    * is the ingest axis: a new order batch arrives with keys past the
    * boundary, its edges derive from the BATCH's join only, and the
    * base directory is never read-modified-rewritten. `min` is a
    * merge-able aggregate, so base ∪ delta re-minned IS the monolithic
    * relation — bit-exactly (asserted by GraphIndexSpec and the
    * gr15 oracle, which replays the monolithic derivation).
    */
  private def tradeWeightedSlice(s: SparkSession, d: String,
                                 slice: Artifacts.Slice): DataFrame =
    persistTrade(s, d, s"trade_w${slice.suffix}") {
      slice.keep(Tables.orders(s, d))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(min(col("l_quantity")).cast("long").as("w"))
    }

  /** The weighted edge index as it stood BEFORE the batch:
    * orders < `boundary`.
    */
  def tradeWeightedBase(s: SparkSession, d: String, boundary: Long): DataFrame =
    tradeWeightedSlice(s, d, Artifacts.below("o_orderkey", boundary))

  /** The batch delta: orders >= `boundary` — the only edge-derivation
    * work an ingest pays.
    */
  def tradeWeightedDelta(s: SparkSession, d: String, boundary: Long): DataFrame =
    tradeWeightedSlice(s, d, Artifacts.from("o_orderkey", boundary))

  /** base ∪ delta with per-edge min-merge — answer-identical to
    * [[tradeWeightedEdges]] (an edge present in both slices keeps the
    * smaller weight; min is associative, so slicing is invisible).
    */
  def tradeWeightedMerged(s: SparkSession, d: String, boundary: Long): DataFrame =
    tradeWeightedBase(s, d, boundary)
      .unionByName(tradeWeightedDelta(s, d, boundary))
      .groupBy("src", "dst")
      .agg(min(col("w")).as("w"))

  /** The distinct (ok, pk) basket-item relation — the shared input of
    * item counts, basket totals, and the pair relation below.
    */
  def basketItems(s: SparkSession, d: String): DataFrame =
    persist(s, d, "basket_items") {
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
    }

  /** Canonical (pa < pb) co-purchase pair counts, UNTHRESHOLDED — the
    * per-basket self-join paid once; every support threshold is a
    * filter over this relation.
    */
  def basketPairCounts(s: SparkSession, d: String): DataFrame =
    persist(s, d, "basket_pairs") {
      graft.operators.Graph.pairRowsOf(basketItems(s, d))
        .groupBy("pa", "pb").agg(count(lit(1)).as("pair_n"))
    }
}
