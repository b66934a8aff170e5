package graft.sources

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted text-dedup indexes over the `documents` table — the
  * build-once side of the MinHash/LSH dedup scale path, mirroring what
  * [[VectorIndex]] does for ANN; every index here is published and read
  * through [[Artifacts]].
  *
  * Round 4 recomputed shingles + 64 minhash permutations for the whole
  * corpus inside EVERY query that touched the LSH family (dd3, dd12,
  * dd14, dp11) and re-parsed document text for every exact-gram query
  * (dd2, dd5, dd7, dd8, dd10, dp1). Both relations are deterministic
  * pure functions of the corpus, which is exactly what makes them
  * indexes rather than caches:
  *
  *  - [[gramIndex]]: the distinct (doc_id, gh) word-n-gram relation,
  *    in either hash basis (xxhash64 for the fast exact family, the
  *    portable h60 for oracle-replayed pipelines). Persisting it
  *    amortizes the text parse + explode + per-doc dedup shuffle; a
  *    consumer's first shuffle is then the one its own join needs.
  *  - [[bandIndex]]: the (doc_id, band, bucket) LSH banding of the
  *    64-hash MinHash signatures. Candidate generation becomes a
  *    self-join of a 3-column parquet scan — the signature chain is
  *    never recomputed at query time.
  *
  * At 100 TB these are the tables a dedup service maintains next to
  * the corpus (rebuilt incrementally as batches arrive); the
  * steady-state query cost is the probe, not the signature pass. The
  * index contents are bit-identical to the inline computation (same
  * deterministic hash chains), so every DuckDB oracle replay is
  * unaffected — asserted by TextIndexSpec.
  */
object TextIndex {

  private def persist(s: SparkSession, d: String, kind: String)
                     (frame: => DataFrame): DataFrame =
    Artifacts.persist(s, new java.io.File(d, "documents.parquet"), d, kind)(frame)

  /** Persisted distinct (doc_id, gh) gram relation. `portable = false`
    * gives the xxhash64 basis (exact-dedup family), `portable = true`
    * the h60 md5 basis the DuckDB oracles replay (LSH family).
    */
  def gramIndex(s: SparkSession, d: String, n: Int = 3,
                portable: Boolean = false): DataFrame = {
    val basis = if (portable) "h60" else "xx64"
    persist(s, d, s"grams_${n}_$basis") {
      if (portable) Dedup.gramRowsPortable(s, d, n) else Dedup.gramRows(s, d, n)
    }
  }

  /** Persisted winnowing-fingerprint relation (doc_id, fp) — tx7's
    * relation as an index (md5 word-3-gram basis, window-4 winnow): a
    * pure corpus function, and the md5 + per-doc winnow window over
    * every gram position is by far the expensive leg of dd29's pair
    * screen, which consumes the relation three times (both pair-join
    * sides and the per-doc size). The gramIndex argument applies
    * verbatim: persist the signature pass, make the query pay only its
    * own joins. Bit-identical to the inline computation
    * ([[graft.operators.TextAnalysis.winnowingFingerprintsRaw]]) —
    * asserted by TextIndexSpec.
    */
  def fingerprintIndex(s: SparkSession, d: String,
                       window: Int = 4): DataFrame =
    persist(s, d, s"winnow_3md5_w$window") {
      graft.operators.TextAnalysis.winnowingFingerprintsRaw(s, d, window)
    }

  /** Persisted POSITIONAL anchor relation (doc_id, pos, gh) — dd26's
    * candidate-generation input: the anchor-k-gram hash at EVERY
    * token position (unlike [[gramIndex]], positions survive and
    * nothing is deduplicated — verbatim runs are positional objects).
    * A pure corpus function of (docs, k), so persisted like the gram
    * index; probes (including the strided probe side) filter it.
    */
  def anchorIndex(s: SparkSession, d: String, k: Int = 8): DataFrame =
    anchorSlice(s, d, Artifacts.Whole, k)

  /** [[anchorIndex]] in the CHARACTER token basis over the de-spaced
    * corpus — dd33's candidate-generation input (the CJK-honest
    * substring seam: one positional anchor per character position of
    * the no-delimiter text). Same purity argument, same layout.
    */
  def charAnchorIndex(s: SparkSession, d: String, k: Int = 16): DataFrame =
    persist(s, d, s"canchors_${k}_xx64") {
      Dedup.anchorRowsOf(Dedup.despacedDocuments(s, d), k, Dedup.charTokens)
    }

  /** Persisted distinct (doc_id, gh) CHARACTER k-shingle relation
    * over the de-spaced corpus, h60 basis — dd35's verify input (the
    * char twin of the portable [[gramIndex]]; only the portable basis
    * exists here because the char family's one consumer is
    * oracle-replayed end to end).
    */
  def charGramIndex(s: SparkSession, d: String, k: Int = 12): DataFrame =
    persist(s, d, s"cgrams_${k}_h60") {
      Dedup.charGramRowsOf(Dedup.despacedDocuments(s, d), k)
    }

  /** Persisted (doc_id, band, bucket) LSH banding of the char-shingle
    * MinHash signatures — dd35's candidate-generation input (the char
    * twin of [[bandIndex]], same signature chain over
    * [[charGramIndex]]).
    */
  def charBandIndex(s: SparkSession, d: String,
                    numHashes: Int = 64, bands: Int = 16,
                    k: Int = 12): DataFrame =
    persist(s, d, s"cbands_${numHashes}x${bands}_$k") {
      Dedup.bandedSignatures(charGramIndex(s, d, k), numHashes, bands)
    }

  /** Persisted per-basis gram relation of the MIXED-SCRIPT corpus view
    * (dd36's verify input): the routed side's distinct (doc_id, gh)
    * shingles, word 3-grams or char 12-shingles, h60 basis. The route
    * threshold is part of the index identity (`r<pct>`). Pure corpus
    * function — the view, the CJK scorer, and the route are all
    * deterministic ([[graft.operators.Dedup.mixedBasisGrams]]).
    */
  def mixedGramIndex(s: SparkSession, d: String, basis: String, size: Int,
                     ratioThreshold: Double = 0.3): DataFrame = {
    val pct = math.round(ratioThreshold * 100)
    persist(s, d, s"mgrams_${basis}_${size}_r$pct") {
      Dedup.mixedBasisGrams(s, d, basis, size, ratioThreshold)
    }
  }

  /** Persisted per-basis LSH banding over [[mixedGramIndex]] — dd36's
    * candidate-generation input (the [[bandIndex]]/[[charBandIndex]]
    * pattern applied to each routed side).
    */
  def mixedBandIndex(s: SparkSession, d: String, basis: String,
                     numHashes: Int = 64, bands: Int = 16, size: Int = 12,
                     ratioThreshold: Double = 0.3): DataFrame = {
    val pct = math.round(ratioThreshold * 100)
    persist(s, d, s"mbands_${basis}_${numHashes}x${bands}_${size}_r$pct") {
      Dedup.bandedSignatures(
          mixedGramIndex(s, d, basis, size, ratioThreshold), numHashes, bands)
    }
  }

  private def anchorSlice(s: SparkSession, d: String, slice: Artifacts.Slice,
                          k: Int): DataFrame =
    persist(s, d, s"anchors_${k}_xx64${slice.suffix}") {
      slice.keep(Dedup.anchorRows(s, d, k))
    }

  /** The anchor index as it stood BEFORE the batch: docs < `boundary`.
    * Positional anchors are a pure per-document function (no global
    * statistics — unlike [[prefixIndex]]), so base ∪ delta IS the full
    * index and ingest never rewrites existing files (the dd17
    * no-rewrite discipline, dd30's foundation).
    */
  def anchorIndexBase(s: SparkSession, d: String, boundary: Long,
                      k: Int = 8): DataFrame =
    anchorSlice(s, d, Artifacts.below("doc_id", boundary), k)

  /** The batch delta: docs >= `boundary` — the only anchor work an
    * ingest pays, published as its own directory next to the base.
    */
  def anchorIndexDelta(s: SparkSession, d: String, boundary: Long,
                       k: Int = 8): DataFrame =
    anchorSlice(s, d, Artifacts.from("doc_id", boundary), k)

  /** Nightly compaction of the incremental anchor layout: fold base +
    * delta into a successor directory by READING FILES — anchors are
    * never recomputed; the fold re-clusters on the probe key (gh) so
    * row-group stats serve dd28's In(gh) point probes again after many
    * deltas fragmented them. Correctness never requires it (base ∪
    * delta IS the index — the dd30 purity property); it restores probe
    * locality, exactly like [[compactBandIndex]].
    */
  def compactAnchorIndex(s: SparkSession, d: String, boundary: Long,
                         k: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.col
    persist(s, d, s"anchors_${k}_xx64_compacted$boundary") {
      anchorIndexBase(s, d, boundary, k)
        .unionByName(anchorIndexDelta(s, d, boundary, k))
        .repartitionByRange(col("gh"))
        .sortWithinPartitions("gh")
    }
  }

  /** Persisted (doc_id, band, bucket) LSH banding of the MinHash
    * signatures (built over the portable gram relation, so dd3's
    * oracle replays it verbatim). Every banding parameter is part of
    * the index identity.
    */
  def bandIndex(s: SparkSession, d: String,
                numHashes: Int = 64, bands: Int = 16,
                n: Int = 3): DataFrame =
    bandSlice(s, d, Artifacts.Whole, numHashes, bands, n)

  /** Persisted per-doc gram-set ARRAY relation (doc_id, grams) — the
    * verify input of dd19's PPJoin tail: each candidate pair reads
    * both docs' full gram sets as one array row each and intersects
    * per row. A pure corpus function of (docs, n) like [[gramIndex]]
    * (it IS the gram index pivoted to one row per doc, sorted for
    * determinism), so the corpus-wide collect aggregation is paid at
    * build time, not per probe.
    */
  def docGramIndex(s: SparkSession, d: String, n: Int = 3): DataFrame =
    persist(s, d, s"docgrams_${n}_xx64") {
      Dedup.docGramArrays(gramIndex(s, d, n))
        .coalesce(4)
    }

  /** Persisted (doc_id, gh, n) SSJoin PREFIX relation — dd19's
    * candidate-generation input (each doc's rarest n − ⌈t·n⌉ + 1
    * grams under the global (df, gh) order, plus its gram count), a
    * pure function of (corpus, n-gram size, threshold), all of which
    * are part of the index identity. Persisting it removes the two
    * groupBys + per-doc window dd19 previously re-ran per query —
    * the probe becomes a 3-column parquet self-join.
    *
    * Unlike [[bandIndex]], this relation is NOT delta-composable:
    * document frequencies are a GLOBAL corpus statistic, so a new
    * batch can move grams across prefix boundaries of EXISTING docs —
    * ingest invalidates and rebuilds (one index job amortized across
    * every probe; an incremental form would maintain the df table and
    * re-rank only docs holding grams whose df-rank crossed their
    * prefix cut, which is exact but not implemented here).
    */
  def prefixIndex(s: SparkSession, d: String, n: Int = 3,
                  threshold: Double = 0.5): DataFrame = {
    val pct = math.round(threshold * 100)
    persist(s, d, s"prefix_${n}_t$pct") {
      // few fat files: probes scan the whole relation, so file-open
      // count (not row-group pruning) is what the layout optimizes
      Dedup.prefixRelation(gramIndex(s, d, n), threshold)
        .coalesce(4)
    }
  }

  /** Persisted (gram, n_docs, n_occurrences) catalog of word n-grams
    * repeated across >= `floor` distinct documents — dd13's
    * count-on-hash pass plus winner-string recovery, paid once per
    * corpus ([[graft.operators.Dedup.repeatedGramCatalog]] documents
    * the two-scan build shape this amortizes). The floor is part of
    * the index identity; probes filter to their own (higher) minDocs.
    * The catalog holds only repeated grams, so it is corpus-tiny and
    * written as few fat files like [[prefixIndex]].
    */
  def repeatedGramIndex(s: SparkSession, d: String, n: Int = 8,
                        floor: Long = 2L): DataFrame =
    persist(s, d, s"repgrams_${n}_f$floor") {
      Dedup.repeatedGramCatalog(s, d, n, floor)
        .coalesce(4)
    }

  /** Persisted near-dup COMPONENT assignment: (doc_id, comp) at the
    * given Jaccard threshold — the cluster relation every post-dedup
    * stage reads (dd8's report, dd18's representative selection,
    * dd24's size distribution, dp22's balanced sampling). The
    * label-propagation fixpoint is the expensive leg of the dedup
    * pipeline; its output is a pure function of the corpus, so it
    * materializes once per (dataset, threshold) and is probed by
    * every consumer. Built by the batch operator's own from-scratch
    * path ([[graft.operators.Dedup.componentsFromScratch]]), so index
    * and direct answers cannot drift; doc_id-sorted for row-group
    * pruning on id-ranged probes.
    */
  def componentsIndex(s: SparkSession, d: String,
                      threshold: Double = 0.5): DataFrame = {
    val pct = math.round(threshold * 100)
    persist(s, d, s"comps_t$pct") {
      Dedup.componentsFromScratch(s, d, threshold)
        .repartitionByRange(org.apache.spark.sql.functions.col("doc_id"))
        .sortWithinPartitions("doc_id")
    }
  }

  /** The pre-append slice of [[componentsIndex]]: labels of docs with
    * doc_id < boundary, from base-only pairs — the artifact dd25's
    * incremental relabel starts from, persisted so a steady-state
    * append pays only the delta probe plus the shallow star-edge
    * fixpoint, never a base re-pairing.
    */
  def componentsIndexBase(s: SparkSession, d: String, boundary: Long,
                          threshold: Double = 0.5): DataFrame = {
    val pct = math.round(threshold * 100)
    persist(s, d, s"comps_base_t${pct}_b$boundary") {
      Dedup.baseComponentsOf(s, d, boundary, threshold)
        .repartitionByRange(org.apache.spark.sql.functions.col("doc_id"))
        .sortWithinPartitions("doc_id")
    }
  }

  /** Persisted VOCABULARY-sized (h, token) string catalog over the
    * whitespace token basis (`Text.tokens` == split on " ", the basis
    * tx23/tx27 rank in). The hash-ranked text queries keep strings out
    * of every corpus-scale shuffle and only need strings back for a
    * bounded winner shortlist — before this catalog, tx27 paid a
    * SECOND full corpus tokenize just to recover ≤40 winner strings
    * (the 2×-IO shape dd13 was cured of in round 8). The catalog is a
    * pure function of the corpus, grows with the vocabulary (not the
    * corpus — Heaps' law), and is laid out sorted by `h` so an
    * `isin(winnerHashes)` probe prunes at parquet row-group stats
    * level: a probe touches a few row groups, never the vocabulary.
    */
  def tokenCatalog(s: SparkSession, d: String): DataFrame =
    tokenCatalogSlice(s, d, Artifacts.Whole)

  /** Persisted (doc_id, sig) 60-bit SimHash signatures — dd4's
    * corpus-wide signature pass, paid once per corpus instead of per
    * query (the same lesson as [[bandIndex]]; bit-identical to the
    * inline chain, so the dd4 oracle replay is unaffected).
    */
  def simhashIndex(s: SparkSession, d: String, bits: Int = 60): DataFrame =
    simhashSlice(s, d, Artifacts.Whole, bits)

  // --- Incremental maintenance (dd17). A MinHash signature is a pure
  // per-document function, so the band index of corpus ∪ batch is
  // EXACTLY (band index of corpus) ∪ (band index of batch): a new
  // batch never touches existing index files — the ingest job writes
  // one delta directory and the logical index is the union. That
  // no-rewrite property is the whole point of the layout at 100 TB
  // (TextIndexSpec asserts base bytes are untouched by a delta build
  // and that base ∪ delta is row-identical to the full index). ---

  private def bandSlice(s: SparkSession, d: String, slice: Artifacts.Slice,
                        numHashes: Int, bands: Int, n: Int): DataFrame =
    persist(s, d, s"bands_${numHashes}x${bands}_$n${slice.suffix}") {
      Dedup.bandedSignatures(slice.keep(gramIndex(s, d, n, portable = true)),
          numHashes, bands)
    }

  /** The band index as it stood BEFORE the batch: docs < `boundary`. */
  def bandIndexBase(s: SparkSession, d: String, boundary: Long,
                    numHashes: Int = 64, bands: Int = 16,
                    n: Int = 3): DataFrame =
    bandSlice(s, d, Artifacts.below("doc_id", boundary), numHashes, bands, n)

  /** The batch delta: docs >= `boundary` — the ONLY signature work an
    * ingest pays; published as its own directory next to the base.
    */
  def bandIndexDelta(s: SparkSession, d: String, boundary: Long,
                     numHashes: Int = 64, bands: Int = 16,
                     n: Int = 3): DataFrame =
    bandSlice(s, d, Artifacts.from("doc_id", boundary), numHashes, bands, n)

  /** Nightly compaction of the incremental layout: fold base + delta
    * into a successor directory by READING FILES — signatures are
    * never recomputed (the fold is a union + re-cluster on the probe
    * key, so row-group stats serve (band, bucket) point probes again
    * after many deltas fragmented them). Correctness never requires
    * compaction (base ∪ delta IS the index); it restores probe
    * locality. The inputs stay published until an operator retires
    * them — concurrent readers may still hold the old pointer, the
    * same discipline as every ensure-managed directory.
    */
  def compactBandIndex(s: SparkSession, d: String, boundary: Long,
                       numHashes: Int = 64, bands: Int = 16,
                       n: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.col
    persist(s, d, s"bands_${numHashes}x${bands}_${n}_compacted$boundary") {
      bandIndexBase(s, d, boundary, numHashes, bands, n)
        .unionByName(bandIndexDelta(s, d, boundary, numHashes, bands, n))
        .repartitionByRange(col("band"), col("bucket"))
        .sortWithinPartitions("band", "bucket")
    }
  }

  // --- Incremental maintenance for the SimHash index (dd4). A SimHash
  // signature is a pure per-document function — exactly the band
  // index's argument — so the signature relation of corpus ∪ batch is
  // the disjoint union of per-slice relations: a batch ingest writes
  // one delta directory, existing files are never touched, and
  // compaction is a pure file fold. ---

  private def simhashSlice(s: SparkSession, d: String, slice: Artifacts.Slice,
                           bits: Int): DataFrame =
    persist(s, d, s"simhash_$bits${slice.suffix}") {
      Dedup.simhashSignaturesOf(slice.keep(graft.Tables.documents(s, d)), bits)
    }

  /** The SimHash index as it stood BEFORE the batch: docs < boundary. */
  def simhashIndexBase(s: SparkSession, d: String, boundary: Long,
                       bits: Int = 60): DataFrame =
    simhashSlice(s, d, Artifacts.below("doc_id", boundary), bits)

  /** The batch delta: docs >= boundary — the only signature work an
    * ingest pays.
    */
  def simhashIndexDelta(s: SparkSession, d: String, boundary: Long,
                        bits: Int = 60): DataFrame =
    simhashSlice(s, d, Artifacts.from("doc_id", boundary), bits)

  /** Compaction: fold base + delta BY READING FILES — signatures are
    * never recomputed; row-identical to the from-scratch
    * [[simhashIndex]] (TextIndexSpec pins the equivalence).
    */
  def compactSimhashIndex(s: SparkSession, d: String, boundary: Long,
                          bits: Int = 60): DataFrame =
    persist(s, d, s"simhash_${bits}_compacted$boundary") {
      simhashIndexBase(s, d, boundary, bits)
        .unionByName(simhashIndexDelta(s, d, boundary, bits))
    }

  // --- Incremental maintenance for the repeated-gram catalog (dd13/
  // dd22). Per-gram (n_docs, n_occurrences) counts are ADDITIVE over
  // disjoint document slices (a doc lives in exactly one slice, so
  // distinct-doc counts sum), but the `floor` filter is NOT
  // distributive — a gram seen once in the base and once in a batch
  // is repeated only after the merge. So the incremental unit is the
  // UNFLOORED per-slice count STATE (gh, gram, n_docs, n_occurrences)
  // — distinct-gram-scale, strictly smaller than the (doc_id, gh)
  // gramIndex this engine already persists at corpus scale — and the
  // small floored CATALOG is derived at compaction time by summing
  // states and applying the floor. A corpus append therefore costs
  // one batch-sized gram pass (its own state delta), never a full
  // catalog rebuild; TextIndexSpec asserts the compacted catalog is
  // row-identical to the from-scratch build and that the base state
  // files are untouched by a delta build. ---

  /** The unfloored per-slice count state over an arbitrary
    * (doc_id, text) relation — shared with the streaming maintainer
    * (Streams.repGramMaintainBatch), so batch and stream can never
    * count differently. `min(gram)` is the deterministic string pick
    * for a gh (identical to the catalog's pick unless two grams
    * collide in xxhash64 — the dd-family's standing trade).
    */
  private[graft] def repGramStateOf(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    Dedup.gramStringsOf(docs, n)
      .select(col("doc_id"), col("gram"), xxhash64(col("gram")).as("gh"))
      .groupBy("gh")
      .agg(min(col("gram")).as("gram"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
  }

  private def repGramSlice(s: SparkSession, d: String, slice: Artifacts.Slice,
                           n: Int): DataFrame =
    persist(s, d, s"repstate_$n${slice.suffix}") {
      repGramStateOf(slice.keep(graft.Tables.documents(s, d)), n).coalesce(4)
    }

  /** The count state as it stood BEFORE the batch: docs < `boundary`. */
  def repGramStateBase(s: SparkSession, d: String, boundary: Long,
                       n: Int = 8): DataFrame =
    repGramSlice(s, d, Artifacts.below("doc_id", boundary), n)

  /** The batch delta: docs >= `boundary` — the ONLY gram work an
    * ingest pays; published as its own directory next to the base.
    */
  def repGramStateDelta(s: SparkSession, d: String, boundary: Long,
                        n: Int = 8): DataFrame =
    repGramSlice(s, d, Artifacts.from("doc_id", boundary), n)

  /** Compaction: merge the additive states by summation, apply the
    * floor, and publish the small catalog — row-identical to the
    * from-scratch [[repeatedGramIndex]] (same columns, same counts;
    * TextIndexSpec pins the equivalence). States are READ, never
    * recomputed.
    */
  def compactRepeatedGramIndex(s: SparkSession, d: String, boundary: Long,
                               n: Int = 8, minRepeat: Long = 2L): DataFrame = {
    import org.apache.spark.sql.functions._
    persist(s, d, s"repgrams_${n}_f${minRepeat}_compacted$boundary") {
      repGramStateBase(s, d, boundary, n)
        .unionByName(repGramStateDelta(s, d, boundary, n))
        .groupBy("gh")
        .agg(min(col("gram")).as("gram"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("n_occurrences")).as("n_occurrences"))
        .filter(col("n_docs") >= minRepeat)
        .select("gram", "n_docs", "n_occurrences")
        .coalesce(4)
    }
  }

  // --- Incremental maintenance for the token catalog (tx23/tx27/
  // tx29's winner-string source). The vocabulary is a DISTINCT union —
  // a token usually lives in BOTH slices — so unlike the repgram
  // counts the delta is not disjoint: the logical index is
  // base ∪ delta deduped by hash. That is still cheap to maintain
  // (the delta pays one batch-sized tokenize; compaction is a
  // read-files dedup, never a corpus re-tokenize), and probe-side
  // consumers are union-safe even WITHOUT the dedup: every probe
  // rolls up min(token) per h, and duplicate (h, token) rows collapse
  // to the same answer. ---

  private def tokenCatalogSlice(s: SparkSession, d: String,
                                slice: Artifacts.Slice): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, split, xxhash64}
    persist(s, d, s"tokcat_ws${slice.suffix}") {
      slice.keep(graft.Tables.documents(s, d))
        .select(explode(split(col("text"), " ")).as("token"))
        .distinct()
        .select(xxhash64(col("token")).as("h"), col("token"))
        .repartitionByRange(4, col("h"))
        .sortWithinPartitions("h")
    }
  }

  /** The vocabulary as it stood BEFORE the batch: docs < `boundary`. */
  def tokenCatalogBase(s: SparkSession, d: String,
                       boundary: Long): DataFrame =
    tokenCatalogSlice(s, d, Artifacts.below("doc_id", boundary))

  /** The batch vocabulary delta: docs >= `boundary` — one batch-sized
    * tokenize, published beside the base.
    */
  def tokenCatalogDelta(s: SparkSession, d: String,
                        boundary: Long): DataFrame =
    tokenCatalogSlice(s, d, Artifacts.from("doc_id", boundary))

  /** Compaction: distinct-union the slices BY READING FILES (tokens
    * are never re-derived from text) and restore the h-sorted probe
    * layout — row-identical to the from-scratch [[tokenCatalog]]
    * (TextIndexSpec pins the equivalence).
    */
  def compactTokenCatalog(s: SparkSession, d: String,
                          boundary: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    persist(s, d, s"tokcat_ws_compacted$boundary") {
      tokenCatalogBase(s, d, boundary)
        .unionByName(tokenCatalogDelta(s, d, boundary))
        .dropDuplicates("h", "token")
        .repartitionByRange(4, col("h"))
        .sortWithinPartitions("h")
    }
  }
}
