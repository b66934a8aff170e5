package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Semantic invariants for the round-4 additions: train/eval
  * decontamination, intra-doc repetition signals, domain-mix
  * resampling, calendar gap-fill, moment statistics, cross-modal
  * label/lang audit, and the k-means centroid update. Cross-engine
  * value parity is the oracle gate's job; these pin internal
  * consistency, determinism, and plan shape.
  */
class Pack5Spec extends SparkTestBase {

  test("dd9: sides are disjoint and every reported pair shares >= 1 gram") {
    val r = Dedup.decontaminate(spark, sf).collect()
    assert(r.nonEmpty) // sf0.001 yields contaminated pairs by construction
    assert(r.forall(_.getAs[Long]("eval_doc") % 97 == 0))
    assert(r.forall(_.getAs[Long]("train_doc") % 97 != 0))
    assert(r.forall(_.getAs[Long]("n_shared") >= 1))
  }

  test("dd9: eval gram side broadcasts (no shuffle of the train side for the join)") {
    val plan = Dedup.decontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast join for the eval gram set, got:\n$plan")
  }

  test("tx11: distinct <= total bigrams; ratios consistent and bounded") {
    val r = TextAnalysis.repetitionStats(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val total = row.getAs[Long]("n_bigrams")
      val dist = row.getAs[Long]("n_distinct")
      val dup = row.getAs[Double]("dup_ratio")
      val top = row.getAs[Double]("top_share")
      assert(dist >= 1 && dist <= total)
      assert(dup >= 0.0 && dup < 1.0)
      // the top bigram accounts for at least the mean share and at most
      // all (5e-5 slack: the column is rounded to 4 decimals)
      assert(top >= 1.0 / total - 5e-5 && top <= 1.0)
      assert(math.abs(dup - (1.0 - dist.toDouble / total)) < 6e-5)
    }
  }

  test("dp6: copy ids are dense from 1 and counts are deterministic") {
    val out = DataPrep.domainMix(spark, sf)
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("copy_id").as("mx"), min("copy_id").as("mn"))
      .collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { row =>
      assert(row.getAs[Int]("mn") == 1)
      assert(row.getAs[Int]("mx").toLong == row.getAs[Long]("n"))
    }
    // hash-based resampling is reproducible run to run
    assert(out.collect().toSeq == DataPrep.domainMix(spark, sf).collect().toSeq)
  }

  test("dp6: realized language mix tracks the target within rounding slack") {
    val docs = Tables.documents(spark, sf)
    val total = docs.count().toDouble
    val target = Map("en" -> 0.3, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.15, "zh" -> 0.15)
    val realized = DataPrep.domainMix(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap
    target.foreach { case (lang, share) =>
      val want = share * total
      val got = realized.getOrElse(lang, 0L).toDouble
      // per-doc rounding adds at most 1 copy per source doc; at sf0.001
      // the source pools are tiny, so allow sqrt-ish slack
      assert(math.abs(got - want) <= math.max(3.0, want * 0.5),
        s"$lang: want ~$want got $got")
    }
  }

  test("w10: the grid is the full year and gap rows are exactly the zero rows") {
    val r = DataPrep.calendarGapFill(spark, sf).collect()
    assert(r.length == 366) // 1996 is a leap year
    r.foreach { row =>
      val gap = row.getAs[Boolean]("is_gap")
      val n = row.getAs[Long]("n_orders")
      val sales = row.getAs[Double]("sales")
      if (gap) assert(n == 0L && sales == 0.0)
      else assert(n > 0L && sales > 0.0)
    }
    assert(r.map(_.getAs[String]("day")).distinct.length == 366)
  }

  test("a20: moments match uniform-quantity expectations") {
    val r = Analytics.momentsSuite(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      // l_quantity ~ uniform{1..50}: mean ~25.5, skew ~0, excess kurt ~-1.2
      assert(math.abs(row.getAs[Double]("mean_qty") - 25.5) < 2.0)
      assert(math.abs(row.getAs[Double]("skew_qty")) < 0.2)
      assert(math.abs(row.getAs[Double]("kurt_qty") + 1.2) < 0.2)
      assert(row.getAs[Double]("var_pop_qty") > 0.0)
    }
  }

  test("mm4: every paired doc is counted exactly once") {
    val r = Multimodal.labelLangProfile(spark, sf)
    val paired = Tables.documents(spark, sf)
      .join(Tables.embeddings(spark, sf), col("doc_id") === col("vec_id"))
      .count()
    assert(r.agg(sum("n_docs")).head.getLong(0) == paired)
    assert(paired > 0)
  }

  test("w11: conversions never exceed purchases; rate null only when no purchases") {
    val r = Windows.conversionFunnel(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val p = row.getAs[Long]("n_purchases")
      val c = row.getAs[Long]("n_converted")
      assert(c >= 0 && c <= p)
      if (p == 0) assert(row.isNullAt(row.fieldIndex("conv_rate")))
      else assert(math.abs(row.getAs[Double]("conv_rate") - c.toDouble / p) < 5e-5)
    }
  }

  test("f_bitwise: mask/shift/popcount identities hold") {
    val r = FunctionSuites.bitwiseSuite(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val k = row.getAs[Long]("o_orderkey")
      assert(row.getAs[Long]("and_lo") == (k & 255L))
      assert(row.getAs[Long]("or_hi") == (k | 4096L))
      assert(row.getAs[Long]("xor_k") == (k ^ 12345L))
      assert(row.getAs[Long]("shl3") == (k << 3))
      assert(row.getAs[Long]("shr2") == (k >> 2))
      assert(row.getAs[Int]("popcnt") == java.lang.Long.bitCount(k))
      assert(row.getAs[Long]("flipped") == ~k)
    }
  }

  test("w12: shares sum to 100 and the cumulative share is monotone to 100") {
    val r = Windows.paretoShare(spark, sf).collect()
    assert(r.nonEmpty)
    val pcts = r.map(_.getAs[Double]("pct"))
    assert(math.abs(pcts.sum - 100.0) < 0.01)
    val cum = r.map(_.getAs[Double]("cum_pct"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(math.abs(cum.last - 100.0) < 0.01)
    // rows are sorted by sales descending
    val sales = r.map(_.getAs[Double]("sales"))
    assert(sales.zip(sales.tail).forall { case (a, b) => a >= b })
  }

  test("dd8 core: pointer jumping closes a 200-node chain within the round cap") {
    // A path graph of diameter 199: linear propagation needs 199 rounds
    // and would trip the maxIter=20 require; pointer jumping must close
    // it in ~3 + log2(199) rounds. This is the ADVICE-flagged failure
    // mode (deep chains of chained near-dups) exercised directly.
    import spark.implicits._
    val n = 200
    val nodes = (0L until n.toLong).toDF("doc_id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.componentsFromPairs(nodes, pairs, maxIter = 20)
      .collect()
    assert(labels.length == n)
    assert(labels.forall(_.getAs[Long]("comp") == 0L))
  }

  test("dp7: chunks tile every document with no token left uncovered") {
    val chunks = DataPrep.chunkDocuments(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    assert(chunks.nonEmpty && chunks.keySet == lens.keySet)
    chunks.foreach { case (docId, rows) =>
      val covered = rows.flatMap { r =>
        val start = r.getAs[Int]("chunk_id") * 24 + 1
        start until (start + r.getAs[Int]("n_tokens"))
      }.toSet
      assert(covered == (1 to lens(docId)).toSet,
        s"doc $docId: coverage gap or overrun")
      // every chunk's text has exactly n_tokens tokens
      rows.foreach { r =>
        assert(r.getAs[String]("chunk").split(" ").length ==
          r.getAs[Int]("n_tokens"))
      }
    }
  }

  test("tx12: exactly topK salient terms per doc, scores non-increasing") {
    val r = TextAnalysis.tfidfTopTerms(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(r.nonEmpty)
    r.foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rk"))
      assert(byRank.map(_.getAs[Int]("rk")).toSeq == (1 to byRank.length))
      assert(byRank.length <= 5)
      val scores = byRank.map(_.getAs[Double]("tfidf"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // a corpus-universal token (df = N) has idf 0 and can never rank
      assert(rows.forall(_.getAs[Double]("tfidf") >= 0.0))
    }
  }

  test("dd10: one best match per incoming doc, sides disjoint, above threshold") {
    val r = Dedup.incrementalDedup(spark, sf).collect()
    assert(r.nonEmpty)
    val incDocs = r.map(_.getAs[Long]("inc_doc"))
    assert(incDocs.distinct.length == incDocs.length) // one row per incoming doc
    assert(r.forall(_.getAs[Long]("inc_doc") % 4 == 0))
    assert(r.forall(_.getAs[Long]("match_doc") % 4 != 0))
    assert(r.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("sq1: sequence length equals event count, symbols from the event alphabet") {
    val r = DataPrep.userEventSequences(spark, sf).collect()
    assert(r.nonEmpty)
    val alphabet = Set("click", "view", "purchase", "signup", "error")
    r.foreach { row =>
      val syms = row.getAs[String]("seq").split(">")
      assert(syms.length.toLong == row.getAs[Long]("n_events"))
      assert(syms.forall(alphabet))
    }
  }

  test("dp8: interleave rotates sources — every source appears once per rank round") {
    val r = DataPrep.interleaveSources(spark, sf).collect()
    val bySource = r.groupBy(_.getAs[String]("source"))
    // per-source ranks are dense from 1
    bySource.values.foreach { rows =>
      val rns = rows.map(_.getAs[Int]("rn")).sorted
      assert(rns.toSeq == (1 to rows.length))
    }
    // within one rank round, each source contributes at most one doc
    r.groupBy(_.getAs[Int]("rn")).values.foreach { round =>
      val srcs = round.map(_.getAs[String]("source"))
      assert(srcs.distinct.length == srcs.length)
    }
  }

  test("sq2: per-from probabilities sum to 1 and counts match the event stream") {
    val r = DataPrep.eventTransitions(spark, sf).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[String]("from_type")).values.foreach { rows =>
      assert(math.abs(rows.map(_.getAs[Double]("p")).sum - 1.0) < 1e-4)
    }
    // total transitions = total events minus one per active user
    val events = Tables.events(spark, sf)
    val expected = events.count() -
      events.select("user_id").distinct().count()
    assert(r.map(_.getAs[Long]("n")).sum == expected)
  }

  test("a22: flagged rows are exactly the |z| > 1.5 rows and z is consistent") {
    val r = Analytics.outlierFlags(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(math.abs(row.getAs[Double]("z")) > 1.5 - 1e-3)
    }
    // exactness: recompute per-group (mu, sigma) independently and count
    // the rows that SHOULD be flagged — must equal what the op returned.
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("rf"), col("l_quantity").as("q"))
      .collect()
    val byGroup = li.groupBy(_.getAs[String]("rf"))
    val expected = byGroup.map { case (_, rows) =>
      val qs = rows.map(_.getAs[Double]("q"))
      val n = qs.length.toDouble
      val mu = qs.sum / n
      val sigma = math.sqrt(qs.map(x => x * x).sum / n - mu * mu)
      qs.count(x => math.abs((x - mu) / sigma) > 1.5)
    }.sum
    assert(r.length == expected)
  }

  test("km2: k x dim grid, every vector assigned to exactly one cluster") {
    val dim = 64
    val k = 4
    val r = Similarity.centroidUpdate(spark, sf, k).collect()
    assert(r.length == k * dim)
    val members = r.groupBy(_.getAs[Int]("cluster"))
      .map { case (_, rows) => rows.map(_.getAs[Long]("n_members")).toSet }
    // within a cluster every dimension sees the same member count
    assert(members.forall(_.size == 1))
    val totalMembers = r.filter(_.getAs[Int]("dim") == 0)
      .map(_.getAs[Long]("n_members")).sum
    assert(totalMembers == Tables.embeddings(spark, sf).count())
    assert(r.forall(row => row.getAs[Double]("centroid").abs <= 1.0))
  }
}
