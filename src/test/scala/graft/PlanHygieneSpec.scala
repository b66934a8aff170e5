package graft

/** Global plan hygiene over the ENTIRE query surface: every registered
  * query is built and its final physical plan checked for the
  * operators that do not survive contact with real data volumes.
  *
  * - `CartesianProduct` (the non-broadcast full cross) is banned
  *   outright: at 100 TB any accidental cartesian is a job that never
  *   finishes. Intentional tiny crosses (j8's region×nation grid,
  *   1-row aggregate attachment) plan as BroadcastNestedLoopJoin,
  *   which is fine precisely because one side is broadcast-small.
  * - Every query must also analyze/plan successfully — a resolution
  *   error anywhere in the surface fails here before the oracle gate.
  *
  * Known limits: queries that localCheckpoint intermediates (the
  * iterative/audit ops) execute those stages during build, and the
  * checkpointed subtree surfaces as an ExistingRDD scan — operators
  * UPSTREAM of a checkpoint are invisible to this check (their own
  * specs audit those pipelines: Pack5/Pack6/DataOpsSpec). Only
  * checkpoints with a reason remain (see [[graft.operators.Rounds]]),
  * so fewer subtrees hide: gr2 and gr14 read the support-thresholded
  * edges unpinned, and this check sees the index read and the filter
  * under them.
  */
class PlanHygieneSpec extends SparkTestBase {

  // One planning pass over the whole surface; every check below reads
  // these. sparkPlan, not executedPlan: the pre-AQE physical plan
  // keeps the whole tree visible without executing adaptive stages.
  private lazy val plans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.sparkPlan
    }

  test("no query plans a non-broadcast CartesianProduct") {
    val offenders = plans.collect {
      case (name, p) if p.toString.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty,
      s"queries planning a CartesianProduct: ${offenders.mkString(", ")}")
  }

  // A GLOBAL window — partitionSpec empty, or all-constant (a
  // partitionBy(lit(0)) is still one task; treating it as partitioned
  // would be a loophole) — funnels its whole input through ONE task:
  // the plan shape that is correctness-green at sf0.01 and dead at
  // 100 TB. It is legal only above an aggregate whose grouping keys
  // all come from a BOUNDED domain — a key set whose cardinality is
  // fixed by construction (partition ids, deciles, digits, calendar
  // fields, enum-like dimension attributes), NOT one that grows with
  // the corpus. Grow-with-data global sorts (customer spend ranks,
  // value-domain ECDFs) must route through GlobalOrder's
  // range-partition + offset two-pass instead — its offset tables
  // group on a partition id, which is why "pid" is in the allowlist.
  // A 1-row (ungrouped) aggregate is always fine.
  test("global WindowExec only above bounded-key aggregates") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    // Bounded grouping domains, by attribute name. Each entry is a
    // closed set: spark_partition_id (≤ #partitions), equal-frequency
    // tile ids (≤ k), decimal digits (9), calendar fields (days of
    // week, months, years and dates inside the corpus' fixed span,
    // hour-of-day), TPC-H enum attributes (flags, status, segments,
    // priorities, modes, types, brands), tiny classifier label sets,
    // and histogram/bucket ids (fixed bin count).
    def bounded(n: String): Boolean = {
      val base = n.toLowerCase
      base.contains("pid") || base.contains("decile") ||
      base.contains("score") || base.contains("digit") ||
      base.contains("bucket") || base.contains("bin") ||
      base.contains("day") || base.contains("month") ||
      base.contains("year") || base.contains("date") ||
      base.contains("week") || base.contains("hour") ||
      base.contains("flag") || base.contains("status") ||
      base.contains("segment") || base.contains("priority") ||
      base.contains("mode") || base.contains("type") ||
      base.contains("brand") || base.contains("lang") ||
      base.contains("label") || base.contains("source") ||
      base.contains("nation") || base.contains("region")
    }
    // Grouping keys often surface as opaque `_groupingexpression`
    // attributes (the partial agg aliases inline grouping exprs);
    // resolve them to their defining Alias and accept calendar-derived
    // expressions (year/month/day truncations of a fixed corpus span).
    def calendarExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
      val s = e.simpleString(100).toLowerCase
      Seq("year(", "month(", "date_format(", "date_trunc(", "dayofweek(",
        "to_date(", "hour(", "weekofyear(").exists(s.contains)
    }
    val offenders = plans.flatMap { case (name, p) =>
      p.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
          w.child.collectFirst { case a: BaseAggregateExec => a } match {
            case None =>
              Some(s"$name (global window over non-aggregate input)")
            case Some(a) =>
              import org.apache.spark.sql.catalyst.expressions.Alias
              val aliases = a.collect { case n => n.expressions }
                .flatten.flatMap(_.collect { case al: Alias => al })
              val unbounded = a.groupingExpressions.filterNot { g =>
                bounded(g.name) || (g match {
                  case al: Alias => calendarExpr(al.child)
                  case _ => aliases.filter(_.exprId == g.exprId)
                    .exists(al => bounded(al.name) || calendarExpr(al.child))
                })
              }.map(_.name)
              if (unbounded.isEmpty) None
              else Some(s"$name (global window over aggregate keyed on " +
                s"unbounded ${unbounded.mkString("/")})")
          }
      }.flatten
    }.distinct
    assert(offenders.isEmpty,
      s"queries with a global WindowExec outside the bounded-aggregate " +
        s"exemption: ${offenders.mkString(", ")}")
  }

  // The whole surface is UDF-free: every expression is a codegen'd
  // builtin or a native Catalyst Expression (FloatVecDot,
  // bloom_filter_agg/might_contain) — a ScalaUDF anywhere means a
  // boxed per-row call crept into a hot path.
  test("no query plans a ScalaUDF — the surface stays codegen-native") {
    val offenders = plans.collect {
      case (name, p) if p.toString.contains("UDF") => name
    }
    assert(offenders.isEmpty,
      s"queries planning a ScalaUDF: ${offenders.mkString(", ")}")
  }
}
