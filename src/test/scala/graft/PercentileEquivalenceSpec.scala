package graft

import graft.operators.Analytics

/** The histogram-refine percentile engine must be VALUE-IDENTICAL to
  * the distinct-value window form it replaced under a11/a12 — not
  * approximately: both read the same k-th order statistics and share
  * the interpolation expression, so every double must match
  * bit-for-bit (the oracle hashes would drift otherwise).
  */
class PercentileEquivalenceSpec extends SparkTestBase {

  private val fractions = Seq(
    ("q499", 0.499), ("q50", 0.5), ("q501", 0.501),
    ("q90", 0.9), ("q99", 0.99), ("q991", 0.991),
    ("qmin", 0.0), ("qmax", 1.0))

  test("histogram refine == distinct-value window form, bit for bit") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        r.getString(0) -> fractions.map { case (n, _) => r.getAs[Double](n) }
      }.toMap
    val hist = toMap(Analytics.exactPercentilesHist(spark, sf, fractions))
    val win = toMap(Analytics.exactPercentilesWindow(spark, sf, fractions))
    assert(hist.keySet == win.keySet)
    hist.foreach { case (g, vs) =>
      vs.zip(win(g)).zip(fractions).foreach { case ((h, w), (n, _)) =>
        assert(h == w, s"group $g fraction $n: hist=$h window=$w")
      }
    }
  }

  test("histogram refine is stable under bucket width (order stats don't move)") {
    def vals(width: Double) =
      Analytics.exactPercentilesHist(spark, sf, fractions, width)
        .collect().map { r =>
          r.getString(0) -> fractions.map { case (n, _) => r.getAs[Double](n) }
        }.toMap
    val w16 = vals(16.0)
    val w301 = vals(301.7) // deliberately unaligned width
    assert(w16 == w301)
  }
}
