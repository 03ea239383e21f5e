package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.ExactPercentile

/** Pins `graft_median_absdev` (r22, guide §1.2 "fewer passes"): the
  * one-pass median + deviation percentile must be BIT-IDENTICAL to the
  * two-pass shape it replaces — job 1 `graft_percentile(x, 0.5)`, job 2
  * `graft_percentile(|x − median|, p)` — in exact mode, and must fall
  * back loudly (null dev, digest median) once the histogram spills.
  * The exact-mode equality is what lets Outliers' modified-zscore and
  * isolation-forest bounds drop a whole corpus scan without the oracle
  * hash moving.
  */
class MedianAbsDevSpec extends SparkSpec {
  import spark.implicits._

  private def v: Column = col("v").cast(DoubleType)

  /** Two-pass reference over `df(col "v")` at deviation percentile p. */
  private def twoPass(df: org.apache.spark.sql.DataFrame,
      p: Double): (Double, Double) = {
    val med = df.agg(ExactPercentile.column(v, lit(0.5))).head().getDouble(0)
    val dev = df.agg(ExactPercentile.column(abs(v - lit(med)), lit(p)))
      .head().getDouble(0)
    (med, dev)
  }

  private def onePass(df: org.apache.spark.sql.DataFrame,
      p: Double): (Double, java.lang.Double) = {
    val r = df.agg(ExactPercentile.medianAbsDev(v, p)).head().getStruct(0)
    (r.getDouble(0),
      if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))
  }

  test("exact mode: one pass equals the two-pass median + |x-med| " +
      "percentile bit for bit (ties, negatives, nulls)") {
    val rnd = new scala.util.Random(42)
    // ties (quantized), negatives, and nulls — the shapes the fold must
    // preserve exactly (equal |v-med| from both sides of the median must
    // MERGE their counts before interpolation)
    val vals: Seq[java.lang.Double] = (1 to 4000).map { i =>
      if (i % 37 == 0) null
      else java.lang.Double.valueOf(math.rint(rnd.nextGaussian() * 40) / 8.0)
    }
    val df = vals.toDF("v")
    for (p <- Seq(0.5, 0.9, 0.25, 1.0, 0.0)) {
      val (m2, d2) = twoPass(df, p)
      val (m1, d1) = onePass(df, p)
      assert(m1 == m2, s"median mismatch at p=$p: $m1 vs $m2")
      assert(d1 != null && d1.doubleValue() == d2,
        s"dev mismatch at p=$p: $d1 vs $d2")
    }
  }

  test("exact mode: a symmetric distribution folds counts onto the same " +
      "deviation value") {
    // |v - 0| collides pairwise: fold must merge counts, not keep -x and x
    val df = Seq(-3.0, -2.0, -1.0, 0.0, 1.0, 2.0, 3.0).map(
      java.lang.Double.valueOf).toDF("v")
    val (m2, d2) = twoPass(df, 0.5)
    val (m1, d1) = onePass(df, 0.5)
    assert(m1 == m2 && d1.doubleValue() == d2)
    assert(m1 == 0.0 && d1.doubleValue() == 2.0) // |..| = {0,1,1,2,2,3,3}
  }

  test("empty and all-null input return null") {
    val empty = Seq.empty[java.lang.Double].toDF("v")
    assert(empty.agg(ExactPercentile.medianAbsDev(v, 0.5)).head().isNullAt(0))
    val nulls = Seq[java.lang.Double](null, null).toDF("v")
    assert(nulls.agg(ExactPercentile.medianAbsDev(v, 0.5)).head().isNullAt(0))
  }

  test("spilled mode: dev is null and median equals the digest median of " +
      "graft_percentile — the caller's fallback contract") {
    val df = (1 to 5000).map(i => java.lang.Double.valueOf(i.toDouble)).toDF("v")
    val r = df.agg(ExactPercentile.medianAbsDev(v, 0.5, maxDistinct = 100))
      .head().getStruct(0)
    assert(r.isNullAt(1), "a spilled buffer must not fabricate a deviation")
    val digestMed = df.agg(
      ExactPercentile.column(v, lit(0.5), maxDistinct = 100))
      .head().getDouble(0)
    assert(r.getDouble(0) == digestMed,
      "spilled median must equal pass-1's digest median")
  }

  test("Outliers modified_zscore and isolation_forest bounds are unchanged " +
      "by the one-pass rewrite (vs hand-computed two-pass)") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 2000).map(i =>
      (i.toLong, math.rint(rnd.nextGaussian() * 1000) / 4.0)).toDF("id", "v")
    // hand two-pass bounds
    val (med, mad) = twoPass(df.select(col("v")), 0.5)
    val half = 3.0 * mad / 0.6745
    val got = graft.ops.Outliers("modified_zscore", "cap", 3.0,
      columns = Seq("v")).computeBounds(df, Seq("v"))("v")
    assert(got == ((med - half, med + half)))
    val (medI, dev9) = twoPass(df.select(col("v")), 0.9)
    val gotI = graft.ops.Outliers("isolation_forest", "remove",
      contamination = 0.1, columns = Seq("v")).computeBounds(df, Seq("v"))("v")
    assert(gotI == ((medI - dev9, medI + dev9)))
  }
}
