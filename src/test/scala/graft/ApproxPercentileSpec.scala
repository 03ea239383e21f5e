package graft

import org.apache.spark.sql.functions._
import graft.functions.{BinnedDigest, ExactPercentile, PctBuffer}

/** Pins the bounded-buffer behavior of `graft_percentile`
  * (ExactPercentile): beyond `maxDistinct` distinct values the exact
  * histogram is irreversibly bypassed for a fixed-size digest, memory
  * stays O(bins), and the approximate quantiles land within the digest's
  * documented error (~1/maxBins of the mass). Oracle-facing queries never
  * cross the bound at test scales, so their exact semantics are untouched
  * (PropertySpec pins bit-for-bit parity with the built-in there).
  */
class ApproxPercentileSpec extends SparkSpec {
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("buffer spills to the digest above maxDistinct and stays bounded") {
    val b = new PctBuffer(maxDistinct = 1000)
    var i = 0
    while (i < 999) { b.add(bits(i.toDouble), 1L); i += 1 }
    assert(!b.isApprox, "under the bound the buffer must stay exact")
    while (i < 50000) { b.add(bits(i.toDouble), 1L); i += 1 }
    assert(b.isApprox, "over the bound the exact path must be bypassed")
    assert(b.exact == null, "the exact histogram must be released on spill")
    assert(b.digest.binCount <= BinnedDigest.DefaultBins + 1)
    // uniform 0..49999: every quantile is ~p * 49999
    val d = b.digest
    assert(d.totalCount == 50000L)
    for (p <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
      val est = d.finiteValueAtRank((p * 49999).toLong)
      assert(math.abs(est - p * 49999) <= 100.0, // 2048 bins => ~25-unit bins
        s"p=$p est=$est expected~${p * 49999}")
    }
    // exact extremes survive the spill
    assert(d.finiteMin == 0.0 && d.finiteMax == 49999.0)
  }

  test("skewed counts migrate in O(distinct), and weights carry mass") {
    val b = new PctBuffer(maxDistinct = 100)
    // one value with a huge count plus 200 distinct others: spill must not
    // expand the 2-billion count into per-row adds
    b.add(bits(5.0), 2000000000L)
    var i = 0
    while (i < 200) { b.add(bits(1000.0 + i), 1L); i += 1 }
    assert(b.isApprox)
    // 2e9 of 2e9+200 mass sits at 5.0 => median is ~5.0 (the heavy value
    // is its own bin; midpoint interpolation adds a sub-1e-3 sliver)
    assert(math.abs(b.digest.valueAtRank(1000000000L) - 5.0) < 1e-3)
  }

  test("merge exact+approx and serde roundtrip preserve the digest") {
    val approx = new PctBuffer(maxDistinct = 50)
    (0 until 10000).foreach(i => approx.add(bits(i.toDouble), 1L))
    val exact = new PctBuffer(maxDistinct = 50)
    (0 until 30).foreach(i => exact.add(bits(i.toDouble), 1L))
    exact.merge(approx)
    assert(exact.isApprox, "merging in an approx side must spill the exact side")
    assert(exact.digest.totalCount == 10030L)
    val rt = PctBuffer.deserialize(exact.serialize())
    assert(rt.isApprox && rt.digest.totalCount == 10030L)
    assert(rt.digest.finiteMin == 0.0 && rt.digest.finiteMax == 9999.0)
    val med = rt.digest.finiteValueAtRank(5015L)
    assert(math.abs(med - 5000.0) < 50.0, s"median drifted: $med")
  }

  test("digest quantiles stay within the documented error on heavy tails") {
    // lognormal-ish heavy tail with duplicates — the distribution shape
    // that breaks equi-width histograms; the merging digest's uniform
    // mass bins must hold ~1/maxBins RANK error, which we verify by
    // rank-inverting the estimate against the exact sorted sample
    val rnd = new scala.util.Random(99)
    val n = 60000
    val vals = Array.fill(n)(math.floor(math.exp(rnd.nextGaussian() * 2) * 100) / 100)
    val b = new PctBuffer(maxDistinct = 500)
    vals.foreach(v => b.add(bits(v), 1L))
    assert(b.isApprox)
    val sorted = vals.sorted
    for (p <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val r = (p * (n - 1)).toLong
      val est = b.digest.finiteValueAtRank(r)
      // rank INTERVAL the estimate covers in the exact sample: a
      // duplicated value occupies a run of ranks, and an estimate whose
      // run contains the target rank is exact — distance to the interval
      // is the honest rank error, not distance to the run's start
      def lowerBound(v: Double) = {
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (sorted(mid) < v) lo = mid + 1 else hi = mid
        }
        lo
      }
      // ±1e-9 band: interpolation can return a grid value ± a few ulps,
      // and the band is far under the 0.01 grid spacing so it can't
      // capture two distinct values
      val first = lowerBound(est - 1e-9)
      val last = lowerBound(est + 1e-9) - 1
      val dist = if (r < first) first - r else if (r > last) r - last else 0L
      // 4/maxBins (~0.2 % of the mass): the ~1-bin design error plus the
      // straddle slack a quantile landing at the edge of a huge duplicate
      // run costs (the hardest case for any mass-binned sketch)
      val rankErr = dist.toDouble / n
      assert(rankErr <= 4.0 / BinnedDigest.DefaultBins,
        s"p=$p est=$est rank error $rankErr exceeds 4/maxBins")
    }
  }

  test("non-finite mass keeps the exact-path total order in approx mode") {
    val d = new BinnedDigest(64)
    d.add(Double.NegativeInfinity, 2L)
    d.add(Double.NaN, 1L)
    (0 until 1000).foreach(i => d.add(i.toDouble, 1L))
    assert(d.valueAtRank(0L) == Double.NegativeInfinity)
    assert(d.valueAtRank(1L) == Double.NegativeInfinity)
    assert(d.valueAtRank(2L) == 0.0) // exact finite min anchors rank 0
    assert(d.valueAtRank(1002L).isNaN) // NaN sorts last
  }

  test("three-arg SQL form forces a low bound end-to-end") {
    val df = spark.range(20000).select(($"id" % 16411 * 7919 % 16411)
      .cast("double").as("x")) // pseudo-shuffled, ~16k distinct
    val row = df.repartition(4).agg(
      ExactPercentile.column($"x", lit(0.5), maxDistinct = 100).as("approx"),
      ExactPercentile.column($"x", lit(0.5)).as("exact")).head()
    val approxMed = row.getDouble(0)
    val exactMed = row.getDouble(1)
    // 16411 distinct uniform values: exact median ~8205; digest error bound
    assert(math.abs(approxMed - exactMed) <= 50.0,
      s"approx=$approxMed exact=$exactMed")
  }

  test("conf key lowers the bound for two-arg calls") {
    spark.conf.set(ExactPercentile.MaxDistinctKey, "64")
    try {
      val df = spark.range(5000).select($"id".cast("double").as("x"))
      // the bound is read when the column is built, after the conf is set
      val med = df.agg(ExactPercentile.column($"x", lit(0.5)).as("m"))
        .head().getDouble(0)
      // approx path (bound 64 << 5000 distincts) still lands near 2499.5
      assert(math.abs(med - 2499.5) <= 80.0, s"median=$med")
    } finally spark.conf.unset(ExactPercentile.MaxDistinctKey)
  }
}
