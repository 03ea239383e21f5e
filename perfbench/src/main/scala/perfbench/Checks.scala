package perfbench

/** Order statistics for the reported latencies. */
object Quantiles {

  /** Linear-interpolated quantile (the `statistics.quantiles` "inclusive"
    * rule): q = 0.5 of an even sample is the mean of the middle pair. */
  def of(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = of(xs, 0.5)

  /** Samples a tail quantile needs: at least `minAbove` of them must lie
    * strictly above it, so p95 needs 200. */
  def samplesFor(q: Double, minAbove: Int = 10): Int =
    math.ceil(minAbove / (1.0 - q) - 1e-9).toInt

  /** The highest percentile with at least `minAbove` samples above it,
    * as (q, value); None below `minAbove` + 1 samples. */
  def highestTail(xs: Seq[Double], minAbove: Int = 10): Option[(Double, Double)] =
    if (xs.length <= minAbove) None
    else {
      val q = math.floor((1.0 - minAbove.toDouble / xs.length) * 100) / 100
      tail(xs, q, minAbove).map(q -> _)
    }

  /** The `q` tail quantile, or None when the sample is too small to leave
    * `minAbove` values above it. */
  def tail(xs: Seq[Double], q: Double, minAbove: Int = 10): Option[Double] =
    if (xs.length < samplesFor(q, minAbove)) None
    else {
      val v = of(xs, q)
      if (xs.count(_ > v) >= minAbove) Some(v) else None
    }
}

/** Output checks. Each returns the list of failures, empty when the output
  * is right, and takes plain collected values so it can be exercised on
  * corrupted outputs without a Spark session. */
object Checks {

  /** Every enabled stage ran and reported ok. */
  def stages(report: graft.PipelineReport, enabled: Int): Seq[String] = {
    val bad = report.stages.filterNot(_.ok).map(s =>
      s"stage ${s.op} failed: ${s.error.getOrElse("?")}")
    val n =
      if (report.stages.length != enabled)
        Seq(s"${report.stages.length} stages ran, $enabled enabled")
      else Nil
    bad ++ n
  }

  def equal(what: String, actual: Long, expected: Long): Seq[String] =
    if (actual == expected) Nil else Seq(s"$what: $actual, expected $expected")

  /** No nulls left in the filled columns. */
  def noNulls(nulls: Map[String, Long], filled: Seq[String]): Seq[String] =
    filled.flatMap { c =>
      nulls.get(c) match {
        case None => Seq(s"column $c missing from the output")
        case Some(0L) => Nil
        case Some(n) => Seq(s"column $c has $n nulls after filling")
      }
    }

  /** Profile of a request input against its planted truth: row count,
    * duplicate rows and missing cells per column. */
  def profile(p: graft.Profile.DatasetProfile, rows: Long, dups: Long,
      nulls: Map[String, Long]): Seq[String] = {
    val byName = p.columns.map(c => c.name -> c.nMissing).toMap
    equal("profile rows", p.rows, rows) ++
      equal("profile duplicate rows", p.duplicateRows, dups) ++
      nulls.toSeq.sortBy(_._1).flatMap { case (c, n) =>
        equal(s"profile missing in $c", byName.getOrElse(c, -1L), n) }
  }

  /** Connected components equal the planted groups exactly: the same
    * member sets, each labelled by its smallest id. */
  def clusters(rows: Seq[(Long, Long)], groups: Seq[Seq[Long]]): Seq[String] = {
    val got = rows.groupBy(_._2).map { case (label, ms) =>
      label -> ms.map(_._1).toSet }
    val want = groups.map(g => g.min -> g.toSet).toMap
    val wrongLabel = got.collect { case (l, ms) if ms.min != l =>
      s"cluster labelled $l does not carry its minimum ${ms.min}" }
    val missing = want.collect { case (l, ms) if !got.get(l).contains(ms) =>
      s"planted group $l ${ms.toSeq.sorted.mkString("[", ",", "]")} " +
        s"came back as ${got.get(l).map(_.toSeq.sorted.mkString("[", ",", "]"))
          .getOrElse("nothing")}" }
    val extra = got.keySet.diff(want.keySet).toSeq.sorted.map(l =>
      s"unplanted cluster $l ${got(l).toSeq.sorted.mkString("[", ",", "]")}")
    (wrongLabel ++ missing ++ extra).toSeq.take(5)
  }

  /** Two row sets are the same multiset (order-free). */
  def sameRows(what: String, actual: Seq[String],
      expected: Seq[String]): Seq[String] = {
    val a = actual.sorted
    val e = expected.sorted
    if (a == e) Nil
    else {
      val firstDiff = a.zipAll(e, "<none>", "<none>").find { case (x, y) => x != y }
      Seq(s"$what: ${a.length} rows vs ${e.length} expected; first difference " +
        firstDiff.map { case (x, y) => s"$x vs $y" }.getOrElse("?"))
    }
  }
}
