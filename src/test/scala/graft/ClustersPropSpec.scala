package graft

import org.apache.spark.JobCount

import graft.dedup.NearDup

/** Property check for cluster resolution: on random pair graphs, the
  * distributed pointer-jumping min-label propagation must agree exactly
  * with a driver-side union-find — every node labeled with the smallest
  * id reachable in its connected component. Random graphs exercise the
  * shapes the planted fixtures don't: multiple merging chains, rings,
  * stars colliding mid-propagation, isolated pairs. Seeded, so failures
  * reproduce. */
class ClustersPropSpec extends SparkSpec {
  import spark.implicits._

  private def unionFindLabels(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    // root chosen as min via ordered union, but path compression can lag:
    // normalize by re-finding every seen node
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("random graphs: clusters equals union-find min-label (20 seeds)") {
    for (seed <- 0 until 20) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(60)
      val m = 1 + rnd.nextInt(2 * n)
      val edges = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        if (a == b) (a, (b + 1) % n) else (a, b)
      }
      val expected = unionFindLabels(n, edges)
      // BOTH resolution paths against the same oracle: the default
      // driver union-find and the forced-distributed propagation
      // (maxDriverEdges = -1 routes past the driver gate). clusters
      // returns its labels frame CACHED (caller-unpersists contract) —
      // release per iteration or the suite JVM accumulates pinned frames
      for (forceDistributed <- Seq(false, true)) {
        val labels = NearDup.clusters(edges.toDF("id_a", "id_b"),
          maxDriverEdges =
            if (forceDistributed) -1L else NearDup.MaxDriverEdges)
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        labels.unpersist(false)
        assert(got == expected,
          s"seed=$seed n=$n m=$m distributed=$forceDistributed mismatch: " +
            (got.toSet diff expected.toSet).take(5).toString)
      }
    }
  }

  test("dirty string ids: cast-failed edges drop identically on both paths") {
    // r10 ADVICE: the null gate used to run on the RAW columns, so a
    // non-numeric id passed the filter, became null after the internal
    // cast, and NPE'd the driver union-find (the distributed path emitted
    // null-keyed rows instead — the two paths diverged on dirty input).
    // Now the cast+filter happens once in clusters(): garbage edges
    // vanish, clean edges resolve, and both paths agree.
    val pairs = Seq(
      ("1", "2"), ("2", "3"),       // clean chain -> cluster 1
      ("oops", "4"), ("5", ""),     // cast-failed sides -> dropped
      (null, "6"), ("7", "7.5"),    // null / non-integral -> dropped
      ("10", "11")                  // clean pair -> cluster 10
    ).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    for (forceDistributed <- Seq(false, true)) {
      val labels = NearDup.clusters(pairs,
        maxDriverEdges =
          if (forceDistributed) -1L else NearDup.MaxDriverEdges)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      labels.unpersist(false)
      assert(got == expected,
        s"distributed=$forceDistributed: $got")
    }
  }

  test("driver-path clusters over a cached pair frame runs 6 jobs") {
    // the routing count (2 jobs), the edge collect (1) and the count that
    // materializes the driver-built labels (3). Dropping that count, so
    // the cache fills on the caller's first action, measured slower on
    // the llm_corpus benchmark pass, though it saves 3 jobs here.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b").persist()
    try {
      pairs.count()
      val (labels, jobs) = JobCount(spark.sparkContext)(NearDup.clusters(pairs))
      try {
        assert(jobs == 6, s"$jobs jobs")
        assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      } finally labels.unpersist(false)
    } finally pairs.unpersist(false)
  }
}
