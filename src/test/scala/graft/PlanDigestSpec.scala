package graft

import graft.util.PlanDigest

/** Fails on UNDECLARED optimized-plan drift for the 20 most expensive
  * queries (r19 verdict #6). `plan_digests.json` holds the committed
  * canonical-plan md5 per pinned query; this suite rebuilds each query
  * at sf0.001 under the shared test session and compares.
  *
  * Intentional plan changes: rerun with SPARK_GRAFT_REFRESH_DIGESTS=1
  * (`SPARK_GRAFT_REFRESH_DIGESTS=1 sbt "testOnly graft.PlanDigestSpec"`)
  * — the suite REWRITES the file and still fails once so the refreshed
  * digests are reviewed and committed deliberately, never silently. */
class PlanDigestSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("optimized plans of the 20 pinned queries match plan_digests.json") {
    val file = new java.io.File(SparkSpec.repoRoot, "plan_digests.json")
    val computed: Seq[(String, String)] = PlanDigest.Queries.map { name =>
      name -> cleanBuildDigest(name)
    }
    if (sys.env.contains("SPARK_GRAFT_REFRESH_DIGESTS")) {
      val json = computed.map { case (k, v) => s"""  "$k": "$v"""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.writeString(file.toPath, json)
      fail(s"digests refreshed and written to $file — review the diff, " +
        "commit it, and rerun WITHOUT the refresh flag")
    }
    assert(file.exists(),
      s"$file missing — run once with SPARK_GRAFT_REFRESH_DIGESTS=1 to seed")
    val txt = java.nio.file.Files.readString(file.toPath)
    val pinned: Map[String, String] =
      "\"(q_[A-Za-z0-9_]+)\"\\s*:\\s*\"([0-9a-f]{32})\"".r
        .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
    val missing = PlanDigest.Queries.filterNot(pinned.contains)
    assert(missing.isEmpty, s"plan_digests.json lacks: ${missing.mkString(", ")}")
    val drifted = computed.collect {
      case (name, d) if pinned(name) != d => name
    }
    assert(drifted.isEmpty,
      s"optimized-plan drift in: ${drifted.mkString(", ")} — if intentional, " +
        "refresh with SPARK_GRAFT_REFRESH_DIGESTS=1 and commit the diff; " +
        "if not, an optimizer interaction changed these plans (the r17 " +
        "IVF-regression class)")
  }

  /** Digest from a clean CacheManager: a lingering cache entry (this
    * suite's own earlier builds, or another suite's) makes a matching
    * subtree resolve to the OLD build's InMemoryRelation, whose embedded
    * physical plan carries the old build's expression-id coincidence
    * pattern — the renumbering preserves coincidences, so the digest
    * would depend on build history instead of the plan. Suites run
    * sequentially in the forked test JVM, so the global clear is safe. */
  private def cleanBuildDigest(name: String): String = {
    spark.sharedState.cacheManager.clearCache()
    val before = graft.util.CacheHygiene.snapshot(spark)
    val d = PlanDigest.digest(SparkEntry.queries(name)(spark, sfDir), sfDir)
    graft.util.CacheHygiene.releaseNew(spark, before)
    d
  }

  test("canonicalization is deterministic across rebuilds in one session " +
      "— including a cache-embedding pair query") {
    for (name <- Seq("q_tfidf_topk", "q_lm_score", "q_ann_ivf")) {
      assert(cleanBuildDigest(name) === cleanBuildDigest(name),
        s"$name: same query, same session, different digest — " +
          "canonicalization left a session counter unnormalized")
    }
  }
}
