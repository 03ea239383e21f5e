package graft.util

import org.apache.spark.sql.DataFrame

/** Optimized-plan digest pinning (r19 verdict #6): the r17 IVF
  * regression (an inferred-filter pushdown re-running a collapsed
  * quantize tree per row) was invisible until hand-measured — nothing
  * diffed when an optimizer interaction changed a query's plan. A
  * committed `plan_digests.json` (md5 of the CANONICALIZED optimized
  * logical plan per expensive query, refreshed intentionally) makes any
  * undeclared plan drift fail `sbt test` at commit time
  * (PlanDigestSpec).
  *
  * Canonicalization strips what legitimately varies run-to-run while
  * keeping everything that defines the plan's shape and cost:
  * expression ids renumber by first appearance, rdd/codegen/plan ids
  * normalize, absolute paths (the sf dir, warehouse/temp dirs)
  * collapse to placeholders. Digests are pinned at sf0.001 under the
  * test session — stat-pass literals a query embeds (medians, IQR
  * bounds, learned merges) are deterministic per sf, so they stay. */
object PlanDigest {

  /** Canonical text of `df`'s optimized logical plan. InMemoryRelation
    * nodes (eager pair operators return cached results) are replaced by
    * an empty LocalRelation over the same output BEFORE rendering: the
    * cacheBuilder's embedded physical plan snapshots run-scoped AQE
    * state (materialized QueryStage numbers, TableCacheQueryStage ids)
    * that legitimately differs between builds of the same query — for
    * those queries the digest pins the outer shape; the executed inner
    * plan's cost is bench-history-pinned instead. */
  def canonical(df: DataFrame, sfDir: String): String = {
    val stripped = df.queryExecution.optimizedPlan.transform {
      case p if p.getClass.getSimpleName == "InMemoryRelation" =>
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(p.output)
    }
    canonicalText(stripped.toString, sfDir)
  }

  private[graft] def canonicalText(plan: String, sfDir: String): String = {
    var s = plan
    s = s.replace(sfDir, "<SF>")
    // absolute locations: parquet relations, stream checkpoints, hive
    // warehouse dirs — machine/run-specific, never plan-shape
    s = s.replaceAll("file:[^\\s,\\]\\)]*", "<PATH>")
    s = s.replaceAll("/(?:tmp|root|home)/[^\\s,\\]\\)]*", "<PATH>")
    // cached subtrees: rdd ids, storage/codegen/plan ids
    s = s.replaceAll("rdd_\\d+", "rdd_<id>")
    s = s.replaceAll("\\[plan_id=\\d+\\]", "[plan_id=<id>]")
    s = s.replaceAll("\\[id=#\\d+\\]", "[id=#<id>]")
    s = s.replaceAll("(?m)^(\\s*)\\*\\(\\d+\\)", "$1*(<s>)")
    s = s.replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[<id>]")
    // reference objects render as JVM identity (e.g. the IVF centroid
    // [[D@4481c0a7) — identity is run-scoped, the content is the
    // deterministic driver-fit result
    s = s.replaceAll("@[0-9a-f]{6,10}\\b", "@<ref>")
    // lambda variable names carry the session-global freshVarName
    // counter (x_1, y_38, ...) — renumber by first appearance like
    // expression ids so HOF lambdas digest identically across builds
    val lvs = scala.collection.mutable.HashMap.empty[String, Int]
    s = "\\b([a-z])_(\\d+)\\b".r.replaceAllIn(s, m =>
      m.group(1) + "_L" + lvs.getOrElseUpdate(m.matched, lvs.size))
    // expression ids: renumber by first appearance so absolute
    // per-session NamedExpression counters drop out but distinctness
    // (self-join sides, shadowed aliases) is preserved
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    s = "#(\\d+)".r.replaceAllIn(s, m =>
      "#E" + ids.getOrElseUpdate(m.group(1), ids.size))
    s
  }

  def digest(df: DataFrame, sfDir: String): String = md5(canonical(df, sfDir))

  private[graft] def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The pinned set: the most expensive sf0.1 cold-history rows whose
    * registered build produces a stable batch plan. The three
    * `_stream` rows in the cost top-20 are excluded — their registered
    * twins run real micro-batch triggers whose plans embed run-scoped
    * stream state — and the next-most-expensive batch rows take their
    * places, keeping 20 pinned plans. */
  val Queries: Seq[String] = Seq(
    "q_typeconvert_auto", "q_ann_ivf_quantized", "q_winnow_pairs",
    "q_embed_quantize", "q_substring_dedup", "q_normalize_l2",
    "q_neardup_minhash", "q_dedup_incremental", "q_train_layout",
    "q_normalize_minmax", "q_bpe_learn1k", "q_outlier_modz_cap",
    "q_neardup_clusters", "q_outlier_iforest_remove", "q_embed_clusters",
    "q_bucketed_join", "q_lm_score", "q_typeconvert_manual",
    "q_ann_ivf", "q_tfidf_topk")
}
