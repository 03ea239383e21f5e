package graft

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.DataFrame
import graft.ops._
import graft.util.Parallelize

/** Pipeline configuration — the typed analogue of the reference's JSON
  * operations dict (`/root/reference/main.py:240-331`,
  * `pipeline.py:498-531`). `None` = stage disabled. Construction is
  * validation: illegal enum values fail fast in each op's constructor
  * pattern match, mirroring `validate_operations` (SURVEY.md §2.0 P3). */
final case class PipelineConfig(
    typeConvert: Option[TypeConvert] = None,
    textClean: Option[TextClean] = None,
    datetimeParse: Option[DatetimeParse] = None,
    missingValues: Option[MissingValues] = None,
    dedup: Boolean = false,
    outliers: Option[Outliers] = None,
    typoFix: Option[TypoFix] = None,
    encode: Option[Encode] = None,
    normalize: Option[Normalize] = None,
    /** Run the inter-stage sanitizer (reference P2). On by default to match
      * reference semantics; turn off for pure op composition. */
    sanitize: Boolean = true,
    /** Collect per-stage row counts into the report. A count() barrier per
      * stage is fine at test scale and prohibitive at 100 TB — default off. */
    collectMetrics: Boolean = false) {

  /** Enabled ops in the reference's FIXED execution order
    * (`pipeline.py:142-152`). */
  def ops: Seq[Op] = Seq(
    typeConvert, textClean, datetimeParse, missingValues,
    if (dedup) Some(Dedup()) else None,
    outliers, typoFix, encode, normalize).flatten
}

final case class StageReport(op: String, ok: Boolean,
    updates: Seq[String], error: Option[String], metrics: Map[String, Any])

final case class PipelineReport(stages: Seq[StageReport]) {
  def errors: Seq[String] = stages.flatMap(s => s.error.map(e => s"${s.op}: $e"))
}

/** Pipeline orchestration (reference P1, `/root/reference/pipeline.py:112-240`,
  * SURVEY.md §2.0): fold the enabled ops in fixed order; a failing op is
  * recorded and SKIPPED (previous DataFrame carried forward,
  * `pipeline.py:187-201`); the sanitizer runs after load and after every
  * successful op (`pipeline.py:132`, `:189`).
  *
  * The composition stays LAZY: ops contribute expressions to one logical
  * plan; only statistic-collection sub-jobs and the final action execute.
  * Each sanitizer pass after an op is handed the frame that op consumed —
  * always the previous sanitizer's output, the carried-forward one after a
  * skipped op — so it skips the columns the op passed through untouched
  * ([[graft.ops.Sanitize]]'s settled-attribute rule) and issues no job at
  * all when the op changed nothing it would clean.
  *
  * A request small enough to be one input split is planned as a single
  * partition first ([[graft.util.Parallelize.singleSplit]]), so each fit
  * job, the dedup and the caller's final action run as one stage with no
  * exchange; a larger input is planned as it comes.
  */
object Pipeline {
  def run(df: DataFrame, config: PipelineConfig): (DataFrame, PipelineReport) = {
    val in = Parallelize.singleSplit(df)
    val start = if (config.sanitize) Sanitize.transform(in) else in
    val (out, stages) = config.ops.foldLeft((start, Vector.empty[StageReport])) {
      case ((cur, reports), op) =>
        Try(op(cur)) match {
          case Success(res) =>
            val next = if (config.sanitize) Sanitize.transform(res.df, cur) else res.df
            val metrics = if (config.collectMetrics) res.metrics() else Map.empty[String, Any]
            (next, reports :+ StageReport(op.name, ok = true, res.updates, None, metrics))
          case Failure(e) =>
            (cur, reports :+ StageReport(op.name, ok = false, Nil,
              Some(Option(e.getMessage).getOrElse(e.getClass.getName)), Map.empty))
        }
    }
    (out, PipelineReport(stages))
  }
}
