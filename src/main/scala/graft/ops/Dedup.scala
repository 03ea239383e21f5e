package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Dedup {
  /** Batch twin of [[streamingExact]]: replaying the stream in event-time
    * order (no late data), the survivor per key is the EARLIEST row by
    * (tsCol, tieBreak) — a keyed row_number window, one hash shuffle on
    * the dedup key. This is the oracle-checkable form of the ingest-time
    * dedup semantics; ExtensionsSpec pins the equivalence by feeding the
    * same rows through [[streamingExact]] in event-time arrival order. */
  def streamTwinExact(df: DataFrame, tsCol: String, keys: Seq[String],
      tieBreak: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(tsCol), col(tieBreak))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Structured Streaming twin of exact dedup for a continuously
    * ingested corpus: duplicates are dropped ACROSS micro-batches with
    * BOUNDED state — a key's state lives only until the event-time
    * watermark passes it (`dropDuplicatesWithinWatermark`), the only
    * formulation that runs forever on an unbounded stream (a plain
    * streaming `dropDuplicates` accumulates key state without bound).
    * `keys` is the duplicate identity — e.g. a content fingerprint
    * column ([[graft.text.TextAnalysis.fingerprint]]) for near-exact
    * document dedup at ingest time. Calls
    * [[graft.streaming.StreamSetup.install]] for the stream's session. */
  def streamingExact(stream: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame = {
    graft.streaming.StreamSetup.install(stream.sparkSession)
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)
  }
}

/** Exact duplicate removal (reference U1,
  * `/root/reference/methods/duplicate.py:17-69`, SURVEY.md §2.8).
  *
  * The reference keeps the FIRST occurrence; for exact full-row duplicates
  * every copy is identical, so Spark's `dropDuplicates` (keeps an arbitrary
  * copy) is semantically equivalent — and is a plain hash-aggregate
  * shuffle on all columns, which scales linearly and AQE-coalesces.
  * Subset dedup (keep one row per key) is order-sensitive; callers that
  * need "first by key" should use a deterministic tie-break instead
  * (min of an ordering column) — see graft.extensions.NearDup for the
  * keyed variants.
  */
final case class Dedup(subset: Seq[String] = Nil) extends Op {
  val name = "duplicates"
  def apply(df: DataFrame): OpResult = {
    val out = if (subset.isEmpty) df.dropDuplicates()
              else df.dropDuplicates(subset)
    // Reference metrics envelope (`duplicate.py:50-59`), deferred: two
    // counts when invoked. duplicate_count = rows removed, which equals
    // pandas' duplicated().sum() (every copy past the first).
    OpResult(out, Seq("dropped exact duplicates"), () => {
      val before = df.count()
      val after = out.count()
      Map(
        "duplicate_count" -> (before - after),
        "rows_before" -> before,
        "rows_after" -> after,
        "columns_before" -> df.columns.length.toLong,
        "columns_after" -> out.columns.length.toLong)
    })
  }
}
