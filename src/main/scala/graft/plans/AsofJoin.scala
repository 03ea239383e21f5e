package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Temporal as-of join — "for every left row, the most recent right row
  * at or before it" (backward; forward is the mirror). The workhorse of
  * point-in-time feature lookup: last-touch attribution (purchase ← most
  * recent click), mark-to-market (trade ← last quote), sensor alignment.
  *
  * Spark has no ASOF JOIN operator, and the naive encodings are
  * scale-killers: an inequality theta-join (`l.key = r.key AND r.ts <=
  * l.ts` + max) is a key-join whose matched group is O(history length)
  * per left row before aggregation, and a windowed `last()` over a
  * plain union tears columns when the right payload itself contains
  * nulls. This plan is the UNION-TRICK sort-merge form, with the right
  * payload packed into ONE struct so the match is atomic:
  *
  *  1. tag right rows side=0, left rows side=1; project right's payload
  *     (every non-key column, ts included) into a single struct column;
  *  2. union by name (left columns pass through; the struct is null on
  *     left rows);
  *  3. one window per key ordered by (ts, side, payload struct):
  *     `last(struct, ignoreNulls)` over unbounded-preceding..current is
  *     exactly "latest right row at or before me" — right sorts before
  *     left at equal ts, so the join is INCLUSIVE;
  *  4. keep side=1, unpack the struct, null it out past `tolerance`.
  *
  * Cost: ONE shuffle (the window's hash partition by key) over
  * |left|+|right| rows and a per-key sort — the same cost class as the
  * sort-merge join Spark would pick anyway, but with no join node, no
  * candidate blowup on long histories, and no driver state. Keys are
  * hash-distributed, so a 1000-executor cluster balances by key
  * cardinality; a single pathological key degrades to that key's
  * history length, like any per-key-ordered computation.
  *
  * Determinism: ties among right rows at the same (keys, ts) resolve to
  * the largest payload struct (field-lexicographic) — pre-aggregate the
  * right side to unique (keys, ts) when an external oracle must agree.
  * Right rows with a null key or null ts cannot match by SQL semantics
  * and are filtered before the union; left rows always survive (null
  * ts/key left rows simply match nothing).
  */
object AsofJoin {

  /** Backward as-of: latest right row with `right.ts <= left.ts` per key.
    * Output = every left row (+`prefix`ts_sec, +`prefix`<payload> columns,
    * null when no match or when `left.ts - right.ts > toleranceSeconds`).
    * Timestamp columns may be TimestampType or numeric; matching happens
    * in epoch-seconds double space. */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String,
      toleranceSeconds: Option[Double] = None,
      prefix: String = "asof_"): DataFrame =
    asofImpl(left, right, keys, leftTsCol, rightTsCol, toleranceSeconds,
      prefix, forward = false)

  /** Forward as-of: earliest right row with `right.ts >= left.ts`. */
  def asofForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String,
      toleranceSeconds: Option[Double] = None,
      prefix: String = "asof_"): DataFrame =
    asofImpl(left, right, keys, leftTsCol, rightTsCol, toleranceSeconds,
      prefix, forward = true)

  private def asofImpl(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String,
      toleranceSeconds: Option[Double], prefix: String,
      forward: Boolean): DataFrame = {
    require(keys.nonEmpty, "asof join needs at least one equality key")
    toleranceSeconds.foreach(t =>
      require(t >= 0, s"tolerance must be >= 0, got $t"))
    val payload = right.columns.filterNot(c =>
      keys.contains(c) || c == rightTsCol).toSeq
    val clash = left.columns.toSet
      .intersect((payload.map(prefix + _) :+ (prefix + "ts_sec")).toSet)
    require(clash.isEmpty,
      s"left already has columns ${clash.mkString(", ")} — pass a " +
        "different prefix")
    Seq("__ord", "__side", "__rpay").foreach(c => require(
      !left.columns.contains(c), s"left may not contain reserved column $c"))

    // sign-flip makes "most recent before" and "soonest after" the same
    // unbounded-preceding window
    val sgn = if (forward) -1d else 1d

    val rU = right
      .where(col(rightTsCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) ++ Seq(
          (col(rightTsCol).cast(DoubleType) * sgn).as("__ord"),
          lit(0).as("__side"),
          struct(
            col(rightTsCol).cast(DoubleType).as("__rt") +:
              payload.map(col): _*).as("__rpay")): _*)
    val lU = left
      .withColumn("__ord", col(leftTsCol).cast(DoubleType) * sgn)
      .withColumn("__side", lit(1))

    val w = Window.partitionBy(keys.map(col): _*)
      // __rpay last so equal-ts right duplicates resolve deterministically
      .orderBy(col("__ord").asc, col("__side").asc, col("__rpay").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = lU.unionByName(rU, allowMissingColumns = true)
      .withColumn("__rpay", last(col("__rpay"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)

    // gap >= 0 by construction; null __rpay (no match) propagates null
    val gap = (col("__ord") * sgn - col("__rpay.__rt")) * sgn
    val keep = toleranceSeconds
      .map(t => col("__rpay").isNotNull && gap <= t)
      .getOrElse(col("__rpay").isNotNull)
    val pay = when(keep, col("__rpay"))
    matched.select(
      left.columns.map(col).toSeq ++
        ((prefix + "ts_sec", pay.getField("__rt")) +:
          payload.map(c => (prefix + c, pay.getField(c)))).map {
          case (n, c) => c.as(n)
        }: _*)
  }
}
