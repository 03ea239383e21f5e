package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Size gates that choose a frame's partitioning from the optimizer's
  * size estimate (`optimizedPlan.stats.sizeInBytes`) instead of
  * hard-coding either the local or the cluster shape (r21).
  * Both gates read the conf of the frame's own session and log their
  * FIRES/skips decision, and both leave a frame too large to qualify
  * untouched, so a 100 TB plan never changes shape.
  *
  * [[bySize]] widens an under-parallel input. A narrow plan inherits the
  * scan's split count, and a split exists only per
  * `spark.sql.files.maxPartitionBytes` of input — so a small table feeds
  * an expensive per-row kernel (minhash/winnow signatures, k-gram
  * explosion) with fewer tasks than the session has cores: measured at
  * sf0.1/32 cores, the whole minhash signature pass ran as 6 tasks (26
  * cores idle), the substring-dedup gram pipeline as 3. The gate
  * hash-repartitions on the row id to the default parallelism ONLY when
  * the estimate proves the scan cannot reach it (estimated bytes < cores ×
  * maxPartitionBytes). The condition makes the shuffle self-limiting: it
  * can only fire when the whole input is smaller than one split per core,
  * and no heavy payload gains a shuffle (§2.4). Hash-on-id is
  * deterministic under retries (no round-robin, no rand — SPARK-38388).
  *
  * [[singleSplit]] narrows a one-split input. A frame whose estimate is at
  * most `spark.sql.files.openCostInBytes` is no bigger than the cost Spark
  * charges for opening one file, so Spark never splits a file that small
  * and the whole frame is one split's worth of work. `coalesce(1)` then
  * costs no useful parallelism and declares `SinglePartition`, which
  * satisfies every distribution an aggregate, sort or join requires —
  * `EnsureRequirements` plans no gather or hash exchange above it, and
  * under AQE each global aggregate, distinct count or dedup over the frame
  * runs as one single-stage job instead of a map-stage job plus a result
  * job. The cleaning entry points ([[graft.Pipeline.run]],
  * [[graft.Profile.apply]]) apply it to the raw request.
  */
object Parallelize {

  /** `df` repartitioned to the session default parallelism on `idCol`
    * when the size estimate says the plan is under-parallel (see object
    * doc); `df` unchanged otherwise. */
  def bySize(df: DataFrame, idCol: String): DataFrame =
    bySize(df, col(idCol))

  /** [[bySize]] keyed by an arbitrary deterministic column — for inputs
    * with no id column (e.g. word-count passes hash on the text itself). */
  def bySize(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // r22 (r21 ADVICE): read the conf of the DataFrame's OWN session —
    // SQLConf.get is the thread-local active session, which can differ
    // when ops run from another thread or a cloned session.
    val splitBytes = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val fire = estBytes < BigInt(target.toLong) * splitBytes
    // r22 (r21 ADVICE): say when the gate fires/skips so a plan without
    // reliable stats (post-join/UDF sizeInBytes can be huge) that
    // silently never repartitions is attributable from the logs.
    log.info(s"bySize gate ${if (fire) "FIRES" else "skips"}: est=$estBytes" +
      s" vs $target x $splitBytes")
    if (fire) df.repartition(target, key)
    else df
  }

  /** `df.coalesce(1)` when the size estimate is at most one file open
    * cost (see object doc); `df` itself otherwise. */
  def singleSplit(df: DataFrame): DataFrame = {
    val openCost = df.sparkSession.sessionState.conf.filesOpenCostInBytes
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val fire = estBytes <= BigInt(openCost)
    log.info(s"singleSplit gate ${if (fire) "FIRES" else "skips"}: est=$estBytes" +
      s" vs $openCost")
    if (fire) df.coalesce(1)
    else df
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(Parallelize.getClass)
}
