package graft.util

import org.apache.spark.sql.{DataFrame, InterpretedSession}
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
  *
  * A one-split frame whose estimate is also at most [[InterpretedBytes]]
  * is rebound to its session's interpreted child
  * ([[org.apache.spark.sql.InterpretedSession]]), so it and every frame
  * derived from it (each fit, the sanitizer, the cleaned result and the
  * caller's write) run with no code generation. On a request this small
  * Spark's fixed compile cost dominates: each fit job compiled a
  * 1,800–2,100-line whole-stage class for the replayed prefix and the
  * final write 3,800–4,800 lines, each compiled on the driver and again in
  * the task, for a few thousand rows of work. The bound is not
  * `openCostInBytes`: at Spark's 4 MB default a nine-operator request runs
  * slower interpreted than compiled (the crossover table is in ROADMAP,
  * "Cut the fixed cost per query"). It is a constant, not a conf key, and
  * a session whose open cost is lower applies the lower of the two.
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
    * cost, rebound to the session's interpreted child when it is also at
    * most [[InterpretedBytes]] (see object doc); `df` itself otherwise. */
  def singleSplit(df: DataFrame): DataFrame = {
    val openCost = df.sparkSession.sessionState.conf.filesOpenCostInBytes
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val fire = estBytes <= BigInt(openCost)
    val interpret = estBytes <= BigInt(math.min(openCost, InterpretedBytes))
    val side = if (interpret) "FIRES, interpreted" else if (fire) "FIRES, compiled" else "skips"
    log.info(s"singleSplit gate $side: est=$estBytes vs $openCost" +
      s" (interpreted up to $InterpretedBytes)")
    if (interpret) InterpretedSession(df.coalesce(1))
    else if (fire) df.coalesce(1)
    else df
  }

  /** The largest one-split estimate that runs without code generation.
    * Measured crossover of the nine-operator request (ROADMAP, "Cut the
    * fixed cost per query"): interpreting won every run at this size,
    * split the runs at 512 KiB and lost from 1 MiB on. */
  private[graft] val InterpretedBytes: Long = 256L << 10

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(Parallelize.getClass)
}
