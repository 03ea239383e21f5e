package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session setup shared by every streaming builder ([[Events]]'s
  * `streaming*` builders and [[graft.ops.Dedup.streamingExact]]), which
  * call [[install]] before the caller starts the query. A streaming query
  * runs on a clone of its session taken at `start()`, and the clone
  * copies these settings. Each one is set only when the session has no
  * value of its own, so a value the session set always wins.
  *
  * Two settings:
  *  - [[ManagerClassKey]] names [[LocalCheckpointFileManager]], which
  *    writes local checkpoint files without starting a process.
  *  - [[IsolationKey]] is set to `false`, so a restarted stream reuses
  *    the classes an earlier stream already compiled.
  *
  * Why class-loader isolation goes off (Spark 4.1). The key defaults to
  * `true` in a plain JVM application; `spark-shell` and `pyspark` set it
  * to `false`. While it is on:
  *  - every job carries a `JobArtifactState` keyed by its session's UUID;
  *  - the executor keeps one `IsolatedSessionState` per UUID, each with a
  *    fresh class loader, and runs the job's tasks under that loader;
  *  - `CodeGenerator` caches a compiled class by (context class loader,
  *    code body), so the same body compiles again under a new loader;
  *  - `StreamExecution` runs every query on `cloneSession()`, a new UUID.
  * So every stream start compiled all of its task-side classes again:
  * about 30 compiles of unchanged bodies per `events_stream` pass.
  * Isolation only scopes classes added with `addArtifact`, and the engine
  * adds none. A session that sets the key itself keeps its value, and
  * with `true` the recompiles. */
object StreamSetup {

  /** Spark's pluggable checkpoint-manager setting, read by
    * `CheckpointFileManager.create` for the offsets/commits logs and the
    * state store alike. */
  val ManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's per-session executor class-loader isolation. */
  val IsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Fill both settings where the session left them unset. Idempotent. A
    * query copies its session's settings when it starts, so call it
    * before `start()`. */
  def install(spark: SparkSession): Unit = {
    setIfUnset(spark, ManagerClassKey, classOf[LocalCheckpointFileManager].getName)
    setIfUnset(spark, IsolationKey, "false")
  }

  /** `getAll` holds only the values set on the session (or its Spark
    * conf); `getOption` also answers a key's default, so it cannot tell
    * an unset [[IsolationKey]] from an explicit `true`. */
  private def setIfUnset(spark: SparkSession, key: String, value: String): Unit =
    if (!spark.conf.getAll.contains(key)) spark.conf.set(key, value)
}
