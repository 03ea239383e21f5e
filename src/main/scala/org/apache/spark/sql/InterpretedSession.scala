package org.apache.spark.sql

import java.lang.ref.WeakReference
import java.util.WeakHashMap
import scala.util.control.NonFatal
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener

/** Runs a frame without code generation. [[apply]] rebinds the frame's
  * analyzed plan to a child of its session (the package-private
  * `classic.Dataset.ofRows` factory, hence this package) whose runtime
  * conf switches code generation off: [[Overrides]]. Every frame derived
  * from the result keeps the child, so its actions, and the actions of
  * every later operator and write over it, plan and execute interpreted;
  * Spark ships the child's conf to the tasks as job-local SQL conf. The
  * plan itself is unchanged: the same jobs run over the same operators.
  *
  * Four rules keep the child indistinguishable from its parent apart from
  * code generation:
  *  1. One child per parent session, built on first use and kept in a
  *     weak map. A new child per call measured 0.44 s slower per
  *     `clean_interactive` request, most of what interpreting saves.
  *  2. The child's runtime conf follows the parent's on every use: each
  *     non-static key the parent holds is copied when it differs, each one
  *     only the child holds is unset, then the overrides are set again
  *     (static keys are equal by construction). So a conf the parent sets
  *     between requests reaches the next one. The copy runs at [[apply]]
  *     time: a caller who sets conf on `result.sparkSession` sets it on the
  *     child, and the next [[apply]] over the same parent undoes it.
  *  3. Query-execution events reach the parent's listeners exactly once.
  *     The child drops the listeners it was built with and registers one
  *     forwarder that relays `onSuccess`/`onFailure` to the listeners the
  *     parent holds at the time of the event, so a listener registered on
  *     the parent later sees the child's queries, and an unregistered one
  *     stops seeing them.
  *  4. No session is pinned. The child comes from `newSession()`, which
  *     shares only the SparkContext-wide state with its parent (the plans
  *     arrive analyzed, so it needs none of the parent's temp views or
  *     functions), and the forwarder holds the parent weakly. The weak map's
  *     value therefore never keeps its key alive.
  */
object InterpretedSession {

  /** The child's runtime conf on top of its parent's: no whole-stage
    * code generation, interpreted projections, predicates and orderings,
    * and no per-session executor class loader (the reason is in
    * `graft.streaming.StreamSetup`). */
  val Overrides: Map[String, String] = Map(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN",
    SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false")

  private val children = new WeakHashMap[classic.SparkSession, classic.SparkSession]

  /** `df` bound to the interpreted child of its session; `df` itself when
    * its session already runs interpreted (a child's frame, say). */
  def apply(df: DataFrame): DataFrame = {
    val session = classic.ClassicConversions.castToImpl(df.sparkSession)
    if (interprets(session)) df
    else classic.Dataset.ofRows(childOf(session), df.queryExecution.analyzed)
  }

  /** Whether `session`'s conf holds every one of the [[Overrides]]. */
  def interprets(session: SparkSession): Boolean =
    Overrides.forall { case (k, v) => session.conf.getOption(k).contains(v) }

  private def childOf(parent: classic.SparkSession): classic.SparkSession = {
    val child = children.synchronized(children.computeIfAbsent(parent, newChild))
    child.synchronized(syncConf(parent.sessionState.conf, child.sessionState.conf))
    child
  }

  private def newChild(parent: classic.SparkSession): classic.SparkSession = {
    val child = parent.newSession()
    child.listenerManager.clear()
    child.listenerManager.register(new Forwarder(new WeakReference(parent)))
    child
  }

  private def syncConf(from: SQLConf, to: SQLConf): Unit = {
    val want = from.getAllConfs
    val have = to.getAllConfs
    def follows(key: String) = !Overrides.contains(key) && !SQLConf.isStaticConfigKey(key)
    want.foreach { case (k, v) =>
      if (follows(k) && !have.get(k).contains(v)) to.setConfString(k, v)
    }
    have.keys.foreach(k => if (follows(k) && !want.contains(k)) to.unsetConf(k))
    Overrides.foreach { case (k, v) =>
      if (!have.get(k).contains(v)) to.setConfString(k, v)
    }
  }

  /** Relays the child's query-execution events to the parent's current
    * listeners, isolating each one's failure as Spark's listener bus
    * does. */
  private final class Forwarder(parent: WeakReference[classic.SparkSession])
      extends QueryExecutionListener {
    private def each(call: QueryExecutionListener => Unit): Unit =
      Option(parent.get).foreach(_.listenerManager.listListeners().foreach { l =>
        try call(l)
        catch { case NonFatal(e) => log.warn(s"listener $l threw", e) }
      })
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      each(_.onSuccess(funcName, qe, durationNs))
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      each(_.onFailure(funcName, qe, exception))
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(InterpretedSession.getClass)
}
