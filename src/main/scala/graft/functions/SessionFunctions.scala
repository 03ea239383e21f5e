package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session registration of the `graft_*` Catalyst kernels, reached from
  * operator code through `call_function`. Registration is idempotent by
  * lookup: a name already in the session's registry is left as it is, so
  * the per-call `register` helpers cost a hash probe instead of replacing
  * (and logging) the builder every time. Builders read any session conf
  * when they BUILD an expression, never at registration, so keeping the
  * first registration changes no result. */
object SessionFunctions {
  def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
