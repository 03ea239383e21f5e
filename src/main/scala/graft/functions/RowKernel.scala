package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The scaffold of every row kernel in this package. A kernel's algorithm
  * is written once, as a Scala function on its kernel object
  * ([[VectorKernels]], [[TextKernels]], [[MediaKernels]]) or on a
  * reference object ([[SubwordTable]]). The interpreted `eval` calls that
  * function, and the generated code is one call into the same function:
  * there is no second copy of any loop to keep bit-identical, and
  * `RowKernelSpec` fails on a `doGenCode` that emits one.
  *
  * A kernel supplies its argument types (`inputTypes`, checked by
  * [[ExpectsInputTypes]]), the Java callee, and the constructor constants
  * or reference objects that follow the children's values in the call. */
trait RowKernel extends Expression with ExpectsInputTypes {

  /** The method the generated code calls: a static method of a kernel
    * object (`graft.functions.VectorKernels.dotKernel`), or a method of
    * an object the kernel adds to `ctx` (a reference object or a
    * mutable-state field). */
  protected def callee(ctx: CodegenContext): String

  /** Java source of the arguments after the children's values: literals
    * of constructor constants, or reference objects added to `ctx`. */
  protected def constArgs(ctx: CodegenContext): Seq[Any] = Nil

  /** True when null children reach the kernel, which maps them itself and
    * never returns null. False when a null child gives null without a
    * call, as Spark's `nullSafeEval` does. */
  protected def nullTotal: Boolean = false

  /** True when the kernel returns a boxed value, and null for SQL null: a
    * result that may be null cannot share a sentinel with real values
    * (a NaN cosine stays NaN). */
  protected def boxedResult: Boolean = false

  override def nullable: Boolean =
    !nullTotal && (boxedResult || children.exists(_.nullable))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cs = children.map(_.genCode(ctx))
    val args = cs.map(c =>
      if (nullTotal) s"${c.isNull} ? null : ${c.value}" else s"${c.value}")
    val call = s"${callee(ctx)}(${(args ++ constArgs(ctx)).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable) ev.copy(isNull = FalseLiteral, code = code"""
      |${cs.map(_.code).mkString("\n")}
      |$javaType ${ev.value} = $call;""".stripMargin)
    else {
      val set =
        if (!boxedResult) s"${ev.isNull} = false; ${ev.value} = $call;"
        else {
          val r = ctx.freshName("result")
          s"""${CodeGenerator.boxedType(dataType)} $r = $call;
             |if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r; }""".stripMargin
        }
      val guarded = cs.zip(children).foldRight(set) { case ((c, child), inner) =>
        s"${c.code}\n${ctx.nullSafeExec(child.nullable, c.isNull.toString)(inner)}"
      }
      ev.copy(code = code"""
        |boolean ${ev.isNull} = true;
        |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        |$guarded""".stripMargin)
    }
  }
}
