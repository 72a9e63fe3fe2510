package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** `upper` (`upper = true`) or `lower` of a UTF8_BINARY string under ICU
  * case mappings (`spark.sql.icu.caseMappings.enabled`, the default).
  *
  * [[BinaryCaseMap.exec]] is the body of Spark's
  * `CollationAwareUTF8String.toUpperCase/toLowerCase(UTF8String)`, which
  * the built-in `Upper`/`Lower` call for that collation, so results are
  * bit-identical by construction. What it avoids is that class's static
  * initializer: it builds a title-case table by calling
  * `UCharacter.toTitleCase` for all 1,114,112 code points (~1.1 s, paid
  * by the first `upper`/`lower` in a JVM). [[graft.plans.RewriteCaseMappings]]
  * rewrites the built-ins to this expression. `prettyName` stays
  * `upper`/`lower` and only the child prints, so plan text is unchanged. */
case class BinaryCaseMap(child: Expression, upper: Boolean) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String =
    getTagValue(FunctionRegistry.FUNC_ALIAS).getOrElse(if (upper) "upper" else "lower")
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(s: Any): Any =
    BinaryCaseMap.exec(s.asInstanceOf[UTF8String], upper)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BinaryCaseMap.exec($c, $upper)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BinaryCaseMap {
  /** Static entry point shared by interpreted eval and generated code. */
  def exec(s: UTF8String, upper: Boolean): UTF8String =
    if (s.isFullAscii) { if (upper) s.toUpperCaseAscii else s.toLowerCaseAscii }
    else UTF8String.fromString(
      if (upper) UCharacter.toUpperCase(s.toValidString)
      else UCharacter.toLowerCase(s.toValidString))
}
