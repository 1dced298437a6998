package graft.functions.expressions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** The Catalyst wiring of a native expression, written once: each
  * expression states only its facts — `inputTypes` (checked by Spark's
  * `ExpectsInputTypes`, so a wrongly typed call fails analysis and no
  * implicit cast is added), `dataType`, its [[constants]] and its
  * [[nullRule]].
  *
  * The kernel is the static `compute` of the expression's companion object,
  * called with the children's values and then the constants. Generated
  * code calls it directly: int and long constants are inlined in the Java
  * source, and every other constant (model state: centroids, masks, merge
  * tables, filters, minhash constants) rides as one reference object, cast
  * to the kernel's own erased parameter type (Janino's generics support is
  * partial). So a row pays one static call and
  * no boxing, allocation or virtual call of this wiring's making, and the
  * enclosing projection stays in whole-stage codegen. The interpreted path
  * invokes the same method, resolved once per instance (as Spark's
  * `StaticInvoke` does).
  */
trait NativeKernel extends ExpectsInputTypes {

  /** The kernel's trailing arguments, after the children's values. */
  protected def constants: Seq[Any] = Nil

  /** When a non-null input still gives null. */
  protected def nullRule: Option[NullRule] = None

  @transient private lazy val kernel: Method = {
    val found = getClass.getMethods.filter(m =>
      m.getName == "compute" && Modifier.isStatic(m.getModifiers))
    require(found.length == 1,
      s"${getClass.getName}: want one static compute, found ${found.length}")
    found.head
  }

  @transient private lazy val constantArgs: Seq[AnyRef] =
    constants.map(_.asInstanceOf[AnyRef])

  protected final def interpret(values: AnyRef*): Any =
    if (nullRule.exists(_.test(values))) null
    else try kernel.invoke(null, values ++ constantArgs: _*) catch {
      case e: InvocationTargetException => throw e.getCause
    }

  protected final def javaCall(ctx: CodegenContext, ev: ExprCode,
      values: Seq[String]): String = {
    val params = kernel.getParameterTypes
    val args = values ++ constants.zipWithIndex.map {
      case (i: Int, _) => i.toString
      case (l: Long, _) => s"${l}L"
      case (o, j) => ctx.addReferenceObj("kernelConst", o,
        CodeGenerator.typeName(params(values.size + j)))
    }
    val call =
      s"${ev.value} = ${kernel.getDeclaringClass.getName}.compute(${args.mkString(", ")});"
    nullRule.fold(call)(rule =>
      s"""if (${rule.java(values)}) {
         |  ${ev.isNull} = true;
         |} else {
         |  $call
         |}""".stripMargin)
  }
}

/** A rule under which a native expression gives null on non-null input, in
  * both evaluation paths: `test` on the interpreted values, `java` the same
  * condition over the generated code's value names.
  */
sealed abstract class NullRule(
    val test: Seq[AnyRef] => Boolean, val java: Seq[String] => String)

object NullRule {
  private def size(v: AnyRef): Int = v.asInstanceOf[ArrayData].numElements()

  /** An empty array gives null: no tokens, no fingerprint or signature. */
  case object EmptyArray extends NullRule(
    v => size(v.head) == 0, v => s"${v.head}.numElements() == 0")

  /** Arrays of different lengths give null, as a zip_with fold does (it
    * pads with null, which poisons the fold).
    */
  case object LengthMismatch extends NullRule(
    v => size(v(0)) != size(v(1)),
    v => s"${v(0)}.numElements() != ${v(1)}.numElements()")
}

/** A one-input native expression. */
abstract class NativeUnary extends UnaryExpression with NativeKernel {
  final override protected def nullSafeEval(input: Any): Any =
    interpret(input.asInstanceOf[AnyRef])

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => javaCall(ctx, ev, Seq(c)))
}

/** A two-input native expression. */
abstract class NativeBinary extends BinaryExpression with NativeKernel {
  final override protected def nullSafeEval(left: Any, right: Any): Any =
    interpret(left.asInstanceOf[AnyRef], right.asInstanceOf[AnyRef])

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => javaCall(ctx, ev, Seq(l, r)))
}
