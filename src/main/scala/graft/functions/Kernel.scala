package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The one binding of a per-row native function to Catalyst.
  *
  * A kernel is an `object` that extends this class with its SQL name,
  * its input types and its result type, and defines exactly ONE public
  * method named `compute`. Its parameters are the children's Catalyst
  * values (`UTF8String`, `ArrayData`, `long`, …), then the
  * [[typeArgs]], then the call's constant arguments. [[KernelCall]]
  * derives the rest from that: the type check, null-intolerance (a null
  * child gives a null result and `compute` is not called), interpreted
  * eval (`compute` through reflection) and the generated call (`compute`
  * through the object's `MODULE$`), so both paths run the same code.
  * [[call]] is the Column API; each kernel gives it a typed `apply`.
  *
  * Why not Spark's `StaticInvoke` behind a `RuntimeReplaceable`: the
  * optimizer would swap every kernel for a `staticinvoke(…)` node, so
  * plans would no longer name the kernel, and object-typed constants
  * (vocabularies, sketches, centroid tables) would have to become
  * `ObjectType` literals.
  */
abstract class Kernel(
    val name: String,
    val inputs: Seq[DataType],
    val dataType: DataType) extends Serializable {

  /** `compute` may return null for non-null inputs; it then returns the
    * boxed result type. */
  def nullableResult: Boolean = false

  /** What the optimizer is told (every kernel still gives null for a
    * null child). */
  def nullIntolerant: Boolean = true

  /** Why `types` are not this kernel's inputs, or None when they are.
    * Default: each child has its declared input type, array element
    * nullability aside. */
  def checkInputs(types: Seq[DataType]): Option[String] =
    if (types.length == inputs.length &&
        inputs.zip(types).forall { case (e, a) => Kernel.accepts(e, a) }) None
    else Some(s"$name expects ${Kernel.show(inputs)}, got ${Kernel.show(types)}")

  /** Rejects constant arguments `compute` cannot take; runs whenever a
    * call is built, from the Column API or from SQL. */
  def checkConsts(consts: Seq[Any]): Unit = ()

  /** Integer arguments that depend on the children's types, passed to
    * `compute` right after the children. */
  def typeArgs(types: Seq[DataType]): Seq[Int] = Nil

  /** The kernel over `args`, with constant arguments `consts`. */
  def call(args: Column*)(consts: Any*): Column =
    GraftSqlBridge.column(
      KernelCall(this, args.map(GraftSqlBridge.expression), consts))

  @transient private[functions] lazy val computeMethod: Method = {
    val ms = getClass.getMethods.filter(_.getName == "compute")
    require(ms.length == 1,
      s"kernel $name needs exactly one public compute, found ${ms.length}")
    ms.head
  }
}

object Kernel {
  private def accepts(expected: DataType, actual: DataType): Boolean =
    (expected, actual) match {
      case (ArrayType(e, _), ArrayType(a, _)) => accepts(e, a)
      case _ => expected == actual
    }

  private[functions] def show(types: Seq[DataType]): String =
    if (types.length == 1) types.head.catalogString
    else types.map(_.catalogString).mkString("(", ", ", ")")
}

/** One call of a [[Kernel]]: the Catalyst expression every kernel
  * shares. */
case class KernelCall(kernel: Kernel, children: Seq[Expression], consts: Seq[Any])
    extends Expression {

  kernel.checkConsts(consts)

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean =
    kernel.nullableResult || children.exists(_.nullable)
  override def nullIntolerant: Boolean = kernel.nullIntolerant
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name

  /** Children and plain constants; tables, vocabularies and sketches
    * are left out of plan text. */
  override def toString: String = {
    val shown = consts.collect {
      case v @ (_: Int | _: Long | _: Double | _: Boolean | _: String) => v
    }
    (children ++ shown).mkString(s"$prettyName(", ", ", ")")
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    val arity = children.length + kernel.typeArgs(types).length + consts.length
    kernel.checkInputs(types) match {
      case Some(why) => TypeCheckResult.TypeCheckFailure(why)
      case None if arity != kernel.computeMethod.getParameterCount =>
        TypeCheckResult.TypeCheckFailure(s"${kernel.name}: $arity arguments " +
          s"for a compute of ${kernel.computeMethod.getParameterCount}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  /** The arguments after the children: type arguments, then constants. */
  @transient private lazy val tail: Seq[Any] =
    kernel.typeArgs(children.map(_.dataType)) ++ consts

  @transient private lazy val kids = children.toArray

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](kids.length + tail.length)
    var i = 0
    while (i < kids.length) {
      val v = kids(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    tail.foreach { v => args(i) = v.asInstanceOf[AnyRef]; i += 1 }
    try kernel.computeMethod.invoke(kernel, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  /** A constant as Java source: primitives inline, anything else a
    * reference object cast to `compute`'s parameter type. */
  private def constCode(ctx: CodegenContext, v: Any, param: Class[_]): String =
    v match {
      case i: Int => i.toString
      case l: Long => s"${l}L"
      case b: Boolean => b.toString
      case d: Double if !d.isNaN && !d.isInfinite => s"${d}D"
      case o =>
        val cls =
          if (param.isPrimitive) CodeGenerator.boxedType(param.getName)
          else if (param.isArray) param.getCanonicalName
          else param.getName
        ctx.addReferenceObj("kernelArg", o, cls)
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val params = kernel.computeMethod.getParameterTypes
    val gens = children.map(_.genCode(ctx))
    val tailCode = tail.zipWithIndex.map { case (v, i) =>
      constCode(ctx, v, params(kids.length + i))
    }
    val call = s"${kernel.getClass.getName}.MODULE$$.compute(" +
      (gens.map(_.value.toString) ++ tailCode).mkString(", ") + ")"
    val javaType = CodeGenerator.javaType(dataType)
    if (nullable) {
      val assign =
        if (kernel.nullableResult) {
          val r = ctx.freshName("result")
          s"""${CodeGenerator.boxedType(dataType)} $r = $call;
             |if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r; }
             |""".stripMargin
        } else s"${ev.isNull} = false; ${ev.value} = $call;"
      val body = gens.zip(children).foldRight(assign) { case ((g, c), inner) =>
        s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}
