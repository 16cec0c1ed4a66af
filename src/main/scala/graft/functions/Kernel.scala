package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import scala.collection.immutable.ArraySeq
import scala.reflect.{classTag, ClassTag}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** One per-row kernel call as a Catalyst expression: `target.method(args)`,
  * one call per row from inside whole-stage codegen — the shape of every
  * native hot path (the text, vector and set kernels here, the geometry and
  * band kernels in [[graft.operators]]).
  *
  * Spark's higher-order lambdas evaluate interpreted per element and a
  * `ScalaUDF` breaks the fused stage at a conversion boundary; this
  * expression does neither. The generated code adds `target` once as a
  * reference object and calls `method` on it directly, primitives unboxed —
  * no reflection per row. Interpreted eval calls the same `Method`
  * (resolved from the children's Java types), so both paths run one body.
  *
  * Null rules: a null input gives null without calling the kernel; a
  * kernel built with `mayReturnNull` returns a reference type (a boxed
  * `Double`, a `UTF8String`) and gives `null` for SQL NULL. Nullability is
  * therefore exact: an array kernel over a non-null column stays non-null.
  *
  * The `target` is the kernel value: a Scala `object` for a pure kernel,
  * or a value carrying the state that rides the plan (its equality is the
  * expression's, so `Seq` fields keep plans that carry equal state equal).
  * It must be serializable — it ships with the task. Plans print
  * `name(children…)`. */
case class Kernel(name: String, target: AnyRef, method: String,
    children: Seq[Expression], dataType: DataType, mayReturnNull: Boolean = false)
  extends Expression {

  @transient private lazy val call: Method = {
    val params = children.map(c => CodeGenerator.javaClass(c.dataType))
    try target.getClass.getMethod(method, params: _*)
    catch { case _: NoSuchMethodException =>
      throw new IllegalArgumentException(s"$name: ${target.getClass.getName} has no " +
        s"public $method(${params.map(_.getName).mkString(", ")})")
    }
  }

  override def prettyName: String = name
  override def nullable: Boolean = mayReturnNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < args.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try call.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(name, target, target.getClass.getName)
    val args = children.map(_.genCode(ctx))
    val invoke = s"$ref.$method(${args.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val assign =
      if (!mayReturnNull) s"${ev.value} = $invoke;" + (if (nullable) s" ${ev.isNull} = false;" else "")
      else {
        val r = ctx.freshName("kernelOut")
        val unbox = if (CodeGenerator.isPrimitiveType(dataType)) s".${javaType}Value()" else ""
        s"""${call.getReturnType.getName} $r = $invoke;
           |if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r$unbox; }""".stripMargin
      }
    val body = children.zip(args).foldRight(assign) { case ((c, a), inner) =>
      s"${a.code}\n${ctx.nullSafeExec(c.nullable, a.isNull)(inner)}"
    }
    val init = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (nullable) ev.copy(code = code"boolean ${ev.isNull} = true;\n$init\n$body")
    else ev.copy(code = code"$init\n$body", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Kernel = copy(children = newChildren)
}

object Kernel {
  /** The kernel as a Column over `args`. */
  def column(name: String, target: AnyRef, method: String, dataType: DataType,
      mayReturnNull: Boolean = false)(args: Column*): Column =
    Bridge.column(Kernel(name, target, method, args.map(Bridge.expression), dataType,
      mayReturnNull))

  /** The array behind state that rides the plan as a `Seq`: the wrapped
    * array itself for an `ArraySeq` of the element type (no copy, and Java
    * serialization writes the shared array once), else a copy. */
  def unwrap[T: ClassTag](s: Seq[T]): Array[T] = s match {
    case a: ArraySeq[_] if a.unsafeArray.getClass.getComponentType ==
        classTag[T].runtimeClass => a.unsafeArray.asInstanceOf[Array[T]]
    case _ => s.toArray
  }
}
