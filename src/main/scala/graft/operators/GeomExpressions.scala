package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.TriMesh

/** Native Catalyst expressions for the geometry kernels — the codegen v2 of
  * the UDF path (SURVEY.md §4: custom Expression beats UDF): the call stays
  * inside whole-stage codegen (no ScalaUDF boundary, no extra null-handling
  * projection), invoking the kernel object directly via a plan reference.
  * Meshes are KB-scale; they ride the serialized expression in the stage's
  * task binary, so every task deserializes its own copies and builds their
  * BVHs on first use (see [[graft.model.TriMesh]]).
  */

/** Shared evaluation helpers so interpreted + codegen paths agree. */
final class RegionFlagKernel(val meshes: Array[TriMesh], val footprint2d: Boolean)
    extends Serializable {
  def flag(x: Double, y: Double, z: Double): UTF8String = {
    var n = meshes.length - 1
    while (n >= 0) { // reference iterates forward overwriting → reverse first-match
      val hit =
        if (footprint2d) meshes(n).underFootprint(x, y)
        else meshes(n).containsPoint(x, y, z)
      if (hit) return UTF8String.fromString(meshes(n).name)
      n -= 1
    }
    UTF8String.EMPTY_UTF8
  }
}

/** `region` column: last-wins point-in-solid flag (vtk_flag_region
  * semantics, /root/reference/vtk_flag_regions.py:54-79). */
case class RegionFlagExpr(
    first: Expression, second: Expression, third: Expression,
    kernel: RegionFlagKernel)
  extends TernaryExpression {

  override def prettyName: String = "region_flag"
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def nullSafeEval(x: Any, y: Any, z: Any): Any =
    kernel.flag(x.asInstanceOf[Double], y.asInstanceOf[Double], z.asInstanceOf[Double])

  override def eval(input: InternalRow): Any = {
    val x = first.eval(input); val y = second.eval(input); val z = third.eval(input)
    if (x == null || y == null || z == null) UTF8String.EMPTY_UTF8
    else nullSafeEval(x, y, z)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("regionKernel", kernel,
      classOf[RegionFlagKernel].getName)
    val xc = first.genCode(ctx); val yc = second.genCode(ctx); val zc = third.genCode(ctx)
    ev.copy(
      code = code"""
        ${xc.code}
        ${yc.code}
        ${zc.code}
        UTF8String ${ev.value} = UTF8String.EMPTY_UTF8;
        if (!(${xc.isNull} || ${yc.isNull} || ${zc.isNull})) {
          ${ev.value} = $ref.flag(${xc.value}, ${yc.value}, ${zc.value});
        }""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RegionFlagExpr =
    copy(first = f, second = s, third = t)
}

object RegionFlagExpr {
  def column(x: Column, y: Column, z: Column, meshes: Seq[TriMesh],
      footprint2d: Boolean = false): Column =
    ExpressionUtils.column(RegionFlagExpr(
      ExpressionUtils.expression(x), ExpressionUtils.expression(y),
      ExpressionUtils.expression(z),
      new RegionFlagKernel(meshes.toArray, footprint2d)))
}

/** Depletion kernel holder (continuous + sub-block variants). */
final class MineKernel(val includes: Array[TriMesh], val excludes: Array[TriMesh],
    val dz: Double, val subBlocks: Int, val sx: Double, val sy: Double)
    extends Serializable {

  def mine(x: Double, y: Double, z: Double): Double =
    if (subBlocks <= 0) continuous(x, y, z) else subblock(x, y, z)

  private def fracBelow(m: TriMesh, x: Double, y: Double, z: Double): Double = {
    val zs = m.surfaceZ(x, y)
    if (zs.isNaN) Double.NaN
    else math.min(1.0, math.max(0.0, (zs - (z - dz / 2)) / dz))
  }

  private def continuous(x: Double, y: Double, z: Double): Double = {
    var gz = if (includes.isEmpty) 1.0 else {
      var best = Double.NaN
      var i = 0
      while (i < includes.length) {
        val f = fracBelow(includes(i), x, y, z)
        if (!f.isNaN && (best.isNaN || f > best)) best = f
        i += 1
      }
      best
    }
    var e = 0
    while (e < excludes.length) {
      val f = fracBelow(excludes(e), x, y, z)
      if (!f.isNaN) gz *= (1.0 - f)
      e += 1
    }
    gz // NaN → caller maps to null
  }

  private def subblock(x: Double, y: Double, z: Double): Double = {
    val n = subBlocks
    var kept = 0
    var a = 0
    while (a < n) {
      var b = 0
      while (b < n) {
        val px = x - sx / 2 + (a + 0.5) * sx / n
        val py = y - sy / 2 + (b + 0.5) * sy / n
        val incZ = includes.map(_.surfaceZ(px, py))
        val excZ = excludes.map(_.surfaceZ(px, py))
        var c = 0
        while (c < n) {
          val pz = z - dz / 2 + (c + 0.5) * dz / n
          val below = includes.isEmpty || incZ.exists(s => !s.isNaN && pz < s)
          val mined = excZ.exists(s => !s.isNaN && pz < s)
          if (below && !mined) kept += 1
          c += 1
        }
        b += 1
      }
      a += 1
    }
    kept.toDouble / (n.toLong * n * n)
  }
}

/** `mine` column ∈ [0,1]: depletion fraction (GridMine semantics,
  * /root/reference/vtk_mine.py:41-94); NaN (no include surface coverage)
  * becomes null. */
case class MineExpr(
    first: Expression, second: Expression, third: Expression,
    kernel: MineKernel)
  extends TernaryExpression {

  override def prettyName: String = "mine_fraction"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(x: Any, y: Any, z: Any): Any = {
    val v = kernel.mine(x.asInstanceOf[Double], y.asInstanceOf[Double],
      z.asInstanceOf[Double])
    if (v.isNaN) null else java.lang.Double.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mineKernel", kernel, classOf[MineKernel].getName)
    val m = ctx.freshName("graftMine")
    nullSafeCodeGen(ctx, ev, (x, y, z) =>
      s"""
         double $m = $ref.mine($x, $y, $z);
         if (Double.isNaN($m)) { ${ev.isNull} = true; }
         else { ${ev.value} = $m; }
       """)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): MineExpr =
    copy(first = f, second = s, third = t)
}

object MineExpr {
  def column(x: Column, y: Column, z: Column, includes: Seq[TriMesh],
      excludes: Seq[TriMesh], dz: Double, subBlocks: Int, sx: Double,
      sy: Double): Column =
    ExpressionUtils.column(MineExpr(
      ExpressionUtils.expression(x), ExpressionUtils.expression(y),
      ExpressionUtils.expression(z),
      new MineKernel(includes.toArray, excludes.toArray, dz, subBlocks, sx, sy)))
}

/** `elevation` column: mean z of the vertical-ray surface hits, null on
  * miss (`get_elevation`, /root/reference/pd_vtk.py:771-796). The codegen
  * sibling of [[MineExpr]] — the ScalaUDF version boxed an Option per row
  * and broke the fused scan at an expression boundary. */
case class ElevationExpr(left: Expression, right: Expression, mesh: TriMesh)
  extends BinaryExpression {

  override def prettyName: String = "surface_elevation"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(x: Any, y: Any): Any = {
    val z = mesh.surfaceZ(x.asInstanceOf[Double], y.asInstanceOf[Double])
    if (z.isNaN) null else java.lang.Double.valueOf(z)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("elevMesh", mesh, classOf[TriMesh].getName)
    val z = ctx.freshName("graftElev")
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""
         double $z = $ref.surfaceZ($x, $y);
         if (Double.isNaN($z)) { ${ev.isNull} = true; }
         else { ${ev.value} = $z; }
       """)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ElevationExpr = copy(left = l, right = r)
}

object ElevationExpr {
  def column(x: Column, y: Column, mesh: TriMesh): Column =
    ExpressionUtils.column(ElevationExpr(
      ExpressionUtils.expression(x), ExpressionUtils.expression(y), mesh))
}
