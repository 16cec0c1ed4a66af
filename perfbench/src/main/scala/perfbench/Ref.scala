package perfbench

import org.apache.spark.sql.Row

import graft.model.TriMesh

/** Independent reference implementations the correctness checks compare
  * the engine against. Nothing here calls the engine's breakdown compiler
  * or geometry kernels: aggregates are plain Spark SQL written from the
  * documented op semantics, containment is a face half-space test, and
  * surface elevation is a direct lookup of the triangle under a point. */
object Ref {

  /** One aggregate row of a breakdown spec. */
  final case class Agg(out: String, op: String, v: String, weights: Seq[String] = Nil)

  /** A breakdown spec kept as data, so the engine's spec string and the
    * reference SQL are both derived from it. */
  final case class Spec(keys: Seq[String], aggs: Seq[Agg]) {
    def graftSpec: String =
      (keys ++ aggs.map(a => (Seq(s"${a.v}=${a.out}", a.op) ++ a.weights).mkString(",")))
        .mkString(";")

    /** The reserves pipeline's documented rewrites: `mine` weights every
      * mean and sum row, and `region` leads the group keys. */
    def reserves: Spec = Spec("region" +: keys, aggs.map { a =>
      if ((a.op == "mean" || a.op == "sum") && !a.weights.contains("mine"))
        a.copy(weights = a.weights :+ "mine")
      else a
    })
  }

  private def q(name: String) = s"`$name`"

  private def quantileOf(op: String): Option[Double] =
    Map("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75).get(op)

  /** Plain Spark SQL computing `spec` over the relation `from` (a table
    * name or a parenthesized subquery), for the ops the workloads use:
    * weighted sum and mean, max, list, major, and exact or weighted
    * quartiles. Keys are assumed non-null. */
  def sql(from: String, spec: Spec): String = {
    val keys = spec.keys.map(q)
    val keyList = keys.mkString(", ")
    def x(a: Agg) = s"CAST(${q(a.v)} AS DOUBLE)"
    def w(a: Agg) = a.weights.map(c => s"CAST(${q(c)} AS DOUBLE)").mkString(" * ")
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    val cols = spec.aggs.zipWithIndex.map { case (a, i) =>
      (a.op, a.weights.nonEmpty, quantileOf(a.op)) match {
        case ("sum", true, _) => Left(s"coalesce(sum(${x(a)} * ${w(a)}), 0.0)")
        case ("mean", true, _) =>
          val den = s"sum(CASE WHEN ${x(a)} IS NOT NULL THEN coalesce(${w(a)}, 0.0) ELSE 0.0 END)"
          val num = s"sum(CASE WHEN ${x(a)} IS NOT NULL THEN ${x(a)} * coalesce(${w(a)}, 0.0) ELSE 0.0 END)"
          Left(s"CASE WHEN $den <> 0 THEN $num / $den END")
        case ("max", _, _) => Left(s"max(${x(a)})")
        case ("list", _, _) =>
          Left(s"concat_ws(',', sort_array(collect_set(CAST(${q(a.v)} AS STRING))))")
        case (_, false, Some(p)) => Left(s"percentile(${x(a)}, $p)")
        case (_, true, Some(p)) =>
          // reference weighted-quantile estimator: sort by value, ecdf =
          // running weight, position p·(Σw − 1), lo/hi by right-searchsorted
          // and linear interpolation between them
          val part = if (keys.isEmpty) "" else s"PARTITION BY $keyList"
          val pos = s"($p * (i.S - 1))"
          ctes += s"""v$i AS (SELECT ${keys.map(_ + ", ").mkString}${x(a)} AS a, ${w(a)} AS w
                     |  FROM $from WHERE ${x(a)} IS NOT NULL AND ${w(a)} IS NOT NULL
                     |  AND NOT isnan(${w(a)}) AND NOT isnan(${x(a)}))""".stripMargin
          ctes += s"""s$i AS (SELECT ${keys.map(_ + ", ").mkString}a,
                     |  sum(w) OVER ($part ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ecdf,
                     |  row_number() OVER ($part ORDER BY a) AS rn,
                     |  sum(w) OVER ($part) AS S, count(*) OVER ($part) AS n FROM v$i)""".stripMargin
          ctes += s"""i$i AS (SELECT ${keys.map(_ + ", ").mkString}first(S) AS S,
                     |  least(sum(CASE WHEN ecdf <= $p * (S - 1) THEN 1 ELSE 0 END), first(n) - 1) AS lo,
                     |  least(sum(CASE WHEN ecdf <= $p * (S - 1) + 1 THEN 1 ELSE 0 END), first(n) - 1) AS hi
                     |  FROM s$i ${if (keys.isEmpty) "" else s"GROUP BY $keyList"})""".stripMargin
          val on = keys.map(k => s" AND l.$k = i.$k").mkString
          val onH = keys.map(k => s" AND h.$k = i.$k").mkString
          ctes += s"""r$i AS (SELECT ${keys.map(k => s"i.$k, ").mkString}
                     |  l.a * (1 - ($pos - floor($pos))) + h.a * ($pos - floor($pos)) AS x
                     |  FROM i$i i JOIN s$i l ON l.rn = i.lo + 1$on
                     |  JOIN s$i h ON h.rn = i.hi + 1$onH)""".stripMargin
          Right(i)
        case ("major", _, _) =>
          // mode over non-null values, ties toward the smallest value
          val part = if (keys.isEmpty) "" else s"PARTITION BY $keyList"
          ctes += s"""c$i AS (SELECT ${keys.map(_ + ", ").mkString}${q(a.v)} AS v, count(*) AS c
                     |  FROM $from WHERE ${q(a.v)} IS NOT NULL
                     |  GROUP BY ${(keys :+ q(a.v)).mkString(", ")})""".stripMargin
          ctes += s"""r$i AS (SELECT ${keys.map(_ + ", ").mkString}v AS x FROM (
                     |  SELECT ${keys.map(_ + ", ").mkString}v,
                     |    row_number() OVER ($part ORDER BY c DESC, v ASC) AS rn FROM c$i)
                     |  WHERE rn = 1)""".stripMargin
          Right(i)
        case (op, _, _) => throw new IllegalArgumentException(s"no reference for op $op")
      }
    }
    val plain = cols.zip(spec.aggs).collect { case (Left(e), a) => s"$e AS ${q(a.out)}" }
    val baseSel = (keys ++ plain :+ "count(*) AS _n").mkString(", ")
    ctes.prepend(s"base AS (SELECT $baseSel FROM $from" +
      (if (keys.isEmpty) ")" else s" GROUP BY $keyList)"))
    val joins = cols.collect { case Right(i) =>
      if (keys.isEmpty) s" LEFT JOIN r$i ON true"
      else s" LEFT JOIN r$i ON " + keys.map(k => s"base.$k = r$i.$k").mkString(" AND ")
    }.mkString
    val outCols = keys.map(k => s"base.$k") ++ cols.zip(spec.aggs).map {
      case (Left(_), a) => s"base.${q(a.out)}"
      case (Right(i), a) => s"r$i.x AS ${q(a.out)}"
    }
    s"WITH ${ctes.mkString(",\n")}\nSELECT ${outCols.mkString(", ")} FROM base$joins" +
      (if (keys.isEmpty) "" else s" ORDER BY ${keys.map(k => s"base.$k").mkString(", ")}")
  }

  /** First difference between engine rows and reference rows of one spec,
    * matched by their `nKeys` leading key columns; None when they agree.
    * Numbers agree within a relative 1e-8, everything else exactly. */
  def diff(got: Array[Row], want: Array[Row], nKeys: Int): Option[String] = {
    def key(r: Row) = (0 until nKeys).map(r.get)
    if (got.length != want.length)
      return Some(s"${got.length} rows, reference has ${want.length}")
    val byKey = want.map(r => key(r) -> r).toMap
    got.iterator.map { g =>
      byKey.get(key(g)) match {
        case None => Some(s"group ${key(g)} not in reference")
        case Some(w) if g.length != w.length => Some(s"${g.length} columns vs ${w.length}")
        case Some(w) => (nKeys until g.length).iterator.flatMap { c =>
          if (same(g.get(c), w.get(c))) None
          else Some(s"group ${key(g)} column $c: ${g.get(c)} vs ${w.get(c)}")
        }.nextOption()
      }
    }.collectFirst { case Some(e) => e }
  }

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Number, y: Number) =>
      val (u, v) = (x.doubleValue, y.doubleValue)
      u == v || math.abs(u - v) <= 1e-8 * math.max(1.0, math.max(math.abs(u), math.abs(v)))
    case _ => a.toString == b.toString
  }

  /** Convex solid as outward face planes (unit normal n, offset d): a
    * point is inside iff n·p ≤ d for every face. */
  final class HalfSpaces(m: TriMesh) extends Serializable {
    private val b = m.bounds.clone()
    private val planes: Array[Double] = {
      val (cx, cy, cz) = {
        val v = m.verts; val k = m.nVerts
        ((0 until k).map(i => v(3 * i)).sum / k, (0 until k).map(i => v(3 * i + 1)).sum / k,
          (0 until k).map(i => v(3 * i + 2)).sum / k)
      }
      (0 until m.nTris).flatMap { t =>
        val Seq(a, bb, c) = (0 until 3).map(e => 3 * m.tris(3 * t + e))
        val v = m.verts
        val (ux, uy, uz) = (v(bb) - v(a), v(bb + 1) - v(a + 1), v(bb + 2) - v(a + 2))
        val (wx, wy, wz) = (v(c) - v(a), v(c + 1) - v(a + 1), v(c + 2) - v(a + 2))
        var (nx, ny, nz) = (uy * wz - uz * wy, uz * wx - ux * wz, ux * wy - uy * wx)
        val len = math.sqrt(nx * nx + ny * ny + nz * nz)
        if (len < 1e-12) Nil
        else {
          nx /= len; ny /= len; nz /= len
          val d = nx * v(a) + ny * v(a + 1) + nz * v(a + 2)
          if (nx * cx + ny * cy + nz * cz > d) Seq(-nx, -ny, -nz, -d)
          else Seq(nx, ny, nz, d)
        }
      }.toArray
    }
    def contains(x: Double, y: Double, z: Double): Boolean = {
      if (x < b(0) || x > b(1) || y < b(2) || y > b(3) || z < b(4) || z > b(5)) return false
      var p = 0
      while (p < planes.length) {
        if (planes(p) * x + planes(p + 1) * y + planes(p + 2) * z > planes(p + 3)) return false
        p += 4
      }
      true
    }
  }

  /** Elevation of a heightfield at (x, y) from the one triangle under it. */
  def elevation(h: Gen.Heightfield, x: Double, y: Double): Double = {
    val fx = (x - h.x0) / h.step; val fy = (y - h.y0) / h.step
    val i = math.min(h.n - 2, math.max(0, math.floor(fx).toInt))
    val j = math.min(h.n - 2, math.max(0, math.floor(fy).toInt))
    val (u, v) = (fx - i, fy - j)
    if (u + v <= 1.0)
      h.zAt(i, j) + u * (h.zAt(i + 1, j) - h.zAt(i, j)) + v * (h.zAt(i, j + 1) - h.zAt(i, j))
    else
      h.zAt(i + 1, j + 1) + (1 - u) * (h.zAt(i, j + 1) - h.zAt(i + 1, j + 1)) +
        (1 - v) * (h.zAt(i + 1, j) - h.zAt(i + 1, j + 1))
  }

  /** Share of a cell of height `dz` centred at `z` that lies below the
    * surface, clamped to [0, 1]. */
  def fracBelow(h: Gen.Heightfield, x: Double, y: Double, z: Double, dz: Double): Double =
    math.min(1.0, math.max(0.0, (elevation(h, x, y) - (z - dz / 2)) / dz))
}
