package graft

import org.apache.spark.sql.SparkSession

/** Paired A/B probe for the r14 `pinSorted` pin (extended by r15 sites):
  * times the named queries with `-Dgraft.pinsort.off` — read only by
  * [[registry.QueryShared.pinSorted]], so the off arm measures that pin
  * alone — toggled INSIDE one JVM, interleaved
  * (off, on, off, on), min per arm — so both arms share every warmup,
  * codegen cache and contention window. The bench itself cannot pair arms
  * (one flag per JVM), and this sandbox's shuffle-shaped drift (VERDICT
  * r13) makes cross-JVM arm comparison unreliable. (The r14
  * `graft.spread.off` arm was deleted with spread() itself — VERDICT r14
  * #1: the toggle had become inert with no call sites.)
  *
  * Usage: runMain graft.ProbeAB <sfDir> <nameSubstr...>
  * Output: one JSON line per query {"query":..., "off_sec":..., "on_sec":...}.
  * Diagnostics only — not part of the driver contract.
  */
object ProbeAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Harness.session(
      Harness.cpus(Runtime.getRuntime.availableProcessors()))
    Harness.warmUp(spark, sfDir)
    def time(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        off: Boolean): Double = {
      if (off) sys.props("graft.pinsort.off") = "true"
      else sys.props.remove("graft.pinsort.off")
      Harness.timed(spark, s"[probeAB] $name off=$off")(fn(spark, sfDir))
        .getOrElse(-1.0)
    }
    SparkEntry.select(SparkEntry.queries, names).foreach { case (name, fn) =>
      // warmup both arms once (codegen), then 2 interleaved timed passes
      // (off, on, off, on) so a contention window hits both arms alike
      time(name, fn, off = true); time(name, fn, off = false)
      val o1 = time(name, fn, off = true); val n1 = time(name, fn, off = false)
      val o2 = time(name, fn, off = true); val n2 = time(name, fn, off = false)
      val offs = Seq(o1, o2); val ons = Seq(n1, n2)
      println(s"""{"query":"$name","off_sec":${offs.min},"on_sec":${ons.min}}""")
    }
    spark.stop()
  }
}
