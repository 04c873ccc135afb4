package graft.tools

import graft.Bench

/** Same-session A/B timer: times catalog queries (the named ones, or
  * all) for N reps each through Bench's noop-sink run and prints every
  * rep (-1 marks a failed rep), so real plan cost separates from
  * co-tenant noise bursts. Usage:
  *   runMain graft.tools.QueryTime <sfDir> <reps> [<name>...]
  * SPARK_GRAFT_SKIP_WARM=1 skips the layout warm: profiling a
  * layout-free query on a cold warehouse shouldn't pay the full
  * multi-layout build.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val selected = Bench.select(args.drop(2).toSet)
    val spark = Bench.session()
    Bench.warm(spark, sfDir,
      layouts = !sys.env.get("SPARK_GRAFT_SKIP_WARM").contains("1"))
    selected.foreach { q =>
      val times = (1 to reps).map(_ => Bench.timeOnce(spark, sfDir, q))
      println(f"[qt] ${q.name}%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
