package graft

import graft.joins.NonEquiJoins
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only skew stress for the inequality-join bucketing strategies.
  * Zipfian values (u^8: ~80% of rows in the lowest ~6% of the value
  * range) drive an `a < b` join through (a) static uniform [lo, hi]
  * buckets (lessThanJoin) and (b) sampled equi-depth data-driven buckets
  * (lessThanJoinQuantile).  An inequality join's output is inherently
  * pair-sized, so the comparison is about BALANCE: with uniform cells
  * nearly all value mass (both sides) lands in one bucket and one task
  * enumerates most of the output alone; quantile cells spread the same
  * output across all tasks — the skew mode M-Bucket-I's statistics were
  * invented for.  Both variants must return identical counts.
  *
  * `sbt "runMain graft.SkewStress <nLeft> <nRight>"`.
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val nA = if (args.nonEmpty) args(0).toLong else 2000L
    val nB = if (args.length > 1) args(1).toLong else 200000L
    val spark = DevSession.local()
    // third arg "noaqe" disables adaptive execution: isolates the planned
    // bucket balance from AQE's runtime skew-splitting
    if (args.length > 2 && args(2) == "noaqe")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    def zipf(n: Long) = (c: org.apache.spark.sql.Column) =>
      pow(pmod(c * 2654435761L, lit(n)) / lit(n.toDouble), 8) * 1000000.0
    val a = spark.range(nA)
      .select(col("id").as("ida"), zipf(nA)(col("id")).as("va")).localCheckpoint()
    val b = spark.range(nB)
      .select(col("id").as("idb"), zipf(nB)(col("id")).as("vb")).localCheckpoint()
    def time(tag: String)(mk: => org.apache.spark.sql.DataFrame): Long = {
      val t0 = System.nanoTime()
      val c = mk.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"stress":"skew","variant":"$tag","nA":$nA,"nB":$nB,"pairs":$c,"sec":$sec%.1f}""")
      c
    }
    val c1 = time("static")(
      NonEquiJoins.lessThanJoin(a, b, "va", "vb", lo = 0.0, hi = 1000000.0))
    val c2 = time("quantile")(
      NonEquiJoins.lessThanJoinQuantile(a, b, "va", "vb"))
    assert(c1 == c2, s"variant mismatch: $c1 vs $c2")
    spark.stop()
  }
}
