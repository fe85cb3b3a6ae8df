package graft.io

import org.apache.spark.sql.SparkSession

/** Harness main for the CROSS-PROCESS commit-arbitration spec: performs
  * `n` pure-metadata publishes (restores to v1) against an existing
  * versioned table — the commit shape with NO Spark job between record
  * closure and rename, i.e. the widest cross-process race window on a
  * raw local filesystem.  Two of these JVMs racing one root must lose
  * no record (see CrossProcessLockSpec): publishRecord's OS-level file
  * lock serializes them where Hadoop's local no-overwrite rename alone
  * (an exists-check + POSIX rename) silently overwrites. */
object CommitRacer {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val n = args(1).toInt
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (1 to n).foreach(_ => Versioned.restore(spark, root, 1))
    spark.stop()
    println("RACER_DONE")
  }
}
