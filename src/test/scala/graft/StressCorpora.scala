package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The synthetic vector corpora of the ANN specs — one definition, because
  * BASELINE.md compares recall/cost across the ANN paths on these shapes,
  * and that comparison is only apples-to-apples while the generators stay
  * bit-identical.
  *
  *  - [[clustered]]: nClusters planted centroids with xxhash-derived
  *    components in ±1e6; vector = centroid(vec_id % nClusters) +
  *    per-component noise in ±1e5 — tight, separable, deterministic (the
  *    IVF shape; also PQ's measured worst case, where the true top-5
  *    within a cluster is decided by noise under the quantization step).
  *  - [[isotropic]]: every component hash-uniform in ±1e6 (the LSH shape;
  *    neighbors concentrate near cosine √(2·ln n / d)).  `seed` varies the
  *    instance: 0 = the corpus of BASELINE.md's LSH and PQ rows, a nonzero
  *    seed = an independent draw (the ANN chooser rows use 13).
  *
  * Rows: (vec_id, qv: Array[Long], nrm: Double) — the quantized-base
  * schema every Similarity/GraphAnn entry point takes.
  */
object StressCorpora {

  private def withNrm(spark: SparkSession, df: DataFrame): DataFrame =
    df.withColumn("nrm",
      graft.fns.VecExpressions.vecDot(spark, col("qv"), col("qv")).cast(DoubleType))

  def clustered(spark: SparkSession, n: Long, dim: Int = 64,
      nClusters: Long = 32L): DataFrame = {
    val cluster = col("vec_id") % nClusters
    val comp = transform(sequence(lit(0), lit(dim - 1)), i =>
      (pmod(xxhash64(cluster * dim + i), lit(2000001L)) - 1000000L) +
        (pmod(xxhash64(col("vec_id") * dim + i, lit(7L)), lit(200001L)) - 100000L))
    withNrm(spark, spark.range(n).select(col("id").as("vec_id"), comp.as("qv")))
  }

  def isotropic(spark: SparkSession, n: Long, dim: Int = 64,
      seed: Long = 0L): DataFrame = {
    val comp =
      if (seed == 0L)
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("vec_id") * dim + i), lit(2000001L)) - 1000000L)
      else
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("vec_id") * dim + i, lit(seed)), lit(2000001L)) - 1000000L)
    withNrm(spark, spark.range(n).select(col("id").as("vec_id"), comp.as("qv")))
  }
}
