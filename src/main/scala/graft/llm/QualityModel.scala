package graft.llm

import graft.GraftQuery
import graft.io.Tables._
import graft.llm.TextOps._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Trained quality classifier — the model-based filter stage of modern
  * training-data pipelines (the fastText-classifier shape: CCNet, DCLM,
  * FineWeb-Edu all distill an expensive quality signal into a cheap
  * feature model that scores the full corpus).  Here the expensive
  * signal is the engine's own trigram-LM perplexity band (curate3's
  * acceptance rule) and the cheap model is logistic regression over four
  * integer-derived document features (token count, mean word length,
  * stopword ratio, repetition) — "distill the LM filter into a
  * feature scorer".
  *
  * The ENTIRE TRAINING RUN is inside the judged query and hash-checked:
  * full-batch gradient descent, [[Steps]] steps at a fixed learning
  * rate, with the same cross-engine determinism discipline as the
  * deleted-interpolation EM tuner ([[TextStats.tunedLambdas]]) — each
  * per-doc gradient contribution is rounded to 1e-6 and summed as exact
  * longs (order-independent; the engines' last-ulp `exp` differences
  * cannot reach the hash compare), and the weight vector is re-quantized
  * to 1e-6 after every step, so Spark and the unrolled DuckDB CTE chain
  * walk bit-identical weight trajectories.  The final weights are pinned
  * as output columns: the oracle verifies the OPTIMIZER, not just the
  * scoring pass.
  *
  * 100 TB posture: one feature/label pass over the corpus (the label
  * joins the STAGED score table and band — nothing LM-side is
  * recomputed), then [[Steps]] map-side-combined aggregates each
  * returning 5 longs to the driver — the distributed full-batch GD
  * shape; scoring is one map-only pass.  A deployment would train on a
  * bounded hash-sample exactly like the PQ/IVF trainers; at judged
  * scale the full corpus IS below any reasonable cap. */
object QualityModel {

  private val Steps = 10
  private val Lr = 1.0

  /** Labeled feature frame: (doc_id, x1..x4, y) for docs with >= 3
    * tokens.  Features are exact decimal scalings of integer stats;
    * label = curate3's perplexity-band acceptance (from the staged score
    * table + band). */
  private[graft] def dataset(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    def idiv(a: Column, b: Column): Column =
      floor(a.cast(DoubleType) / b).cast(LongType)
    // the four integer stats come from the STAGED shared curation
    // artifact (Curate.stagedDocStats) — one corpus pass, shared with
    // every curation manifest
    val f = Curate.stagedDocStats(spark, sfDir)
    f.join(Curate.stagedNl3(spark, sfDir), "doc_id")
      .crossJoin(broadcast(Curate.stagedBand(spark, sfDir)))
      .select(col("doc_id"),
        col("n_tok").cast(DoubleType) / lit(1000.0) as "x1",
        idiv(col("sum_len") * 10000, col("n_tok")).cast(DoubleType) / lit(10000.0) as "x2",
        idiv(col("n_stop") * 10000, col("n_tok")).cast(DoubleType) / lit(10000.0) as "x3",
        col("rep_milli").cast(DoubleType) / lit(1000.0) as "x4",
        when(col("nll3_milli") >= col("q05") && col("nll3_milli") <= col("q95"),
          lit(1.0)).otherwise(lit(0.0)).as("y"))
  }

  /** w·x at the current (quantized) weights — fixed left-assoc shape,
    * mirrored verbatim in the oracle SQL. */
  private def zExpr(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3") + lit(w(4)) * col("x4")

  private def pExpr(w: Array[Double]): Column =
    lit(1.0) / (lit(1.0) + exp(-zExpr(w)))

  /** One full-batch GD step: quantized gradient sums → re-quantized
    * weights.  Exposed for the spec's loss-decrease check. */
  private[graft] def gdStep(ds: DataFrame, w: Array[Double]): Array[Double] = {
    val resid = pExpr(w) - col("y")
    def s(j: Int) = {
      val contrib = if (j == 0) resid * lit(1000000)
      else resid * col(s"x$j") * lit(1000000)
      sum(round(contrib).cast(LongType)).as(s"s$j")
    }
    val r = ds.agg(count(lit(1)).as("n"), s(0), s(1), s(2), s(3), s(4)).collect()(0)
    val n = r.getLong(0)
    require(n > 0, "empty training set")
    Array.tabulate(5) { j =>
      val sj = r.getLong(j + 1)
      roundHalfAway((w(j) - Lr * sj / (n * 1000000.0)) * 1000000) / 1000000.0
    }
  }

  /** Half-away-from-zero rounding, matching Spark's `round` column and
    * DuckDB's `round()` on negatives (Scala `math.round` rounds half
    * toward +infinity, which would diverge on a negative update landing
    * exactly on a 1e-6 half-boundary). */
  private def roundHalfAway(y: Double): Double =
    if (y < 0) -math.round(-y).toDouble else math.round(y).toDouble

  private[graft] def trainedWeights(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Array[Double] = {
    val fp = graft.io.Staged.fingerprint(spark, s"$sfDir/documents.parquet")
    graft.io.Staged(spark, s"qmodelw|$sfDir|$fp") {
      val ds = dataset(spark, sfDir).localCheckpoint()
      val w = (1 to Steps).foldLeft(Array.fill(5)(0.0))((w, _) => gdStep(ds, w))
      spark.range(1).select(
        lit(w(0)).as("w0"), lit(w(1)).as("w1"), lit(w(2)).as("w2"),
        lit(w(3)).as("w3"), lit(w(4)).as("w4"))
    }.collect()(0) match {
      case row => Array.tabulate(5)(row.getDouble)
    }
  }

  /** The DuckDB mirror: feature/label CTEs (the trigram score + band
    * derived inline, value-identical to the staged artifacts) and
    * [[Steps]] unrolled GD rounds with the same quantized arithmetic.
    * The shared CTEs are marked MATERIALIZED: DuckDB inlines CTEs per
    * reference, and the 10 GD rounds reference `ds` (→ the full trigram
    * chain) ten times each, which un-materialized explodes into >20,000
    * parquet opens and an fd-exhaustion crash in the driver's gate.
    * The WITH-chain prefix (features, labels, trained weights) is shared
    * by the evaluation queries' oracles ([[qualityAuc]],
    * [[qualityCalibration]]) so model and evaluators verify against the
    * SAME training run. */
  private def oracleSqlText: String = {
    val stopSet = TextStats.stopWords.map(w => s"'$w'").mkString(", ")
    def zSql = "w0 + w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4"
    def pSql = s"1.0 / (1.0 + exp(-($zSql)))"
    val steps = (1 to Steps).map { r =>
      val prev = if (r == 1) "wt0" else s"wt${r - 1}"
      val sums = (0 to 4).map { j =>
        val x = if (j == 0) "" else s" * x$j"
        s"CAST(sum(CAST(round(($pSql - y)$x * 1000000, 0) AS BIGINT)) AS BIGINT) AS s$j"
      }.mkString(",\n    ")
      val upd = (0 to 4).map { j =>
        s"CAST(round((w$j - 1.0 * s$j / (n * 1000000.0)) * 1000000, 0) AS BIGINT) / 1000000.0 AS w$j"
      }.mkString(",\n    ")
      s"""g$r AS (SELECT count(*) AS n,
         |    $sums
         |  FROM ds CROSS JOIN $prev),
         |wt$r AS (SELECT
         |    $upd
         |  FROM g$r CROSS JOIN $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (SELECT doc_id, $toksSql AS t, text FROM documents),
       |toks AS MATERIALIZED (SELECT doc_id, t FROM x),
       |tg AS MATERIALIZED (SELECT doc_id,
       |        unnest(list_transform(range(1, len(t) - 1),
       |                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS p3
       |      FROM toks WHERE len(t) >= 3),
       |bgx AS (SELECT unnest(list_transform(range(1, len(t)),
       |                                     i -> t[i] || ' ' || t[i+1])) AS b
       |        FROM toks WHERE len(t) >= 2),
       |c3 AS (SELECT p3, count(*) AS c3 FROM tg GROUP BY p3),
       |h2 AS (SELECT split_part(p3, ' ', 1) || ' ' || split_part(p3, ' ', 2) AS k2,
       |              count(*) AS h2 FROM tg GROUP BY 1),
       |c2x AS (SELECT b, count(*) AS c2 FROM bgx GROUP BY b),
       |h1 AS (SELECT split_part(b, ' ', 1) AS w, count(*) AS h1 FROM bgx GROUP BY 1),
       |c1x AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
       |nvx AS (SELECT count(*) AS n, count(DISTINCT w) AS v
       |        FROM (SELECT unnest(t) AS w FROM toks)),
       |sc3 AS MATERIALIZED (SELECT tg.doc_id, count(*) AS n_tg,
       |  CAST(CAST(sum(CAST(round(ln(1.0 / (0.7 * c3.c3 / h2.h2 + 0.2 * c2x.c2 / h1.h1
       |                                     + 0.1 * (c1x.c1 + 1) / (nvx.n + nvx.v)))
       |                          * 1000000, 0) AS BIGINT)) AS BIGINT)
       |       / 1000000.0 AS DOUBLE) AS nll3
       |  FROM tg
       |  JOIN c3 USING (p3)
       |  JOIN h2 ON split_part(tg.p3, ' ', 1) || ' ' || split_part(tg.p3, ' ', 2) = h2.k2
       |  JOIN c2x ON split_part(tg.p3, ' ', 2) || ' ' || split_part(tg.p3, ' ', 3) = c2x.b
       |  JOIN h1 ON split_part(tg.p3, ' ', 2) = h1.w
       |  JOIN c1x ON split_part(tg.p3, ' ', 3) = c1x.w
       |  CROSS JOIN nvx
       |  GROUP BY tg.doc_id),
       |nl3 AS MATERIALIZED (SELECT doc_id, CAST(round(nll3 * 1000 / n_tg, 0) AS BIGINT) AS nll3_milli
       |        FROM sc3),
       |bnd AS MATERIALIZED (SELECT quantile_cont(nll3_milli, 0.05) AS q05,
       |               quantile_cont(nll3_milli, 0.95) AS q95 FROM nl3),
       |f AS MATERIALIZED (SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS n_tok,
       |  CAST(list_sum(list_transform(t, w -> length(w))) AS BIGINT) AS sum_len,
       |  CAST(len(list_filter(t, w -> w IN ($stopSet))) AS BIGINT) AS n_stop,
       |  CAST(round(CAST(1000 AS DOUBLE)
       |             - CAST(1000 * len($shinglesSql) AS BIGINT)
       |               / CAST(len(t) - 2 AS DOUBLE), 0) AS BIGINT) AS rep_milli
       |  FROM x WHERE len(t) >= 3),
       |ds AS MATERIALIZED (SELECT f.doc_id,
       |  CAST(f.n_tok AS DOUBLE) / 1000.0 AS x1,
       |  CAST((f.sum_len * 10000) // f.n_tok AS DOUBLE) / 10000.0 AS x2,
       |  CAST((f.n_stop * 10000) // f.n_tok AS DOUBLE) / 10000.0 AS x3,
       |  CAST(f.rep_milli AS DOUBLE) / 1000.0 AS x4,
       |  CASE WHEN nl3.nll3_milli BETWEEN bnd.q05 AND bnd.q95
       |       THEN 1.0 ELSE 0.0 END AS y
       |  FROM f JOIN nl3 USING (doc_id) CROSS JOIN bnd),
       |wt0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
       |               CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3,
       |               CAST(0.0 AS DOUBLE) AS w4),
       |$steps
       |SELECT doc_id, CAST(y AS BIGINT) AS y,
       |  CAST(round($pSql * 1000, 0) AS BIGINT) AS score_milli,
       |  CAST(round($pSql * 1000, 0) AS BIGINT) >= 500 AS pred,
       |  w0, w1, w2, w3, w4
       |FROM ds CROSS JOIN wt$Steps""".stripMargin
  }

  /** The oracle WITH-chain prefix through the trained weights plus a
    * `scq` CTE of (score_milli, y) — the shared front end of the
    * evaluation oracles. */
  private def oracleScoredCtes: String = {
    val full = oracleSqlText
    val head = full.substring(0, full.lastIndexOf("SELECT doc_id,"))
      .trim.stripPrefix("WITH ")
    def zSql = "w0 + w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4"
    def pSql = s"1.0 / (1.0 + exp(-($zSql)))"
    s"""$head,
       |scq AS MATERIALIZED (SELECT doc_id,
       |         CAST(round($pSql * 1000, 0) AS BIGINT) AS s,
       |         CAST(y AS BIGINT) AS y FROM ds CROSS JOIN wt$Steps)""".stripMargin
  }

  /** The shared oracle chain, exposed for the model-filtered curation's
    * oracle ([[Curate.curateModel]]) — `scq` carries (doc_id, s, y) at
    * the trained weights. */
  private[graft] def oracleScoredCtesShared: String = oracleScoredCtes

  /** Scored frame (doc_id, score_milli `s`, label `y`) at the trained
    * weights — the Spark front end the evaluators and the model-filtered
    * curation share, staged per corpus fingerprint (each reads the same
    * scoring pass instead of re-deriving the feature/label joins). */
  private[graft] def scored(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    val fp = graft.io.Staged.fingerprint(spark, s"$sfDir/documents.parquet")
    graft.io.Staged(spark, s"qmodelsc2|$sfDir|$fp") {
      val w = trainedWeights(spark, sfDir)
      dataset(spark, sfDir).select(
        col("doc_id"),
        round(pExpr(w) * lit(1000)).cast(LongType).as("s"),
        col("y").cast(LongType).as("y"))
    }
  }

  /** Exact ROC-AUC of the trained classifier — the model-evaluation rank
    * statistic (Mann-Whitney U with the standard half-credit for ties),
    * computed WITHOUT a global sort: `score_milli` lives in a bounded
    * domain (0..1000), so the corpus reduces to one map-side-combined
    * groupBy over ≤ 1001 score cells, and U folds over a ≤ 1001×1001
    * broadcast inequality self-join — corpus-size-independent past the
    * first aggregate, the same bounded-domain trick as the exact
    * quantile search.  All arithmetic stays exact-integer:
    * auc_micro = ⌊(10⁶·U₂ + P·N) / (2·P·N)⌋ where U₂ = 2·Σ_{s>t} P_s·N_t
    * + Σ_s P_s·N_s — round-half-up without ever touching a float, so
    * Spark and DuckDB agree bit-for-bit by construction.  The U fold and
    * the final division run in DECIMAL(38,0) (DuckDB: the native HUGEINT
    * of sum(BIGINT)) because 10⁶·U₂ overflows a long once the corpus
    * passes ~10⁹ pair-weight — caught at 10⁸ rows by the former AucStress
    * driver (BASELINE.md, "the AUC scale law"; see git history), where
    * ANSI mode fails loudly instead of wrapping. */
  val qualityAuc: GraftQuery = GraftQuery("q_llm_quality_auc",
    s"""WITH ${oracleScoredCtes},
       |g AS MATERIALIZED (SELECT s, CAST(sum(y) AS BIGINT) AS np,
       |       CAST(count(*) - sum(y) AS BIGINT) AS nn FROM scq GROUP BY s),
       |u AS (SELECT sum(a.np * b.nn *
       |               (CASE WHEN b.s < a.s THEN 2 ELSE 1 END)) AS u2
       |      FROM g a JOIN g b ON b.s <= a.s),
       |t AS (SELECT CAST(sum(np) AS BIGINT) AS p, CAST(sum(nn) AS BIGINT) AS n
       |      FROM g)
       |SELECT p AS n_pos, n AS n_neg,
       |  CAST((u2 * 1000000 + p * n) // (2 * p * n) AS BIGINT) AS auc_micro
       |FROM u CROSS JOIN t""".stripMargin) { (spark, sfDir) =>
    aucOf(scored(spark, sfDir))
  }

  /** AUC of an arbitrary (s, y) scored frame — the evaluator body, exposed
    * for the spec's planted-extreme checks (perfect / inverted / all-tied
    * separations have closed-form AUC). */
  private[graft] def aucOf(sc: DataFrame): DataFrame = {
    val g = sc.groupBy("s")
      .agg(sum("y").as("np"), (count(lit(1)) - sum("y")).as("nn"))
      .localCheckpoint()
    val a = g.select(col("s").as("a_s"), col("np").as("a_np"))
    val b = g.select(col("s").as("b_s"), col("nn").as("b_nn"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val u = a.join(broadcast(b), col("b_s") <= col("a_s"))
      .agg(sum(col("a_np").cast(dec) * col("b_nn") *
        when(col("b_s") < col("a_s"), 2L).otherwise(1L)).as("u2"))
    val t = g.agg(sum("np").cast(LongType).as("p"), sum("nn").cast(LongType).as("n"))
    u.crossJoin(broadcast(t)).select(
      col("p").as("n_pos"), col("n").as("n_neg"),
      expr("""CAST((CAST(u2 AS DECIMAL(38,0)) * 1000000
             |      + CAST(p AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))
             |     div (2 * CAST(p AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))
             |     AS BIGINT)""".stripMargin).as("auc_micro"))
  }

  /** Calibration table of the trained classifier: score deciles
    * (`score_milli // 100`) vs empirical label rate, integer-exact —
    * (bucket, n, n_pos, sum_score_milli) is everything a reliability
    * diagram needs and nothing a float can smudge.  One map-side-combined
    * aggregate over ≤ 11 buckets. */
  val qualityCalibration: GraftQuery = GraftQuery("q_llm_quality_calibration",
    s"""WITH ${oracleScoredCtes}
       |SELECT s // 100 AS bucket, count(*) AS n,
       |  CAST(sum(y) AS BIGINT) AS n_pos,
       |  CAST(sum(s) AS BIGINT) AS sum_score_milli
       |FROM scq GROUP BY 1""".stripMargin) { (spark, sfDir) =>
    scored(spark, sfDir)
      .groupBy(expr("s div 100").as("bucket"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum("s").as("sum_score_milli"))
  }

  /** Judged query: train (the full quantized-GD chain) + score; weights
    * pinned as columns so the oracle hash verifies the optimizer. */
  val qualityModel: GraftQuery =
    GraftQuery("q_llm_quality_model", oracleSqlText) { (spark, sfDir) =>
      val w = trainedWeights(spark, sfDir)
      val scoreMilli = round(pExpr(w) * lit(1000)).cast(LongType)
      dataset(spark, sfDir).select(
        col("doc_id"), col("y").cast(LongType).as("y"),
        scoreMilli.as("score_milli"),
        (scoreMilli >= 500).as("pred"),
        lit(w(0)).as("w0"), lit(w(1)).as("w1"), lit(w(2)).as("w2"),
        lit(w(3)).as("w3"), lit(w(4)).as("w4"))
    }

  val all: Seq[GraftQuery] = Seq(qualityModel, qualityAuc, qualityCalibration)
}
