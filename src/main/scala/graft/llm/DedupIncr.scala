package graft.llm

import graft.GraftQuery
import graft.fns.Exact._
import graft.io.Tables._
import graft.llm.TextOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup family round-out (B10): the two PRODUCTION shapes the self-join
  * variants don't cover.
  *
  *  - Sorted-neighborhood dedup (the record-linkage classic): sort the
  *    corpus by a similarity-clustering key and compare each doc only to
  *    its W successors — candidate count is n·W by construction, no
  *    inverted-index self-join at all.  The sort key here is each doc's
  *    minimum capped-shingle hash (a 1-permutation MinHash: near-dups
  *    share shingles, so they overwhelmingly share the minimum and sort
  *    adjacent).
  *  - Incremental dedup: a NEW BATCH checked against the EXISTING corpus
  *    (batch ⋈ corpus postings only — never corpus ⋈ corpus).  This is
  *    the daily-ingest shape: the corpus index is the durable artifact
  *    (`graft.io.Staged` staging-dir mode), and per-day cost is linear in
  *    the batch.
  *
  * Both verify candidates with exact Jaccard over the shared df-capped
  * shingle index and hash-match a DuckDB oracle.
  */
object DedupIncr {

  private val TAU = 0.3
  private val WINDOW = 10

  /** Shared DuckDB prefix: tokens -> hashed shingles -> df-capped index. */
  private val shCtesSql =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |sh0 AS (SELECT doc_id, ${md5LongSql("unnest")} AS s FROM (
       |         SELECT doc_id, unnest($shinglesSql) AS unnest
       |         FROM toks WHERE len(t) >= 3)),
       |sh AS (${dfCappedSql(DF_CAP)})""".stripMargin

  /** Sorted-neighborhood near-dedup: rank by (min shingle hash, doc_id)
    * via the distributed [[graft.fns.TotalOrder.globalRank]] (no
    * single-partition window anywhere — see that object's scaladoc),
    * pair each doc with its W nearest successors via the repo's own
    * bucketed band join ON THE RANK (|rank diff| <= W is a band predicate
    * — no self-join on content at all), then verify candidates with exact
    * Jaccard >= tau.  100 TB shape: one distributed sort, one constant-
    * replication band join over n·W candidate pairs, one postings join to
    * verify — linear in the corpus for fixed W.  Recall is heuristic (the
    * price of SNM): pairs sharing no minimum stay unseen; the oracle
    * applies the identical window so results still hash-match.  Measured
    * (SnmRecallSpec, 150 planted pairs at 1-3 token edits): 0.86, vs 0.90
    * for MinHash-LSH on the same corpus — the limiter is the single sort
    * key, not W; BASELINE.md records the full table and the R-pass
    * multi-seed recipe for recall-critical deployments. */
  val dedupSorted: GraftQuery = GraftQuery("q_llm_dedup_sorted",
    s"""WITH $shCtesSql,
       |mins AS (SELECT doc_id, min(s) AS mk, count(*) AS n FROM sh GROUP BY doc_id),
       |ord AS (SELECT doc_id, n, row_number() OVER (ORDER BY mk, doc_id) AS rn FROM mins),
       |cand AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.n AS na, b.n AS nb
       |         FROM ord a JOIN ord b ON b.rn > a.rn AND b.rn <= a.rn + $WINDOW),
       |cm AS (SELECT c.ia, c.ib, c.na, c.nb, count(*) AS common
       |       FROM cand c
       |       JOIN sh x ON x.doc_id = c.ia
       |       JOIN sh y ON y.doc_id = c.ib AND y.s = x.s
       |       GROUP BY 1, 2, 3, 4)
       |SELECT ia, ib, common, na, nb,
       |       common / (na + nb - common) AS jacc
       |FROM cm WHERE common / (na + nb - common) >= $TAU""".stripMargin) { (spark, sfDir) =>
    val sh = cappedShingles(spark, sfDir)
    val mins = sh.groupBy("doc_id").agg(min(col("s")).as("mk"), count(lit(1)).as("n"))
    val ranked = graft.fns.TotalOrder.globalRank(mins, graft.fns.TotalOrder.defaultParts(spark), col("mk"), col("doc_id"))
    val cand = graft.joins.NonEquiJoins.bandJoin(
      ranked.select(col("doc_id").as("ia"), col("n").as("na"), col("rn").as("rna")),
      ranked.select(col("doc_id").as("ib"), col("n").as("nb"), col("rn").as("rnb")),
      "rna", "rnb", WINDOW.toDouble)
      .filter(col("rnb") > col("rna"))
      .select("ia", "ib", "na", "nb")
    // verify join keys on (doc, shingle) BOTH sides — keying on ib alone
    // would cross every shingle of ia with every shingle of ib per pair
    val common = cand
      .join(sh.select(col("doc_id").as("ia"), col("s")), "ia")
      .join(sh.select(col("doc_id").as("ib2"), col("s").as("s2")),
        col("ib") === col("ib2") && col("s") === col("s2"))
      .groupBy("ia", "ib", "na", "nb").agg(count(lit(1)).as("common"))
    val jacc = col("common") / (col("na") + col("nb") - col("common"))
    common.withColumn("jacc", jacc).filter(col("jacc") >= TAU)
      .select("ia", "ib", "common", "na", "nb", "jacc")
  }

  /** Multi-seed sorted-neighborhood dedup — the recall repair
    * [[dedupSorted]]'s measured 0.86 calls for (SnmRecallSpec /
    * BASELINE.md): R=2 sort keys — seed 0 IS [[dedupSorted]]'s raw
    * minimum (so this query's candidates strictly contain the
    * single-seed run's), seed 1 an independently seeded re-hash of the
    * shingle minima — one rank + rank-band join per seed, candidates
    * unioned + deduped before ONE exact-Jaccard verify.  A pair is
    * missed only if the edit destroyed the shared minimum under BOTH
    * orderings — per-pair miss probability squares (≈ (3k/58)²; measured
    * recall in SnmRecallSpec / BASELINE.md) while cost stays linear:
    * 2·n·W candidates by construction, no inverted-index self-join.  The
    * 100 TB shape is R sequential sorts of a small (doc_id, key)
    * projection — each seed reuses the same staged postings artifact,
    * and R is the recall/cost knob a deployment tunes. */
  /** R-seed sorted-neighborhood candidate generator.  Seed 0 is the raw
    * shingle minimum — the single-seed SNM key, so the R>=1 candidate set
    * strictly contains the single-seed run's — and each seed i>0 is an
    * independently seeded re-hash (`md5Long("snm<i>|" + s)`) of the same
    * staged per-doc minima.  One distributed rank + one rank-band join per
    * seed, unioned and deduped: R·n·W candidates by construction, no
    * inverted-index self-join anywhere.  Per-pair miss probability decays
    * geometrically in R (a pair is missed only when the edit destroyed the
    * shared minimum under ALL R orderings); measured points R=1/2/3 are in
    * BASELINE.md.  Columns: ia, ib, na, nb (ia < ib by rank orientation). */
  def snmCandidates(spark: org.apache.spark.sql.SparkSession, sh: DataFrame,
      seeds: Int, window: Long): DataFrame = {
    require(seeds >= 1, s"snmCandidates needs >=1 seed, got $seeds")
    import org.apache.spark.sql.types.StringType
    val minCols = (0 until seeds).map {
      case 0 => min(col("s")).as("mk0")
      case i => min(graft.fns.Exact.md5Long(
        concat(lit(s"snm$i|"), col("s").cast(StringType)))).as(s"mk$i")
    }
    // one aggregate for all seeded minima + the shingle count; consumed by
    // R rank passes, so materialize it once (cluster analog: persist)
    val mins = sh.groupBy("doc_id")
      .agg(minCols.head, minCols.tail :+ count(lit(1)).as("n"): _*)
      .localCheckpoint()
    (0 until seeds).map { i =>
      val ranked = graft.fns.TotalOrder.globalRank(
        mins, graft.fns.TotalOrder.defaultParts(spark), col(s"mk$i"), col("doc_id"))
      graft.joins.NonEquiJoins.bandJoin(
        ranked.select(col("doc_id").as("ia"), col("n").as("na"), col("rn").as("rna")),
        ranked.select(col("doc_id").as("ib"), col("n").as("nb"), col("rn").as("rnb")),
        "rna", "rnb", window.toDouble)
        .filter(col("rnb") > col("rna"))
        .select("ia", "ib", "na", "nb")
    }.reduce(_ unionByName _).distinct()
  }

  val dedupSortedMulti: GraftQuery = GraftQuery("q_llm_dedup_sorted_r2",
    s"""WITH $shCtesSql,
       |mins AS (SELECT doc_id, min(s) AS mk0,
       |           min(${md5LongSql("'snm1|' || s::VARCHAR")}) AS mk1,
       |           count(*) AS n FROM sh GROUP BY doc_id),
       |ord0 AS (SELECT doc_id, n, row_number() OVER (ORDER BY mk0, doc_id) AS rn FROM mins),
       |ord1 AS (SELECT doc_id, n, row_number() OVER (ORDER BY mk1, doc_id) AS rn FROM mins),
       |cand AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.n AS na, b.n AS nb
       |         FROM ord0 a JOIN ord0 b ON b.rn > a.rn AND b.rn <= a.rn + $WINDOW
       |         UNION
       |         SELECT a.doc_id, b.doc_id, a.n, b.n
       |         FROM ord1 a JOIN ord1 b ON b.rn > a.rn AND b.rn <= a.rn + $WINDOW),
       |cm AS (SELECT c.ia, c.ib, c.na, c.nb, count(*) AS common
       |       FROM cand c
       |       JOIN sh x ON x.doc_id = c.ia
       |       JOIN sh y ON y.doc_id = c.ib AND y.s = x.s
       |       GROUP BY 1, 2, 3, 4)
       |SELECT ia, ib, common, na, nb,
       |       common / (na + nb - common) AS jacc
       |FROM cm WHERE common / (na + nb - common) >= $TAU""".stripMargin) { (spark, sfDir) =>
    val sh = cappedShingles(spark, sfDir)
    // R comes from `spark.graft.snm.seeds` — the recall/cost knob a
    // deployment tunes (each extra seed is one more rank + band join over
    // the same staged minima).  The judged oracle above is the R=2
    // instance, the session default.
    val seeds = spark.conf.getOption("spark.graft.snm.seeds").map(_.toInt).getOrElse(2)
    val common = snmCandidates(spark, sh, seeds, WINDOW.toLong)
      .join(sh.select(col("doc_id").as("ia"), col("s")), "ia")
      .join(sh.select(col("doc_id").as("ib2"), col("s").as("s2")),
        col("ib") === col("ib2") && col("s") === col("s2"))
      .groupBy("ia", "ib", "na", "nb").agg(count(lit(1)).as("common"))
    val jacc = col("common") / (col("na") + col("nb") - col("common"))
    common.withColumn("jacc", jacc).filter(col("jacc") >= TAU)
      .select("ia", "ib", "common", "na", "nb", "jacc")
  }

  /** Incremental near-dedup of a new batch (doc_id % 10 >= 8) against the
    * existing corpus (doc_id % 10 < 8): batch postings join CORPUS
    * postings only — the corpus never self-joins, and on a cluster its
    * df-capped index is the staged artifact every daily run reuses.  Every
    * batch doc gets a verdict: dropped with its lowest-id duplicate when
    * any corpus doc reaches Jaccard >= tau, kept otherwise (docs too short
    * to shingle have no candidates and are kept).  The df cap is computed
    * over the COMBINED index (corpus + batch), matching what a maintained
    * rolling index would hold. */
  val dedupIncremental: GraftQuery = GraftQuery("q_llm_dedup_incremental",
    s"""WITH $shCtesSql,
       |shc AS (SELECT * FROM sh WHERE doc_id % 10 < 8),
       |shb AS (SELECT * FROM sh WHERE doc_id % 10 >= 8),
       |szc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |szb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY 1),
       |p AS (SELECT b.doc_id AS bid, c.doc_id AS cid, count(*) AS common
       |      FROM shb b JOIN shc c ON b.s = c.s GROUP BY 1, 2),
       |m AS (SELECT bid, cid
       |      FROM p JOIN szb x ON bid = x.doc_id JOIN szc y ON cid = y.doc_id
       |      WHERE common / (x.n + y.n - common) >= $TAU),
       |agg AS (SELECT bid, min(cid) AS dup_of, CAST(count(*) AS BIGINT) AS n_matches
       |        FROM m GROUP BY 1)
       |SELECT d.doc_id, a.dup_of,
       |       CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
       |       CASE WHEN a.dup_of IS NULL THEN 'keep' ELSE 'drop' END AS action
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
       |LEFT JOIN agg a ON d.doc_id = a.bid""".stripMargin) { (spark, sfDir) =>
    val sh = cappedShingles(spark, sfDir)
    val shc = sh.filter(col("doc_id") % 10 < 8)
    val shb = sh.filter(col("doc_id") % 10 >= 8)
    def sz(s: DataFrame) = s.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = shb.select(col("doc_id").as("bid"), col("s"))
      .join(shc.select(col("doc_id").as("cid"), col("s").as("s2")), col("s") === col("s2"))
      .groupBy("bid", "cid").agg(count(lit(1)).as("common"))
    val jacc = col("common") / (col("nb") + col("nc") - col("common"))
    val matches = pairs
      .join(sz(shb).select(col("doc_id").as("bid"), col("n").as("nb")), "bid")
      .join(sz(shc).select(col("doc_id").as("cid"), col("n").as("nc")), "cid")
      .filter(jacc >= TAU)
      .groupBy("bid").agg(min(col("cid")).as("dup_of"), count(lit(1)).as("n_matches"))
    documents(spark, sfDir).filter(col("doc_id") % 10 >= 8).select("doc_id")
      .join(matches, col("doc_id") === col("bid"), "left_outer")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        when(col("dup_of").isNull, lit("keep")).otherwise(lit("drop")).as("action"))
  }

  /** Fold a verified batch's postings into the durable corpus index — the
    * day-N accretion step real ingest pipelines need once the index is a
    * staged artifact (graft.io.Staged staging-dir mode).  The combined
    * postings are re-capped and published under `newTag` through Staged's
    * atomic rename arbitration: readers of the previous artifact are never
    * disturbed (the old directory is untouched), concurrent compactors of
    * the same newTag race the rename and the loser reads the winner — so
    * the version chain is append-only and crash-safe.  Cost is one scan of
    * old index + batch plus one df-count shuffle — linear, no self-join.
    *
    * Cap semantics: the cap is re-applied over the combined SURVIVING
    * postings.  Boilerplate already dropped from the old index stays
    * dropped (its df only grew), and a near-cap shingle pushed over the
    * cap by the batch is dropped now — identical to a from-scratch rebuild
    * whenever no shingle's pre-cap df straddles the boundary, which
    * IncrStress asserts exactly at the bench scale (signature-equality of
    * the day-3 artifact vs a full rebuild). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, newTag: String,
      oldIndex: DataFrame, batchPostings: DataFrame): DataFrame =
    graft.io.Staged(spark, newTag) {
      TextOps.dfCapped(oldIndex.unionByName(batchPostings), TextOps.DF_CAP)
    }

  val all: Seq[GraftQuery] = Seq(dedupSorted, dedupSortedMulti, dedupIncremental)
}
