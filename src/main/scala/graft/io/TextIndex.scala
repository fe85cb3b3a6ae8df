package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Token-level data skipping on a TEXT column: each commit records a
  * per-dir bloom filter over the dir's DISTINCT TOKENS (lowercased
  * alphanumeric runs), so "which documents contain this term" prunes
  * whole dirs from driver-side metadata before any file listing — the
  * probe shape behind canary-string decontamination sweeps, PII-term
  * audits and incident forensics ("which shards ever saw token X") that
  * would otherwise full-scan 100 TB of text.
  *
  * The index rides the [[Versioned]] manifest's bloom fields with a
  * pseudo-column declaration `_tok(<textCol>)` — the same carry-forward,
  * sidecar-spill ([[BloomIndex.InlineMaxBits]]) and conservative-read
  * composition rules apply: later plain appends leave their dirs
  * unindexed and probes read them conservatively; false positives cost
  * an extra dir read, never a wrong row, because the exact word-boundary
  * filter is re-applied to whatever is read.
  *
  * Tokenizer (build and probe, bit-identical): `lower(text)` split on
  * `[^a-z0-9]+`, empty fragments dropped.  Any word-boundary occurrence
  * of an alphanumeric term IS one of these tokens, so the filter can
  * never false-negative a [[readToken]]/[[readPhrase]] probe. */
object TextIndex {

  private val Decl = """_tok\(([^()]+)\)""".r

  /** The distinct-token array of one text value. */
  private[io] def tokensOf(c: Column): Column =
    array_distinct(filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0))

  private def wordRe(term: String) = s"(^|[^a-z0-9])$term([^a-z0-9]|$$)"

  private def requireTerm(t: String): Unit =
    // ASCII only: the tokenizer's [a-z0-9] can never produce a Unicode
    // digit, so accepting one (Character.isDigit is Unicode-wide) would
    // make the probe silently empty instead of failing loudly
    require(t.nonEmpty && t.forall(ch =>
      (ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9')),
      s"probe terms are lowercase ASCII alphanumeric tokens: '$t'")

  /** Append `df` with a token-bloom entry for the new dir, declaring
    * (or re-declaring, which must match) the table's indexed text
    * column.  The filter build is one aggregation over the NEW dir only
    * — explode to distinct tokens, hash to distinct bit positions. */
  def commitAppendIndexed(spark: SparkSession, root: String, df: DataFrame,
      textCol: String, bits: Int = 1 << 16): Int = {
    require(Integer.bitCount(bits) == 1 && bits >= 64,
      s"bits must be a power of 2 >= 64: $bits")
    val decl = s"_tok($textCol)"
    val rel = Versioned.writeDataDir(spark, root, df)
    val staged = Versioned.readParquetDirs(spark, Seq(Versioned.dataPath(root, rel)))
    val n = Versioned.observedRowsOf(Versioned.dataPath(root, rel))
      .getOrElse(staged.count())
    import spark.implicits._
    val set = staged
      .select(explode(tokensOf(col(textCol))).as("t"))
      .select(explode(BloomIndex.positions(col("t"), bits)).as("p"))
      .distinct().as[Long].collect()
    val entry = BloomIndex.storeBitset(spark, root, rel, set, bits)
    // declaration compatibility re-validated per publish retry (see
    // BloomIndex.commitAppendBloom): a racing first declaration cannot
    // slip a different one in
    try Versioned.publish(spark, root, head => {
      head.bloomCol.foreach { case (c0, m0) =>
        require(c0 == decl && m0 == bits,
          s"$root already keeps a bloom index on ($c0, $m0 bits); " +
            s"re-declaring ($decl, $bits) would corrupt pruning")
      }
      head.dirs :+ rel
    },
      precomputedRows = Map(rel -> n),
      blooms = Some((decl, bits, Map(rel -> entry))), op = "append")
    catch { case e: IllegalArgumentException =>
      val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
      Versioned.fs(spark, p).delete(p, true) // reclaim the staged dir
      throw e
    }
  }

  /** The rows of the dirs of version `v` whose token filter claims ALL
    * of `terms` (`requireAll`), or ANY of them (the union probe) —
    * absent entries conservatively kept either way — plus the indexed
    * text column. */
  private def prunedRead(spark: SparkSession, root: String, v: Int,
      terms: Seq[String], requireAll: Boolean = true): (DataFrame, String) = {
    require(terms.nonEmpty, "empty probe set")
    terms.foreach(requireTerm)
    val r = Versioned.record(spark, root, v)
    val (decl, bits) = r.bloomCol.getOrElse(
      throw new IllegalArgumentException(s"$root has no token index"))
    val textCol = decl match {
      case Decl(c) => c
      case _ => throw new IllegalArgumentException(
        s"$root keeps a VALUE bloom index ($decl); probe it with BloomIndex.readPoint")
    }
    import spark.implicits._
    // probe hashing through the SAME expressions as the build
    val probes: Array[Array[Int]] = terms.toDF("t")
      .select(BloomIndex.positions(col("t"), bits).as("ps")).collect()
      .map(_.getSeq[Long](0).map(_.toInt).toArray)
    def hits(d: String, entry: String): Boolean = {
      val bytes = BloomIndex.loadBitset(spark, root, d, entry)
      def one(ps: Array[Int]) = ps.forall(p => (bytes(p >> 3) & (1 << (p & 7))) != 0)
      if (requireAll) probes.forall(one) else probes.exists(one)
    }
    (Versioned.readPruned(spark, root, r, r.dirs.filter(d => r.bloom.get(d).forall(hits(d, _)))),
      textCol)
  }

  private def readPruned(spark: SparkSession, root: String, v: Int,
      terms: Seq[String], exact: String => Column): DataFrame = {
    val (base, textCol) = prunedRead(spark, root, v, terms)
    base.filter(exact(textCol))
  }

  /** Rows whose text contains `term` as a whole token, reading only the
    * dirs the token filters could not rule out. */
  def readToken(spark: SparkSession, root: String, v: Int, term: String): DataFrame =
    readPruned(spark, root, v, Seq(term),
      tc => lower(col(tc)).rlike(wordRe(term)))

  /** Rows whose text contains EVERY one of `terms` as whole tokens
    * (dir pruning intersects the filters). */
  def readTokensAll(spark: SparkSession, root: String, v: Int,
      terms: Seq[String]): DataFrame =
    readPruned(spark, root, v, terms,
      tc => terms.map(t => lower(col(tc)).rlike(wordRe(t))).reduce(_ && _))

  /** Rows whose text contains AT LEAST ONE of `terms` as a whole token —
    * the OR probe: dir pruning takes the UNION of the per-term pruned
    * sets (a dir is skipped only when its filter rules out EVERY term). */
  def readTokensAny(spark: SparkSession, root: String, v: Int,
      terms: Seq[String]): DataFrame = {
    val (base, textCol) = prunedRead(spark, root, v, terms, requireAll = false)
    base.filter(terms.map(t => lower(col(textCol)).rlike(wordRe(t))).reduce(_ || _))
  }

  /** RANKED retrieval: BM25-score the docs matching ANY of `terms`,
    * reading ONLY the union-pruned dirs — "the top documents mentioning
    * X or Y", the corpus auditor's first query, at point-probe cost.
    *
    * Why the pruned read suffices for EXACT corpus-level scores: term
    * frequencies, document frequencies and matching docs' lengths all
    * live inside dirs whose filter claims the term (the tokenizer
    * cannot false-negative), and the two corpus-WIDE statistics BM25
    * needs come from table metadata at zero data I/O — `nDocs` from the
    * manifest row counts ([[Versioned.countAt]]) and total token count
    * from a declared metadata SUM over a token-count column
    * ([[Versioned.sumAt]]).  At 100 TB the whole ranked query costs the
    * matching dirs plus one commit-record read. */
  def rankBm25(spark: SparkSession, root: String, v: Int, terms: Seq[String],
      k: Int, idCol: String = "doc_id"): DataFrame = {
    val nDocs = Versioned.countAt(spark, root, v).toDouble
    val sumCol = Versioned.sumColOf(spark, root, v).getOrElse(
      throw new IllegalArgumentException(
        s"$root declares no metadata SUM column; rankBm25 needs the corpus token " +
          "count (commitDeclareSum on the per-doc token-count column)"))
    // sumAt answers from pure metadata when it can; under LIVE deletion
    // vectors (or an entry-less dir) it declines, and the fallback is
    // ONE DV-applied narrow-column scan — which is also the CORRECT
    // total there (the recorded per-dir sums still count deleted rows'
    // tokens).  Fold/compact retires the vectors and restores the
    // zero-I/O answer.
    val nToks = Versioned.sumAt(spark, root, v).getOrElse(
      Versioned.readAt(spark, root, v)
        .agg(sum(col(sumCol).cast("long"))).head().getLong(0)).toDouble
    val (base, textCol) = prunedRead(spark, root, v, terms, requireAll = false)
    val toks = base.select(col(idCol).as("doc_id"),
      explode(graft.llm.TextOps.toks(col(textCol))).as("w"))
    graft.llm.Relevance.bm25TokensGlobal(toks, nDocs, nToks, terms)
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(k)
  }

  /** Rows whose text contains `phrase` (tokens in order, any single
    * non-alphanumeric separator run between them) — the canary-string /
    * eval-contamination probe: dirs are pruned by the AND of the
    * phrase's token filters, then the exact phrase regexp re-checks. */
  def readPhrase(spark: SparkSession, root: String, v: Int,
      phrase: String): DataFrame = {
    val terms = phrase.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, s"phrase carries no tokens: '$phrase'")
    readPruned(spark, root, v, terms,
      tc => lower(col(tc)).rlike(wordRe(terms.mkString("[^a-z0-9]+"))))
  }

  /** Judged query: token-indexed ingest + term probe.  Eight interleaved
    * appends (doc_id % 8) each record a token bloom; the probe for the
    * rare token `dup` (5% of documents) reads only the dirs whose filter
    * fires and re-checks with the word-boundary regexp.  Oracle = the
    * same regexp in SQL. */
  val tableTextIndex: graft.GraftQuery = graft.GraftQuery("q_table_text_index",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])dup([^a-z0-9]|$)')""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    (0 until 8).foreach { r =>
      commitAppendIndexed(spark, root, docs.filter(col("doc_id") % 8 === r), "text")
    }
    readToken(spark, root, Versioned.currentVersion(spark, root), "dup")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Judged query: ordered PHRASE probe — the eval-contamination shape
    * ("does any shard contain this canary sentence").  Dir pruning ANDs
    * the phrase's token filters; the exact in-order regexp re-checks.
    * Oracle = the same phrase regexp in SQL. */
  val tableTextPhrase: graft.GraftQuery = graft.GraftQuery("q_table_text_phrase",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])merge[^a-z0-9]+batch([^a-z0-9]|$)')""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    (0 until 8).foreach { r =>
      commitAppendIndexed(spark, root, docs.filter(col("doc_id") % 8 === r), "text")
    }
    readPhrase(spark, root, Versioned.currentVersion(spark, root), "merge batch")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Judged query: RANKED retrieval over the token index — BM25 top-15
    * for an OR probe, computed from the union-pruned dirs plus pure
    * metadata (countAt row counts + the declared token-count SUM), with
    * the identical quantized-contribution arithmetic as q_llm_bm25 (the
    * scaled-int discipline that keeps ln() drift out of the hash).
    * Oracle = full-corpus DuckDB BM25 over the same terms: the pruned
    * read must be score-indistinguishable from the full scan. */
  val tableTextRank: graft.GraftQuery = graft.GraftQuery("q_table_text_rank",
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      |td AS (SELECT CAST(count(*) AS DOUBLE) AS td FROM toks),
      |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
      |tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM toks
      |       WHERE w IN ('dup', 'spark') GROUP BY doc_id, w),
      |df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
      |c AS (
      |  SELECT tf.doc_id,
      |    CAST(round(
      |      CAST(1000 AS DOUBLE)
      |        * ln(CAST(1 AS DOUBLE)
      |             + (nd.nd - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE)))
      |        * (tf.tf * CAST(2.2 AS DOUBLE))
      |        / (tf.tf + CAST(1.2 AS DOUBLE)
      |             * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / (td.td / nd.nd))),
      |      0) AS BIGINT) AS c
      |  FROM tf JOIN dl USING (doc_id) JOIN df USING (w), nd, td)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_milli
      |FROM c GROUP BY doc_id
      |ORDER BY score_milli DESC, doc_id
      |LIMIT 15""".stripMargin) { (spark, sfDir) =>
    val root = graft.streaming.StreamSink.newRunDir()
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .withColumn("n_toks", size(graft.llm.TextOps.toks(col("text"))).cast("long"))
    (0 until 8).foreach { r =>
      commitAppendIndexed(spark, root, docs.filter(col("doc_id") % 8 === r), "text")
    }
    Versioned.commitDeclareSum(spark, root, "n_toks")
    rankBm25(spark, root, Versioned.currentVersion(spark, root),
      Seq("dup", "spark"), k = 15)
  }

  /** Judged query: transactional STREAMING ingest into a token-indexed
    * table.  The bootstrap slice declares the index; the rest arrives as
    * a real file-source stream (maxFilesPerTrigger=1, several
    * micro-batches) committed via [[Versioned.commitBatchIndexed]] —
    * each batch fenced exactly-once AND carrying its own token filter.
    * The in-query assertion requires EVERY manifest dir to hold an
    * entry: streaming ingest must not decay probe pruning batch by
    * batch.  Oracle = the token's regexp filter (as for
    * q_table_text_index — the judged substance here is the ingest
    * path). */
  val tableStreamIndexed: graft.GraftQuery = graft.GraftQuery("q_table_stream_indexed",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])dup([^a-z0-9]|$)')""".stripMargin) { (spark, sfDir) =>
    val run = graft.streaming.StreamSink.newRunDir()
    val (src, table, ckpt) = (s"$run/src", s"$run/table", s"$run/ckpt")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    commitAppendIndexed(spark, table, docs.filter(col("doc_id") % 10 < 5), "text")
    docs.filter(col("doc_id") % 10 >= 5).repartition(3).write.parquet(src)
    // the writer just flushed src — schema known, no inference job
    Versioned.cacheDirSchema(src, docs.schema)
    val q = spark.readStream.schema(Versioned.dirSchemaOf(spark, src))
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Versioned.commitBatchIndexed(spark, table, id, b); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val v = Versioned.currentVersion(spark, table)
    val r = Versioned.record(spark, table, v)
    require(r.dirs.forall(r.bloom.contains),
      "every streamed dir must carry its token filter — no pruning decay")
    readToken(spark, table, v, "dup")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val all: Seq[graft.GraftQuery] =
    Seq(tableTextIndex, tableTextPhrase, tableTextRank, tableStreamIndexed)
}
