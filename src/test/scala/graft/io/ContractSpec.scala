package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the persisted ingest contract: declared checks outlive the
  * declaring session and bind every gated producer, unique-key ingest
  * rejects clashes without a trace, deleted keys are re-insertable, two
  * racing batches sharing a key can never both land, and the zone map
  * confines the probe. */
class ContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot() =
    s"/tmp/graft_contract_spec/${java.util.UUID.randomUUID()}"

  test("declared checks persist and bind gated appends; accumulate; guard dups") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, 5L)).toDF("id", "m"))
    Versioned.commitDeclareChecks(spark, root, Seq("m_pos" -> "m > 0"))
    Versioned.commitAppend(spark, root, Seq((2L, 6L)).toDF("id", "m")) // carries
    intercept[Versioned.CommitRejected] {
      Versioned.commitAppendGated(spark, root, Seq((3L, -1L)).toDF("id", "m"))
    }
    assert(Versioned.currentVersion(spark, root) == 3, "rejection publishes nothing")
    Versioned.commitDeclareChecks(spark, root, Seq("id_pos" -> "id > 0"))
    assert(Versioned.checksOf(spark, root,
      Versioned.currentVersion(spark, root)).map(_._1) == Seq("m_pos", "id_pos"))
    intercept[IllegalArgumentException] {
      Versioned.commitDeclareChecks(spark, root, Seq("m_pos" -> "m > 10"))
    }
    Versioned.commitAppendGated(spark, root, Seq((4L, 7L)).toDF("id", "m"))
    assert(Versioned.readAt(spark, root,
      Versioned.currentVersion(spark, root)).count() == 3)
  }

  test("unique ingest: clash and self-dup rejected, deleted keys re-insertable") {
    val root = newRoot()
    Versioned.commitAppendClustered(spark, root,
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s"), "id", buckets = 4)
    intercept[Versioned.CommitRejected] {
      Versioned.commitAppendUnique(spark, root,
        Seq((50L, "again")).toDF("id", "s"), "id")
    }
    intercept[Versioned.CommitRejected] {
      Versioned.commitAppendUnique(spark, root,
        Seq((200L, "a"), (200L, "b")).toDF("id", "s"), "id")
    }
    val v1 = Versioned.commitAppendUnique(spark, root,
      (101L to 110L).map(i => (i, s"v$i")).toDF("id", "s"), "id")
    assert(Versioned.countAt(spark, root, v1) == 110)
    // a MOR-deleted key is legitimately gone: re-insert must pass
    val v2 = Versioned.commitDeleteMOR(spark, root, col("id") === 50L)
    val v3 = Versioned.commitAppendUnique(spark, root,
      Seq((50L, "reborn")).toDF("id", "s"), "id")
    assert(v3 > v2)
    assert(Versioned.readAt(spark, root, v3)
      .filter(col("id") === 50L).select("s").as[String].collect().toSeq == Seq("reborn"))
  }

  test("racing batches sharing a key: exactly one lands") {
    for (round <- 1 to 3) {
      val root = newRoot()
      Versioned.commit(spark, root, (1L to 10L).map(i => (i, "base")).toDF("id", "s"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      def ingest(tag: String) = new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean =
          try { Versioned.commitAppendUnique(spark, root,
            Seq((77L, tag), (1000L + tag.length, tag)).toDF("id", "s"), "id"); true }
          catch { case _: Versioned.CommitRejected => false }
      }
      try {
        val a = pool.submit(ingest("aa")); val b = pool.submit(ingest("bbb"))
        val landed = Seq(a.get(), b.get()).count(identity)
        assert(landed >= 1, s"round $round: at least one must land")
        val n77 = Versioned.readAt(spark, root,
          Versioned.currentVersion(spark, root)).filter(col("id") === 77L).count()
        assert(n77 == 1, s"round $round: key 77 landed $n77 times")
      } finally pool.shutdown()
    }
  }

  test("the contract survives restore, clone, and a branch round-trip") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, 5L)).toDF("id", "m"))
    Versioned.commitDeclareChecks(spark, root, Seq("m_pos" -> "m > 0"))
    Versioned.commitAppend(spark, root, Seq((2L, 6L)).toDF("id", "m"))
    val v = Versioned.restore(spark, root, 2)
    assert(Versioned.checksOf(spark, root, v).nonEmpty,
      "restore must carry the persisted contract")
    intercept[Versioned.CommitRejected] {
      Versioned.commitAppendGated(spark, root, Seq((3L, -1L)).toDF("id", "m"))
    }
    val dst = newRoot()
    Versioned.cloneAt(spark, root, dst, v)
    assert(Versioned.checksOf(spark, dst, 1) == Seq("m_pos" -> "m > 0"),
      "a clone must inherit the contract")
    // branch fork inherits it; a SNAPSHOT merge must not erase it
    Branches.create(spark, root, "exp")
    val b = s"$root/refs/exp"
    assert(Versioned.checksOf(spark, b, 1).nonEmpty)
    Versioned.commitUpdate(spark, b, col("id") === 1,
      df => df.withColumn("m", when(col("id") === 1, lit(9L)).otherwise(col("m"))))
    val vm = Branches.merge(spark, root, "exp")
    assert(Versioned.checksOf(spark, root, vm) == Seq("m_pos" -> "m > 0"),
      "a snapshot merge must carry the contract back to the parent")
  }

  test("the probe is zone-map confined on a key-clustered table") {
    val root = newRoot()
    Versioned.commitAppendClustered(spark, root,
      (1L to 100000L).toDF("id"), "id", buckets = 16)
    // batch keys live in one narrow span: the semi-join probe must not
    // read the whole table (assert via the pruned read's row count)
    val pruned = Versioned.readRange(spark, root, 1, 200001, 200010)
    assert(pruned.inputFiles.isEmpty || pruned.count() == 0)
    val v = Versioned.commitAppendUnique(spark, root,
      (200001L to 200010L).toDF("id"), "id")
    assert(Versioned.countAt(spark, root, v) == 100010)
  }

  test("non-castable keys cannot slip past the zone-map probe shortcut") {
    // a STRING key under a zone map: existing rows whose key fails
    // try_cast are invisible to the readRange row filter, so the
    // shortcut is only legal when the staged batch has zero null-cast
    // keys — a batch mixing one castable key (non-null bounds) with a
    // non-castable duplicate used to land that duplicate
    val root = newRoot()
    Versioned.commitAppendClustered(spark, root,
      (Seq(("x", "weird")) ++ (1L to 50L).map(i => (i.toString, s"v$i")))
        .toDF("id", "s"), "id", buckets = 4)
    intercept[Versioned.CommitRejected] {
      Versioned.commitAppendUnique(spark, root,
        Seq(("77", "castable-fresh"), ("x", "dup")).toDF("id", "s"), "id")
    }
    assert(Versioned.currentVersion(spark, root) == 1, "rejection publishes nothing")
    // an all-castable batch still takes the confined path and lands
    val v = Versioned.commitAppendUnique(spark, root,
      Seq(("51", "ok")).toDF("id", "s"), "id")
    assert(Versioned.countAt(spark, root, v) == 52)
  }

  test("checks named statsCol and op stay checks, never record fields") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, 5L)).toDF("id", "m"))
    Versioned.commitDeclareChecks(spark, root,
      Seq("statsCol" -> "id > 0", "op" -> "m > 0"))
    val v3 = Versioned.commitAppend(spark, root, Seq((2L, 6L)).toDF("id", "m"))
    assert(Versioned.statsColOf(spark, root, v3).isEmpty)
    assert(Versioned.checksOf(spark, root, v3) ==
      Seq("statsCol" -> "id > 0", "op" -> "m > 0"))
    assert(Versioned.history(spark, root).orderBy("version").select("op")
      .as[String].collect().toSeq == Seq("commit", "declare", "append"))
    val v4 = Versioned.commitAppendClustered(spark, root,
      (10L until 20L).map(i => (i, i)).toDF("id", "m"), "id", buckets = 2)
    assert(Versioned.statsColOf(spark, root, v4).contains("id"))
    assert(Versioned.readRange(spark, root, v4, 1L, 12L)
      .select(col("id")).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 10L, 11L, 12L))
  }

  test("a check expression holding quotes and braces round-trips and gates") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    val decl = Seq("no_brace" -> "s <> '}'", "no_quote" -> "s <> '\"'")
    val v2 = Versioned.commitDeclareChecks(spark, root, decl)
    assert(Versioned.checksOf(spark, root, v2) == decl)
    val rejected = intercept[Versioned.CommitRejected] {
      Versioned.commitAppendGated(spark, root, Seq((2L, "}")).toDF("id", "s"))
    }
    assert(rejected.violations == Map("no_brace" -> 1L))
    val v3 = Versioned.commitAppendGated(spark, root, Seq((3L, "b")).toDF("id", "s"))
    assert(Versioned.checksOf(spark, root, v3) == decl)
    assert(Versioned.countAt(spark, root, v3) == 2)
  }
}
