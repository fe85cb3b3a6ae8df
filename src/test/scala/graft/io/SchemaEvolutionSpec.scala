package graft.io

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for schema evolution on the versioned table: the alter is a
  * pure metadata commit; pre-alter generations null-fill on read while
  * time travel to a pre-alter version returns the OLD schema; filters
  * push into every generation's scan (and constant-fold pre-alter
  * generations away when they constrain the added column); CoW updates
  * and diffs stay correct across the alter boundary. */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot() =
    s"/tmp/graft_schema_evo_spec/${java.util.UUID.randomUUID()}"

  test("alter adds a null-filled column; time travel keeps the old schema") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val v2 = Versioned.commitAlterAdd(spark, root, "q", "bigint")
    assert(v2 == 2)
    // the alter touched no data: same dirs, no rewrite
    assert(Versioned.manifest(spark, root, 2) == Versioned.manifest(spark, root, 1))
    Versioned.commitAppend(spark, root, Seq((3L, "c", 30L)).toDF("id", "s", "q"))
    val head = Versioned.readAt(spark, root, 3)
    assert(head.columns.toSeq == Seq("id", "s", "q"))
    assert(head.as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30L))))
    // pre-alter version: OLD schema, no phantom column
    assert(Versioned.readAt(spark, root, 1).columns.toSeq == Seq("id", "s"))
    // the alter version itself reads with the new (all-null) column
    assert(Versioned.readAt(spark, root, 2).filter(col("q").isNotNull).count() == 0)
  }

  test("filter on the added column prunes pre-alter generations entirely") {
    val root = newRoot()
    Versioned.commit(spark, root, (1L to 100L).map(i => (i, s"a$i")).toDF("id", "s"))
    Versioned.commitAlterAdd(spark, root, "q", "bigint")
    Versioned.commitAppend(spark, root,
      (101L to 200L).map(i => (i, s"b$i", i * 10)).toDF("id", "s", "q"))
    val oldDir = Versioned.manifest(spark, root, 1).head
    val probe = Versioned.readAt(spark, root, 3).filter(col("q") > 1500L)
    assert(probe.count() == 50)
    // the pre-alter generation's q is lit(null): the filter folds it to
    // an empty relation and its files never appear in the scan
    assert(probe.inputFiles.nonEmpty && probe.inputFiles.forall(!_.contains(s"/$oldDir/")),
      "pre-alter generation must be pruned, not read-and-dropped")
    // a filter on an ORIGINAL column still reads (and pushes into) both
    val both = Versioned.readAt(spark, root, 3).filter(col("id").between(90L, 110L))
    assert(both.count() == 21)
    assert(both.inputFiles.exists(_.contains(s"/$oldDir/")))
  }

  test("CoW update across the alter boundary rewrites with the evolved schema") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Versioned.commitAlterAdd(spark, root, "q", "bigint")
    // backfill q for one pre-alter row: the touched dir is read through
    // the evolved view, so the rewrite lands with the full schema
    Versioned.commitUpdate(spark, root, col("id") === 2L,
      d => d.withColumn("q", when(col("id") === 2L, lit(20L)).otherwise(col("q"))))
    assert(Versioned.readAt(spark, root, 3)
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", None), (2L, "b", Some(20L))))
    // diff across the boundary: rows the rewrite left alone CANCEL in
    // the multiset compare — only the backfilled row moved
    val d = Versioned.diff(spark, root, 2, 3)
    assert(d.filter(col("op") === "added").count() == 1)
    assert(d.filter(col("op") === "removed").count() == 1)
    assert(Versioned.diff(spark, root, 2, 3)
      .filter(col("id") === 2L && col("op") === "added")
      .select("q").as[Option[Long]].collect().toSeq == Seq(Some(20L)))
  }

  test("diff across the alter: an append diff is just the appended batch") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Versioned.commitAlterAdd(spark, root, "q", "bigint")
    Versioned.commitAppend(spark, root, Seq((2L, "b", 20L)).toDF("id", "s", "q"))
    val d13 = Versioned.diff(spark, root, 1, 3)
      .as[(Long, String, Option[Long], String)].collect().toSeq
    assert(d13 == Seq((2L, "b", Some(20L), "added")),
      "shared pre-alter dir must cancel under the evolved-schema read")
  }

  test("two alters stack; zone-map reads survive evolution") {
    val root = newRoot()
    Versioned.commitAppendClustered(spark, root,
      (1L to 100L).map(i => (i, s"a$i")).toDF("id", "s"), "id", buckets = 4)
    Versioned.commitAlterAdd(spark, root, "q", "bigint")
    Versioned.commitAppendClustered(spark, root,
      (101L to 200L).map(i => (i, s"b$i", i)).toDF("id", "s", "q"), "id", buckets = 4)
    Versioned.commitAlterAdd(spark, root, "tag", "string")
    Versioned.commitAppendClustered(spark, root,
      (201L to 300L).map(i => (i, s"c$i", i, "t")).toDF("id", "s", "q", "tag"), "id", buckets = 4)
    val head = Versioned.currentVersion(spark, root)
    assert(Versioned.readAt(spark, root, head).columns.toSeq ==
      Seq("id", "s", "q", "tag"))
    // range read spans all three generations and null-fills each correctly
    val r = Versioned.readRange(spark, root, head, 95L, 205L)
      .as[(Long, String, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(r.size == 111)
    assert(r.head == (95L, "a95", None, None))
    assert(r.find(_._1 == 150L).get == (150L, "b150", Some(150L), None))
    assert(r.last == (205L, "c205", Some(205L), Some("t")))
  }

  test("rename maps pre-rename generations forward; time travel keeps the old name") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Versioned.commitAlterRename(spark, root, "s", "txt")
    assert(Versioned.manifest(spark, root, 2) == Versioned.manifest(spark, root, 1),
      "rename is pure metadata")
    Versioned.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "txt"))
    val head = Versioned.readAt(spark, root, 3)
    assert(head.columns.toSeq == Seq("id", "txt"))
    assert(head.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // filter under the NEW name reaches the old generation's rows
    assert(head.filter(col("txt") === "a").count() == 1)
    assert(Versioned.readAt(spark, root, 1).columns.toSeq == Seq("id", "s"))
  }

  test("event chains compose: add, rename of added, second rename, drop of renamed") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "x")).toDF("id", "a"))
    Versioned.commitAlterAdd(spark, root, "q", "bigint") // v2
    Versioned.commitAlterRename(spark, root, "q", "q2") // v3
    Versioned.commitAlterRename(spark, root, "a", "b") // v4
    Versioned.commitAppend(spark, root,
      Seq((2L, "y", 20L)).toDF("id", "b", "q2")) // v5
    Versioned.commitAlterDrop(spark, root, "b") // v6
    val head = Versioned.readAt(spark, root, 6)
    assert(head.columns.toSeq == Seq("id", "q2"))
    assert(head.as[(Long, Option[Long])].collect().sortBy(_._1).toSeq ==
      Seq((1L, None), (2L, Some(20L))))
    // every intermediate schema is still time-travelable
    assert(Versioned.readAt(spark, root, 4).columns.toSeq == Seq("id", "b", "q2"))
    assert(Versioned.readAt(spark, root, 1).columns.toSeq == Seq("id", "a"))
  }

  test("drop then re-add never leaks pre-drop values") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, 111L), (2L, 222L)).toDF("id", "secret"))
    Versioned.commitAlterDrop(spark, root, "secret")
    assert(Versioned.readAt(spark, root, 2).columns.toSeq == Seq("id"))
    Versioned.commitAlterAdd(spark, root, "secret", "bigint")
    val head = Versioned.readAt(spark, root, 3)
    assert(head.columns.toSeq == Seq("id", "secret"))
    assert(head.filter(col("secret").isNotNull).count() == 0,
      "pre-drop values must not resurface under the re-added name")
    assert(Versioned.readAt(spark, root, 1)
      .as[(Long, Long)].collect().toMap.apply(1L) == 111L)
  }

  test("merge keyed under the renamed name matches pre-rename generations") {
    val root = newRoot()
    Versioned.commit(spark, root,
      (1L to 100L).map(i => (i, s"a$i")).toDF("old_id", "s"))
    Versioned.commitAlterRename(spark, root, "old_id", "id")
    val ups = Seq((50L, "UP"), (101L, "NEW")).toDF("id", "s")
    val v = Versioned.commitMerge(spark, root, ups, "id")
    val got = Versioned.readAt(spark, root, v).as[(Long, String)].collect().toMap
    assert(got.size == 101 && got(50L) == "UP" && got(101L) == "NEW" && got(49L) == "a49")
  }

  test("a 1-D zone map follows its column's rename; pruning stays engaged") {
    val root = newRoot()
    Versioned.commitAppendClustered(spark, root,
      (1L to 1000L).map(i => (i, i % 7)).toDF("k", "v"), "k", buckets = 4)
    Versioned.commitAlterRename(spark, root, "k", "key")
    assert(Versioned.statsColOf(spark, root, 2).contains("key"))
    val r = Versioned.readRange(spark, root, 2, 10L, 20L)
    assert(r.count() == 11)
    assert(r.inputFiles.length < Versioned.readAt(spark, root, 2).inputFiles.length,
      "the renamed zone map must still prune dirs")
  }

  test("MOR delete predicated on a renamed column") {
    val root = newRoot()
    Versioned.commit(spark, root, (1L to 100L).map(i => (i, s"a$i")).toDF("id", "s"))
    Versioned.commitAlterRename(spark, root, "s", "txt")
    Versioned.commitDeleteMOR(spark, root, col("txt") < lit("a2"))
    val live = (1L to 100L).filter(i => s"a$i" >= "a2")
    assert(Versioned.readAt(spark, root, 3).count() == live.size)
  }

  test("alter guards refuse unsafe renames and drops") {
    val root = newRoot()
    Versioned.commitAppendClustered(spark, root,
      (1L to 100L).map(i => (i, i % 5)).toDF("k", "v"), "k", buckets = 2)
    intercept[IllegalArgumentException](
      Versioned.commitAlterRename(spark, root, "k", "v")) // target exists
    intercept[IllegalArgumentException](
      Versioned.commitAlterRename(spark, root, "nope", "w")) // source missing
    intercept[IllegalArgumentException](
      Versioned.commitAlterDrop(spark, root, "k")) // the zone-map column
    intercept[IllegalArgumentException](
      Versioned.commitAlterDrop(spark, root, "nope"))
    assert(Versioned.currentVersion(spark, root) == 1,
      "refused alters must publish nothing")
  }

  test("drop-then-re-add never bakes stale physical extrema into declared maps") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, 100L), (2L, 200L)).toDF("id", "v"))
    Versioned.commitAlterDrop(spark, root, "v")
    Versioned.commitAlterAdd(spark, root, "v", "bigint")
    // the v1 dir PHYSICALLY still carries v = 100/200, but the logical
    // head values there are NULL (the re-add generation null-fills)
    Versioned.commitAppend(spark, root, Seq((3L, 300L)).toDF("id", "v"))
    val vD = Versioned.commitDeclareStatsCols(spark, root, Seq("v"))
    val oldDir = Versioned.manifest(spark, root, 1).head
    // the pre-drop dir gets NO mstats entry (measuring its bytes would
    // record [100,200] for a column whose logical content is NULL)...
    assert(!Versioned.dirMstats(spark, root, vD).contains(("v", oldDir)))
    // ...the fresh dir IS measured (the map still prunes where it can)...
    val newDir = Versioned.manifest(spark, root, vD)
      .filterNot(_ == oldDir).head
    assert(Versioned.dirMstats(spark, root, vD).get(("v", newDir))
      .contains((300L, 300L)))
    // ...the exact metadata min/max DECLINES rather than answering stale
    assert(Versioned.statsRangeOn(spark, root, vD, "v").isEmpty)
    // pruned reads stay row-correct (the old dir reads conservatively)
    assert(Versioned.readRangeOn(spark, root, vD, "v", 50L, 400L)
      .select(col("id")).as[Long].collect().toSeq == Seq(3L))
    assert(Versioned.readRangeOn(spark, root, vD, "v", 50L, 250L).count() == 0)
    // metadata sums: the declaration skips the tainted dir and sumAt
    // declines instead of summing dead bytes
    val vS = Versioned.commitDeclareSum(spark, root, "v")
    assert(Versioned.sumAt(spark, root, vS).isEmpty)
  }

  test("a declared sum column refuses drop until retired") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, 10L), (2L, 32L)).toDF("id", "v"))
    val vS = Versioned.commitDeclareSum(spark, root, "v")
    assert(Versioned.sumAt(spark, root, vS).contains(42L))
    intercept[IllegalArgumentException](
      Versioned.commitAlterDrop(spark, root, "v"))
    intercept[IllegalArgumentException](
      Versioned.commitAlterRename(spark, root, "v", "w"))
    val vR = Versioned.commitRetireSum(spark, root)
    assert(Versioned.sumAt(spark, root, vR).isEmpty, "retired = no metadata sum")
    // now rename/drop are legal again, and reads stay correct
    val vDrop = Versioned.commitAlterDrop(spark, root, "v")
    assert(Versioned.readAt(spark, root, vDrop).columns.toSeq == Seq("id"))
  }

  test("a rename to a name holding a brace is recorded and maps old rows forward") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val v2 = Versioned.commitAlterRename(spark, root, "s", "s}x")
    assert(Versioned.altersOf(spark, root, v2).map(a => (a._1, a._2)) ==
      Seq(("s>s}x", "#rename")))
    val v3 = Versioned.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "s}x"))
    assert(Versioned.altersOf(spark, root, v3).map(a => (a._1, a._2)) ==
      Seq(("s>s}x", "#rename")))
    val head = Versioned.readAt(spark, root, v3)
    assert(head.columns.toSeq == Seq("id", "s}x"))
    assert(head.filter(col("id") <= 2L).select(col("`s}x`")).as[String]
      .collect().sorted.toSeq == Seq("a", "b"))
  }

  test("column names holding a record delimiter or an internal name are refused") {
    val root = newRoot()
    Versioned.commit(spark, root, Seq((1L, 2L)).toDF("id", "v"))
    for (bad <- Seq("a|b", "a,b", "a>b", "_dvf", "_d", ""))
      intercept[IllegalArgumentException](
        Versioned.commitAlterRename(spark, root, "v", bad))
    intercept[IllegalArgumentException](Versioned.commitAlterAdd(spark, root, "q|r", "bigint"))
    intercept[IllegalArgumentException](Versioned.commitDeclareStatsCols(spark, root, Seq("a,b")))
    intercept[IllegalArgumentException](Versioned.commitDeclareSum(spark, root, "v>w"))
    assert(Versioned.currentVersion(spark, root) == 1, "refused names publish nothing")
  }
}
