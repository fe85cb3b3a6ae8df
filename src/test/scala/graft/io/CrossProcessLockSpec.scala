package graft.io

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Gate for CROSS-PROCESS commit arbitration on a raw local filesystem:
  * Hadoop's local no-overwrite rename is an exists-check + POSIX rename
  * (which silently overwrites), so two JVMs publishing pure-metadata
  * commits could lose records until publishRecord's OS-level file lock
  * landed.  Two separate racer JVMs hammer one root x3 rounds: every
  * record must land, none overwritten, and the kernel releases the lock
  * with the process — no stale-lock protocol to test. */
class CrossProcessLockSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot() =
    s"/tmp/graft_xproc_lock/${java.util.UUID.randomUUID()}"

  private val opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(m => Seq(s"--add-opens=$m=ALL-UNNAMED"))

  private def spawnRacer(root: String, n: Int, log: java.io.File): Process = {
    def dirOf(c: Class[_]) = c.getProtectionDomain.getCodeSource.getLocation.getPath
    // the engine's classes plus the test classes, where CommitRacer lives
    val classes = Seq(classOf[Versioned.CommitRejected], classOf[CrossProcessLockSpec])
      .map(dirOf).distinct.mkString(":")
    val cmd = (Seq("java", "-Xmx2g") ++ opens ++ Seq(
      "-cp", s"/opt/spark/jars/*:$classes",
      "graft.io.CommitRacer", root, n.toString)).toArray
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
  }

  test("two racing JVMs x3 rounds: every metadata commit lands, none lost") {
    for (round <- 1 to 3) {
      val root = newRoot()
      Versioned.commit(spark, root, Seq((1L, "base")).toDF("id", "s"))
      val n = 8
      val l1 = java.io.File.createTempFile("racer1", ".log")
      val l2 = java.io.File.createTempFile("racer2", ".log")
      val p1 = spawnRacer(root, n, l1)
      val p2 = spawnRacer(root, n, l2)
      assert(p1.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
        p2.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        s"round $round: racer timed out")
      def slurp(f: java.io.File) =
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(p1.exitValue() == 0 && slurp(l1).contains("RACER_DONE"),
        s"round $round racer1:\n${slurp(l1).takeRight(2000)}")
      assert(p2.exitValue() == 0 && slurp(l2).contains("RACER_DONE"),
        s"round $round racer2:\n${slurp(l2).takeRight(2000)}")
      // the defect signature was a LOST record: both processes renaming
      // the same version number, one overwriting the other — the head
      // would then land short of 1 + 2n
      val head = Versioned.currentVersion(spark, root)
      assert(head == 1 + 2 * n, s"round $round: head=$head, lost a record")
      (1 to head).foreach { v =>
        assert(Versioned.manifest(spark, root, v).nonEmpty,
          s"round $round: version $v unreadable")
      }
      assert(Versioned.readAt(spark, root, head).count() == 1)
    }
  }
}
