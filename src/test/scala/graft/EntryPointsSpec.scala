package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The engine ships exactly two entry points: `graft.Bench` (the timed
  * run) and `graft.Verify` (the correctness dump).  Development drivers
  * belong in the tests or in `perfbench/`, not in the engine sources. */
class EntryPointsSpec extends AnyFunSuite {

  private val ObjectDecl = """\bobject\s+(\w+)""".r
  private val MainDecl = """\bdef\s+main\s*\(""".r
  private val AppDecl = """\bobject\s+(\w+)[^{]*\bextends\s+App\b""".r
  private val PackageDecl = """(?m)^\s*package\s+([\w.]+)""".r

  /** Fully qualified names of the objects in `src` that declare `def main`
    * or extend `App`. */
  private def mains(src: String): Seq[String] = {
    val pkg = PackageDecl.findAllMatchIn(src).map(_.group(1)).mkString(".")
    def qualified(name: String) = if (pkg.isEmpty) name else s"$pkg.$name"
    val objects = ObjectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    val withMain = MainDecl.findAllMatchIn(src).flatMap { m =>
      objects.filter(_._1 < m.start).lastOption.map(_._2)
    }
    (withMain ++ AppDecl.findAllMatchIn(src).map(_.group(1))).map(qualified).toSeq
  }

  test("src/main declares exactly two mains: graft.Bench and graft.Verify") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val files = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList)
    val found = files.flatMap((p: Path) => mains(Files.readString(p))).sorted
    assert(found == Seq("graft.Bench", "graft.Verify"))
  }
}
