package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every environment dial the code, tests, tools and build read has
  * exactly one row in README's "Environment dials" table, and the table
  * lists no dial that nothing reads any more. */
class DialInventorySpec extends AnyFunSuite {

  // assembled, so this file's own text names no dial
  private val dial = ("SPARK" + "_GRAFT_" + "[A-Z0-9_]+").r

  private val roots = Seq("src/main/scala", "src/test/scala", "tools",
    "build.sbt", "perfbench/src")

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }

  private def dialsIn(text: String): Set[String] =
    dial.findAllIn(text).toSet

  private def readmeRows: Seq[Set[String]] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala
    lines.dropWhile(_.trim != "### Environment dials").drop(1)
      .takeWhile(!_.startsWith("#"))
      .filter(_.startsWith("|"))
      .map(row => dialsIn(row.split('|')(1)))
      .filter(_.nonEmpty).toSeq
  }

  test("every dial read has exactly one README row, and every row a reader") {
    val read = roots.flatMap(r => files(Paths.get(r)))
      .flatMap(f => dialsIn(Files.readString(f))).toSet
    val rows = readmeRows
    assert(rows.nonEmpty, "README has no Environment dials table")
    val documented = rows.flatten
    val twice = documented.groupBy(identity).collect {
      case (n, xs) if xs.size > 1 => n
    }
    assert(twice.isEmpty, s"dials with more than one README row: $twice")
    val undocumented = read -- documented
    val retired = documented.toSet -- read
    assert(undocumented.isEmpty && retired.isEmpty,
      s"read but not in README: ${undocumented.toSeq.sorted}; " +
        s"in README but read nowhere: ${retired.toSeq.sorted}")
  }
}
