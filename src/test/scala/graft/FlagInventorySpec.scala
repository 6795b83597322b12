package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every `graft.*` system property the engine reads is documented in
  * README's "Engine flags" table, and every row of that table names a
  * key the engine reads: a new knob cannot land without a stated reason,
  * and a deleted one cannot leave a stale row. */
class FlagInventorySpec extends AnyFunSuite {

  private val Read = """sys\.props(?:\.get|\.getOrElse|\.contains)?\(\s*"(graft\.[^"]+)"""".r
  private val Row = """^\|\s*`(graft\.[^`]+)`\s*\|""".r

  private def sources(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("graft.* keys read in src/main/scala == README engine-flag table") {
    val read = sources(Paths.get("src/main/scala")).flatMap { p =>
      Read.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val documented = readme.flatMap(l => Row.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(read.nonEmpty, "no graft.* property reads found")
    assert(read -- documented == Set.empty, "keys read but missing from README")
    assert(documented -- read == Set.empty, "README rows for keys nothing reads")
  }
}
