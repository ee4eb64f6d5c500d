package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every `graft.tools` main must have a caller that runs it: a test, the
  * README, the verify skill or the `floors.json` regeneration note. A
  * tool that only a comment names is dead code; its measurement belongs
  * in SCALE.md and its source in git history. */
class ToolsSpec extends AnyFunSuite {

  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  test("every tool under graft/tools is run by a test, the README, the verify skill or floors.json") {
    val tools = files("src/main/scala/graft/tools")
      .map(_.getFileName.toString).filter(_.endsWith(".scala"))
      .map(_.stripSuffix(".scala")).sorted
    assert(tools.nonEmpty, "tests run from the repository root")
    val callers = (files("src/test") ++
      Seq("README.md", ".claude/skills/verify/SKILL.md", "floors.json")
        .map(Paths.get(_)).filter(Files.exists(_)))
      .map(Files.readString).mkString("\n")
    val unrun = tools.filterNot(t =>
      s"\\bgraft\\.tools\\.$t\\b".r.findFirstIn(callers).isDefined)
    assert(unrun.isEmpty,
      s"${unrun.size} tools have no caller: ${unrun.mkString(", ")}")
  }

  test("stored tables are written, looked up and given properties only in Bucketing and Compact") {
    val owners = Set("src/main/scala/graft/sources/Bucketing.scala",
      "src/main/scala/graft/sources/Compact.scala")
    val spellings = Seq("saveAsTable", "getTableMetadata", "SET TBLPROPERTIES")
    val sources = files("src/main").filter(_.toString.endsWith(".scala"))
    assert(sources.nonEmpty, "tests run from the repository root")
    val strays = for {
      f <- sources if !owners(f.toString)
      text = Files.readString(f)
      s <- spellings if text.contains(s)
    } yield s"$f: $s"
    assert(strays.isEmpty, s"stored-table spellings outside Bucketing/Compact: ${strays.mkString("; ")}")
  }
}
