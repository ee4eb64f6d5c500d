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

  /** `text` without the body of `object <name> {`, matched by braces. */
  private def withoutObject(text: String, name: String): Option[String] = {
    val start = text.indexOf(s"object $name {")
    if (start < 0) None
    else {
      var depth = 0
      var i = text.indexOf('{', start)
      do {
        if (text(i) == '{') depth += 1 else if (text(i) == '}') depth -= 1
        i += 1
      } while (depth > 0)
      Some(text.take(start) + text.drop(i))
    }
  }

  test("the nearest-centroid step is spelled only in Similarity's Nearest toolkit") {
    val similarity = Files.readString(Paths.get("src/main/scala/graft/llm/Similarity.scala"))
    val rest = withoutObject(similarity, "Nearest")
    assert(rest.isDefined, "Similarity.scala must hold the Nearest toolkit")
    val sources = Seq("src/main/scala/graft/llm/Similarity.scala" -> rest.get,
      "src/main/scala/graft/sources/IvfIndex.scala" ->
        Files.readString(Paths.get("src/main/scala/graft/sources/IvfIndex.scala")))
    val spellings = Seq("min(struct(", "def sq(", "pqSq", "VectorMeanAggregator.vecMean")
    val strays = for ((f, text) <- sources; s <- spellings if text.contains(s)) yield s"$f: $s"
    assert(strays.isEmpty, s"nearest-centroid spellings outside the toolkit: ${strays.mkString("; ")}")
  }

  test("the graph loops checkpoint, persist and release only through Rounds") {
    val code = Seq("Iterative", "Triangles", "Anf").map { f =>
      val path = s"src/main/scala/graft/graph/$f.scala"
      path -> Files.readString(Paths.get(path))
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    }
    val spellings = Seq("localCheckpoint", "persist(", "unpersist", "Checkpoints.release")
    val strays = for ((f, text) <- code; s <- spellings if text.contains(s)) yield s"$f: $s"
    assert(strays.isEmpty, s"lifecycle spellings outside Rounds: ${strays.mkString("; ")}")
  }
}
