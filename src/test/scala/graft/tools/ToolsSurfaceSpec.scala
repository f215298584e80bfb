package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard on the dev-tool surface, no Spark: every object under
  * `src/main/scala/graft/tools` is named where someone finds and runs
  * it — the README, a skill recipe, or a spec. A one-off probe whose
  * findings live only in a ledger belongs in that ledger, not in main
  * code. */
class ToolsSurfaceSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }

  test("every graft.tools object is named in the README, a skill " +
      "recipe or a spec") {
    val objectDecl = """(?m)^object\s+(\w+)""".r
    val tools = scalaFiles(Paths.get("src/main/scala/graft/tools"))
      .flatMap(f =>
        objectDecl.findAllMatchIn(Files.readString(f)).map(_.group(1)))
    assert(tools.nonEmpty, "no tool objects found: wrong working dir?")

    val skills = Paths.get(".claude/skills")
    val skillDocs =
      if (!Files.isDirectory(skills)) Nil
      else {
        val s = Files.list(skills)
        try s.iterator().asScala.map(_.resolve("SKILL.md"))
          .filter(Files.isRegularFile(_)).toSeq
        finally s.close()
      }
    val self = "ToolsSurfaceSpec.scala"
    val specs = scalaFiles(Paths.get("src/test"))
      .filterNot(_.getFileName.toString == self)
    val docs = (Paths.get("README.md") +: skillDocs ++: specs)
      .map(Files.readString(_))

    val unnamed = tools.filterNot { t =>
      val word = s"\\b$t\\b".r
      docs.exists(d => word.findFirstIn(d).nonEmpty)
    }
    assert(unnamed.isEmpty,
      s"tools named nowhere a reader would find them: ${unnamed.mkString(", ")}")
  }
}
