package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards on the engine's surface, no Spark. Every object under
  * `src/main/scala/graft/tools` is named where someone finds and runs
  * it — the README, a skill recipe, or a spec. A one-off probe whose
  * findings live only in a ledger belongs in that ledger, not in main
  * code. And main code reads no `graft.*` config key: a new one must
  * be an explicit edit of the literal allowlist below. */
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

  test("the only \"graft.\" string literals under src/main are the " +
      "step label key and the codegen'd normalize call: no config key") {
    val literal = """"(graft\.[\w.]*)""".r
    val found = scalaFiles(Paths.get("src/main/scala"))
      .flatMap(f =>
        literal.findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSet
    val allowed = Set("graft.step", "graft.functions.NormalizeText.normalize")
    assert(found == allowed,
      s"graft.* literal surface drifted: unexpected=${found -- allowed} " +
        s"gone=${allowed -- found}")
  }
}
