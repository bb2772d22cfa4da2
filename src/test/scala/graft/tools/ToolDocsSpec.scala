package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Doc-drift guard: every `runMain graft.<Name>` command the docs hand a
  * reader must name a main that still exists, so deleting or renaming a
  * tool without updating the docs fails here instead of in a reader's
  * shell. A `ContestRun` command must also start with a mode its `main`
  * accepts. */
class ToolDocsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md", "PLANS.md")
  private val RunMain = """runMain\s+(graft\.[A-Za-z0-9_.]+)""".r
  private val ContestRunCmd = """runMain\s+graft\.tools\.ContestRun\b([^"\n]*)""".r

  private def read(doc: String): String =
    new String(Files.readAllBytes(Paths.get(doc)), StandardCharsets.UTF_8)

  test("every runMain class named in the docs loads and has a main") {
    val named = docs.flatMap { doc =>
      RunMain.findAllMatchIn(read(doc)).map(m => doc -> m.group(1).stripSuffix("."))
    }
    val classes = named.map(_._2).distinct
    assert(classes.size >= 5, s"only ${classes.size} runMain commands found in $docs")
    val broken = named.filterNot { case (_, cls) =>
      try {
        Class.forName(cls, false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]])
        true
      } catch {
        case _: ClassNotFoundException | _: NoSuchMethodException => false
      }
    }
    assert(broken.isEmpty, s"docs name mains that do not exist: ${broken.mkString(", ")}")
  }

  test("every runMain graft.tools.ContestRun command in the docs names a mode main accepts") {
    // the modes are the ones main's own usage message lists
    val usage = intercept[IllegalArgumentException](ContestRun.main(Array.empty)).getMessage
    val modes = """ContestRun (\w+)""".r.findAllMatchIn(usage).map(_.group(1)).toSet
    assert(modes.nonEmpty, usage)
    val cmds = docs.flatMap(doc => ContestRunCmd.findAllMatchIn(read(doc))
      .map(m => doc -> m.group(1).trim))
    assert(cmds.nonEmpty, s"no ContestRun command found in $docs")
    val bad = cmds.filterNot { case (_, args) => modes(args.split("\\s+").head) }
    assert(bad.isEmpty, s"ContestRun commands without a gen/scale mode: ${bad.mkString(", ")}")
  }
}
