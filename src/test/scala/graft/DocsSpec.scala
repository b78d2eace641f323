package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The docs name only code that exists: a deleted main or source file must
  * take its README layout row and its `runMain` commands with it. */
class DocsSpec extends AnyFunSuite {

  private def read(p: String): String = Files.readString(Paths.get(p))

  test("every file in README's layout block exists under src/main/scala/graft") {
    val readme = read("README.md")
    val block = readme.split("## Layout", 2)(1).split("```")(1)
    val files = """[\w/]+\.scala""".r.findAllIn(block).toSeq
    assert(files.nonEmpty)
    val missing = files.filterNot(f => Files.exists(Paths.get("src/main/scala/graft", f)))
    assert(missing.isEmpty, s"README layout names missing files: $missing")
  }

  test("every `runMain graft.X` in the docs names a main that exists") {
    val docs = Seq("README.md", "CLAUDE.md", ".claude/skills/verify/SKILL.md")
    val mains = docs.flatMap(d => """runMain graft\.(\w+)""".r.findAllMatchIn(read(d)).map(_.group(1)))
    assert(mains.nonEmpty)
    val missing = mains.distinct.filterNot(m => scala.util.Try(Class.forName(s"graft.$m$$")).isSuccess)
    assert(missing.isEmpty, s"docs run mains that do not exist: $missing")
  }
}
