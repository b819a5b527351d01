package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.tools.<Name>` the README and the verify skill name is a
  * main that exists, so deleting a tool fails here until its docs follow.
  * SCALE.md is a history of measurements and may name retired tools. */
class DocToolsSpec extends AnyFunSuite {
  test("docs name only graft.tools mains that load") {
    val named = Seq("README.md", ".claude/skills/verify/SKILL.md").flatMap { doc =>
      val text = new String(Files.readAllBytes(Paths.get(doc)), UTF_8)
      """graft\.tools\.([A-Z]\w*)""".r.findAllMatchIn(text).map(m => doc -> m.group(1))
    }.distinct
    assert(named.map(_._2).contains("Lab"), s"expected the Lab runner among $named")
    val missing = named.filter { case (_, n) =>
      scala.util.Try(Class.forName(s"graft.tools.$n$$", false, getClass.getClassLoader)).isFailure
    }
    assert(missing.isEmpty, s"docs name tools that do not exist: $missing")
  }
}
