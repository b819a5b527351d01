package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** `Lab` rejects every bad argument in its pure parse, before a session
  * starts: a flag missing its value, an unknown flag, a malformed
  * `--conf` and a name that is not a query. */
class LabArgsSpec extends AnyFunSuite {
  private val known = Set("q1", "q2")
  private def parse(args: String*) = Lab.parseArgs(args, known, Some("sf"))
  private def rejects(args: String*): String =
    intercept[IllegalArgumentException](parse(args: _*)).getMessage

  test("well-formed arguments parse in any order") {
    val a = parse("q1", "--reps", "3", "q2", "--sf", "dir", "--partitions", "8",
      "--conf", "k=v=w", "--conf", "x=")
    assert(a === Lab.Args(Seq("q1", "q2"), "dir", 3, 8, Seq("k" -> "v=w", "x" -> "")))
    assert(parse("q2") === Lab.Args(Seq("q2"), "sf", 1, 32, Nil))
  }

  test("a flag missing its value is rejected") {
    assert(rejects("q1", "--reps").contains("--reps needs a value"))
    assert(rejects("q1", "--sf", "--reps", "2").contains("--sf needs a value"))
  }

  test("an unknown flag is rejected, not taken as query names") {
    assert(rejects("q1", "--repss", "2").contains("unknown flag --repss"))
    assert(rejects("q1", "--cold").contains("unknown flag --cold"))
  }

  test("a malformed --conf is rejected") {
    assert(rejects("q1", "--conf", "novalue").contains("key=value"))
    assert(rejects("q1", "--conf", "=v").contains("key=value"))
  }

  test("a bad count is rejected") {
    assert(rejects("q1", "--reps", "two").contains("positive integer"))
    assert(rejects("q1", "--partitions", "0").contains("positive integer"))
  }

  test("names outside the query registry are rejected") {
    assert(rejects("q1", "q3").contains("unknown query 'q3'"))
    assert(rejects("--reps", "2").contains("no query named"))
    val real = Lab.parseArgs(Seq("neardup_survivors"), SparkEntry.queries.contains, Some("sf"))
    assert(real.queries === Seq("neardup_survivors"))
    intercept[IllegalArgumentException] {
      Lab.parseArgs(Seq("neardup_survivorz"), SparkEntry.queries.contains, Some("sf"))
    }
  }

  test("no corpus directory is rejected") {
    val e = intercept[IllegalArgumentException](Lab.parseArgs(Seq("q1"), known, None))
    assert(e.getMessage.contains("--sf"))
  }
}
