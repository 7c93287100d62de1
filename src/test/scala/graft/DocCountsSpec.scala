package graft

import org.scalatest.funsuite.AnyFunSuite

/** Doc-check (advice-r14): README's driver-contract counts must track the
  * actual `SparkEntry` maps — the r14 diff grew `queries` without the
  * oracle count following. Derives both numbers from the maps so the doc
  * can never drift silently again. */
class DocCountsSpec extends AnyFunSuite {

  private lazy val readme = {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    try src.mkString finally src.close()
  }

  private def firstInt(pattern: String): Int = {
    val m = pattern.r.findFirstMatchIn(readme)
    assert(m.isDefined, s"README.md no longer contains /$pattern/")
    m.get.group(1).toInt
  }

  test("README query count matches SparkEntry.queries") {
    assert(firstInt("""\((\d+) named queries\)""") === SparkEntry.queries.size)
  }

  test("README oracle count matches SparkEntry.oracleSql") {
    assert(firstInt("""\((\d+) DuckDB-equivalent SQL strings""") ===
      SparkEntry.oracleSql.size)
  }

  test("README crosscheck comment matches the oracle count") {
    assert(firstInt("""# (\d+) ok, 0 fail""") === SparkEntry.oracleSql.size)
  }

  test("README's Mains: line names exactly the objects under src/main that define a main") {
    val para = """(?s)Mains:(.*?)\n\s*\n""".r.findFirstMatchIn(readme)
    assert(para.isDefined, "README.md no longer has a Mains: paragraph")
    val named = """`(graft(?:\.\w+)+)""".r.findAllMatchIn(para.get.group(1)).map(_.group(1)).toSet
    val defined = MainSources.files.flatMap { f =>
      val text = MainSources.text(f)
      val pkg = """(?m)^package ([\w.]+)""".r.findFirstMatchIn(text).map(_.group(1) + ".")
      """\bdef main\(""".r.findAllMatchIn(text).map { m =>
        val obj = """\bobject (\w+)""".r.findAllMatchIn(text.take(m.start)).toSeq.last.group(1)
        pkg.getOrElse("") + obj
      }
    }.toSet
    assert(defined.nonEmpty)
    assert(named === defined)
  }

  test("every query has an oracle (the r14 gate invariant: zero rows-only)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracles: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }
}
