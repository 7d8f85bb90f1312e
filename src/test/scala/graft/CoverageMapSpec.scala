package graft

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md is the auditor's entry point into the operator map — a
  * green query that isn't listed there is coverage that can silently
  * rot (r4 verdict: 14 green queries were missing from the map). This
  * spec pins a one-to-one correspondence:
  *  - every `SparkEntry.queries` key appears in COVERAGE.md;
  *  - every `q_*` token in COVERAGE.md is a real query key (no stale
  *    rows surviving a rename).
  */
class CoverageMapSpec extends AnyFunSuite {

  private lazy val coverage =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")

  // q_stream_fanout is the bench-only streaming label (reported in the
  // bench `stream` block, not a SparkEntry query) — the one sanctioned
  // non-query token
  private val nonQueryTokens = Set("q_stream_fanout")

  test("every SparkEntry query key has a COVERAGE.md row") {
    val keys = SparkEntry.queries.keySet
    val missing = keys.filterNot(coverage.contains).toSeq.sorted
    assert(missing.isEmpty,
      s"queries missing from COVERAGE.md (${missing.size}): ${missing.mkString(", ")}")
  }

  test("every q_* token in COVERAGE.md is a live query key (no stale rows)") {
    val keys = SparkEntry.queries.keySet ++ nonQueryTokens
    val tokens = "q_[a-z0-9_]+".r.findAllIn(coverage).toSet
    val stale = tokens.filterNot(keys).toSeq.sorted
    assert(stale.isEmpty,
      s"COVERAGE.md references unknown queries (${stale.size}): ${stale.mkString(", ")}")
  }

  test("self-described query counts in COVERAGE.md and README.md match the ledger " +
    "(r5 hygiene: both entry points shipped stale counts)") {
    val n = SparkEntry.queries.size
    val covCount = """\((\d+) total\)""".r.findFirstMatchIn(coverage).map(_.group(1).toInt)
    assert(covCount.contains(n),
      s"COVERAGE.md header says ${covCount.getOrElse("<missing '(N total)'>")} queries, ledger has $n")
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val readmeCount = """driver contract: (\d+) queries, ALL (\d+)""".r
      .findFirstMatchIn(readme).map(m => (m.group(1).toInt, m.group(2).toInt))
    assert(readmeCount.contains((n, n)),
      s"README.md says ${readmeCount.getOrElse("<missing 'driver contract: N queries'>")}, ledger has $n")
  }

  /** Public top-level defs in the main files under `dirs` whose name
    * appears nowhere beyond its definition site (call site, codegen
    * template string, scaladoc link, spec), as `File.name`. Top-level
    * members only (2-space indent — deeper is a local helper). */
  private def deadDefs(dirs: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val main = Paths.get("src/main/scala/graft")
    val test = Paths.get("src/test/scala/graft")
    def scalaFiles(p: java.nio.file.Path) =
      Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    val all = (scalaFiles(main) ++ scalaFiles(test))
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8")).toMap
    val defRe = """(?m)^  def\s+([A-Za-z][A-Za-z0-9_]*)""".r
    val scoped = all.filter { case (path, _) =>
      path.startsWith(main.toString) && dirs.exists(d => path.contains(s"/$d/")) }
    for {
      (path, src) <- scoped.toSeq
      name <- defRe.findAllMatchIn(src).map(_.group(1)).distinct
      if !Set("apply", "unapply", "main", "toString", "equals", "hashCode").contains(name)
      refs = all.valuesIterator.map(s => name.r.findAllIn(s).size).sum
      if refs <= 1
    } yield s"${path.split('/').last}.$name"
  }

  test("no dead operators: every public def in operators/ and plans/ is referenced " +
    "outside its own file (r8 hygiene: ~440 LoC landed with zero call sites)") {
    val dead = deadDefs(Seq("operators", "plans"))
    assert(dead.isEmpty,
      s"public defs with zero references beyond their definition (${dead.size}): ${dead.sorted.mkString(", ")}")
  }

  test("no dead defs in core/, serving/, streaming/, functions/ or generator/ either") {
    val dead = deadDefs(Seq("core", "serving", "streaming", "functions", "generator"))
    assert(dead.isEmpty,
      s"public defs with zero references beyond their definition (${dead.size}): ${dead.sorted.mkString(", ")}")
  }

  test("every query key has a DuckDB oracle (the 130/130 invariant holds as the suite grows)") {
    val missing = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted
    assert(missing.isEmpty,
      s"queries without an oracle (${missing.size}): ${missing.mkString(", ")}")
    // and no orphaned oracle text surviving a query rename
    val orphans = (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).toSeq.sorted
    assert(orphans.isEmpty,
      s"oracles without a query (${orphans.size}): ${orphans.mkString(", ")}")
  }
}
