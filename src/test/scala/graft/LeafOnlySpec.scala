package graft

import org.scalatest.funsuite.AnyFunSuite

/** Outside `core/` a frame is cut or shared only as a [[graft.core.Lineage]]
  * leaf. Raw `persist`/`cache`/`unpersist`/`checkpoint` beside the leaf
  * brought three bug classes: legs of one plan racing to fill a lazy
  * cache, planning blowups from large cached plans re-analyzed per
  * action, and cascade invalidation when a cache under a live plan was
  * dropped. This spec fails on any such call in the main sources and
  * names each by `file:line`. */
class LeafOnlySpec extends AnyFunSuite {

  test("no persist/cache/unpersist/checkpoint outside core/: frames are cut as Lineage leaves") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val main = Paths.get("src/main/scala/graft")
    val raw = """\.persist\(|\.cache\(\)|unpersist|localCheckpoint|\.checkpoint\(""".r
    val files = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.toString.contains("/core/")).toList
    assert(files.nonEmpty, s"no sources found under $main")
    val offenders = for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if raw.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: $code"
    assert(offenders.isEmpty,
      s"raw cache/checkpoint calls outside core/ (${offenders.size}) — cut with " +
        s"Lineage.truncate and free with DatasetBridge.release:\n${offenders.sorted.mkString("\n")}")
  }
}
