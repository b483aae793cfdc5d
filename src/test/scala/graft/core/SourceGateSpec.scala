package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level gates over `src/main`: patterns that compile and pass the
  * fixtures but break at the id ranges the design claims. */
class SourceGateSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root (no ${root.toAbsolutePath})")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no raw Knuth multiply on unbounded ids (overflows BIGINT under ANSI)") {
    // `id * 2654435761` leaves the Long range once id > ~3.5e9; derive
    // per-id draws from mix64 (modular by construction) instead
    val raw = """\*\s*2654435761""".r
    val hits = for {
      p <- mainSources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("fixture tables are read through TableIO.read, not a schemaless read.parquet") {
    // a schemaless `spark.read.parquet` runs a footer-inference job per
    // call; TableIO.read memoizes the inferred schema
    val raw = """read\.parquet\(s"\$\{?(sfDir|d)\}?/""".r
    val hits = for {
      p <- mainSources if p.getFileName.toString != "TableIO.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
