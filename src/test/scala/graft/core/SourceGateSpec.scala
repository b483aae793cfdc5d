package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

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

  /** `file:line: text` of every `src/main` line matching `raw`, outside the
    * files named in `owners`. */
  private def hits(raw: Regex, owners: Set[String] = Set.empty): Seq[String] = for {
    p <- mainSources if !owners.contains(p.getFileName.toString)
    (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
    if raw.findFirstIn(line).isDefined
  } yield s"$p:${i + 1}: ${line.trim}"

  test("no raw Knuth multiply on unbounded ids (overflows BIGINT under ANSI)") {
    // `id * 2654435761` leaves the Long range once id > ~3.5e9; derive
    // per-id draws from mix64 (modular by construction) instead
    val found = hits("""\*\s*2654435761""".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("fixture tables are read through TableIO.read, not a schemaless read.parquet") {
    // a schemaless `spark.read.parquet` runs a footer-inference job per
    // call; TableIO.read memoizes the inferred schema and readAsOf takes the
    // manifest's, so no table of any kind is read around them
    val found = hits("""\.read\.parquet\(""".r, Set("TableIO.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("cell-key arithmetic goes through CellMath or Synth's SQL/Column twins") {
    // the packed key z:5|x:28|y:28 has one owner per engine; a hand-written
    // 2^28 multiply, divide or mask elsewhere is a second copy of the format
    val found = hits("""26843545[56]""".r, Set("CellMath.scala", "Synth.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("synthetic coordinates come from Synth's lattice twins") {
    // each fixture lattice (linear or quadratic scatter) has one SQL and one
    // Column twin in Synth; a hand-written multiplier elsewhere is a second
    // copy of a formula both engines must evaluate identically
    val found = hits("""7919|104729""".r, Set("Synth.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the event clock is written only as Synth's evUs/evUsSql twins") {
    // Spark's unix_micros and DuckDB's epoch_us must read events.ts as the
    // same integer microseconds; a hand-written copy of either side is a
    // second definition of the clock one engine could drift from
    val found = hits("""unix_micros|epoch_us""".r, Set("Synth.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the events table is read only through Synth.events and Synth.eventCount") {
    // one owner adds the clock column every events query orders and buckets by
    val found = hits("""events\.parquet""".r, Set("Synth.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("sessions are built only in GraftSession") {
    // one owner decides what a launcher's --master and --conf may override
    val found = hits("""SparkSession\.builder""".r, Set("GraftSession.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** [[hits]] of `raw` outside the one line of TextOps that defines `owner`. */
  private def hitsBesides(raw: Regex, owner: String): Seq[String] =
    hits(raw).filterNot(h => h.contains("TextOps.scala:") && h.contains(s": final val $owner = "))

  test("the curation eval slice's modulus 41L is written only as TextOps.EvalMod") {
    // CurationJob, Bench and every eval-slice operator read the constant;
    // a second literal would let the gates and the oracle drift apart
    val found = hitsBesides("""\b41L\b""".r, "EvalMod")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the perplexity bound 3912000L is written only as TextOps.KeepBelowQ") {
    val found = hitsBesides("""\b3912000L\b""".r, "KeepBelowQ")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the run ledger is written and parsed only in Checkpoint") {
    // one `_lineage.jsonl` line format, one reader of the done units
    val found = hits("""_lineage\.jsonl""".r, Set("Checkpoint.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
