package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.index.TableIO

/** Resumable units of work and their run ledger (SURVEY.md §2.A6; north
  * rule: "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Each unit is written as its own parquet subdir of the run's output dir,
  * then one line is appended to the dir's `_lineage.jsonl`: the unit key
  * (`"range": <id>` or `"stage": "<name>"`), the unit's own fields, then
  * `rows` (counted on the write), `wall_ms`, `ts` and `status` (README
  * "Sessions and the run ledger"). A restart skips every unit the ledger
  * marks done — zero recompute of finished units. A Hilbert range
  * ([[runResumable]]) maps at cluster scale to a pruned scan of the sorted
  * index (file min/max on hkey), so a slice never rescans the whole input;
  * a stage ([[runStages]]) reads the previous stage's table.
  */
object Checkpoint {

  final case class RangeSpec(id: Int, lo: Long, hi: Long) // [lo, hi)

  private val Ledger = "_lineage.jsonl"
  private val Rows = "\"rows\": (\\d+)".r

  /** Equal-width slices of the Hilbert domain [0, 4^z). Balanced enough for
    * the synthetic fixtures; production would cut on approxQuantile of the
    * observed hkey distribution instead (same lineage contract). */
  def uniformRanges(z: Int, n: Int): Seq[RangeSpec] = {
    val domain = 1L << (2 * z)
    val step = math.max(domain / n, 1L)
    (0 until n).map { i =>
      val lo = i * step
      val hi = if (i == n - 1) domain else (i + 1) * step
      RangeSpec(i, lo, hi)
    }
  }

  /** The units of `key` that `outDir`'s ledger marks done: id → rows. */
  def completed(outDir: String, key: String): Map[String, Long] = {
    val p = Paths.get(outDir, Ledger)
    val unit = ("\"" + key + "\": \"?([a-z_0-9]+)").r
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains("\"status\": \"done\"")).flatMap { l =>
      for (u <- unit.findFirstMatchIn(l); r <- Rows.findFirstMatchIn(l)) yield u.group(1) -> r.group(1).toLong
    }.toMap
  }

  def completedRanges(outDir: String): Set[Int] = completed(outDir, "range").keySet.map(_.toInt)

  /** One unit: its ledger id, its output dir under the run's, its own
    * ledger fields given the previous unit's rows (None for the first
    * unit), and the frame it writes. */
  private final case class UnitSpec(id: String, dir: String, fields: Option[Long] => String,
                                    frame: () => DataFrame)

  /** Write every unit the ledger does not mark done, in order; `failAfter`
    * injects a crash after N newly written units (the kill-and-resume test
    * hook). Each unit's row count rides on its write (one job per unit, no
    * re-read). Returns the ids written this run. */
  private def run(outDir: String, key: String, units: Seq[UnitSpec], failAfter: Option[Int]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val done = completed(outDir, key)
    var prev = Option.empty[Long]
    var processed = List.empty[String]
    units.foreach { u =>
      prev = done.get(u.id).orElse {
        if (failAfter.exists(processed.length >= _))
          throw new RuntimeException(s"injected failure after ${processed.length} units")
        val t0 = System.nanoTime()
        val own = u.fields(prev)
        val written = new Observation(s"$key-${u.id}")
        u.frame().observe(written, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(s"$outDir/${u.dir}")
        val rows = written.get("rows").asInstanceOf[Long]
        val ms = (System.nanoTime() - t0) / 1000000
        val id = if (u.id.forall(_.isDigit)) u.id else TableIO.q(u.id)
        TableIO.appendLine(s"$outDir/$Ledger",
          s"""{"$key": $id, $own"rows": $rows, "wall_ms": $ms, "ts": ${System.currentTimeMillis()}, "status": "done"}""")
        processed ::= u.id
        Some(rows)
      }
    }
    processed.reverse
  }

  /** Run `makeSlice(lo, hi)` for every not-yet-completed range. Returns ids
    * processed this run. */
  def runResumable(spark: SparkSession,
                   makeSlice: (Long, Long) => DataFrame,
                   ranges: Seq[RangeSpec],
                   outDir: String,
                   failAfter: Option[Int] = None): Seq[Int] =
    run(outDir, "range", ranges.map(r => UnitSpec(r.id.toString, s"range=${r.id}",
      _ => s""""lo": ${r.lo}, "hi": ${r.hi}, """, () => makeSlice(r.lo, r.hi))), failAfter)
      .map(_.toInt)

  /** Run every not-yet-completed stage of the chain over `input`, each over
    * the previous stage's table. Only the first stage counts its input
    * (`rows_in`); later stages take the previous stage's `rows`. A stage
    * reads the table this run just wrote with the schema of the frame it
    * wrote, so no read infers a schema; only a resumed run's first pending
    * stage reads its input through [[TableIO.read]]. Returns the stage
    * names processed this run. */
  def runStages(spark: SparkSession, input: DataFrame, stages: Seq[(String, DataFrame => DataFrame)],
                outDir: String, failAfter: Option[Int] = None): Seq[String] = {
    var written = Map.empty[String, StructType] // stage → schema of the frame this run wrote
    run(outDir, "stage", stages.zipWithIndex.map { case ((name, apply), i) =>
      def in = if (i == 0) input else {
        val prevStage = stages(i - 1)._1
        val dir = s"$outDir/stage=$prevStage"
        written.get(prevStage).fold(TableIO.read(spark, dir))(spark.read.schema(_).parquet(dir))
      }
      UnitSpec(name, s"stage=$name", prev => s""""rows_in": ${prev.getOrElse(in.count())}, """,
        () => { val out = apply(in); written += name -> out.schema; out })
    }, failAfter)
  }

  /** Union of the completed range outputs: the directories of the ranges
    * `_lineage.jsonl` marks done, read by name (a `range=*` glob would also
    * pick up a range whose write was killed before its lineage line). Fails
    * when no range is done. */
  def readAll(spark: SparkSession, outDir: String): DataFrame = {
    val done = completedRanges(outDir).toSeq.sorted
    if (done.isEmpty)
      throw new IllegalStateException(s"no completed range in $outDir: _lineage.jsonl marks none done")
    TableIO.read(spark, done.map(id => s"$outDir/range=$id"): _*)
  }
}
