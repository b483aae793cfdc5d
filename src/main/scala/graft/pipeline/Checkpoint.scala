package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Resumable per-cell-range checkpointing (SURVEY.md §2.A6; north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * The Hilbert-ordered cell-key space is cut into `ranges` contiguous
  * slices; each slice is written as its own parquet subdir and appended to
  * `_lineage.jsonl` (range id, bounds, row count, wall ms, attempt
  * timestamp). A restart reads the lineage, anti-joins the completed range
  * ids, and only processes the remainder — zero recompute of finished
  * ranges. At cluster scale each slice maps to a pruned scan of the sorted
  * index (file min/max on hkey), so a slice never rescans the whole input.
  */
object Checkpoint {

  final case class RangeSpec(id: Int, lo: Long, hi: Long) // [lo, hi)

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

  def completedRanges(outDir: String): Set[Int] = {
    val p = Paths.get(outDir, "_lineage.jsonl")
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p).asScala
      .filter(_.contains("\"status\": \"done\""))
      .flatMap { l =>
        "\"range\": (\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt)
      }.toSet
  }

  /** Run `makeSlice(lo, hi)` for every not-yet-completed range and persist
    * results + lineage. `failAfter` injects a crash after N slices (test
    * hook for the kill-and-resume contract). Returns ids processed this run. */
  def runResumable(spark: SparkSession,
                   makeSlice: (Long, Long) => DataFrame,
                   ranges: Seq[RangeSpec],
                   outDir: String,
                   failAfter: Option[Int] = None): Seq[Int] = {
    Files.createDirectories(Paths.get(outDir))
    val done = completedRanges(outDir)
    val pending = ranges.filterNot(r => done.contains(r.id))
    var processed = List.empty[Int]
    pending.foreach { r =>
      if (failAfter.exists(processed.length >= _))
        throw new RuntimeException(s"injected failure after ${processed.length} ranges")
      val t0 = System.nanoTime()
      // the row count rides on the slice write (one job per range, no re-read)
      val written = new Observation(s"range-${r.id}")
      makeSlice(r.lo, r.hi).observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$outDir/range=${r.id}")
      val rows = written.get("rows")
      val ms = (System.nanoTime() - t0) / 1000000
      graft.index.TableIO.appendLine(s"$outDir/_lineage.jsonl",
        s"""{"range": ${r.id}, "lo": ${r.lo}, "hi": ${r.hi}, "rows": $rows, "wall_ms": $ms, "ts": ${System.currentTimeMillis()}, "status": "done"}""")
      processed ::= r.id
    }
    processed.reverse
  }

  /** Union of the completed range outputs: the directories of the ranges
    * `_lineage.jsonl` marks done, read by name (a `range=*` glob would also
    * pick up a range whose write was killed before its lineage line). Fails
    * when no range is done. */
  def readAll(spark: SparkSession, outDir: String): DataFrame = {
    val done = completedRanges(outDir).toSeq.sorted
    if (done.isEmpty)
      throw new IllegalStateException(s"no completed range in $outDir: _lineage.jsonl marks none done")
    spark.read.parquet(done.map(id => s"$outDir/range=$id"): _*)
  }
}
