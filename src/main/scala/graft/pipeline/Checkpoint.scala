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
  * one part file per read split of the unit's estimated bytes
  * ([[bySplits]]), then
  * one line is appended to the dir's `_lineage.jsonl`: the unit key
  * (`"range": <id>` or `"stage": "<name>"`), the unit's own fields, then
  * `rows` (counted on the write), `wall_ms`, `ts` and `status` (README
  * "Sessions and the run ledger"). A restart skips every unit the ledger
  * marks done — zero recompute of finished units — and a resume under
  * another Hilbert range cut fails. A Hilbert range ([[runResumable]])
  * maps at cluster scale to a pruned scan of the sorted
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

  /** The ledger lines of the units of `key` that `outDir`'s ledger marks
    * done: id → line. */
  private def doneLines(outDir: String, key: String): Map[String, String] = {
    val p = Paths.get(outDir, Ledger)
    val unit = ("\"" + key + "\": \"?([a-z_0-9]+)").r
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains("\"status\": \"done\"")).flatMap { l =>
      unit.findFirstMatchIn(l).map(_.group(1) -> l)
    }.toMap
  }

  /** The units of `key` that `outDir`'s ledger marks done: id → rows. */
  def completed(outDir: String, key: String): Map[String, Long] =
    doneLines(outDir, key).flatMap { case (id, l) => Rows.findFirstMatchIn(l).map(id -> _.group(1).toLong) }

  def completedRanges(outDir: String): Set[Int] = completed(outDir, "range").keySet.map(_.toInt)

  /** One unit: its ledger id, its output dir under the run's, its own
    * ledger fields given the previous unit's rows (None for the first
    * unit), the frame it writes, and the share of that frame's estimated
    * bytes it holds. */
  private final case class UnitSpec(id: String, dir: String, fields: Option[Long] => String,
                                    frame: () => DataFrame, share: Double)

  /** `frame` coalesced to one partition per read split of its estimated
    * bytes b: `share` times the size in the optimizer's statistics of its
    * plan, so no job runs. The split is Spark's own for a read of b bytes
    * (`FilePartition.maxSplitBytes`): min(`spark.sql.files.maxPartitionBytes`,
    * max(`spark.sql.files.openCostInBytes`, b / the default parallelism)),
    * so a unit under one open cost writes one file and a larger one keeps
    * a task per core. A coalesce never adds partitions and adds no shuffle,
    * so the write stays one job; it is narrow, so the work before the write
    * runs in as many tasks. Every write task pays a Hadoop conf copy, a
    * committer set-up and file-system forks whatever its row count. */
  private def bySplits(frame: DataFrame, share: Double): DataFrame = {
    val conf = frame.sparkSession.sessionState.conf
    val cores = conf.filesMinPartitionNum.getOrElse(frame.sparkSession.sparkContext.defaultParallelism)
    val bytes = BigDecimal(frame.queryExecution.optimizedPlan.stats.sizeInBytes) * share
    val split = (bytes / cores).max(conf.filesOpenCostInBytes).min(conf.filesMaxPartitionBytes).max(1)
    frame.coalesce((bytes / split).setScale(0, BigDecimal.RoundingMode.CEILING).max(1).min(Int.MaxValue).toInt)
  }

  /** Write every unit the ledger does not mark done, in order; `failAfter`
    * injects a crash after N newly written units (the kill-and-resume test
    * hook). Each unit's row count rides on its write (one job per unit, no
    * re-read), sized by [[bySplits]]. Returns the ids written this run. */
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
        bySplits(u.frame(), u.share).observe(written, count(lit(1)).as("rows"))
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

  /** Run `makeSlice(lo, hi)` for every not-yet-completed range, each sized
    * as its width's share of the cut: Spark's statistics give a filter its
    * input's size, so a slice's plan estimates the whole frame. Returns ids
    * processed this run. Fails with an IllegalStateException naming the
    * range when a range the ledger marks done is not one of `ranges` with
    * the same `[lo, hi)`: [[readAll]] would read its rows next to the new
    * cut's, twice where the two overlap. */
  def runResumable(spark: SparkSession,
                   makeSlice: (Long, Long) => DataFrame,
                   ranges: Seq[RangeSpec],
                   outDir: String,
                   failAfter: Option[Int] = None): Seq[Int] = {
    def own(r: RangeSpec) = s""""lo": ${r.lo}, "hi": ${r.hi}, """
    val asked = ranges.map(r => r.id.toString -> r).toMap
    doneLines(outDir, "range").toSeq.sortBy(_._1.toInt).foreach { case (id, line) =>
      val cut = asked.get(id)
      if (!cut.exists(r => line.contains(own(r))))
        throw new IllegalStateException(s"range $id is done in $outDir under another cut (ledger: $line); " +
          s"this run asks for ${cut.fold("no range")(r => s"[${r.lo}, ${r.hi})")} as range $id")
    }
    val width = ranges.map(r => (r.hi - r.lo).toDouble).sum
    run(outDir, "range", ranges.map(r => UnitSpec(r.id.toString, s"range=${r.id}",
      _ => own(r), () => makeSlice(r.lo, r.hi), (r.hi - r.lo) / width)), failAfter)
      .map(_.toInt)
  }

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
        () => { val out = apply(in); written += name -> out.schema; out }, share = 1.0)
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
