package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.ops.Geocode
import graft.pipeline.Checkpoint
import graft.synth.Synth

/** The production job shape the north rule describes: forward geocode over
  * the pages table, written per Hilbert cell-range with lineage so a killed
  * run resumes without recomputing completed ranges; launched via
  * spark-submit (`--class graft.jobs.ForwardJob <jar> <sfDir> <outDir>`).
  *
  * Range key = Hilbert order of each result's z8 ancestor cell, so output
  * files are spatially clustered (downstream tile readers scan contiguous
  * ranges) and the resume bookkeeping is zoom-independent.
  */
object ForwardJob {

  /** Hilbert ranges per run. */
  private val NRanges = 8

  def run(spark: SparkSession, sfDir: String, outDir: String,
          failAfter: Option[Int] = None): Seq[Int] =
    runRanges(spark, Geocode.forward(Synth.docPages(spark, sfDir), Synth.gazDf(spark))
      .withColumn("hkey", F.hilbertCell(F.parentCell(col("cell"), lit(8)))),
      outDir, failAfter)

  /** The at-scale variant: forward geocode over the BUILT fat grid index
    * (`Geocode.forwardIndexedFat`: one map-only stage under its broadcast
    * ceiling, the shuffled grid match beyond it — the 10^7-feature path),
    * same per-Hilbert-range checkpoint + resume machinery. Row-identical to
    * [[run]] over the same gazetteer. */
  def runIndexed(spark: SparkSession, sfDir: String, outDir: String,
                 failAfter: Option[Int] = None): Seq[Int] =
    runRanges(spark, Geocode.forwardIndexedFat(Synth.docPages(spark, sfDir),
        graft.queries.Queries.gazGridFatParquet(spark))
      .withColumn("hkey", F.hilbertCell(F.parentCell(col("cell"), lit(8)))),
      outDir, failAfter)

  /** N-level variant: the 4-level stack coalesce (continent→country→region→
    * place chains) under the same per-Hilbert-range checkpoint + resume
    * machinery — the job surface of `fwd_geocode_multi`. */
  def runMulti(spark: SparkSession, sfDir: String, outDir: String,
               failAfter: Option[Int] = None): Seq[Int] = {
    val m = Geocode.mentions(Synth.docPages(spark, sfDir), Synth.gazMultiDf(spark)).persist()
    // multi-level results carry cells at each LEAF's own zoom (z4..z12), so
    // the range key comes from the feature center's z8 cell, not an
    // ancestor of the result cell (parentCell to a finer zoom is undefined)
    runRanges(spark, Geocode.rank(Geocode.coalesceN(m),
        extraCols = Seq("chain", "glon", "glat"))
      .withColumn("hkey", F.hilbertCell(F.cellAt(lit(8), col("glon"), col("glat"))))
      .drop("glon", "glat"), outDir, failAfter)
  }

  /** The shared tail: persist the keyed results (local stand-in for the
    * checkpointed results table) and write them per uniform Hilbert range
    * of `hkey` via [[Checkpoint.runResumable]]. */
  private def runRanges(spark: SparkSession, keyed: DataFrame, outDir: String,
                        failAfter: Option[Int]): Seq[Int] = {
    val results = keyed.persist()
    Checkpoint.runResumable(spark,
      (lo, hi) => results.filter(col("hkey") >= lo && col("hkey") < hi),
      Checkpoint.uniformRanges(8, NRanges), outDir, failAfter)
  }

  /** Checkpointed run + ATOMIC publish: slices land in a staging dir under
    * per-range lineage (resume-safe — a killed run restarts where it
    * stopped), and only when EVERY range is done is the staging union
    * committed as one [[graft.index.TableIO]] snapshot of `tableDir`.
    * Consumers via `TableIO.readCurrent` therefore see either the previous
    * epoch or the complete new one — never a partially-geocoded corpus.
    * Returns the published snapshot id. */
  def runPublished(spark: SparkSession, sfDir: String, stagingDir: String,
                   tableDir: String, failAfter: Option[Int] = None): Long = {
    run(spark, sfDir, stagingDir, failAfter) // throws on injected kill
    // slices already carry hkey (the checkpoint range key)
    graft.index.TableIO.commit(Checkpoint.readAll(spark, stagingDir),
      tableDir, rangeKey = "hkey", sortCols = Seq("hkey", "doc_id"),
      numRanges = NRanges)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_forward_out")
    val spark = graft.GraftSession.get()
    val done = run(spark, sfDir, outDir)
    println(s"""{"job":"forward","ranges_processed":${done.length},"out":"$outDir"}""")
    spark.stop()
  }
}
