package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.TextOps
import graft.pipeline.Checkpoint

/** The sequential, materialized form of the corpus-curation scrub (the
  * per-doc diagnostic view is `TextOps.curate` / the `corpus_curate`
  * query): each gate filters the SURVIVORS of the previous one and lands
  * as its own parquet stage table with a lineage line (rows in/out, wall
  * ms) — the shape a 100-TB curation run takes, where every stage output
  * is a real table the next stage (and any audit) reads back, and a
  * killed run resumes from the last completed stage with zero recompute.
  *
  * Stage order is the conventional cheap-to-expensive scrub: per-row
  * quality gates first (no shuffle), then the keyed dedups, then the
  * corpus-wide decontamination join. Every stage is deterministic, so a
  * resumed run is bit-identical to an uninterrupted one (CurationJobSpec).
  */
object CurationJob {

  final case class Stage(name: String, apply: DataFrame => DataFrame)

  /** The gates, each reduced to "filter the corpus frame". Per-row gates
    * semi-join their own doc_id verdict back (one doc_id-keyed exchange on
    * a flag-sized frame); dedups keep their representative rows; the
    * decontamination stage drops the eval slice (doc_id % EvalMod ==
    * EvalRes) itself plus every train doc sharing a shingle with it. The
    * gates read TextOps' constants, so they are `curate`'s. */
  val stages: Seq[Stage] = Seq(
    Stage("quality", d => d.join(
      TextOps.qualityScore(d).filter(col("quality") >= TextOps.QualityMin)
        .select(col("doc_id")), "doc_id")),
    Stage("repetition", d => d.join(
      TextOps.qualityRepetition(d).filter(col("keep") === 1)
        .select(col("doc_id")), "doc_id")),
    Stage("perplexity", d => d.join(
      TextOps.lmPerplexity(d).filter(col("keep") === 1)
        .select(col("doc_id")), "doc_id")),
    Stage("url_dedup", d => d.join(
      TextOps.urlDedup(TextOps.syntheticUrls(d))
        .select(col("rep_doc").as("doc_id")), "doc_id")),
    Stage("exact_dedup", d => TextOps.exactReps(d)),
    Stage("decontaminate", d =>
      d.filter(col("doc_id") % TextOps.EvalMod =!= TextOps.EvalRes)
        .join(TextOps.decontaminate(d).select(col("doc_id")), Seq("doc_id"), "left_anti"))
  )

  /** Run every not-yet-completed stage in order, each over the previous
    * stage's table, under [[Checkpoint.runStages]]'s ledger; `failAfter`
    * injects a crash after N newly processed stages (the kill-and-resume
    * test hook). Returns the stage names processed THIS run. The final
    * corpus is the last stage's parquet (`readFinal`). */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
          failAfter: Option[Int] = None): Seq[String] =
    Checkpoint.runStages(spark, docs.select(col("doc_id"), col("text")),
      stages.map(st => st.name -> st.apply), outDir, failAfter)

  /** The curated corpus: the last completed stage's table. */
  def readFinal(spark: SparkSession, outDir: String): DataFrame =
    graft.index.TableIO.read(spark, s"$outDir/stage=${stages.last.name}")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_curation_out")
    val spark = GraftSession.get()
    val docs = TextOps.curationFixture(
      graft.index.TableIO.read(spark, s"$sfDir/documents.parquet"))
    val done = run(spark, docs, outDir)
    val kept = Checkpoint.completed(outDir, "stage")(stages.last.name) // the ledger's rows, no count
    println(s"""{"job":"curation","stages_processed":${done.length},"docs_kept":$kept,"out":"$outDir"}""")
    spark.stop()
  }
}
