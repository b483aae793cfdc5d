package graft.jobs

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.ops.TextOps

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
    * decontamination stage drops the eval slice itself plus every train doc
    * sharing a shingle with it. */
  def stages(qualityMin: Double = 0.75,
             evalMod: Long = 41L, evalRes: Long = 3L): Seq[Stage] = Seq(
    Stage("quality", d => d.join(
      TextOps.qualityScore(d).filter(col("quality") >= qualityMin)
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
      d.filter(col("doc_id") % evalMod =!= evalRes)
        .join(TextOps.decontaminate(d, evalMod = evalMod, evalRes = evalRes)
          .select(col("doc_id")), Seq("doc_id"), "left_anti"))
  )

  def completedStages(outDir: String): Set[String] = {
    val p = Paths.get(outDir, "_lineage.jsonl")
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p).asScala
      .filter(_.contains("\"status\": \"done\""))
      .flatMap("\"stage\": \"([a-z_]+)\"".r.findFirstMatchIn(_).map(_.group(1)))
      .toSet
  }

  /** Run every not-yet-completed stage in order; `failAfter` injects a
    * crash after N newly processed stages (the kill-and-resume test hook).
    * Returns the stage names processed THIS run. The final corpus is the
    * last stage's parquet (`readFinal`). */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
          qualityMin: Double = 0.75, failAfter: Option[Int] = None): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val done = completedStages(outDir)
    var cur = docs.select(col("doc_id"), col("text"))
    var processed = List.empty[String]
    stages(qualityMin).foreach { st =>
      val path = s"$outDir/stage=${st.name}"
      if (done.contains(st.name)) {
        cur = spark.read.parquet(path) // completed: read back, zero recompute
      } else {
        if (failAfter.exists(processed.length >= _))
          throw new RuntimeException(s"injected failure after ${processed.length} stages")
        val t0 = System.nanoTime()
        val rowsIn = cur.count()
        // rows_out is counted by the write itself, not by a re-read
        val written = new Observation(s"stage-${st.name}")
        st.apply(cur).observe(written, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(path)
        val rowsOut = written.get("rows")
        cur = spark.read.parquet(path)
        val ms = (System.nanoTime() - t0) / 1000000
        graft.index.TableIO.appendLine(s"$outDir/_lineage.jsonl",
          s"""{"stage": "${st.name}", "rows_in": $rowsIn, "rows_out": $rowsOut, "wall_ms": $ms, "ts": ${System.currentTimeMillis()}, "status": "done"}""")
        processed ::= st.name
      }
    }
    processed.reverse
  }

  /** The curated corpus: the last completed stage's table. */
  def readFinal(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/stage=${stages().last.name}")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_curation_out")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = TextOps.curationFixture(
      graft.index.TableIO.read(spark, s"$sfDir/documents.parquet"))
    val done = run(spark, docs, outDir)
    val kept = readFinal(spark, outDir).count()
    println(s"""{"job":"curation","stages_processed":${done.length},"docs_kept":$kept,"out":"$outDir"}""")
    spark.stop()
  }
}
