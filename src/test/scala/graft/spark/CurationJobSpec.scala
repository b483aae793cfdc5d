package graft.spark

import org.apache.spark.sql.functions._
import graft.jobs.CurationJob
import graft.ops.TextOps
import java.nio.file.Files

/** Staged corpus curation: kill mid-pipeline, resume, final corpus
  * identical to an uninterrupted run; no completed stage recomputes; the
  * sequential survivors agree with the independent-flag `curate` view
  * where the semantics coincide. */
class CurationJobSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def fixture = TextOps.curationFixture(
    spark.read.parquet(s"$sf/documents.parquet"))

  test("killed curation job resumes to the identical final corpus, zero recompute") {
    val single = Files.createTempDirectory("curjob_a").toString
    val done = CurationJob.run(spark, fixture, single)
    assert(done == CurationJob.stages().map(_.name))
    val expect = CurationJob.readFinal(spark, single)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expect.nonEmpty && expect.size < fixture.count())

    val out = Files.createTempDirectory("curjob_b").toString
    val crashed = intercept[RuntimeException] {
      CurationJob.run(spark, fixture, out, failAfter = Some(3))
    }
    assert(crashed.getMessage.contains("injected"))
    val doneBefore = CurationJob.completedStages(out)
    assert(doneBefore.size == 3)
    val resumed = CurationJob.run(spark, fixture, out)
    assert(resumed.size == 3 && resumed.toSet.intersect(doneBefore).isEmpty)
    // each of the 6 stages ran exactly once across the two runs
    val lineage = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(out, "_lineage.jsonl"))
    assert(lineage.size == 6)
    // rows_out, observed on the stage write, is the row count of the stage table
    lineage.forEach { l =>
      val stage = "\"stage\": \"([a-z_]+)\"".r.findFirstMatchIn(l).get.group(1)
      val rowsOut = "\"rows_out\": (\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
      assert(rowsOut == spark.read.parquet(s"$out/stage=$stage").count(), l)
    }
    val got = CurationJob.readFinal(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("sequential survivors are a subset of curate's independent-flag keeps' gates") {
    val docs = fixture
    val out = Files.createTempDirectory("curjob_c").toString
    CurationJob.run(spark, docs, out)
    val survivors = CurationJob.readFinal(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flags = TextOps.curate(docs).collect()
      .map(r => r.getLong(0) -> r.getInt(10)).toMap // doc_id -> keep
    // independent-flag keep=1 docs pass every gate on the FULL corpus, so
    // they must also survive the sequential pipeline (later stages see
    // fewer docs: dedup reps can only stay reps, the LM/eval sets only
    // shrink); the reverse need not hold (a doc whose exact-dup rep was
    // quality-filtered can become the surviving rep sequentially).
    val keeps = flags.collect { case (id, 1) => id }.toSet
    assert(keeps.nonEmpty && keeps.subsetOf(survivors))
  }
}
