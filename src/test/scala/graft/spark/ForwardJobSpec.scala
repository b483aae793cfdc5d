package graft.spark

import org.apache.spark.sql.functions._
import graft.jobs.ForwardJob
import graft.ops.Geocode
import graft.pipeline.Checkpoint
import graft.synth.Synth
import java.nio.file.Files

/** End-to-end resumable forward job: kill mid-run, resume, output identical
  * to the uninterrupted pipeline. */
class ForwardJobSpec extends SparkTestBase {

  test("killed forward job resumes to the identical result set") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("fwdjob").toString
    val crashed = intercept[RuntimeException] {
      ForwardJob.run(spark, sf, out, failAfter = Some(3))
    }
    assert(crashed.getMessage.contains("injected"))
    val doneBefore = Checkpoint.completedRanges(out)
    assert(doneBefore.size == 3)

    val resumed = ForwardJob.run(spark, sf, out)
    assert(resumed.size == 8 - 3)
    assert(resumed.toSet.intersect(doneBefore).isEmpty)

    val fromJob = Checkpoint.readAll(spark, out)
      .select("doc_id", "feature_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = Geocode.forward(Synth.docPages(spark, sf), Synth.gazDf(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(7))).toSet
    assert(fromJob == direct)
  }

  test("multi-level forward job (coalesceN) resumes to the same result set") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("fwdjob_multi").toString
    intercept[RuntimeException] {
      ForwardJob.runMulti(spark, sf, out, failAfter = Some(2))
    }
    val resumed = ForwardJob.runMulti(spark, sf, out)
    assert(resumed.size == 6)
    val fromJob = Checkpoint.readAll(spark, out)
      .select("doc_id", "feature_id", "chain", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
    val m = Geocode.mentions(Synth.docPages(spark, sf), Synth.gazMultiDf(spark))
    val direct = Geocode.rank(Geocode.coalesceN(m), extraCols = Seq("chain"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(6), r.getInt(8))).toSet
    assert(fromJob == direct && fromJob.nonEmpty)
  }

  test("indexed forward job (grid-index path) resumes to the same result set") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("fwdjob_idx").toString
    intercept[RuntimeException] {
      ForwardJob.runIndexed(spark, sf, out, failAfter = Some(2))
    }
    val resumed = ForwardJob.runIndexed(spark, sf, out)
    assert(resumed.size == 6)
    val fromJob = Checkpoint.readAll(spark, out)
      .select("doc_id", "feature_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = Geocode.forward(Synth.docPages(spark, sf), Synth.gazDf(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(7))).toSet
    assert(fromJob == direct)
  }

  test("published job: kill leaves the table UNPUBLISHED; resume commits one complete snapshot") {
    import graft.index.TableIO
    val sf = "/root/testdata/sf0.001"
    val staging = Files.createTempDirectory("fwdstage").toString
    val table = Files.createTempDirectory("fwdtable").toString

    intercept[RuntimeException] {
      ForwardJob.runPublished(spark, sf, staging, table, failAfter = Some(3))
    }
    // the kill happened mid-staging: the consumer table has NO snapshot at
    // all — a reader cannot observe the partially-geocoded corpus
    assert(TableIO.currentSnapshotId(table).isEmpty)

    val snap = ForwardJob.runPublished(spark, sf, staging, table)
    assert(TableIO.currentSnapshotId(table).contains(snap))
    val published = TableIO.readCurrent(spark, table)
      .select("doc_id", "feature_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = Geocode.forward(Synth.docPages(spark, sf), Synth.gazDf(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(7))).toSet
    assert(published == direct)
    // resume did NOT recompute the pre-kill ranges (lineage shows 8 total)
    assert(Checkpoint.completedRanges(staging).size == 8)
  }
}
