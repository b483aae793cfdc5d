package graft.spark

import org.apache.spark.sql.functions._
import graft.jobs.CurationJob
import graft.ops.TextOps
import graft.pipeline.Checkpoint
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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
    assert(done == CurationJob.stages.map(_.name))
    val expect = CurationJob.readFinal(spark, single)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expect.nonEmpty && expect.size < fixture.count())

    val out = Files.createTempDirectory("curjob_b").toString
    val crashed = intercept[RuntimeException] {
      CurationJob.run(spark, fixture, out, failAfter = Some(3))
    }
    assert(crashed.getMessage.contains("injected"))
    val doneBefore = Checkpoint.completed(out, "stage").keySet
    assert(doneBefore.size == 3)
    val resumed = CurationJob.run(spark, fixture, out)
    assert(resumed.size == 3 && resumed.toSet.intersect(doneBefore).isEmpty)
    // each of the 6 stages ran exactly once across the two runs
    val lineage = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(out, "_lineage.jsonl"))
    assert(lineage.size == 6)
    // rows, observed on the stage write, is the row count of the stage table
    lineage.forEach { l =>
      val stage = "\"stage\": \"([a-z_]+)\"".r.findFirstMatchIn(l).get.group(1)
      val rowsOut = "\"rows\": (\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
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

  /** One uninterrupted run's output dir, the call sites of the `count`
    * actions it issued, and the names of the jobs it ran outside any SQL
    * execution. Each action is one SQL execution, described by its call
    * site; under AQE its jobs run on other threads, so the jobs' own stage
    * names do not show the action. A parquet schema inference is a job of
    * its own, outside any SQL execution. */
  private lazy val counted: (String, Seq[String], Seq[String]) = {
    val out = Files.createTempDirectory("curjob_d").toString
    val docs = fixture
    val sc = spark.sparkContext
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val bare = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.description.startsWith("count at ") =>
          counts.add(s.description.stripPrefix("count at ").takeWhile(_ != ':'))
        case _ =>
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          bare.add(e.stageInfos.headOption.fold("?")(_.name))
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { CurationJob.run(spark, docs, out); org.apache.spark.TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(l)
    (out, counts.asScala.toSeq, bare.asScala.toSeq)
  }

  test("each stage's rows_in is the previous stage's rows; the first stage's the fixture count") {
    val (out, _, _) = counted
    val lines = Files.readAllLines(Paths.get(out, "_lineage.jsonl")).asScala.toSeq
    def field(l: String, k: String) = ("\"" + k + "\": (\\d+)").r.findFirstMatchIn(l).get.group(1).toLong
    assert(lines.map("\"stage\": \"([a-z_]+)\"".r.findFirstMatchIn(_).get.group(1)) ==
      CurationJob.stages.map(_.name))
    assert(field(lines.head, "rows_in") == fixture.count())
    lines.zip(lines.tail).foreach { case (a, b) => assert(field(b, "rows_in") == field(a, "rows"), b) }
  }

  test("one curation run counts rows once: stage 1's rows_in, not one count per stage") {
    // the other count is the perplexity gate's own vocabulary-size probe
    // (TextOps.lmPerplexity picks broadcast vs join with it)
    assert(counted._2.sorted == Seq("Checkpoint.scala", "TextOps.scala"), counted._2)
  }

  test("a fresh curation run infers no schema: each stage reads the last with its written schema") {
    assert(counted._3.isEmpty, counted._3)
  }
}
