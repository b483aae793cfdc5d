package graft.spark

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core.{CellMath, Geo}
import graft.index.{CellIndex, PhraseDict}
import graft.ops.Geocode
import graft.synth.Synth
import java.nio.file.Files

/** Broadcast index structures + streaming incremental index. */
class IndexSpec extends SparkTestBase {

  test("CellIndexData: binary-search lookup equals brute scan") {
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
    val data = CellIndex.buildFromFeatures(feats, 8)
    assert(data.size > 0)
    // sortedness
    (1 until data.size).foreach(i => assert(data.cells(i - 1) <= data.cells(i)))
    // spot lookups vs brute
    val distinctCells = data.cells.distinct
    distinctCells.take(50).foreach { c =>
      val expect = data.cells.zip(data.fids).filter(_._1 == c).map(_._2).sorted
      assert(data.lookup(c).sameElements(expect))
    }
    assert(data.lookup(Long.MaxValue).isEmpty)
  }

  test("reverseBcast equals reversePip (shuffle-free path, same rows)") {
    val pts = Synth.eventPoints(spark, "/root/testdata/sf0.001")
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
    val a = Geocode.reverseBcast(spark, pts, feats, 8)
      .select("event_id", "feature_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Geocode.reversePip(pts, feats, 8)
      .select("event_id", "feature_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("PhraseDict prefix range equals linear scan") {
    val names = Synth.gazetteer.map(_.name)
    val dict = PhraseDict.build(names)
    Seq("ha", "so", "table s", "z", "", "merge").foreach { p =>
      val expect = names.distinct.filter(_.startsWith(p)).sorted
      assert(dict.prefixMatches(p).toSeq == expect, s"prefix '$p'")
    }
    assert(dict.containsExact("hash join") && !dict.containsExact("hash jo"))
  }

  test("knnExpanding: residual escalation covers more points at wider radii") {
    val pts = Synth.eventPoints(spark, "/root/testdata/sf0.001").limit(300)
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
      .select(col("feature_id"), col("flon"), col("flat"))
    val r1 = Geocode.knnDisk(pts, feats, 8, 1).count()
    val exp = Geocode.knnExpanding(pts, feats, 8, Seq(1, 2, 4, 8))
    val expRows = exp.collect()
    assert(expRows.length >= r1)
    // one row per matched point; radius recorded is the first that hit
    assert(expRows.map(_.getLong(0)).distinct.length == expRows.length)
    val radii = expRows.map(_.getInt(3)).distinct.sorted
    assert(radii.head >= 1)
    // annulus probing (rIn = previous radius) is row-identical to the full
    // disk per round: the residual's previous disk is provably feature-free
    var residual = pts
    var full: Option[org.apache.spark.sql.DataFrame] = None
    Seq(1, 2, 4, 8).foreach { r =>
      val m = Geocode.knnDisk(residual, feats, 8, r).withColumn("radius", lit(r))
      full = Some(full.map(_.unionByName(m)).getOrElse(m))
      residual = residual.join(m.select("event_id"), Seq("event_id"), "left_anti")
    }
    val fullRows = full.get.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(expRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet == fullRows)
  }

  test("sorted index scan: hkey range predicate reaches the parquet scan") {
    val out = Files.createTempDirectory("pruneidx").toString
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
      .select(col("feature_id"), lit("p").as("phrase"), col("fscore").as("score"), col("geom_wkb"))
    graft.index.IndexBuild.build(spark,
      feats, spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      z = 8, outDir = out, numRanges = 4)
    val scan = spark.read.parquet(s"$out/grid_index")
      .filter(col("hkey") >= 1000L && col("hkey") < 50000L)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(hkey,1000)"),
      s"hkey filter not pushed:\n${plan.take(800)}")
  }

  test("bbox scan over sorted index: hilbert ranges equal brute cell filter, pushed down") {
    val out = Files.createTempDirectory("bboxidx").toString
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
      .select(col("feature_id"), lit("p").as("phrase"), col("fscore").as("score"), col("geom_wkb"))
    graft.index.IndexBuild.build(spark,
      feats, spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      z = 8, outDir = out, numRanges = 4)
    val idx = spark.read.parquet(s"$out/grid_index")
    val (w, s0, e, n) = (-60.0, -30.0, 40.0, 35.0)
    val viaRanges = graft.index.IndexBuild.scanBbox(idx, w, s0, e, n, 8)
      .select("cell", "feature_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute: unpack every cell, keep those in the bbox tile window
    val x0 = CellMath.lonToX(8, w); val x1 = CellMath.lonToX(8, e)
    val y0 = CellMath.latToY(8, n); val y1 = CellMath.latToY(8, s0)
    val brute = idx.select("cell", "feature_id").collect()
      .filter { r =>
        val c = r.getLong(0)
        CellMath.xOf(c) >= x0 && CellMath.xOf(c) <= x1 &&
          CellMath.yOf(c) >= y0 && CellMath.yOf(c) <= y1
      }.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaRanges == brute)
    assert(viaRanges.nonEmpty)
    val plan = graft.index.IndexBuild.scanBbox(idx, w, s0, e, n, 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("hkey"),
      "hilbert range predicate not pushed to the scan")
  }

  test("streaming incremental index: micro-batches land as grid entries") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val out = Files.createTempDirectory("sidx").toString
    val ckpt = Files.createTempDirectory("sidx_ckpt").toString
    val mem = MemoryStream[(Long, String, Double, Array[Byte])]
    val df = mem.toDF().toDF("feature_id", "phrase", "score", "geom_wkb")
    mem.addData((1L, "alpha town", 5.0, Geo.writeWkbPolygon(
      Array(Array(10.0, 50.0, 10.5, 50.0, 10.5, 50.4, 10.0, 50.4, 10.0, 50.0)))))
    mem.addData((2L, "beta city", 7.0, Geo.writeWkbPolygon(
      Array(Array(-3.0, 40.0, -2.5, 40.0, -2.5, 40.3, -3.0, 40.3, -3.0, 40.0)))))
    val q = graft.streaming.StreamingIndex.start(spark, df, 10, out, ckpt)
    q.awaitTermination(60000)
    val idx = spark.read.parquet(s"$out/batch=*")
    val rows = idx.collect()
    assert(rows.nonEmpty)
    assert(idx.columns.toSet ==
      Set("phrase_id", "cell", "feature_id", "relev_q", "score_q", "hkey"))
    // feature 1's cover cells present at z10
    val f1cells = idx.filter(col("feature_id") === 1).select("cell")
      .collect().map(_.getLong(0)).toSet
    val expect = Geo.tileCover(Geo.parseWkb(Geo.writeWkbPolygon(
      Array(Array(10.0, 50.0, 10.5, 50.0, 10.5, 50.4, 10.0, 50.4, 10.0, 50.0)))), 10).toSet
    assert(f1cells == expect)
  }

  test("streaming dedup: sha2-keyed dropDuplicatesWithinWatermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("warc_ts", "doc_id", "text")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
    mem.addData((t0, 1L, "alpha page body"), (t0, 2L, "beta page body"),
      (t1, 3L, "alpha page body")) // duplicate text within the watermark
    val out = graft.streaming.StreamingIndex.dedupStream(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    out.processAllAvailable(); out.stop()
    val rows = spark.sql("SELECT doc_id FROM dedup_out")
      .collect().map(_.getLong(0)).toSet
    assert(rows.contains(2L))
    assert((rows - 2L).size == 1, s"duplicate text must emit once, got $rows")
  }

  test("streaming cell sessions: flatMapGroupsWithState gap windows close and emit") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val df = mem.toDF().toDF("warc_ts", "qlon", "qlat")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // cell A: two events 1 min apart (one session), then one 20 min later
    // (second session); a far-future event advances the watermark past both
    mem.addData((ts("2026-01-01 00:00:00"), 10.0, 20.0),
      (ts("2026-01-01 00:01:00"), 10.0, 20.0))
    mem.addData((ts("2026-01-01 00:21:00"), 10.0, 20.0))
    val out = graft.streaming.StreamingIndex.cellSessions(df)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    mem.addData((ts("2026-01-01 02:00:00"), -150.0, -40.0)) // watermark push
    out.processAllAvailable(); out.stop()
    val cellA = CellMath.lonLatToCell(6, 10.0, 20.0)
    val rows = spark.sql("SELECT cell, session_start, session_end, n_pages FROM sess_out")
      .collect().filter(_.getLong(0) == cellA)
      .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("2026-01-01 00:00:00.0", "2026-01-01 00:01:00.0", 2L),
      ("2026-01-01 00:21:00.0", "2026-01-01 00:21:00.0", 1L)), s"got ${rows.toSeq}")
  }

  test("streaming geofence: per-user fence state carries across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double, Double)]
    val df = mem.toDF().toDF("user_id", "event_id", "us", "elon", "elat")
    // overlapping fences: id 3 wins over 5 where both contain (min-id rule)
    val fences = Array((5L, 0.0, 0.0, 10.0, 10.0), (3L, 5.0, 0.0, 15.0, 10.0))
    val out = graft.streaming.StreamingIndex.geofenceStream(df, fences)
      .writeStream.format("memory").queryName("gf_out")
      .outputMode("append").start()
    mem.addData((7L, 1L, 100L, 2.0, 2.0), (7L, 2L, 200L, 7.0, 2.0))
    out.processAllAvailable()
    mem.addData((7L, 3L, 300L, 20.0, 20.0), (7L, 4L, 400L, 2.0, 2.0))
    out.processAllAvailable(); out.stop()
    val rows = spark.sql("SELECT event_id, from_f, to_f, kind FROM gf_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // first fix emits nothing; then switch 5->3, exit 3->-1 (cross-batch
    // state carry), enter -1->5
    assert(rows.toSeq == Seq(
      (2L, 5L, 3L, "switch"), (3L, 3L, -1L, "exit"), (4L, -1L, 5L, "enter")),
      s"got ${rows.toSeq}")
  }

  test("streaming curation: sequential-scrub keeps vs the batch independent flags") {
    import spark.implicits._
    import graft.ops.TextOps
    implicit val sc = spark.sqlContext
    val docs = TextOps.curationFixture(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .persist()
    // batch reference: the full independent-flag diagnostics
    // (doc_id, .., q_keep@3, rep_keep@4, ppl_keep@5, url_rep@6,
    //  exact_rep@7, is_eval@8, n_matched@9, keep@10)
    val flags = TextOps.curate(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val expect = flags.collect { case (id, r) if r.getInt(10) == 1 => id }.toSet
    // static dims, trained on the SAME corpus the batch gate trains on
    val lm = spark.sparkContext.broadcast(
      graft.index.TermStats.build(TextOps.lmLogProbs(docs)))
    val ev = spark.sparkContext.broadcast(TextOps.evalShingleSet(docs))
    // stream the corpus in doc_id order (batch dedup tie-break is min
    // doc_id, streaming keeps the first ARRIVAL — sorted feed aligns them)
    val feed = TextOps.syntheticUrls(docs).join(docs, "doc_id")
      .orderBy("doc_id")
      .select(col("doc_id"), col("url"), col("text")).collect()
      .map(r => (java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, String)]
    val df = mem.toDF().toDF("warc_ts", "doc_id", "url", "text")
    mem.addData(feed.toIndexedSeq)
    val out = graft.streaming.StreamingIndex.curateStream(df, lm, ev)
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    out.processAllAvailable(); out.stop()
    val kept = spark.sql("SELECT doc_id FROM curate_out")
      .collect().map(_.getLong(0)).toSet
    docs.unpersist()
    // the CurationJobSpec relationship, now for the stream: independent
    // keeps always survive the sequential scrub...
    assert(expect.nonEmpty && expect.subsetOf(kept),
      s"batch keeps missing from stream: ${expect -- kept}")
    // ...and every extra is a DUPLICATE whose first-occurrence rep was
    // itself scrubbed (the duplicate becomes the surviving rep): it failed
    // ONLY a rep flag, passing every content gate
    val extras = kept -- expect
    val bad = extras.filterNot { id =>
      val r = flags(id)
      (r.getInt(6) == 0 || r.getInt(7) == 0) &&
        r.getInt(3) == 1 && r.getInt(4) == 1 && r.getInt(5) == 1 &&
        r.getInt(8) == 0 && r.getLong(9) == 0L
    }
    assert(bad.isEmpty, s"stream kept docs batch scrubs for content reasons: $bad")
  }

  test("streaming curation: checkpointed restart resumes exactly-once (no re-emit, no loss)") {
    import spark.implicits._
    import graft.ops.TextOps
    implicit val sc = spark.sqlContext
    val docs = TextOps.curationFixture(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")).persist()
    val lm = spark.sparkContext.broadcast(
      graft.index.TermStats.build(TextOps.lmLogProbs(docs)))
    val ev = spark.sparkContext.broadcast(TextOps.evalShingleSet(docs))
    val feed = TextOps.syntheticUrls(docs).join(docs, "doc_id").orderBy("doc_id")
      .select(col("doc_id"), col("url"), col("text")).collect()
      .map(r => (java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        r.getLong(0), r.getString(1), r.getString(2)))
    docs.unpersist()
    val (half1, half2) = feed.splitAt(feed.length / 2)
    val out = Files.createTempDirectory("scur_out").toString
    val ckpt = Files.createTempDirectory("scur_ckpt").toString
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, String)]
    val df = mem.toDF().toDF("warc_ts", "doc_id", "url", "text")
    def start() = graft.streaming.StreamingIndex.curateStream(df, lm, ev)
      .select("doc_id").writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    mem.addData(half1.toIndexedSeq)
    val q1 = start(); q1.processAllAvailable(); q1.stop() // "kill" between batches
    mem.addData(half2.toIndexedSeq)
    val q2 = start(); q2.processAllAvailable(); q2.stop() // resume from checkpoint
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).toSeq
    assert(got.distinct.length == got.length, "restart re-emitted rows")
    // an uninterrupted run over the same feed (order preserved) must agree
    val out2 = Files.createTempDirectory("scur_out2").toString
    val ckpt2 = Files.createTempDirectory("scur_ckpt2").toString
    val mem2 = MemoryStream[(java.sql.Timestamp, Long, String, String)]
    val df2 = mem2.toDF().toDF("warc_ts", "doc_id", "url", "text")
    // same MICRO-BATCH boundaries as the resumed run (duplicate-rep choice
    // within one batch is partition-order racy), so the restart is the
    // only difference under test
    val q3 = graft.streaming.StreamingIndex.curateStream(df2, lm, ev)
      .select("doc_id").writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", ckpt2)
      .outputMode("append").start()
    mem2.addData(half1.toIndexedSeq); q3.processAllAvailable()
    mem2.addData(half2.toIndexedSeq); q3.processAllAvailable(); q3.stop()
    val whole = spark.read.parquet(out2).collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.toSet == whole,
      s"resumed ≠ uninterrupted: extra=${got.toSet -- whole} missing=${whole -- got.toSet}")
  }

  test("streaming forward geocode: batch-identical results, idempotent per-batch dirs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val pagesBatch = Synth.docPages(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "qlon", "qlat").limit(200)
    val rows = pagesBatch.as[(Long, String, Double, Double)].collect()
    val gaz = Synth.gazDf(spark)

    // stage 1: pure stream-static mention join across TWO micro-batches
    val mem = MemoryStream[(Long, String, Double, Double)]
    val df = mem.toDF().toDF("doc_id", "text", "qlon", "qlat")
    mem.addData(rows.take(100).toSeq)
    val mstream = graft.streaming.StreamingIndex.mentionStream(df, gaz)
      .writeStream.format("memory").queryName("mention_out")
      .outputMode("append").start()
    mstream.processAllAvailable()
    mem.addData(rows.drop(100).toSeq)
    mstream.processAllAvailable(); mstream.stop()
    val got = spark.sql("SELECT doc_id, gid FROM mention_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Geocode.mentions(pagesBatch, gaz)
      .select("doc_id", "gid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"stream mentions diverge: ${got.size} vs ${expect.size}")

    // stage 2: full ranked geocode per micro-batch (foreachBatch)
    val out = Files.createTempDirectory("sgeo").toString
    val ckpt = Files.createTempDirectory("sgeo_ckpt").toString
    val mem2 = MemoryStream[(Long, String, Double, Double)]
    val df2 = mem2.toDF().toDF("doc_id", "text", "qlon", "qlat")
    mem2.addData(rows.toSeq)
    val q = graft.streaming.StreamingIndex.geocodeStream(df2, gaz, out, ckpt)
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$out/batch=*")
      .select("doc_id", "feature_id", "relev").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Geocode.forward(pagesBatch, gaz)
      .select("doc_id", "feature_id", "relev").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch, s"streamed forward diverges: ${streamed.size} vs ${batch.size}")
  }

  test("streaming reverse geocode: continuous stream-static join, batch-identical") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ptsBatch = Synth.eventPoints(spark, "/root/testdata/sf0.001").limit(300)
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
    val rows = ptsBatch.select("event_id", "elon", "elat")
      .as[(Long, Double, Double)].collect()

    val mem = MemoryStream[(Long, Double, Double)]
    val df = mem.toDF().toDF("event_id", "elon", "elat")
    mem.addData(rows.take(150).toSeq)
    val q = graft.streaming.StreamingIndex.reverseStream(df, feats, 8)
      .select("event_id", "feature_id")
      .writeStream.format("memory").queryName("srev_out")
      .outputMode("append").start()
    q.processAllAvailable()
    mem.addData(rows.drop(150).toSeq) // second micro-batch: stateless, no cross-batch effects
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT event_id, feature_id FROM srev_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Geocode.reversePip(ptsBatch, feats, 8)
      .select("event_id", "feature_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, s"stream reverse diverges: ${got.size} vs ${expect.size}")
  }

  test("streaming cell rate: watermarked per-cell window counts") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val df = mem.toDF().toDF("warc_ts", "qlon", "qlat")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:30")
    mem.addData((t0, 10.0, 20.0), (t0, 10.0, 20.0), (t0, -150.0, -40.0))
    val out = graft.streaming.StreamingIndex.cellRate(df)
      .writeStream.format("memory").queryName("cellrate_out")
      .outputMode("append").start()
    // append-mode windows only emit once the watermark passes — advance it
    mem.addData((java.sql.Timestamp.valueOf("2026-01-01 00:30:00"), 0.0, 0.0))
    out.processAllAvailable(); out.stop()
    val rows = spark.sql("SELECT cell, pages FROM cellrate_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val c1 = CellMath.lonLatToCell(6, 10.0, 20.0)
    val c2 = CellMath.lonLatToCell(6, -150.0, -40.0)
    assert(rows.get(c1).contains(2L) && rows.get(c2).contains(1L), s"got $rows")
  }
}
