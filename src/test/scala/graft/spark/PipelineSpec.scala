package graft.spark

import org.apache.spark.sql.functions._
import graft.core.{CellMath, Geo}
import graft.functions.F
import graft.ops.Geocode
import graft.synth.Synth
import graft.pipeline.{Checkpoint, Skew}
import graft.index.{IndexBuild, TableIO}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end pipeline contracts: forward geocode semantics, reverse PIP
  * equivalence, kNN-vs-brute-force, salted-join equivalence, index build
  * layout, and the kill-and-resume checkpoint guarantee. */
class PipelineSpec extends SparkTestBase {

  import Synth._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("forward geocode: hand-checked doc produces the expected stack") {
    import spark.implicits._
    // doc mentions place "hash join" (gid 101, region idx 101%... i=0 -> region 0 "data")
    // and region "data" (gid 1): they stack since place 0 sits inside region 0's z8 cell.
    val docs = Seq((1L, "the hash join data pipeline", 10.0, 20.0))
      .toDF("doc_id", "text", "qlon", "qlat")
    val out = Geocode.forward(docs, gazDf(spark)).orderBy("rank").collect()
    val byId = out.map(r => r.getLong(1) -> r).toMap
    // candidates: "hash join"(101), "hash"(112+?) - check names list: places singles start at idx 12 ("hash" -> gid 113)
    val hashJoin = places.find(_.name == "hash join").get
    val hashF = places.find(_.name == "hash").get
    val joinF = places.find(_.name == "join").get
    val dataR = regions.find(_.name == "data").get
    assert(byId.contains(hashJoin.id) && byId.contains(dataR.id))
    // "hash join" is 2 tokens -> w=2/3; stacked with region "data" (i=0 -> region 0) if containment holds
    val hj = byId(hashJoin.id)
    assert(hj.getDouble(3) == 2.0 / 3.0 + 1.0 / 3.0) // relev = w_p + w_r
    assert(hj.getLong(5) == dataR.id) // ctx
    assert(hj.getInt(7) == 1) // top rank: highest relev
    // single-word places "hash" and "join": relev 1/3 (+1/3 if inside a mentioned region)
    assert(byId.contains(hashF.id) || byId.contains(joinF.id))
    // cell column: z12 cell of the place
    assert(hj.getLong(4) == CellMath.lonLatToCell(12, hashJoin.lon, hashJoin.lat))
  }

  test("reverse PIP join equals brute-force rectangle containment") {
    val pts = eventPoints(spark, "/root/testdata/sf0.001")
    val feats = custFeatures(spark, "/root/testdata/sf0.001")
    val viaIndex = Geocode.reversePip(pts, feats, 8)
      .select("event_id", "feature_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pts.crossJoin(feats)
      .filter(col("elon") >= col("west") && col("elon") < col("east") &&
        col("elat") >= col("south") && col("elat") < col("north"))
      .select("event_id", "feature_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == brute)
  }

  test("kNN disk join equals brute-force argmin within the Chebyshev disk") {
    val pts = eventPoints(spark, "/root/testdata/sf0.001").limit(200)
    val feats = custFeatures(spark, "/root/testdata/sf0.001")
      .select(col("feature_id"), col("flon"), col("flat"))
    val got = Geocode.knnDisk(pts, feats, 8, 2)
      .select("event_id", "feature_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force in Scala
    val p = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val f = feats.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    p.foreach { case (eid, elon, elat) =>
      val ec = CellMath.lonLatToCell(8, elon, elat)
      val cands = f.filter { case (_, flon, flat) =>
        val fc = CellMath.lonLatToCell(8, flon, flat)
        math.max(math.abs(CellMath.xOf(fc) - CellMath.xOf(ec)),
          math.abs(CellMath.yOf(fc) - CellMath.yOf(ec))) <= 2
      }
      if (cands.isEmpty) assert(!got.contains(eid))
      else {
        val best = cands.minBy { case (fid, flon, flat) =>
          (Geo.haversineKm(elon, elat, flon, flat), fid)
        }
        assert(got.get(eid).contains(best._1), s"event $eid")
      }
    }
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // 5000 probes on one hot key + uniform tail; index has all keys
    val probe = spark.range(6000)
      .select(col("id").as("pid"), when(col("id") < 5000, 7L).otherwise(col("id") % 50).as("key"))
    val index = spark.range(50).select(col("id").as("key"), (col("id") * 10).as("v"))
    val hot = Skew.hotKeys(probe, "key", k = 4, threshold = 100)
    assert(hot.contains(7L))
    val salted = Skew.saltedJoin(probe, index, "key", "pid", hot, s = 8)
      .select("pid", "key", "v").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = probe.join(index, "key")
      .select("pid", "key", "v").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("grid index build: sorted by hilbert key, manifest ranges consistent") {
    val out = tmp("gridindex")
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey").as("feature_id"), F.phraseForm(col("c_name")).as("phrase"))
    val feats = custFeatures(spark, "/root/testdata/sf0.001")
      .join(cust, "feature_id")
      .select(col("feature_id"), col("phrase"), col("fscore").as("score"), col("geom_wkb"))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    IndexBuild.build(spark, feats, docs, z = 8, outDir = out, numRanges = 4)

    val idx = spark.read.parquet(s"$out/grid_index")
    assert(idx.count() > 0)
    // per-file sortedness on hkey
    val perFile = idx.select(input_file_name().as("f"), col("hkey"))
      .collect().groupBy(_.getString(0)).values
    perFile.foreach { rows =>
      val ks = rows.map(_.getLong(1))
      assert(ks.sameElements(ks.sorted), "hkey not sorted within file")
    }
    // manifest exists with non-overlapping file ranges
    val man = TableIO.manifestJson(s"$out/grid_index")
    assert(man.exists(_.contains("\"range_key\": \"hkey\"")))
    val los = "\"lo\": (-?\\d+)".r.findAllMatchIn(man.get).map(_.group(1).toLong).toList
    val his = "\"hi\": (-?\\d+)".r.findAllMatchIn(man.get).map(_.group(1).toLong).toList
    los.zip(his).sliding(2).foreach {
      case List((_, h1), (l2, _)) => assert(h1 <= l2, "file ranges overlap")
      case _ =>
    }
    // freq table written
    assert(spark.read.parquet(s"$out/freq").count() == 31)
  }

  test("checkpoint: kill-and-resume recomputes nothing, result identical") {
    val out1 = tmp("ckpt_resume")
    val out2 = tmp("ckpt_clean")
    val pts = eventPoints(spark, "/root/testdata/sf0.001")
      .withColumn("cell", F.cellAt(lit(8), col("elon"), col("elat")))
      .withColumn("hkey", F.hilbertCell(col("cell")))
    val ranges = Checkpoint.uniformRanges(8, 6)
    def slice(lo: Long, hi: Long) =
      pts.filter(col("hkey") >= lo && col("hkey") < hi)
        .select("event_id", "cell", "hkey")

    // clean run
    val doneClean = Checkpoint.runResumable(spark, slice, ranges, out2)
    assert(doneClean.size == 6)
    // killed run: crash after 2 ranges
    val crashed = intercept[RuntimeException] {
      Checkpoint.runResumable(spark, slice, ranges, out1, failAfter = Some(2))
    }
    assert(crashed.getMessage.contains("injected"))
    assert(Checkpoint.completedRanges(out1).size == 2)
    // resume: only the remaining 4 run
    val resumed = Checkpoint.runResumable(spark, slice, ranges, out1)
    assert(resumed.size == 4)
    assert(resumed.toSet.intersect(Checkpoint.completedRanges(out1) -- resumed).isEmpty)
    // identical union
    val a = Checkpoint.readAll(spark, out1).select("event_id").collect().map(_.getLong(0)).sorted
    val b = Checkpoint.readAll(spark, out2).select("event_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
    assert(a.length == pts.count())
  }

  test("checkpoint: lineage rows equal each range's parquet count; an empty range records 0") {
    val out = tmp("ckpt_rows")
    val pts = spark.range(5000).select(col("id").as("event_id"),
      F.hilbertCell(F.cellAt(lit(8), docLon(col("id")), docLat(col("id")))).as("hkey"))
    val ranges = Checkpoint.uniformRanges(8, 4) :+ Checkpoint.RangeSpec(4, -2L, -1L)
    Checkpoint.runResumable(spark, (lo, hi) =>
      pts.filter(col("hkey") >= lo && col("hkey") < hi).select("event_id"), ranges, out)
    val lineage = Files.readAllLines(java.nio.file.Paths.get(out, "_lineage.jsonl")).asScala
      .map { l =>
        "\"range\": (\\d+)".r.findFirstMatchIn(l).get.group(1).toInt ->
          "\"rows\": (\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
      }.toMap
    assert(lineage.keySet == (0 to 4).toSet)
    ranges.foreach(r => assert(lineage(r.id) == spark.read.parquet(s"$out/range=${r.id}").count()))
    assert(lineage(4) == 0L && lineage.values.sum == pts.count())
  }

  test("checkpoint: after a killed run readAll returns exactly the done ranges' rows") {
    val out = tmp("ckpt_readall")
    val pts = spark.range(5000).select(col("id").as("event_id"),
      F.hilbertCell(F.cellAt(lit(8), docLon(col("id")), docLat(col("id")))).as("hkey"))
    val ranges = Checkpoint.uniformRanges(8, 4)
    def slice(lo: Long, hi: Long) = pts.filter(col("hkey") >= lo && col("hkey") < hi).select("event_id")
    intercept[RuntimeException](Checkpoint.runResumable(spark, slice, ranges, out, failAfter = Some(2)))
    val done = Checkpoint.completedRanges(out)
    assert(done.size == 2)
    // a range whose write was cut before its lineage line
    val cut = ranges.find(r => !done.contains(r.id)).get
    slice(cut.lo, cut.hi).write.parquet(s"$out/range=${cut.id}")
    val got = Checkpoint.readAll(spark, out)
    assert(got.columns.toSeq == Seq("event_id"))
    val want = ranges.filter(r => done.contains(r.id))
      .flatMap(r => slice(r.lo, r.hi).collect().map(_.getLong(0))).sorted
    assert(want.nonEmpty && got.collect().map(_.getLong(0)).sorted.toSeq == want)
    val none = intercept[IllegalStateException](Checkpoint.readAll(spark, tmp("ckpt_none")))
    assert(none.getMessage.contains("no completed range"))
  }

  test("checkpoint: a range writes one part file per read split of its own bytes, sized without a job") {
    // hkey a permutation of [0, 65536) spread over all 8 partitions: each of
    // the 4 ranges holds 16,384 rows, 128 kB by the plan's statistics (16 B
    // a row of one long); the whole frame is 512 kB
    def points(s: org.apache.spark.sql.SparkSession) = s.range(0, 65536, 1, 8)
      .select(col("id").as("event_id"), (col("id") * 40503 % 65536).as("hkey"))
    val ranges = Checkpoint.uniformRanges(8, 4)
    /** Part files and lineage rows per range, and the jobs of the run. */
    def written(s: org.apache.spark.sql.SparkSession): (Map[Int, Int], Map[Int, Long], Int) = {
      val out = tmp("ckpt_split")
      val pts = points(s)
      assert(pts.rdd.getNumPartitions == 8)
      val jobs = jobsOf(Checkpoint.runResumable(s, (lo, hi) =>
        pts.filter(col("hkey") >= lo && col("hkey") < hi).select("event_id"), ranges, out))
      val rows = Checkpoint.completed(out, "range").map { case (id, n) => id.toInt -> n }
      ranges.foreach(r => assert(rows(r.id) == s.read.parquet(s"$out/range=${r.id}").count(), r))
      assert(Checkpoint.readAll(s, out).collect().map(_.getLong(0)).sorted.toSeq == (0L until 65536L))
      val files = ranges.map { r =>
        r.id -> Files.list(java.nio.file.Paths.get(out, s"range=${r.id}")).iterator().asScala
          .count(f => f.getFileName.toString.startsWith("part-"))
      }.toMap
      (files, rows, jobs)
    }
    // 128 kB is under one 4 MB open cost: one split
    val (files, rows, jobs) = written(spark)
    assert(files.values.forall(_ == 1), files)
    assert(rows.values.forall(_ == 16384), rows)
    assert(jobs == ranges.size, s"$jobs jobs") // one write job per range, none to size it
    // Spark's split for b bytes on 4 cores: min(64 kB, max(16 kB, b / 4)),
    // 32 kB for a range's 128 kB, so 4 files; sized by the whole frame's
    // 512 kB a range would write 8 (64 kB splits, clamped to 8 partitions)
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    small.conf.set("spark.sql.files.openCostInBytes", "16384")
    val (smallFiles, smallRows, smallJobs) = written(small)
    ranges.foreach { r =>
      val bytes = smallRows(r.id) * 16.0
      val split = math.min(65536.0, math.max(16384.0, bytes / spark.sparkContext.defaultParallelism))
      assert(smallFiles(r.id) >= 2 && smallFiles(r.id) <= math.ceil(bytes / split), s"$r: $smallFiles")
    }
    assert(smallJobs == ranges.size && smallRows == rows, s"$smallJobs jobs, $smallRows")
  }

  test("checkpoint: a resume under another range cut fails and names the range") {
    val pts = spark.range(5000).select(col("id").as("event_id"),
      F.hilbertCell(F.cellAt(lit(8), docLon(col("id")), docLat(col("id")))).as("hkey"))
    def slice(lo: Long, hi: Long) = pts.filter(col("hkey") >= lo && col("hkey") < hi).select("event_id")
    val four = Checkpoint.uniformRanges(8, 4)
    val out = tmp("ckpt_recut")
    intercept[RuntimeException](Checkpoint.runResumable(spark, slice, four, out, failAfter = Some(2)))
    // ranges 0 and 1 cover [0, 32768); the 8-range cut would write [16384,
    // 32768) again as its ranges 2 and 3
    val recut = intercept[IllegalStateException](
      Checkpoint.runResumable(spark, slice, Checkpoint.uniformRanges(8, 8), out))
    assert(recut.getMessage.startsWith("range 0 is done") && recut.getMessage.contains("[0, 8192)"),
      recut.getMessage)
    assert(Checkpoint.completedRanges(out) == Set(0, 1))
    assert(Checkpoint.runResumable(spark, slice, four, out) == Seq(2, 3))
    assert(Checkpoint.readAll(spark, out).count() == 5000)
    // a done range the cut leaves out
    val fewer = intercept[IllegalStateException](Checkpoint.runResumable(spark, slice, four.take(2), out))
    assert(fewer.getMessage.startsWith("range 2 is done") && fewer.getMessage.contains("no range"),
      fewer.getMessage)
  }

  test("as-of join semantics: latest version <= ts, equal-ts visible, pre-first null") {
    import spark.implicits._
    val probe = Seq(
      (1L, 5L, "p-a"),   // between v@3 and v@8 -> v@3
      (1L, 3L, "p-b"),   // exactly AT v@3 -> v@3 (tie: state first)
      (1L, 2L, "p-c"),   // before first version -> null
      (2L, 100L, "p-d"), // key with one version at 50 -> v@50
      (3L, 9L, "p-e")    // key with NO state at all -> null
    ).toDF("k", "t", "tag")
    val state = Seq(
      (1L, 3L, 30L), (1L, 8L, 80L), (2L, 50L, 500L)
    ).toDF("k", "t", "val")
    val got = graft.ops.AsOf.asOfJoin(probe, state, "k", "t", Seq("val"))
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[Any]("val")).map(_.asInstanceOf[Long])).toMap
    assert(got == Map("p-a" -> Some(30L), "p-b" -> Some(30L), "p-c" -> None,
      "p-d" -> Some(500L), "p-e" -> None))
  }

  test("interval join: binned equi-join equals brute-force theta join incl. boundaries") {
    import spark.implicits._
    // windows crafted around the bin width (100): spanning a bin edge,
    // overlapping each other, zero-length-adjacent starts; probes on
    // inclusive start, exclusive end, inside, outside
    val win = Seq((0L, 90L, 150L), (1L, 120L, 400L), (2L, 150L, 160L), (3L, 700L, 800L))
      .toDF("w", "s", "e")
    val probe = (0L until 41L).map(i => (i, i * 20L)).toDF("id", "t")
    val got = graft.ops.AsOf.intervalJoin(probe, win, "t", "s", "e", binSec = 100L)
      .select("id", "w").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = probe.crossJoin(win)
      .filter(col("s") <= col("t") && col("t") < col("e"))
      .select("id", "w").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute && got.nonEmpty)
    // explicit boundary semantics: t == s matches, t == e does not
    assert(got.contains((35L, 3L)) && !got.contains((40L, 3L)))
  }

  test("snapshot commits: atomic pointer flip, time travel, crash-invisibility, expiry") {
    import spark.implicits._
    val table = tmp("snaptable")
    def frame(n: Int) = (0 until n).map(i => (i.toLong, i * 10L)).toDF("k", "v")

    // v1 then v2: readers always see the committed snapshot's exact files
    val id1 = TableIO.commit(frame(10), table, "k", Seq("k"), 2)
    val id2 = TableIO.commit(frame(25), table, "k", Seq("k"), 2)
    assert(id1 == 1L && id2 == 2L)
    // each manifest's per-file rows/lo/hi are a recomputed per-file aggregate
    def name(f: String) = f.substring(f.lastIndexOf('/') + 1)
    Seq(id1, id2).foreach { id =>
      val recomputed = TableIO.readAsOf(spark, table, id)
        .groupBy(input_file_name().as("f")).agg(count(lit(1)), min("k"), max("k")).collect()
        .map(r => name(r.getString(0)) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val manifest = java.nio.file.Files.readString(java.nio.file.Paths.get(table, s"_manifest-$id.json"))
      val listed = """\{"file": "([^"]+)", "rows": (\d+), "lo": (-?\d+), "hi": (-?\d+)\}""".r
        .findAllMatchIn(manifest)
        .map(m => name(m.group(1)) -> ((m.group(2).toLong, m.group(3).toLong, m.group(4).toLong))).toMap
      assert(listed.size == 2 && listed == recomputed, manifest)
    }
    assert(TableIO.currentSnapshotId(table).contains(2L))
    assert(TableIO.readCurrent(spark, table).count() == 25)
    // time travel: v1 is intact and byte-identical in content
    assert(TableIO.readAsOf(spark, table, id1).count() == 10)
    assert(TableIO.readAsOf(spark, table, id1).agg(sum("v")).head.getLong(0) == 450L)

    // crash BEFORE the pointer flip: in-flight data + manifest files exist
    // on disk but readers still resolve snapshot 2 — the half-commit is
    // invisible (this is what mode=overwrite on a live dir cannot give)
    frame(99).repartitionByRange(2, col("k")).write.parquet(s"$table/snap-3")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(table, "_manifest-3.json"),
      """{"format": "graft-table-v2", "snapshot_id": 3, "total_rows": 99, "files": []}""")
    assert(TableIO.currentSnapshotId(table).contains(2L))
    assert(TableIO.readCurrent(spark, table).count() == 25)

    // a later real commit supersedes the orphan id (4 = max committed + 1
    // is NOT required by the contract; the pointer decides)
    val id4 = TableIO.commit(frame(7), table, "k", Seq("k"), 1)
    assert(TableIO.readCurrent(spark, table).count() == 7)

    // expiry keeps the most recent `keep` committed snapshots
    val dropped = TableIO.expireSnapshots(table, keep = 1)
    assert(dropped.contains(1L) && !dropped.contains(id4))
    assert(TableIO.readCurrent(spark, table).count() == 7)
    intercept[Exception] { TableIO.readAsOf(spark, table, id1).count() }
  }

  test("a commit takes its manifest stats from the footers: the write is its only SQL execution") {
    import spark.implicits._
    val table = tmp("footerstats")
    val sc = spark.sparkContext
    val sql = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val bare = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => sql.add(s.description)
        case _ =>
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          bare.add(e.stageInfos.headOption.fold("?")(_.name))
    }
    val data = (0 until 1000).map(i => (i.toLong, i * 7L)).toDF("k", "v")
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { TableIO.commit(data, table, "k", Seq("k"), 4); org.apache.spark.TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(l)
    assert(sql.size == 1 && sql.peek().startsWith("parquet at "), sql)
    assert(bare.isEmpty, bare) // no schema-inference job either
    assert(TableIO.readCurrent(spark, table).count() == 1000)
  }

  test("snapshot compaction: row-identical, fewer files, layout preserved, old snapshot travelable") {
    import spark.implicits._
    val table = tmp("compacttable")
    val data = (0 until 500).map(i => (i.toLong, i * 3L)).toDF("k", "v")
    val id1 = TableIO.commit(data, table, "k", Seq("k"), 16)
    assert(TableIO.snapshot(table, id1).files.size == 16)
    val id2 = TableIO.compact(spark, table, targetFiles = 4)
    assert(TableIO.currentSnapshotId(table).contains(id2))
    val snap2 = TableIO.snapshot(table, id2)
    assert(snap2.files.size <= 4 && snap2.totalRows == 500)
    // row identity both directions
    val a = TableIO.readAsOf(spark, table, id1)
    val b = TableIO.readCurrent(spark, table)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // clustering contract preserved in the new manifest
    val s2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(table, s"_manifest-$id2.json"))
    assert(s2.contains("\"range_key\": \"k\""))
    // pre-compaction snapshot still travelable until expiry
    assert(TableIO.readAsOf(spark, table, id1).count() == 500)
    TableIO.expireSnapshots(table, keep = 1)
    intercept[Exception] { TableIO.readAsOf(spark, table, id1).count() }
    assert(TableIO.readCurrent(spark, table).count() == 500)
  }

  test("snapshots commit, read back and compact at a table path with a space and a %") {
    import spark.implicits._
    // the manifest lists each file as a path spark.read.parquet resolves;
    // a URL-encoded form names a directory `a%20b%2520c` that is not there
    val table = s"${tmp("spaced")}/a b%20c"
    val data = (0 until 5000).map(i => (i.toLong, i * 3L)).toDF("k", "v")
    val id1 = TableIO.commit(data, table, "k", Seq("k"), 4)
    assert(TableIO.readCurrent(spark, table).count() == 5000)
    val id2 = TableIO.compact(spark, table, targetFiles = 2)
    assert(id2 == id1 + 1 && TableIO.snapshot(table, id2).totalRows == 5000)
    val back = TableIO.readCurrent(spark, table)
    assert(back.exceptAll(data).isEmpty && data.exceptAll(back).isEmpty)
  }

  test("warm reads of the grid index, the checkpoint ranges and a snapshot infer no schema") {
    import spark.implicits._
    graft.queries.Queries.gazGridFatParquet(spark)
    assert(jobsOf(graft.queries.Queries.gazGridFatParquet(spark)) == 0)
    val out = tmp("ckpt_read")
    val pts = spark.range(2000).select(col("id").as("event_id"),
      F.hilbertCell(F.cellAt(lit(8), docLon(col("id")), docLat(col("id")))).as("hkey"))
    Checkpoint.runResumable(spark, (lo, hi) =>
      pts.filter(col("hkey") >= lo && col("hkey") < hi), Checkpoint.uniformRanges(8, 4), out)
    Checkpoint.readAll(spark, out)
    assert(jobsOf(Checkpoint.readAll(spark, out)) == 0)
    // a snapshot reads with its manifest's schema, cold or warm
    val table = tmp("asof")
    val id = TableIO.commit((0 until 100).map(i => (i.toLong, i)).toDF("k", "v"), table, "k", Seq("k"), 2)
    assert(jobsOf(TableIO.readAsOf(spark, table, id)) == 0)
    assert(TableIO.readAsOf(spark, table, id).schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("tile pyramid: level-by-level rollup equals direct grouping at every zoom") {
    val sf = "/root/testdata/sf0.001"
    val pyr = graft.queries.Queries.tilePyramid(spark, sf).persist()
    val pts = Synth.eventPoints(spark, sf)
    val total = pts.count()
    // mass is conserved at every level
    val sums = pyr.groupBy("z").agg(sum("n_events").as("s")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(graft.queries.Queries.PyramidZooms.forall(z => sums(z) == total))
    // the rolled-up z8 level is row-identical to grouping the raw points at z8
    val direct = pts
      .withColumn("cell", F.cellAt(lit(8), col("elon"), col("elat")))
      .groupBy("cell").agg(count(lit(1)).as("n_events"))
    val z8 = pyr.filter(col("z") === 8).select("cell", "n_events")
    assert(z8.exceptAll(direct).isEmpty && direct.exceptAll(z8).isEmpty)
    pyr.unpersist()
  }
}
