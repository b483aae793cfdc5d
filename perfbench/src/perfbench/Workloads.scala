package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.api.{GeocodeOptions, Geocoder}
import graft.functions.F
import graft.index.IndexBuild
import graft.ops.Geocode
import graft.pipeline.Checkpoint
import graft.synth.Synth

/** Helpers shared by the workloads. */
abstract class Base(ctx: Ctx) extends Workload {
  protected def spark = ctx.spark
  protected val gaz: DataFrame = Synth.gazDf(ctx.spark)
  protected val genTimes = mutable.ArrayBuffer.empty[Double]
  protected var genRows = 0L

  /** Time one input derivation (the `synth` layer). */
  protected def synth(rows: Long)(body: => Unit): Unit = {
    genTimes += seconds(body)
    genRows = rows
  }
  protected def synthMetrics: Map[String, Double] =
    Map("synth.gen_s" -> Stats.median(genTimes.toSeq), "synth.rows" -> genRows.toDouble)

  protected def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Milliseconds Catalyst takes to plan `df` (GraftExtensions installed). */
  protected def planMs(t: Tracer, df: => DataFrame): Double = {
    val d = df
    t.span("plans.plan")(d.queryExecution.executedPlan)
    t.named("plans.plan").last.seconds * 1000
  }

  protected def shuffleMb(t: Tracer, name: String): Double =
    ctx.ledger.totals(ctx.sc, t.groups(name): _*).shuffleWrite / 1048576.0

  def afterOp(i: Int): Unit = ctx.clearCache()
}

/** The headline: `Geocode.forward` (broadcast gazetteer) over the pages table. */
final class FwdBcast(ctx: Ctx) extends Base(ctx) {
  val rowsName = "docs"
  val opName = "pass"
  def minOps: Int = ctx.sizes.bcastOps
  def burnIn: Int = ctx.sizes.bcastBurnIn
  private val n = ctx.sizes.bcastPages
  private val pagesPath = s"${ctx.work}/pages_bcast"
  private val warmPath = s"${ctx.work}/pages_bcast_warm"
  private def pages = spark.read.parquet(pagesPath)
  private val sums = mutable.ArrayBuffer.empty[Checksum]

  def prepare(): Unit = synth(n) {
    ctx.inputs.writePages(spark, 0, n, ctx.files, pagesPath)
    ctx.inputs.writePages(spark, 0, ctx.sizes.warmRows, ctx.args.cores, warmPath)
  }

  /** A pass over the first pages: codegen, lazy caches. */
  def warmUp(): Unit = {
    val first = Checksum.of(Geocode.forward(spark.read.parquet(warmPath), gaz))
    ctx.clearCache()
    ctx.check("forward returns rows", first.rows > 0)
  }

  def op(i: Int): Long = {
    sums += Checksum.of(Geocode.forward(pages, gaz))
    n
  }

  def check(): Unit =
    ctx.check("forward checksum is the same on every pass", sums.distinct.size == 1, sums.distinct.mkString(" "))

  def traced(t: Tracer, untraced: Double): Map[String, Double] = {
    val maxLen = Geocode.maxNameTokens(gaz)
    var wRows, mRows, cRows = 0L
    var out: Checksum = null
    // Each stage is materialized on its own; the next public call finds the
    // previous stage's frame in Spark's cache, so its span times only itself.
    t.span("fwd_bcast.pass") {
      t.span("geocode.windows") { wRows = Geocode.tokenWindowsPos(pages, maxLen).persist().count() }
      val m = t.span("geocode.mentions") {
        val m = Geocode.mentions(pages, gaz).persist(); mRows = m.count(); m
      }
      val c = t.span("geocode.coalesce") {
        val c = Geocode.coalesce2(m).persist(); cRows = c.count(); c
      }
      t.span("geocode.rank") { out = Checksum.of(Geocode.rank(c, 5)) }
    }
    ctx.clearCache()
    ctx.check("traced forward == untraced forward", sums.headOption.contains(out), s"$out")
    val plan = planMs(t, Checksum.frame(Geocode.forward(pages, gaz)))
    ctx.clearCache()
    synthMetrics ++ Map(
      "geocode.windows.self_s" -> t.self("geocode.windows"),
      "geocode.windows.rows" -> wRows.toDouble,
      "geocode.mentions.self_s" -> t.self("geocode.mentions"),
      "geocode.mentions.rows" -> mRows.toDouble,
      "geocode.mentions.hit_ratio" -> mRows.toDouble / wRows,
      "geocode.coalesce.self_s" -> t.self("geocode.coalesce"),
      "geocode.coalesce.shuffle_mb" -> shuffleMb(t, "geocode.coalesce"),
      "geocode.rank.self_s" -> t.self("geocode.rank"),
      "geocode.rank.shuffle_mb" -> shuffleMb(t, "geocode.rank"),
      "geocode.rank.keep_ratio" -> out.rows.toDouble / cRows,
      "plans.plan_ms" -> plan,
      "trace_overhead_ratio" -> t.named("fwd_bcast.pass").head.seconds / untraced) ++
      scaling().map("scaling_eff" -> _)
  }

  /** Weak-scaling efficiency: docs/s on `cores` cores over all pages ÷
    * (cores × docs/s on one pinned core over 1/cores of them), each in a
    * fresh child JVM. A dead child or a missing rate is a failed
    * operation and leaves the metric without a value. */
  private def scaling(): Option[Double] = {
    val k = ctx.args.cores
    val partPath = s"${ctx.work}/pages_bcast_part"
    ctx.inputs.writePages(spark, 0, n / k, ctx.args.cores, partPath)
    val one = ScaleChild.launch(ctx, cores = 1, partPath, warmPath)
    val all = ScaleChild.launch(ctx, cores = k, pagesPath, warmPath)
    for (r1 <- one; rk <- all) yield {
      ctx.note(f"scaling: $k cores over $n pages ${rk}%.1f docs/s; 1 core over ${n / k} pages ${r1}%.1f docs/s")
      rk / (k * r1)
    }
  }
}

/** The write path: `forwardIndexedFat` over the fat grid index, written
  * per Hilbert range by `Checkpoint.runResumable`. */
final class FwdCkpt(ctx: Ctx) extends Base(ctx) {
  val rowsName = "docs"
  val opName = "job"
  def minOps: Int = ctx.sizes.ckptOps
  def burnIn: Int = ctx.sizes.ckptBurnIn
  private val n = ctx.sizes.ckptPages
  private val pagesPath = s"${ctx.work}/pages_ckpt"
  private val warmPath = s"${ctx.work}/pages_ckpt_warm"
  private val gridPath = s"${ctx.work}/grid_fat"
  private val outRoot = s"${ctx.work}/ckpt"
  private val ranges = Checkpoint.uniformRanges(8, 4)
  private val buildTimes = mutable.ArrayBuffer.empty[Double]
  private var resumeS = Double.NaN
  private var recompute = Double.NaN
  private val cols = Seq("doc_id", "feature_id", "typ", "relev", "cell", "ctx", "sd", "rank")

  private def pages = spark.read.parquet(pagesPath)
  private def grid = spark.read.parquet(gridPath)
  private def results(docs: DataFrame): DataFrame =
    Geocode.forwardIndexedFat(docs, grid)
      .withColumn("hkey", F.hilbertCell(F.parentCell(col("cell"), lit(8))))
      .persist()
  private def job(docs: DataFrame, out: String, failAfter: Option[Int] = None): Seq[Int] = {
    val r = results(docs)
    Checkpoint.runResumable(spark, (lo, hi) => r.filter(col("hkey") >= lo && col("hkey") < hi),
      ranges, out, failAfter)
  }
  private def output(dir: String) = Checkpoint.readAll(spark, dir).select(cols.map(col): _*)

  def prepare(): Unit = {
    synth(n) {
      ctx.inputs.writePages(spark, 0, n, ctx.files, pagesPath)
      ctx.inputs.writePages(spark, 0, ctx.sizes.warmRows, ctx.args.cores, warmPath)
    }
    buildTimes += seconds {
      IndexBuild.gazetteerGridFat(gaz, Geocode.ZPlace, Geocode.ZRegion)
        .coalesce(1).sortWithinPartitions("phrase_id", "cell", "feature_id")
        .write.mode("overwrite").parquet(gridPath)
    }
  }

  /** A checkpointed job on the first pages, checked against the broadcast path. */
  def warmUp(): Unit = {
    val warm = spark.read.parquet(warmPath)
    job(warm, s"$outRoot/warm")
    ctx.clearCache()
    val fat = Checksum.of(output(s"$outRoot/warm"))
    val bcast = Checksum.of(Geocode.forward(warm, gaz).select(cols.map(col): _*))
    ctx.clearCache()
    ctx.check("checkpointed job returns rows", fat.rows > 0)
    ctx.check("forward == forwardIndexedFat (checkpointed)", bcast == fat, s"$bcast vs $fat")
  }

  def op(i: Int): Long = { job(pages, s"$outRoot/op-$i"); n }

  override def afterOp(i: Int): Unit = {
    ctx.clearCache()
    if (i > 1 || i < 0) ctx.rmrf(s"$outRoot/op-$i")
  }

  private def lineage(dir: String): Map[Int, Long] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir, "_lineage.jsonl")).asScala
      .filter(_.contains("\"status\": \"done\"")).map { l =>
        val id = "\"range\": (\\d+)".r.findFirstMatchIn(l).get.group(1).toInt
        id -> "\"rows\": (\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
      }.toMap

  def check(): Unit = {
    ctx.check("every timed job writes the same output",
      Checksum.of(output(s"$outRoot/op-0")) == Checksum.of(output(s"$outRoot/op-1")))
    // kill the job on the first pages at half the ranges, clear the cache,
    // resume; compare with the warm-up's uninterrupted run on those pages
    val warm = spark.read.parquet(warmPath)
    val full = Checksum.of(output(s"$outRoot/warm"))
    val dir = s"$outRoot/killed"
    val killed = try { job(warm, dir, failAfter = Some(ranges.size / 2)); false }
      catch { case e: RuntimeException if e.getMessage.contains("injected failure") => true }
    ctx.check("injected failure stops the job", killed)
    val before = lineage(dir)
    ctx.clearCache()
    val t0 = System.nanoTime()
    val r = results(warm)
    val resumed = Checkpoint.runResumable(spark,
      (lo, hi) => r.filter(col("hkey") >= lo && col("hkey") < hi), ranges, dir)
    resumeS = (System.nanoTime() - t0) / 1e9
    val after = lineage(dir)
    // the resumed job recomputes the whole forward result; only the rows of
    // the pending ranges are written
    val pendingRows = resumed.map(after).sum
    recompute = r.count().toDouble / math.max(1L, pendingRows)
    ctx.clearCache()
    ctx.note(f"resume: ${resumed.size} pending ranges of ${ctx.sizes.warmRows} pages rewritten in " +
      f"$resumeS%.3f s (${before.size} done before the kill); recompute ratio $recompute%.3f")
    ctx.check("resume writes only the pending ranges",
      resumed.toSet == ranges.map(_.id).toSet -- before.keySet, s"$resumed")
    val union = Checksum.of(output(dir))
    ctx.check("kill-and-resume union == uninterrupted run", union == full, s"$union vs $full")
    before.foreach { case (id, rows) =>
      val got = spark.read.parquet(s"$dir/range=$id").count()
      ctx.check(s"range $id done before the kill still has its $rows rows", got == rows, s"read $got")
    }
  }

  def traced(t: Tracer, untraced: Double): Map[String, Double] = {
    val out = s"$outRoot/traced"
    t.span("pipeline.job") {
      val r = t.span("index.fwd") { val r = results(pages); r.count(); r }
      t.span("pipeline.ckpt") {
        Checkpoint.runResumable(spark, (lo, hi) => r.filter(col("hkey") >= lo && col("hkey") < hi),
          ranges, out)
      }
    }
    ctx.clearCache()
    val ckptGroup = t.groups("pipeline.ckpt").head
    val jobs = ctx.ledger.jobs(ctx.sc, ckptGroup)
    ctx.log("checkpoint jobs: " + jobs.map(_.callSite).distinct.mkString(" | "))
    // the slice writes are the jobs named after DataFrameWriter.parquet; the
    // rest re-read each written range to count its rows
    val (writes, rereads) = jobs.partition(_.callSite.startsWith("parquet at"))
    def jobSeconds(js: Seq[ctx.ledger.JobRec]) = js.map(j => (j.end - j.start) / 1000.0).sum
    val writeMb = ctx.ledger.totals(ctx.sc, ckptGroup).outputBytes / 1048576.0
    ctx.check("traced checkpoint == uninterrupted run",
      Checksum.of(output(out)) == Checksum.of(output(s"$outRoot/op-0")))
    val windows = Geocode.tokenWindowsPos(pages, Geocode.maxNameTokens(grid))
      .withColumn("phrase_id", xxhash64(col("phrase")))
    val hit = windows.join(grid.select("phrase_id").distinct(), Seq("phrase_id"), "left_semi").count()
    val plan = planMs(t, Checksum.frame(results(pages)))
    ctx.clearCache()
    synthMetrics ++ Map(
      "index.build_s" -> Stats.median(buildTimes.toSeq),
      "index.fwd.self_s" -> t.self("index.fwd"),
      "index.fwd.shuffle_mb" -> shuffleMb(t, "index.fwd"),
      "index.phrase_hit_ratio" -> hit.toDouble / windows.count(),
      "pipeline.ckpt.write_s" -> jobSeconds(writes),
      "pipeline.ckpt.reread_s" -> jobSeconds(rereads),
      "pipeline.ckpt.write_mb" -> writeMb,
      "pipeline.ckpt.jobs_per_range" -> jobs.size.toDouble / ranges.size,
      "pipeline.resume.recompute_ratio" -> recompute,
      "pipeline.resume_s" -> resumeS,
      "plans.plan_ms" -> plan,
      "trace_overhead_ratio" -> t.named("pipeline.job").head.seconds / untraced)
  }
}

/** `api.Geocoder.reverse` over amplified event points: the context chain
  * over continent/country/place rectangles, kNN as the fallback. */
final class RevPoints(ctx: Ctx) extends Base(ctx) {
  val rowsName = "points"
  val opName = "pass"
  def minOps: Int = ctx.sizes.revOps
  def burnIn: Int = ctx.sizes.revBurnIn
  private val n = ctx.sizes.points
  private val keysDir = s"${ctx.work}/keys"
  private val pointsPath = s"${ctx.work}/points"
  private val warmPath = s"${ctx.work}/points_warm"
  private val KnnZ = 8
  private lazy val geocoder = Geocoder.default(spark)
  private val sums = mutable.ArrayBuffer.empty[Checksum]

  private def points = spark.read.parquet(pointsPath)
  private def typed: Seq[(String, DataFrame, Int)] = Seq(
    ("continent", Synth.continentFeatures(spark, keysDir), 4),
    ("country", Synth.nationFeatures(spark, keysDir), 6),
    ("place", Synth.custFeatures(spark, keysDir), 8))

  def prepare(): Unit = synth(n) {
    ctx.inputs.writeKeyTables(spark, keysDir)
    ctx.inputs.writePoints(spark, n, ctx.files, pointsPath)
    ctx.inputs.writePoints(spark, ctx.sizes.warmRows, ctx.args.cores, warmPath)
  }

  /** Reverse on the first points (a seeded sample, 10% of it in the hot
    * cell), with containment checked against a brute-force half-open
    * rectangle test. */
  def warmUp(): Unit = {
    val pts = spark.read.parquet(warmPath).collect().map(p => (p.getLong(0), p.getDouble(1), p.getDouble(2)))
    val got = geocoder.reverse(spark.read.parquet(warmPath), typed, KnnZ).filter(col("via") === "pip")
      .collect().map(x => (x.getLong(0), x.getString(1)) -> x.getLong(2)).toMap
    ctx.clearCache()
    val want = typed.flatMap { case (typ, feats, _) =>
      val rects = feats.select("feature_id", "west", "south", "east", "north").collect()
        .map(f => (f.getLong(0), f.getDouble(1), f.getDouble(2), f.getDouble(3), f.getDouble(4)))
      pts.flatMap { case (id, lon, lat) =>
        val in = rects.filter { case (_, w, s, e, nn) => lon >= w && lon < e && lat >= s && lat < nn }
        if (in.isEmpty) None else Some((id, typ) -> in.map(_._1).min)
      }
    }.toMap
    val hot = pts.count { case (_, lon, lat) => graft.core.CellMath.lonLatToCell(8, lon, lat) == ctx.inputs.hotCell }
    ctx.note(s"containment check: ${pts.length} points ($hot in the hot cell), ${want.size} (point, type) containments")
    ctx.check("reverse finds containments", want.nonEmpty)
    ctx.check("reverse containment == brute-force rect test", got == want,
      s"${(got.toSet diff want.toSet).take(3)} / ${(want.toSet diff got.toSet).take(3)}")
  }

  def op(i: Int): Long = {
    sums += Checksum.of(geocoder.reverse(points, typed, KnnZ))
    n
  }

  def check(): Unit =
    ctx.check("reverse checksum is the same on every pass", sums.distinct.size == 1, sums.distinct.mkString(" "))

  def traced(t: Tracer, untraced: Double): Map[String, Double] = {
    var pairs, pipRows, knnPoints = 0L
    var byRadius = Map.empty[Int, Long]
    var out: Checksum = null
    // Mirrors the composition inside Geocoder.reverse, stage by stage; each
    // later call finds the earlier stages' frames in Spark's cache.
    t.span("api.reverse") {
      val pip = t.span("geocode.context") {
        typed.foreach { case (_, feats, z) =>
          t.span("geocode.cell_join") {
            val cover = feats.withColumn("cell", explode(F.tileCover(col("geom_wkb"), lit(z))))
            val probes = points.withColumn("cell", F.cellAt(lit(z), col("elon"), col("elat")))
            pairs += probes.join(cover, "cell").persist().count()
          }
          t.span("geocode.pip") { pipRows += Geocode.reversePip(points, feats, z).persist().count() }
        }
        val pip = Geocode.contextChain(points, typed).withColumn("via", lit("pip")).persist()
        pip.count()
        pip
      }
      t.span("geocode.knn") {
        val unmatched = points.join(pip.select("event_id").distinct(), Seq("event_id"), "left_anti")
        val fallback = typed.last._2.select(col("feature_id"), col("flon"), col("flat"))
        val knn = Geocode.knnExpanding(unmatched, fallback, KnnZ)
        byRadius = knn.groupBy("radius").count().collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
        knnPoints = unmatched.count()
      }
      out = Checksum.of(geocoder.reverse(points, typed, KnnZ))
    }
    ctx.clearCache()
    ctx.check("traced reverse == untraced reverse", sums.headOption.contains(out), s"$out")
    val plan = planMs(t, Checksum.frame(geocoder.reverse(points, typed, KnnZ)))
    ctx.clearCache()
    val kp = math.max(1L, knnPoints).toDouble
    def share(r: Int) = byRadius.getOrElse(r, 0L) / kp
    // cells probed: a point settled at radius r probed disk(r); an
    // unsettled one probed disk(8)
    val cells = (byRadius.map { case (r, c) => c * (2 * r + 1) * (2 * r + 1) }.sum +
      (knnPoints - byRadius.values.sum) * 17 * 17) / kp
    synthMetrics ++ Map(
      "geocode.cell_join.self_s" -> t.self("geocode.cell_join"),
      "geocode.cell_join.pairs" -> pairs.toDouble,
      "geocode.pip.self_s" -> t.self("geocode.pip"),
      "geocode.pip.hit_ratio" -> pipRows.toDouble / pairs,
      "geocode.context.self_s" -> t.self("geocode.context"),
      "geocode.knn.self_s" -> t.self("geocode.knn"),
      "geocode.knn.jobs" -> ctx.ledger.totals(ctx.sc, t.groups("geocode.knn"): _*).jobs.toDouble,
      "geocode.knn.cells_per_point" -> cells,
      "geocode.knn.r2_share" -> share(2), "geocode.knn.r4_share" -> share(4),
      "geocode.knn.r8_share" -> share(8),
      "api.reverse.self_s" -> t.self("api.reverse"),
      "plans.plan_ms" -> plan,
      "trace_overhead_ratio" -> t.named("api.reverse").head.seconds / untraced)
  }
}

/** Repeated small `api.Geocoder.forward` requests: driver-side page rows
  * and a seeded mix of options, each result collected. */
final class FwdRequests(ctx: Ctx) extends Base(ctx) {
  val rowsName = "docs"
  val opName = "request"
  def minOps: Int = ctx.sizes.reqOps
  def burnIn: Int = 0
  private val s = ctx.sizes
  private lazy val geocoder = Geocoder.default(spark)
  private var pool: Array[Row] = Array.empty
  private val results = mutable.Map.empty[Int, Array[Row]]

  /** Six option sets drawn from the seed; every request uses one of them. */
  private val configs: IndexedSeq[GeocodeOptions] = {
    val r = ctx.inputs.stream(0)
    def pick[A](xs: A*): A = xs(r.nextInt(xs.size))
    (0 until 6).map { _ =>
      val w = r.nextInt(300) - 180.0
      val so = r.nextInt(100) - 60.0
      GeocodeOptions(
        limit = pick(1, 3, 5),
        types = pick(None, Some(Seq("place")), Some(Seq("region")), Some(Seq("place", "region"))),
        bbox = pick(None, Some((w, so, w + 60.0, so + 40.0))),
        proximity = pick(None, Some((r.nextInt(360000) / 1000.0 - 180.0, r.nextInt(140000) / 1000.0 - 70.0))))
    }
  }

  /** Request i: its page indexes in the pool and its option set. */
  private val specs = mutable.ArrayBuffer.empty[(Array[Int], Int)]
  private lazy val specRng = ctx.inputs.stream(1)
  private def spec(i: Int): (Array[Int], Int) = {
    while (specs.size <= i)
      specs += ((Array.fill(s.reqDocs)(specRng.nextInt(pool.length)).distinct, specRng.nextInt(configs.size)))
    specs(i)
  }
  private def frame(idx: Seq[Int]): DataFrame =
    spark.createDataFrame(idx.map(pool).asJava, ctx.inputs.pageSchema)

  def prepare(): Unit = synth(s.reqPool.toLong) {
    pool = (0 until s.reqPool).map(j => ctx.inputs.pageRow(j.toLong)).toArray
  }

  /** Requests drawn from their own seeded stream, one per option set. */
  def warmUp(): Unit = {
    val r = ctx.inputs.stream(2)
    val rows = configs.map { c =>
      val idx = Seq.fill(s.reqDocs)(r.nextInt(pool.length)).distinct
      val n = geocoder.forward(frame(idx), c).collect().length
      ctx.clearCache()
      n
    }
    ctx.check("warm-up requests return rows", rows.sum > 0)
  }

  def op(i: Int): Long = {
    val (idx, c) = spec(i)
    results(i) = geocoder.forward(frame(idx.toSeq), configs(c)).collect()
    idx.length
  }

  def check(): Unit = {
    ctx.check("requests return rows", results.values.exists(_.nonEmpty))
    results.keys.groupBy(i => spec(i)._2).foreach { case (c, reqs) =>
      val docs = reqs.flatMap(i => spec(i)._1).toSeq.distinct
      val batch = geocoder.forward(frame(docs), configs(c)).collect().groupBy(_.getLong(0))
      ctx.clearCache()
      reqs.foreach { i =>
        val mine = results(i).groupBy(_.getLong(0))
        val ok = spec(i)._1.map(pool(_).getLong(0)).distinct.forall { d =>
          mine.getOrElse(d, Array.empty[Row]).toSet == batch.getOrElse(d, Array.empty[Row]).toSet
        }
        ctx.check(s"request $i == batch output for its docs (options ${configs(c)})", ok)
      }
    }
  }

  def traced(t: Tracer, untraced: Double): Map[String, Double] = {
    val reqSpans = (0 until s.tracedReqs).map { i =>
      val (idx, c) = spec(i)
      t.span("api.request") {
        val df = t.span("api.options")(geocoder.forward(frame(idx.toSeq), configs(c)))
        t.span("plans.plan")(df.queryExecution.executedPlan)
        val rows = t.span("api.exec")(df.collect())
        ctx.check(s"traced request $i == untraced", results.get(i).forall(_.toSet == rows.toSet))
      }
      ctx.clearCache()
      t.named("api.request").last
    }
    def med(name: String) = Stats.median(t.named(name).map(t.selfSeconds))
    synthMetrics ++ Map(
      "api.options.self_s" -> med("api.options"),
      "plans.plan_ms" -> med("plans.plan") * 1000,
      "trace_overhead_ratio" -> Stats.median(reqSpans.map(_.seconds)) / untraced)
  }
}

/** One scaling sample in a fresh JVM: warm up, then time forward passes
  * over a pages table and print the rate. */
object ScaleChild {
  private val rateRe = """\{"rate":\s*([0-9.eE+-]+)\}""".r

  def run(args: Args): Int = {
    val spark = Main.session(args)
    try {
      val gaz = Synth.gazDf(spark)
      Checksum.of(Geocode.forward(spark.read.parquet(args.warm), gaz))
      spark.catalog.clearCache()
      val pages = spark.read.parquet(args.pages)
      val n = pages.count()
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Checksum.of(Geocode.forward(pages, gaz))
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(s"""{"rate": ${n / times.min}}""")
      0
    } finally spark.stop()
  }

  /** Start a child on `cores` CPUs (pinned with taskset to the highest
    * ones when that is fewer than the box has) and return its rate, or
    * record a failed operation. The child's stderr is kept in a file. */
  def launch(ctx: Ctx, cores: Int, pages: String, warm: String): Option[Double] = {
    val total = Runtime.getRuntime.availableProcessors()
    val name = s"scale-child-$cores"
    ctx.attempt(name) {
      val pin = if (cores < total) Seq("taskset", "-c", s"${total - cores}-${total - 1}") else Nil
      val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms")).toSeq
      val cmd = pin ++ Seq(System.getProperty("java.home") + "/bin/java", s"-Xmx${ctx.args.childHeap}") ++
        jvm ++ Seq("-cp", System.getProperty("java.class.path"), "perfbench.Main",
          "--role", "scale-child", "--cores", cores.toString, "--pages", pages, "--warm", warm,
          "--work", s"${ctx.work}/$name")
      val log = s"${ctx.args.logDir}/$name-${ctx.args.workload}-${ctx.args.seed}"
      val err = new java.io.File(s"$log.stderr.log")
      val outFile = new java.io.File(s"$log.stdout.log")
      ctx.log(s"phase $name (stderr: $err)")
      val p = new ProcessBuilder(cmd: _*).redirectError(err).redirectOutput(outFile).start()
      if (!p.waitFor(150, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly().waitFor()
        throw new RuntimeException(s"$name timed out; stderr in $err")
      }
      if (p.exitValue() != 0) throw new RuntimeException(s"$name exited ${p.exitValue()}; stderr in $err")
      val out = new String(java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
      rateRe.findFirstMatchIn(out).map(_.group(1).toDouble)
        .getOrElse(throw new RuntimeException(s"$name printed no rate; stderr in $err"))
    }
  }
}
