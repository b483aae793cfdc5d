package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line options; `run.py` fills in everything but the first four. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      scale: String, work: String, logDir: String, profile: String,
                      cores: Int, childHeap: String, memoryFraction: String, role: String,
                      pages: String, warm: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String) = kv.getOrElse(k, d)
    Args(get("workload", ""), get("seed", "1").toLong, get("seconds", "10").toInt,
      get("trace", "0") == "1", get("scale", "full"), get("work", "."), get("log-dir", "."),
      get("profile", ""), get("cores", "4").toInt, get("child-heap", "2g"), get("memory-fraction", "0.6"),
      get("role", "main"), get("pages", ""), get("warm", ""))
  }
}

/** Input sizes. `full` is the measured configuration; `smoke` is the
  * self-check's, small enough to run every workload in seconds. */
final case class Sizes(bcastPages: Long, ckptPages: Long, points: Long, warmRows: Long,
                       reqPool: Int, reqDocs: Int, tracedReqs: Int,
                       bcastOps: Int, ckptOps: Int, revOps: Int, reqOps: Int, setupReps: Int,
                       bcastBurnIn: Int, ckptBurnIn: Int, revBurnIn: Int)

object Sizes {
  val full = Sizes(bcastPages = 12000, ckptPages = 8000, points = 60000, warmRows = 2000,
    reqPool = 4000, reqDocs = 100, tracedReqs = 10,
    bcastOps = 4, ckptOps = 3, revOps = 2, reqOps = 5, setupReps = 3,
    bcastBurnIn = 2, ckptBurnIn = 1, revBurnIn = 1)
  val smoke = Sizes(bcastPages = 2000, ckptPages = 2000, points = 10000, warmRows = 200,
    reqPool = 200, reqDocs = 10, tracedReqs = 3,
    bcastOps = 2, ckptOps = 2, revOps = 2, reqOps = 5, setupReps = 1,
    bcastBurnIn = 1, ckptBurnIn = 1, revBurnIn = 1)
}

/** Shared state of one benchmark run: the session, the engine ledger, the
  * input generator, and the attempted/failed operation counts (a check
  * mismatch counts as a failed operation). */
final class Ctx(val spark: SparkSession, val args: Args, val ledger: Ledger,
                val inputs: Inputs, val sizes: Sizes) {
  private val t0 = System.nanoTime()
  var attempted = 0L
  var failed = 0L
  val summary = mutable.ArrayBuffer.empty[String]

  def sc = spark.sparkContext
  def work: String = args.work
  def files: Int = 4 * args.cores

  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.3fs ${java.time.Instant.now()}] $msg")

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; log(s"CHECK FAILED $name $detail") }
  }

  /** Run one operation; a thrown error counts as a failed operation. */
  def attempt[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        log(s"OPERATION FAILED $name: $e")
        e.printStackTrace()
        None
    }
  }

  def note(line: String): Unit = { summary += line; log(line) }

  /** Drop every persisted frame and wait until its blocks are gone:
    * `clearCache` alone unpersists asynchronously, and one operation's
    * frames must not still be held when the next one starts. */
  def clearCache(): Unit = {
    // blocking first: a second removal racing an asynchronous one fails
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    ledger.forgetBlocks(sc)
  }

  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}

/** Order-independent checksum of a result frame: row count, the sum of the
  * low 32 bits of each row's 64-bit hash, and the xor of the hashes. */
final case class Checksum(rows: Long, sum: Long, xor: Long)

object Checksum {
  def frame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(bit_xor(h), lit(0L)))
  }
  def read(agg: DataFrame): Checksum = {
    val r = agg.head()
    Checksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }
  def of(df: DataFrame): Checksum = read(frame(df))
}

/** One workload: input preparation (repeated to time it), a warm-up, a
  * timed operation, the correctness checks, and the traced pass giving its
  * per-layer metrics. */
trait Workload {
  /** What one row of throughput is ("docs" or "points"). */
  def rowsName: String
  def opName: String
  def minOps: Int
  /** Generate the inputs and build any index (repeated; the median counts). */
  def prepare(): Unit
  /** Run the operation once on a small input so JIT, codegen and the
    * program's own lazy caches are warm; checks its output where it can. */
  def warmUp(): Unit
  /** Untimed full-size operations after the warm-up (part of set-up): the
    * JIT keeps compiling through the first few, which shows in their CPU time. */
  def burnIn: Int
  /** One timed operation; returns the rows it processed. */
  def op(i: Int): Long
  /** Untimed clean-up after an operation. */
  def afterOp(i: Int): Unit
  def check(): Unit
  /** The traced pass (and anything else measured only with tracing on);
    * returns per-layer metrics of the layers this workload runs. */
  def traced(t: Tracer, untracedOpSeconds: Double): Map[String, Double]
}

object Main {

  def session(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.memory.fraction", args.memoryFraction)
      .config("spark.memory.storageFraction", "0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val code = args.role match {
      case "scale-child" => ScaleChild.run(args)
      case _ => run(args)
    }
    System.out.flush()
    System.exit(code)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def run(args: Args): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sizes = if (args.scale == "smoke") Sizes.smoke else Sizes.full
    val profile = Profile.load(args.profile)
    val inputs = new Inputs(profile, args.seed)
    val spark = session(args)
    val sessionReadyMs = System.currentTimeMillis()
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val ctx = new Ctx(spark, args, ledger, inputs, sizes)
    ctx.log(s"phase session ready: workload=${args.workload} seed=${args.seed} " +
      s"seconds=${args.seconds} trace=${args.trace} cores=${args.cores} scale=${args.scale} " +
      s"heap=${Runtime.getRuntime.maxMemory() >> 20}MB")
    val wl: Workload = args.workload match {
      case "fwd_bcast" => new FwdBcast(ctx)
      case "fwd_ckpt" => new FwdCkpt(ctx)
      case "rev_points" => new RevPoints(ctx)
      case "fwd_requests" => new FwdRequests(ctx)
      case other => ctx.log(s"unknown workload '$other'"); spark.stop(); return 2
    }

    // ---- set-up: JVM + session start, the input preparation (repeated:
    // its median counts), the warm-up and the burn-in operations; timed as
    // the JVM's CPU time (setup_s) and as wall time ----
    val startCpuS = Cpu.seconds()
    val prep = (1 to sizes.setupReps).map { r =>
      ctx.log(s"phase prepare rep $r/${sizes.setupReps}")
      Cpu.time(wl.prepare())
    }
    ctx.log("phase warm-up")
    val warm = Cpu.time {
      ctx.attempt("warm-up")(wl.warmUp())
      (1 to wl.burnIn).foreach { b =>
        ctx.attempt(s"burn-in ${wl.opName} $b")(wl.op(-b))
        ctx.attempt(s"cleanup after burn-in ${wl.opName} $b")(wl.afterOp(-b))
      }
    }
    val startS = (sessionReadyMs - jvmStartMs) / 1000.0
    val setupS = startCpuS + Stats.median(prep.map(_.cpu)) + warm.cpu
    val setupWallS = startS + Stats.median(prep.map(_.wall)) + warm.wall

    // ---- timed operations (closed loop, one client) ----
    ctx.log(s"phase measure: ${args.seconds}s, at least ${wl.minOps} ${wl.opName}s")
    ctx.clearCache()
    ledger.resetCachePeak(spark.sparkContext)
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val jit = mutable.ArrayBuffer.empty[Double] // the part of `cpu` the JIT compilers used
    var rows = 0L
    val tStart = System.nanoTime()
    var i = 0
    while (i < wl.minOps || (System.nanoTime() - tStart) / 1e9 < args.seconds) {
      spark.sparkContext.setJobGroup("ops", "timed operations")
      val gc0 = Cpu.gcMs()
      val t = Cpu.time(ctx.attempt(s"${wl.opName} $i")(wl.op(i)))
      spark.sparkContext.clearJobGroup()
      t.value.foreach { n => rows += n; lat += t.wall; cpu += t.cpu; jit += t.jit }
      System.err.println(f"[perfbench-op] ${wl.opName} $i: ${t.wall}%.4f s wall, ${t.cpu}%.4f s CPU, " +
        f"of it JIT ${t.jit}%.2f s; GC ${Cpu.gcMs() - gc0} ms")
      ctx.attempt(s"cleanup after ${wl.opName} $i")(wl.afterOp(i))
      i += 1
    }
    val cachePeakMb = ledger.cachePeakBytes(spark.sparkContext) / 1048576.0
    val cacheDiskMb = ledger.cacheDiskPeakBytes(spark.sparkContext) / 1048576.0
    val opSeconds = lat.sum
    val opMedian = Stats.median(lat.toSeq)
    val cpuMedian = Stats.median(cpu.toSeq)
    val rowsPerCpuS = rows / cpu.sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_cpu_s", rowsPerCpuS, "rows/cpu-s"),
      ("cache_peak_mb", cachePeakMb, "MB"))
    val loop = Map(
      "jvm.jit_cpu_s" -> jit.sum / jit.size,
      "wall.setup_s" -> setupWallS,
      "wall.rows_per_s" -> rows / opSeconds,
      "wall.op_p50_ms" -> opMedian * 1000,
      "wall.op_p90_ms" -> Stats.quantile(lat.toSeq, 0.9) * 1000)
    ctx.note(f"${wl.rowsName}_per_cpu_s=$rowsPerCpuS%.1f over ${cpu.size} ${wl.opName}s (${rows} ${wl.rowsName}, " +
      f"${cpu.sum}%.2f CPU s, of it JIT ${jit.sum}%.2f s); " +
      f"${wl.opName} CPU p50=${cpuMedian * 1000}%.1f ms (n=${cpu.size}; ${cpu.map(c => f"$c%.2f").mkString(" ")} s); " +
      f"setup_s=$setupS%.3f CPU (start $startCpuS%.3f + prepare ${Stats.median(prep.map(_.cpu))}%.3f, " +
      f"median of ${prep.size} + warm-up ${warm.cpu}%.3f); cache_peak_mb=$cachePeakMb%.2f")
    ctx.note(f"wall: ${wl.rowsName}_per_s=${rows / opSeconds}%.1f (${opSeconds}%.2f s); ${wl.opName} " +
      f"p50=${opMedian * 1000}%.1f ms p90=${Stats.quantile(lat.toSeq, 0.9) * 1000}%.1f ms (n=${lat.size}); " +
      f"setup $setupWallS%.3f s (start $startS%.3f + prepare ${Stats.median(prep.map(_.wall))}%.3f + " +
      f"warm-up ${warm.wall}%.3f); CPU busy ${cpu.sum / opSeconds / args.cores}%.2f of ${args.cores} cores")

    // ---- correctness ----
    ctx.log("phase check")
    ctx.clearCache()
    ctx.attempt("checks")(wl.check())

    // ---- traced run ----
    val perLayer: Option[Seq[(String, Double, String)]] = if (!args.trace) None else {
      ctx.log("phase trace")
      ctx.clearCache()
      val ops = ledger.totals(spark.sparkContext, "ops")
      val n = math.max(1, lat.size).toDouble
      val tracer = new Tracer(spark.sparkContext, s"${args.workload}-${args.seed}")
      val own = ctx.attempt("traced pass")(wl.traced(tracer, opMedian)).getOrElse(Map.empty)
      ctx.clearCache()
      ctx.check("self times account for each root span", tracer.selfTimesAccountForRoots)
      ctx.attempt("write trace")(tracer.writeJsonl(s"${args.logDir}/trace-${tracer.runId}.jsonl"))
      val common = Map(
        "spark.jobs_per_req" -> ops.jobs / n,
        "spark.stages_per_req" -> ops.stages / n,
        "spark.tasks_per_req" -> ops.tasks / n,
        "spark.task_s" -> ops.runMs / 1000.0 / n,
        "spark.cpu_busy_ratio" -> ops.cpuNs / 1e9 / (opSeconds * args.cores),
        "spark.sched_delay_s" -> ops.schedMs / 1000.0 / n,
        "spark.gc_s" -> ops.gcMs / 1000.0 / n,
        "spark.shuffle_write_mb" -> ops.shuffleWrite / 1048576.0 / n,
        "spark.shuffle_read_mb" -> ops.shuffleRead / 1048576.0 / n,
        "spark.spill_mb" -> ops.diskSpill / 1048576.0 / n,
        "spark.task_skew" -> ledger.taskSkew(spark.sparkContext, "ops"),
        "spark.failed_tasks" -> ops.failedTasks.toDouble,
        "spark.cache_disk_mb" -> cacheDiskMb)
      val got = common ++ loop ++ own
      val missing = Layers.exercised(args.workload).filterNot(got.contains)
      missing.foreach(m => ctx.check(s"per-layer metric $m measured", ok = false))
      Some(Layers.all.map { case (name, unit) =>
        val v = if (name == "error_ratio") ctx.failed.toDouble / math.max(1L, ctx.attempted)
          else got.getOrElse(name, if (Layers.exercised(args.workload).contains(name)) Double.NaN else 0.0)
        (name, v, unit)
      })
    }

    val errorRatio = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    ctx.note(f"error_ratio=$errorRatio%.4f (${ctx.failed} failed of ${ctx.attempted} attempted)")
    ctx.summary.foreach(l => println(s"# $l"))
    val metrics = perLayer.getOrElse(e2e)
    metrics.foreach { case (k, v, u) => println(s"# $k = ${fmt(v)} $u") }
    val badValue = metrics.exists { case (_, v, _) => v.isNaN || v.isInfinite }
    if (badValue) ctx.log("a metric has no value: the run counts as failed")
    val correct = ctx.failed == 0 && !badValue
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed + (if (badValue) 1 else 0)}, "metrics": {${body.mkString(", ")}}}""")
    ctx.log("phase done")
    spark.stop()
    if (correct) 0 else 1
  }
}

/** The per-layer metric names (the traced run prints all of them on every
  * workload; a layer the workload does not run reads 0). */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "synth.gen_s" -> "s", "synth.rows" -> "count",
    "geocode.windows.self_s" -> "s", "geocode.windows.rows" -> "count",
    "geocode.mentions.self_s" -> "s", "geocode.mentions.rows" -> "count",
    "geocode.mentions.hit_ratio" -> "ratio",
    "geocode.coalesce.self_s" -> "s", "geocode.coalesce.shuffle_mb" -> "MB",
    "geocode.rank.self_s" -> "s", "geocode.rank.shuffle_mb" -> "MB", "geocode.rank.keep_ratio" -> "ratio",
    "index.build_s" -> "s", "index.fwd.self_s" -> "s", "index.fwd.shuffle_mb" -> "MB",
    "index.phrase_hit_ratio" -> "ratio",
    "pipeline.ckpt.write_s" -> "s", "pipeline.ckpt.reread_s" -> "s", "pipeline.ckpt.write_mb" -> "MB",
    "pipeline.ckpt.jobs_per_range" -> "count", "pipeline.resume.recompute_ratio" -> "ratio",
    "pipeline.resume_s" -> "s",
    "geocode.cell_join.self_s" -> "s", "geocode.cell_join.pairs" -> "count",
    "geocode.pip.self_s" -> "s", "geocode.pip.hit_ratio" -> "ratio", "geocode.context.self_s" -> "s",
    "geocode.knn.self_s" -> "s", "geocode.knn.jobs" -> "count", "geocode.knn.cells_per_point" -> "count",
    "geocode.knn.r2_share" -> "ratio", "geocode.knn.r4_share" -> "ratio", "geocode.knn.r8_share" -> "ratio",
    "api.options.self_s" -> "s", "api.reverse.self_s" -> "s", "plans.plan_ms" -> "ms",
    "spark.jobs_per_req" -> "count", "spark.stages_per_req" -> "count", "spark.tasks_per_req" -> "count",
    "spark.task_s" -> "s", "spark.cpu_busy_ratio" -> "ratio", "spark.sched_delay_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio", "spark.failed_tasks" -> "count",
    "spark.cache_disk_mb" -> "MB",
    "jvm.jit_cpu_s" -> "s", "wall.setup_s" -> "s", "wall.rows_per_s" -> "rows/s",
    "wall.op_p50_ms" -> "ms", "wall.op_p90_ms" -> "ms",
    "scaling_eff" -> "ratio", "trace_overhead_ratio" -> "ratio", "error_ratio" -> "ratio")

  private val common = Seq("synth.gen_s", "synth.rows", "plans.plan_ms", "trace_overhead_ratio",
    "jvm.jit_cpu_s", "wall.setup_s", "wall.rows_per_s", "wall.op_p50_ms", "wall.op_p90_ms")
  private val forward = Seq("geocode.windows.self_s", "geocode.windows.rows",
    "geocode.mentions.self_s", "geocode.mentions.rows", "geocode.mentions.hit_ratio",
    "geocode.coalesce.self_s", "geocode.coalesce.shuffle_mb",
    "geocode.rank.self_s", "geocode.rank.shuffle_mb", "geocode.rank.keep_ratio")

  /** The layer metrics a workload must measure (a missing one fails the run). */
  def exercised(workload: String): Seq[String] = common ++ (workload match {
    case "fwd_bcast" => forward :+ "scaling_eff"
    case "fwd_ckpt" => Seq("index.build_s", "index.fwd.self_s", "index.fwd.shuffle_mb",
      "index.phrase_hit_ratio", "pipeline.ckpt.write_s", "pipeline.ckpt.reread_s",
      "pipeline.ckpt.write_mb", "pipeline.ckpt.jobs_per_range",
      "pipeline.resume.recompute_ratio", "pipeline.resume_s")
    case "rev_points" => Seq("geocode.cell_join.self_s", "geocode.cell_join.pairs",
      "geocode.pip.self_s", "geocode.pip.hit_ratio", "geocode.context.self_s",
      "geocode.knn.self_s", "geocode.knn.jobs", "geocode.knn.cells_per_point",
      "geocode.knn.r2_share", "geocode.knn.r4_share", "geocode.knn.r8_share", "api.reverse.self_s")
    case "fwd_requests" => Seq("api.options.self_s")
    case _ => Nil
  })
}
