package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters, grouped by the job group that was set when each
  * job started. The benchmark sets one group for its timed operations
  * ("ops") and one per traced span, so stage and task counters land on the
  * span that caused them. Also tracks the storage memory held by persisted
  * frames (RDD blocks), for the cache peak. */
final class Ledger extends SparkListener {

  final class Agg {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, schedMs = 0L
    var shuffleWrite, shuffleRead, diskSpill, outputBytes = 0L
  }
  final case class JobRec(id: Int, group: String, callSite: String, start: Long, var end: Long)
  final case class StageRec(group: String, durations: mutable.ArrayBuffer[Long])

  private val aggs = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[(Int, Int), StageRec]
  private val jobRecs = mutable.Map.empty[Int, JobRec]
  private val blocks = mutable.Map.empty[String, (Long, Long)]
  private var memNow, memPeak, diskNow, diskPeak = 0L

  private def agg(g: String) = aggs.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    // the result stage is named after the action's call site, e.g. "count at X.scala:65"
    val cs = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val a = agg(g)
    a.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobRecs(e.jobId) = JobRec(e.jobId, g, cs, e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageInfo.stageId, "none"))
    a.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "none")
    val a = agg(g)
    val info = e.taskInfo
    a.tasks += 1
    if (info.failed || info.killed) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.diskSpill += m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
      a.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
      StageRec(g, mutable.ArrayBuffer.empty)).durations += info.duration
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val (mem, disk) = if (b.storageLevel.isValid) (b.memSize, b.diskSize) else (0L, 0L)
      val (mem0, disk0) = blocks.getOrElse(key, (0L, 0L))
      memNow += mem - mem0
      diskNow += disk - disk0
      if (mem == 0L && disk == 0L) blocks.remove(key) else blocks(key) = (mem, disk)
      memPeak = math.max(memPeak, memNow)
      diskPeak = math.max(diskPeak, diskNow)
    }
  }

  /** Counters of one group, after every posted event has been delivered. */
  def totals(sc: SparkContext, groups: String*): Agg = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val t = new Agg
      groups.flatMap(aggs.get).foreach { a =>
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks; t.failedTasks += a.failedTasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs; t.schedMs += a.schedMs
        t.shuffleWrite += a.shuffleWrite; t.shuffleRead += a.shuffleRead
        t.diskSpill += a.diskSpill; t.outputBytes += a.outputBytes
      }
      t
    }
  }

  def jobs(sc: SparkContext, group: String): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(jobRecs.values.filter(_.group == group).toSeq.sortBy(_.id))
  }

  /** p99 ÷ p50 task time of the group's heaviest stage (most task time). */
  def taskSkew(sc: SparkContext, group: String): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val st = stageTasks.values.filter(_.group == group)
      if (st.isEmpty) Double.NaN
      else {
        val d = st.maxBy(_.durations.sum).durations.map(_.toDouble).toSeq
        Stats.quantile(d, 0.99) / math.max(1.0, Stats.quantile(d, 0.5))
      }
    }
  }

  /** Forget every RDD block once all persisted frames are dropped (Spark
    * posts no block update when it removes a whole RDD). */
  def forgetBlocks(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { blocks.clear(); memNow = 0L; diskNow = 0L }
  }

  def resetCachePeak(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { memPeak = memNow; diskPeak = diskNow }
  }

  /** Peak bytes of persisted-frame blocks held on disk (evicted or spilled). */
  def cacheDiskPeakBytes(sc: SparkContext): Long = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(diskPeak)
  }

  def cachePeakBytes(sc: SparkContext): Long = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(memPeak)
  }
}

/** One traced interval: the layer call it wraps, the span that caused it,
  * and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written out when the run ends. Each span sets its own Spark
  * job group, so the [[Ledger]] attributes engine counters to it. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def group(s: Span): String = s"$runId/span-${s.id}"

  def span[A](name: String)(body: => A): A = {
    val s = Span(all.size, name, open.headOption.map(_.id).getOrElse(-1), runId, System.nanoTime())
    all += s
    open ::= s
    sc.setJobGroup(group(s), name)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum
  /** Summed self time of every span with this name. */
  def self(name: String): Double = named(name).map(selfSeconds).sum
  def groups(name: String): Seq[String] = named(name).map(group)

  /** Every root span's duration equals the summed self time of its subtree. */
  def selfTimesAccountForRoots: Boolean = all.filter(_.parent < 0).forall { r =>
    def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
    math.abs(subtree(r).map(selfSeconds).sum - r.seconds) < 1e-6
  }

  def writeJsonl(path: String): Unit = {
    val lines = all.map { s =>
      f"""{"run":"${s.runId}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Stats {
  /** Linear-interpolation quantile (the inclusive definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The JVM's own CPU time (all its threads: tasks, planning, GC, JIT),
  * and the part of it its JIT compiler threads used. Time the host gives to
  * other processes or other machines counts in neither, so both stay steady
  * on a shared box where wall time does not. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val TicksPerSecond = 100.0 // USER_HZ, the unit of /proc/<pid>/task/<tid>/stat times

  def seconds(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds of the C1/C2 compiler threads, from /proc/self/task (Linux;
    * run.py keeps these threads alive for the whole run, so none of their
    * time leaves the sum). */
  def jitSeconds(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty[java.io.File])
    val ticks = tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath), "UTF-8")
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!name.matches("C[12] CompilerThre.*")) 0L
        else {
          // after "(comm) " come state, ppid, ...: utime and stime are fields 14 and 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
    ticks / TicksPerSecond
  }

  /** Milliseconds the garbage collectors have spent so far. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  final case class Timed[A](value: A, wall: Double, cpu: Double, jit: Double)

  def time[A](body: => A): Timed[A] = {
    val j0 = jitSeconds() // read outside the window: scanning /proc costs CPU too
    val c0 = seconds()
    val t0 = System.nanoTime()
    val v = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = seconds() - c0
    Timed(v, wall, cpu, jitSeconds() - j0)
  }
}
