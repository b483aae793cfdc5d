package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Skew

/** D7 demonstration bench: a shuffle join where 80% of probes hit one hot
  * cell (a "city"), plain vs explicitly salted. Broadcast and AQE skew
  * handling are disabled so the measurement isolates the structural salting
  * the north rule asks for (at 10^12 rows the index side is not
  * broadcastable and AQE's split only rescues sort-merge stages).
  * Prints one JSON line: {"plain_sec":…,"salted_sec":…,"speedup":…}.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus
    val rows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "2000000").toLong
    val fanout = sys.env.getOrElse("SPARK_GRAFT_SKEW_FANOUT", "400").toInt
    val spark = GraftSession.get(cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")

    val hotCell = 424242L
    // probes: 80% on the hot cell, the rest uniform over 1000 cells
    val probe = spark.range(rows).select(col("id").as("pid"),
      when(col("id") % 10 < 8, lit(hotCell)).otherwise(pmod(xxhash64(col("id")), lit(1000))).as("cell"))
    // index: `fanout` features per cell (multiplying join) incl. the hot cell
    val index = spark.range(1001L * fanout).select(
      when(col("id") % 1001 === 1000, lit(hotCell)).otherwise(col("id") % 1001).as("cell"),
      (col("id") * 7).as("feature_id"))

    // per-output-row work so join output generation (the skewed cost) is
    // what gets measured, not just the probe shuffle
    def run(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(col("feature_id") + col("pid"))).head().getLong(0)
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warmup
    run(probe.limit(1000).join(index, "cell"))

    val plainSec = time(run(probe.join(index.hint("merge"), "cell")))
    val hot = Skew.hotKeys(probe, "cell", k = 8, threshold = rows / 20)
    val saltedSec = time(
      run(Skew.saltedJoin(probe, index.hint("merge"), "cell", "pid", hot, s = cpus)))
    println(f"""{"metric":"skew-join plain vs salted","rows":$rows,"cores":$cpus,"plain_sec":$plainSec%.2f,"salted_sec":$saltedSec%.2f,"speedup":${plainSec / saltedSec}%.2f,"hot_keys":${hot.length}}""")
    spark.stop()
  }
}
