package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a session is built, for every main and job.
  *
  * Launched bare (sbt `runMain`, `java -cp`), a session runs on
  * `local[cores]` with `cores` shuffle partitions. Under spark-submit the
  * launcher's `--master` and `--conf` win: when a master is configured the
  * session sets neither. The broadcast threshold stays at its default: the
  * gazetteer/phrase-dict SHOULD broadcast, the per-doc join sides are
  * hinted shuffle-hash explicitly in the operators (never rely on
  * estimates for those).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else this machine's CPU count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** The options a session gets over `conf`: `local[cores]` and
    * `partitions` shuffle partitions only when `conf` names no master, UTC
    * and no UI always. */
  def options(conf: SparkConf, cores: Int, partitions: Int): Seq[(String, String)] =
    (if (conf.contains("spark.master")) Nil
     else Seq("spark.master" -> s"local[$cores]", "spark.sql.shuffle.partitions" -> partitions.toString)) ++
      Seq("spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false")

  /** The session, with the log level at WARN and the plan extensions
    * installed; `partitions` defaults to `cores`. */
  def get(cores: Int = cpus, partitions: Int = 0): SparkSession = {
    val b = SparkSession.builder()
    options(new SparkConf(), cores, if (partitions > 0) partitions else cores)
      .foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(s)
    s
  }
}
