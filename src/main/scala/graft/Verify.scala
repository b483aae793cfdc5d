package graft
import java.nio.file.{Files, Paths}
import graft.index.TableIO.q
/** Correctness dump: each SparkEntry.queries result (or the
  * `SPARK_GRAFT_QUERIES` subset) → parquet, plus oracle_sql.json, for the
  * DuckDB oracle compare (`tools/compare_oracle.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    SparkEntry.eachQuery(spark, sfDir) { (name, df) =>
      try df().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
