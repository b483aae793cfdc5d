package perfbench

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.CellMath

/** Properties of the sf0.1 testdata that the generator reproduces
  * (`profile/sf0.1.json`, written by `profile/derive.py`). */
final case class Profile(vocab: Array[String], vocabCdf: Array[Long],
                         lens: Array[Int], lenCdf: Array[Long],
                         events: Long, customers: Long, nations: Long, regions: Long)

object Profile {
  def load(path: String): Profile = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    def pairs(node: com.fasterxml.jackson.databind.JsonNode) =
      node.elements().asScala.map(p => (p.get(0), p.get(1).asLong())).toArray
    val docs = root.get("documents")
    val vocab = pairs(docs.get("vocab"))
    val lens = pairs(docs.get("token_len"))
    def rows(t: String) = root.get(t).get("rows").asLong()
    Profile(vocab.map(_._1.asText()), vocab.map(_._2).scanLeft(0L)(_ + _).tail,
      lens.map(_._1.asInt()), lens.map(_._2).scanLeft(0L)(_ + _).tail,
      rows("events"), rows("customer"), rows("nation"), rows("region"))
  }
}

/** Seeded input generator. Every generated value is a pure function of
  * (seed, key), so a table is the same whatever its partitioning, and the
  * same seed always gives the same inputs.
  *
  *  - Pages: each page's text is drawn token by token from the corpus
  *    vocabulary (by word frequency) with a length drawn from the corpus
  *    token-length histogram; every page is distinct text. The proximity
  *    point (qlon, qlat) is a seeded point on the 1/1000-degree lattice.
  *  - Points: copy c of event e sits at the event's derived point
  *    (the `Synth.evLon/evLat` formulas) jittered by up to ±0.05°; a fixed
  *    share of all points lands instead uniformly inside one z8 cell (the
  *    hot cell) that holds a customer rectangle. */
final class Inputs(p: Profile, seed: Long) extends Serializable {

  private val hotShare = 0.1

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rng(key: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(key * 4 + stream)))

  private def draw(cdf: Array[Long], r: SplittableRandom): Int = {
    val u = r.nextLong(cdf(cdf.length - 1))
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) > u) hi = m else lo = m + 1 }
    lo
  }

  def text(docId: Long): String = {
    val r = rng(docId, 0)
    val n = p.lens(draw(p.lenCdf, r))
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(p.vocab(draw(p.vocabCdf, r)))
      i += 1
    }
    sb.toString
  }

  def proximity(docId: Long): (Double, Double) = {
    val r = rng(docId, 1)
    (r.nextInt(360000) / 1000.0 - 180.0, r.nextInt(140000) / 1000.0 - 70.0)
  }

  /** The hot z8 cell: the cell of customer 34's rectangle center
    * (`Synth.custLon/custLat`), one of the widest rectangles. It is the
    * same for every seed, so seeds vary the points, not the skew. */
  val hotCell: Long = {
    val k = 34L
    CellMath.lonLatToCell(8, (k * 7919 % 350000) / 1000.0 - 175.0,
      (k * 104729 % 160000) / 1000.0 - 80.0)
  }

  def point(eventId: Long): (Double, Double) = {
    val r = rng(eventId, 3)
    if (r.nextDouble() < hotShare) {
      val (w, s, e, n) = CellMath.cellBounds(hotCell)
      (w + (e - w) * (0.01 + 0.98 * r.nextDouble()), s + (n - s) * (0.01 + 0.98 * r.nextDouble()))
    } else {
      val base = eventId % p.events
      val lon = (base * 7919 % 360000) / 1000.0 - 180.0 + (r.nextDouble() - 0.5) * 0.1
      val lat = (base * 104729 % 160000) / 1000.0 - 80.0 + (r.nextDouble() - 0.5) * 0.1
      (if (lon < -180.0) lon + 360.0 else if (lon >= 180.0) lon - 360.0 else lon, lat)
    }
  }

  def pageRow(docId: Long): Row = {
    val (lon, lat) = proximity(docId)
    Row(docId, text(docId), lon, lat)
  }

  val pageSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
    StructField("qlon", DoubleType, nullable = false), StructField("qlat", DoubleType, nullable = false)))

  /** Write `n` pages (doc ids from `first`) as a `files`-split parquet table. */
  def writePages(spark: SparkSession, first: Long, n: Long, files: Int, path: String): Unit = {
    val g = this
    val textU = udf((id: Long) => g.text(id))
    val proxU = udf((id: Long) => g.proximity(id))
    spark.range(first, first + n, 1, files)
      .select(col("id").as("doc_id"), textU(col("id")).as("text"), proxU(col("id")).as("q"))
      .select(col("doc_id"), col("text"), col("q._1").as("qlon"), col("q._2").as("qlat"))
      .write.mode("overwrite").parquet(path)
  }

  /** Write `n` points as a `files`-split parquet table (event_id, elon, elat). */
  def writePoints(spark: SparkSession, n: Long, files: Int, path: String): Unit = {
    val g = this
    val ptU = udf((id: Long) => g.point(id))
    spark.range(0, n, 1, files)
      .select(col("id").as("event_id"), ptU(col("id")).as("p"))
      .select(col("event_id"), col("p._1").as("elon"), col("p._2").as("elat"))
      .write.mode("overwrite").parquet(path)
  }

  /** The key tables whose derived rectangles (`Synth.custFeatures`,
    * `nationFeatures`, `continentFeatures`) are the reverse-geocode levels. */
  def writeKeyTables(spark: SparkSession, dir: String): Unit = {
    spark.range(p.customers).select(col("id").as("c_custkey"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.range(p.nations).select(col("id").as("n_nationkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    spark.range(p.regions).select(col("id").as("r_regionkey"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
  }

  /** Seeded stream `k` of request draws. */
  def stream(k: Long): SplittableRandom = rng(-2L - k, 0)
}
