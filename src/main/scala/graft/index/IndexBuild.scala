package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F

/** Grid-index build (SURVEY.md §3.3: features → phrases × covers → packed
  * grid entries → Hilbert-range-partitioned sorted table + freq table).
  *
  * Carmen's gridstore holds, per phrase, a sorted packed list of
  * (x, y, feature id, quantized relev, quantized score) at the index zoom
  * (upstream `lib/util/grid.js` / carmen-cache [U]). Here the same content
  * is one flat Dataset `(phrase_id, cell, feature_id, relev_q, score_q,
  * hkey)` kept globally sorted by Hilbert key — the "broadcastable sorted
  * cell->feature-id array" of the north star: a range predicate on `hkey`
  * replaces the per-phrase pointer chase, and parquet min/max pruning
  * replaces shard lookup.
  */
object IndexBuild {

  /** Stable 64-bit phrase id (FNV-1a): avoids a global dictionary sort at
    * build time; collisions at 10^12 phrases are ~1e-4 (birthday) and only
    * cost a false candidate that text-verify (D4) then drops. */
  def phraseId(phrase: org.apache.spark.sql.Column) = xxhash64(phrase)

  /** relev quantized to 2 bits over {0.4, 0.6, 0.8, 1.0} (carmen's grid
    * encoding [U~]); score log-quantized to 3 bits. */
  def relevQ(relev: org.apache.spark.sql.Column) =
    least(lit(3), greatest(lit(0), round(relev * 5, 0).cast("int") - 2))
  def scoreQ(score: org.apache.spark.sql.Column) =
    least(lit(7), floor(log(2.0, greatest(score, lit(1.0)))).cast("int"))

  /** features(feature_id, phrase, score, geom_wkb) → grid index rows. */
  def gridEntries(features: DataFrame, z: Int): DataFrame =
    features
      .withColumn("phrase_id", phraseId(col("phrase")))
      .withColumn("cell", explode(F.tileCover(col("geom_wkb"), lit(z))))
      .withColumn("relev_q", relevQ(lit(1.0)))
      .withColumn("score_q", scoreQ(col("score")))
      .withColumn("hkey", F.hilbertCell(col("cell")))
      .select("phrase_id", "cell", "feature_id", "relev_q", "score_q", "hkey")

  /** D1/A3: grid-index rows for a POINT-feature gazetteer (one cell per
    * feature at its type's index zoom), the table
    * [[graft.ops.Geocode.forwardIndexedFat]] matches doc windows against:
    * [[gridEntries]]' columns plus the index type and the rank-time feature
    * payload (name, score, lon, lat) DENORMALIZED into the index row — the
    * "fat" index. D4 name-verify is an in-row `phrase = name` predicate, so
    * no per-candidate feature join (a full shuffle of the candidate frame
    * on feature_id) enters the query plan. The payload costs one string +
    * three doubles (~40 B) a row; at the 10^7-feature design point that is
    * well under 1 GB of extra table for one fewer big-side exchange on
    * EVERY query — the classic index-only-scan trade. */
  def gazetteerGridFat(gaz: DataFrame, zPlace: Int, zRegion: Int): DataFrame =
    gaz.select(
      phraseId(col("name")).as("phrase_id"),
      col("typ"),
      F.cellAt(when(col("typ") === "place", lit(zPlace)).otherwise(lit(zRegion)),
        col("glon"), col("glat")).as("cell"),
      col("gid").as("feature_id"),
      relevQ(lit(1.0)).as("relev_q"),
      scoreQ(col("score")).as("score_q"),
      col("name"), col("score"), col("glon"), col("glat"))
      .withColumn("hkey", F.hilbertCell(col("cell")))

  /** [[gazetteerGridFat]] generalized to N index levels: each feature's cell
    * is taken at ITS type's index zoom (carmen: one tilelive source per type,
    * each with its own maxzoom). `levels` is (typ, zoom); the N-level
    * forward ([[graft.ops.Geocode.forwardIndexedMultiFat]]) re-derives every
    * coarser ancestor cell from the denormalized lon/lat, so the index needs
    * only the leaf cell. */
  def gazetteerGridFatLevels(gaz: DataFrame, levels: Seq[(String, Int)]): DataFrame = {
    val zoomOf = levels.tail.foldLeft(
      when(col("typ") === levels.head._1, lit(levels.head._2))) {
      case (acc, (t, z)) => acc.when(col("typ") === t, lit(z))
    }
    gaz.select(
      phraseId(col("name")).as("phrase_id"),
      col("typ"),
      F.cellAt(zoomOf, col("glon"), col("glat")).as("cell"),
      col("gid").as("feature_id"),
      relevQ(lit(1.0)).as("relev_q"),
      scoreQ(col("score")).as("score_q"),
      col("name"), col("score"), col("glon"), col("glat"))
      .withColumn("hkey", F.hilbertCell(col("cell")))
  }

  /** C3 scale path: bbox query against the sorted index — the bbox becomes
    * merged Hilbert-key ranges (CellMath.bboxToHilbertRanges) OR-ed into a
    * pushable range predicate, so parquet file/row-group min-max stats on
    * `hkey` skip everything outside the box (no geometry math touches the
    * pruned rows). */
  def scanBbox(index: DataFrame, w: Double, s: Double, e: Double, n: Double,
               z: Int): DataFrame = {
    val ranges = graft.core.CellMath.bboxToHilbertRanges(w, s, e, n, z)
    val pred = ranges.map { case (lo, hi) =>
      col("hkey") >= lo && col("hkey") <= hi
    }.reduce(_ || _)
    index.filter(pred)
  }

  /** Build + persist the sorted grid index and the freq table. */
  def build(spark: SparkSession, features: DataFrame, docs: DataFrame,
            z: Int, outDir: String, numRanges: Int): Unit = {
    TableIO.writeSorted(gridEntries(features, z), s"$outDir/grid_index",
      rangeKey = "hkey", sortCols = Seq("hkey", "phrase_id", "feature_id"),
      numRanges = numRanges)
    val freq = docs
      .select(explode(array_distinct(F.tokenize(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    freq.coalesce(1).write.mode("overwrite").parquet(s"$outDir/freq")
  }
}
