package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.ops.Geocode

/** The user-facing engine surface — carmen's `geocoder.geocode(query, opts)`
  * / reverse `geocode("lon,lat")` re-expressed over Datasets (upstream
  * `lib/geocoder.js` entry [U]; SURVEY.md §3).
  *
  * A Geocoder wraps a gazetteer (region+place features with names, scores,
  * centers and optional WKB geometry) and exposes:
  *   - `forward(pages, opts)`  — batched forward geocode of page mentions,
  *     with carmen's options: limit, types filter, bbox filter, and
  *     proximity (already encoded in the pages' qlon/qlat columns);
  *     results carry `place_name` formatted over the context chain.
  *   - `reverse(points, opts)` — batched reverse geocode: PIP containment
  *     per type, kNN fallback for point-only indexes, assembled context.
  */
final case class GeocodeOptions(
    limit: Int = 5,
    types: Option[Seq[String]] = None,
    bbox: Option[(Double, Double, Double, Double)] = None,
    stacks: Option[Seq[String]] = None,
    language: Option[String] = None,
    dedupe: Boolean = false,
    /** Per-query proximity override (carmen `proximity: [lon, lat]`):
      * replaces the pages' qlon/qlat columns for ranking. */
    proximity: Option[(Double, Double)] = None)

final class Geocoder(spark: SparkSession, gaz: DataFrame,
                     altNames: Option[DataFrame] = None,
                     /** When set, forward() stacks over these index levels
                       * (coarse→fine) via the N-level coalesce; results gain
                       * a `chain` column with the full id path. Default:
                       * the 2-level region/place stack. */
                     levels: Option[Seq[Geocode.IndexLevel]] = None) {

  /** The effective gazetteer under the options: C2 stacks filter prunes
    * whole country stacks BEFORE matching; the language option substitutes
    * `carmen:text_{lang}` alt names where defined (fallback = default
    * name), so matching happens against the requested language. */
  private def effectiveGaz(opts: GeocodeOptions): DataFrame = {
    val stacked = opts.stacks
      .map(ss => gaz.filter(col("stack").isin(ss: _*)))
      .getOrElse(gaz)
    (opts.language, altNames) match {
      case (Some(l), Some(alt)) =>
        stacked.join(broadcast(alt.filter(col("alt_lang") === l)), Seq("gid"), "left")
          .withColumn("name",
            when(col("name_alt").isNotNull, col("name_alt")).otherwise(col("name")))
          .drop("alt_lang", "name_alt")
      case _ => stacked
    }
  }

  /** Forward geocode with options applied carmen-style: the stacks/language
    * options shape the gazetteer before matching; the type filter prunes
    * candidates before ranking; bbox drops candidates whose feature center
    * falls outside; dedupe collapses same-place results; limit caps the
    * per-page window. place_name is "<name>, <context name>"
    * (geocoder_format default). */
  def forward(pages: DataFrame, opts: GeocodeOptions = GeocodeOptions()): DataFrame = {
    val pagesP = opts.proximity.map { case (plon, plat) =>
      pages.withColumn("qlon", lit(plon)).withColumn("qlat", lit(plat))
    }.getOrElse(pages)
    val m = Geocode.mentions(pagesP, effectiveGaz(opts)).persist()
    val cands0 = levels.map(ls => Geocode.coalesceN(m, ls)).getOrElse(Geocode.coalesce2(m))
    // C1 incl. SUBTYPE scoreranges (carmen `poi.landmark`): "<typ>.landmark"
    // keeps candidates of that type within the top scorerange — the top 10%
    // of the type's score scale, thresholds from a dim-sized gazetteer agg
    val cands1 = opts.types.map { ts =>
      val plain = ts.filterNot(_.contains("."))
      val subs = ts.filter(_.contains(".")).map { s =>
        val parts = s.split("\\.", 2); (parts(0), parts(1))
      }
      val maxByTyp: Map[String, Double] =
        if (subs.isEmpty) Map.empty
        else gaz.groupBy("typ").agg(max("score").as("mx")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val conds = plain.map(t => col("typ") === t) ++ subs.map {
        case (t, "landmark") => col("typ") === t && col("score") >= lit(0.9 * maxByTyp(t))
        case (t, sub) => throw new IllegalArgumentException(s"unknown scorerange $t.$sub")
      }
      cands0.filter(conds.reduce(_ || _))
    }.getOrElse(cands0)
    val cands = opts.bbox.map { case (w, s, e, n) =>
      cands1.filter(col("glon") >= w && col("glon") < e && col("glat") >= s && col("glat") < n)
    }.getOrElse(cands1)
    val ranked = Geocode.rank(cands, opts.limit, opts.dedupe,
      extraCols = if (levels.isDefined) Seq("chain") else Nil)
    // context names: resolve ctx ids against the (broadcastable) gazetteer
    val names = gaz.select(col("gid"), col("name"))
    val ctxNames = names.select(col("gid").as("ctx"), col("name").as("ctx_name"))
    ranked
      .join(broadcast(names), ranked("feature_id") === names("gid"))
      .join(broadcast(ctxNames), Seq("ctx"), "left")
      .withColumn("place_name",
        when(col("ctx") === -1L, col("name"))
          .otherwise(concat(col("name"), lit(", "), col("ctx_name"))))
      .select(Seq(col("doc_id"), col("feature_id"), col("typ"), col("relev"),
        col("cell"), col("ctx"), col("sd"), col("rank"), col("place_name")) ++
        (if (levels.isDefined) Seq(col("chain")) else Nil): _*)
  }

  /** Reverse geocode: the context chain of containing features per type
    * ([[Geocode.contextChain]]: the smallest containing feature_id of each
    * type) plus, for a point with no containment hit at all, the kNN
    * nearest feature of the last type ([[Geocode.knnExpanding]] at zoom
    * `knnZ`). Output: (event_id, typ, feature_id, via) — via ∈ {pip, knn};
    * a point with neither gets no row. `event_id` is the point key and must
    * be unique: each point row gets its own rows.
    *
    * Under the cover and point ceilings this is one kernel call per point
    * in one map-only select: points → explode(`context_cover` with its kNN
    * fallback) → select. The kernel returns the API's rows itself — the
    * point's PIP hits in type order, or the nearest feature of the last
    * type as one `knn` row — so the plan has no exchange, join, aggregate,
    * window, persist, CASE or candidate array. The cover indexes and the
    * point index (32 B per point, two cover entries) share the
    * [[Geocode.BroadcastCoverCeiling]] budget; past it, or past
    * [[Geocode.BroadcastPointCeiling]], the staged composition runs: the
    * staged chain, an anti-join for the unmatched points and
    * [[Geocode.knnExpanding]]; rows are identical (FallbackSpec). */
  def reverse(points: DataFrame,
              typed: Seq[(String, DataFrame, Int)],
              knnZ: Int = Geocode.KnnZ): DataFrame =
    reverseWith(points, typed, knnZ, Geocode.BroadcastCoverCeiling)

  /** [[reverse]] with the cover ceiling as a parameter (tests force the
    * staged composition with 1). */
  private[graft] def reverseWith(points: DataFrame, typed: Seq[(String, DataFrame, Int)],
                                 knnZ: Int, coverCeiling: Long): DataFrame = {
    val knnTyp = typed.last._1
    val fallbackFeats = typed.last._2.select(col("feature_id"), col("flon"), col("flat"))
    Geocode.reverseKernels(typed, fallbackFeats, knnZ, coverCeiling) match {
      case Some(kernel) =>
        points
          .select(col("event_id"), explode(kernel).as("r"))
          .select(col("event_id"), col("r.typ").as("typ"),
            col("r.feature_id").cast(Geocode.chainIdType(typed)).as("feature_id"), col("r.via").as("via"))
      case None =>
        val pip = Geocode.contextChainStaged(points, typed)
          .withColumn("via", lit("pip"))
        val unmatched = points.join(pip.select("event_id").distinct(),
          Seq("event_id"), "left_anti")
        val knn = Geocode.knnExpanding(unmatched, fallbackFeats, knnZ)
          .select(col("event_id"), lit(knnTyp).as("typ"), col("feature_id"))
          .withColumn("via", lit("knn"))
        pip.unionByName(knn)
    }
  }

  /** Reverse with `limit > 1` — carmen allows this only with a SINGLE type:
    * up to `limit` features of that type per point, containing features
    * first, then nearest by center distance, over the kNN zoom's cells
    * within the ladder's first radius. `feats` must carry
    * (feature_id, geom_wkb, flon, flat). */
  def reverseK(points: DataFrame, feats: DataFrame, limit: Int): DataFrame = {
    require(limit >= 1, "limit must be >= 1")
    Geocode.reverseTopK(points, feats, Geocode.KnnZ, Geocode.KnnRadii.head, limit)
  }
}

object Geocoder {
  /** Geocoder over the frozen literal gazetteer (tests/demos). */
  def default(spark: SparkSession): Geocoder =
    new Geocoder(spark, graft.synth.Synth.gazDf(spark),
      Some(graft.synth.Synth.altNamesDf(spark)))

  /** 4-level Geocoder (continent→country→region→place) over the multi
    * gazetteer — results carry the chain id path. */
  def multi(spark: SparkSession): Geocoder =
    new Geocoder(spark, graft.synth.Synth.gazMultiDf(spark),
      Some(graft.synth.Synth.altNamesDf(spark)),
      levels = Some(Geocode.DefaultLevels))
}
