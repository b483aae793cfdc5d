package graft.spark

import org.apache.spark.sql.functions._
import graft.api.{Geocoder, GeocodeOptions}
import graft.ops.Geocode
import graft.synth.Synth

/** User-facing Geocoder API: options semantics, place_name formatting,
  * reverse with kNN fallback; salted reverse equivalence. */
class GeocoderSpec extends SparkTestBase {

  private def onePage = {
    import spark.implicits._
    Seq((1L, "the hash join data pipeline", 10.0, 20.0))
      .toDF("doc_id", "text", "qlon", "qlat")
  }

  test("forward: place_name formats the context chain") {
    val g = Geocoder.default(spark)
    val out = g.forward(onePage).collect()
    val hj = out.find(_.getLong(1) == Synth.places.find(_.name == "hash join").get.id).get
    assert(hj.getString(8) == "hash join, data")
    val region = out.find(_.getLong(1) == Synth.regions.find(_.name == "data").get.id).get
    assert(region.getString(8) == "data")
  }

  test("forward options: limit, types, bbox") {
    val g = Geocoder.default(spark)
    val all = g.forward(onePage, GeocodeOptions(limit = 2)).collect()
    assert(all.length <= 2 && all.map(_.getInt(7)).max <= 2)
    val regionsOnly = g.forward(onePage, GeocodeOptions(types = Some(Seq("region")))).collect()
    assert(regionsOnly.nonEmpty && regionsOnly.forall(_.getString(2) == "region"))
    // bbox excluding everything -> empty
    val none = g.forward(onePage, GeocodeOptions(bbox = Some((170.0, 80.0, 171.0, 81.0))))
    assert(none.count() == 0)
  }

  test("reverse: pip rows for contained points, knn fallback for the rest") {
    val pts = Synth.eventPoints(spark, "/root/testdata/sf0.001").limit(300)
    val g = Geocoder.default(spark)
    val out = g.reverse(pts, Seq(
      ("country", Synth.nationFeatures(spark, "/root/testdata/sf0.001"), 6),
      ("place", Synth.custFeatures(spark, "/root/testdata/sf0.001"), 8))).collect()
    val byVia = out.groupBy(_.getString(3))
    assert(byVia.contains("pip"))
    // knn rows only for events with no pip row
    val pipEvents = out.filter(_.getString(3) == "pip").map(_.getLong(0)).toSet
    val knnEvents = out.filter(_.getString(3) == "knn").map(_.getLong(0)).toSet
    assert(knnEvents.intersect(pipEvents).isEmpty)
  }

  test("forward options: proximity override re-ranks; subtype scorerange filters") {
    import spark.implicits._
    val g = Geocoder.default(spark)
    // proximity near region "data" (gid 1) vs near region "spark" (gid 2):
    // the scoredist decay must re-rank the two equally-relevant regions
    val page = Seq((1L, "data spark", 10.0, 20.0)).toDF("doc_id", "text", "qlon", "qlat")
    val r1 = Synth.regions(0); val r2 = Synth.regions(1)
    val nearData = g.forward(page, GeocodeOptions(proximity = Some((r1.lon, r1.lat)))).collect()
    val nearSpark = g.forward(page, GeocodeOptions(proximity = Some((r2.lon, r2.lat)))).collect()
    def rankOf(rows: Array[org.apache.spark.sql.Row], gid: Long) =
      rows.find(_.getLong(1) == gid).map(_.getInt(7)).get
    assert(rankOf(nearData, r1.id) < rankOf(nearData, r2.id))
    assert(rankOf(nearSpark, r2.id) < rankOf(nearSpark, r1.id))
    // place.landmark: only places in the top 10% of the place score scale
    val allText = Seq((2L, Synth.places.map(_.name).mkString(" "), 0.0, 0.0))
      .toDF("doc_id", "text", "qlon", "qlat")
    val lm = g.forward(allText, GeocodeOptions(types = Some(Seq("place.landmark")), limit = 50))
      .collect()
    val maxScore = Synth.places.map(_.score).max
    val landmarkIds = Synth.places.filter(_.score >= 0.9 * maxScore).map(_.id).toSet
    assert(lm.nonEmpty && lm.map(_.getLong(1)).toSet.subsetOf(landmarkIds))
  }

  test("reverseK: containing features rank before nearby, bounded by limit") {
    val pts = Synth.eventPoints(spark, "/root/testdata/sf0.001").limit(500)
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
    val g = Geocoder.default(spark)
    val out = g.reverseK(pts, feats, limit = 3).collect()
    assert(out.nonEmpty)
    val byEvent = out.groupBy(_.getLong(0))
    assert(byEvent.values.forall(_.length <= 3))
    // within an event, all is_inside=1 rows precede is_inside=0 rows in rank
    byEvent.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(4))
      val flags = sorted.map(_.getInt(3))
      assert(flags.sameElements(flags.sortBy(-(_: Int))), s"containment must rank first")
    }
  }

  test("forward options: stacks prunes whole country stacks; language swaps alt names") {
    import spark.implicits._
    val g = Geocoder.default(spark)
    // "data" is a region in stack "na"; restricting to "eu" must drop it
    val eu = g.forward(onePage, GeocodeOptions(stacks = Some(Seq("eu")))).collect()
    assert(!eu.exists(_.getLong(1) == Synth.regions.find(_.name == "data").get.id))
    // language 'de': gid 101 ("hash join") is matchable only via its German
    // alt name "dup join"
    val dePage = Seq((9L, "the dup join data pipeline", 10.0, 20.0))
      .toDF("doc_id", "text", "qlon", "qlat")
    val de = g.forward(dePage, GeocodeOptions(language = Some("de"))).collect()
    assert(de.exists(_.getLong(1) == 101L))
    val plain = g.forward(dePage).collect()
    assert(!plain.exists(_.getLong(1) == 101L))
  }

  test("forward over the built grid index is row-identical to the broadcast path") {
    import graft.queries.Queries
    val a = Queries.fwdGeocode(spark, "/root/testdata/sf0.001").collect()
      .map(_.toString).sorted.toSeq
    val b = Queries.fwdGeocodeIndexed(spark, "/root/testdata/sf0.001").collect()
      .map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("forward over the FAT grid index is row-identical to the broadcast path") {
    import graft.queries.Queries
    val a = Queries.fwdGeocode(spark, "/root/testdata/sf0.001").collect()
      .map(_.toString).sorted.toSeq
    val b = Queries.fwdGeocodeFat(spark, "/root/testdata/sf0.001").collect()
      .map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("N-level forward over the fat multi index is row-identical to the broadcast path") {
    import graft.queries.Queries
    val a = Queries.fwdGeocodeMulti(spark, "/root/testdata/sf0.001").collect()
      .map(_.toString).sorted.toSeq
    val b = Queries.fwdGeocodeMultiIndexed(spark, "/root/testdata/sf0.001").collect()
      .map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("result dedupe collapses duplicate-name clones to the lowest gid") {
    import graft.queries.Queries
    val out = Queries.fwdDedup(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    // clone gids (gid+1000 of places 101..106) never survive: the original
    // wins every (name, cell) group by the feature_id tie-break
    assert(!out.exists(r => r.getLong(1) > 1000L))
    // and per doc, no two surviving rows share the same place identity
    val clones = graft.ops.Geocode.forward(
      graft.synth.Synth.docPages(spark, "/root/testdata/sf0.001"),
      graft.synth.Synth.dupGazDf(spark)).collect()
    assert(clones.exists(r => r.getLong(1) > 1000L),
      "fixture must actually produce clone candidates without dedupe")
  }

  test("lang_fallback fails loudly on a page language outside FallbackLangs") {
    import spark.implicits._
    import graft.queries.Queries
    def corpus(langs: String*): String = {
      val dir = java.nio.file.Files.createTempDirectory("langfb").toString
      langs.zipWithIndex.map { case (l, i) => (i.toLong, "hash join data", l) }
        .toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
      dir
    }
    assert(Queries.langFallback(spark, corpus("en", "de")).collect().nonEmpty)
    Seq(corpus("en", "xx"), corpus("en", null)).foreach { dir =>
      val e = intercept[Exception](Queries.langFallback(spark, dir).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("is not in FallbackLangs")), e.toString)
    }
  }

  test("stack filter prunes candidates before matching") {
    import graft.queries.Queries
    val out = Queries.fwdStacks(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val allowed = graft.synth.Synth.gazetteer
      .filter(g => Set("na", "eu").contains(g.stack)).map(_.id).toSet
    assert(out.forall(r => allowed.contains(r.getLong(1))))
  }

  test("mentions: contiguous-token matches, pos and plen, 1- to 5-token names") {
    import spark.implicits._
    // fixture corpus: every name whose token sequence occurs contiguously in
    // the page's token sequence, and nothing else
    val docs = Synth.docPages(spark, "/root/testdata/sf0.001")
    val got = Geocode.mentions(docs, Synth.gazDf(spark)).select("doc_id", "gid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = docs.select("doc_id", "text").collect().flatMap { r =>
      val padded = graft.core.Text.tokenize(r.getString(1)).mkString(" ", " ", " ")
      Synth.gazetteer.filter(g => padded.contains(s" ${g.name} ")).map(g => (r.getLong(0), g.id))
    }.toSet
    assert(got.nonEmpty && got == want)
    // long and overlapping names: pos is the 1-based token index of the
    // name's FIRST occurrence, plen its token count
    val longGaz = Seq(
      (1L, "new york city", "place", 5.0, 0.0, 0.0, "na"),
      (2L, "port of new york authority", "place", 4.0, 0.0, 0.0, "na"),
      (3L, "york", "region", 3.0, 0.0, 0.0, "na"),
      (4L, "new york", "region", 2.0, 0.0, 0.0, "na"))
      .toDF("gid", "name", "typ", "score", "glon", "glat", "stack")
    val pages = Seq(
      (7L, "the port of new york authority runs new york city docks", 0.0, 0.0),
      (8L, "big new york city and new york", 0.0, 0.0))
      .toDF("doc_id", "text", "qlon", "qlat")
    val rows = Geocode.mentions(pages, longGaz).select("doc_id", "gid", "pos", "plen")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(rows == Set(
      (7L, 1L, 8, 3), (7L, 2L, 2, 5), (7L, 3L, 5, 1), (7L, 4L, 4, 2),
      // "new york" first occurs inside "new york city"
      (8L, 1L, 2, 3), (8L, 3L, 3, 1), (8L, 4L, 2, 2)))
  }

  test("F1 StackRegionCap: a doc mentioning >16 regions caps the stack side") {
    import spark.implicits._
    // 17 regions in 17 distinct z8 cells; a place co-located with region 17.
    // Cap order is (w desc, gid asc); all w equal (single-token names), so
    // gid 17 is dropped by the per-doc top-16 — and it is the place's ONLY
    // stacking region, so the place must surface UNSTACKED (ctx = -1,
    // relev = 1/3). This is the oracle-mirrored semantic (forwardSql
    // regioncap CTE), not just a work bound.
    val regions = (1 to 17).map(j =>
      (j.toLong, f"reg$j%02d", "region", 10.0 + j, -160.0 + 10.0 * j, 10.0, "na"))
    val place = (101L, "px", "place", 50.0, -160.0 + 10.0 * 17, 10.0, "na")
    val gaz = (regions :+ place).toDF("gid", "name", "typ", "score", "glon", "glat", "stack")
    val allText = ((1 to 17).map(j => f"reg$j%02d") :+ "px").mkString(" ")
    val doc17 = Seq((1L, allText, 0.0, 0.0)).toDF("doc_id", "text", "qlon", "qlat")
    val capped = Geocode.rank(Geocode.coalesce2(Geocode.mentions(doc17, gaz)), k = 30)
      .collect()
    val px = capped.filter(_.getLong(1) == 101L)
    assert(px.length == 1 && px.head.getLong(5) == -1L,
      "place's only stacking region (rank 17 per doc) must be capped away")
    // counterfactual: mentioning ONLY region 17 + the place -> the stack forms
    val doc1 = Seq((2L, "reg17 px", 0.0, 0.0)).toDF("doc_id", "text", "qlon", "qlat")
    val unc = Geocode.rank(Geocode.coalesce2(Geocode.mentions(doc1, gaz)), k = 30).collect()
    assert(unc.filter(_.getLong(1) == 101L).head.getLong(5) == 17L)
  }

  test("F1 StackRegionCap: staged and fat kernel paths cap the 17-region page") {
    import spark.implicits._
    import graft.index.IndexBuild
    // the page of the test above, through every stack-and-rank kernel path
    val regions = (1 to 17).map(j =>
      (j.toLong, f"reg$j%02d", "region", 10.0 + j, -160.0 + 10.0 * j, 10.0, "na"))
    val place = (101L, "px", "place", 50.0, -160.0 + 10.0 * 17, 10.0, "na")
    val gaz = (regions :+ place).toDF("gid", "name", "typ", "score", "glon", "glat", "stack")
    val allText = ((1 to 17).map(j => f"reg$j%02d") :+ "px").mkString(" ")
    val doc17 = Seq((1L, allText, 0.0, 0.0)).toDF("doc_id", "text", "qlon", "qlat")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val want = rows(Geocode.rank(Geocode.coalesce2(Geocode.mentions(doc17, gaz)), k = 30))
    Seq(
      "staged" -> Geocode.forwardStaged(doc17, gaz, 30, dedupe = false),
      "fat" -> Geocode.forwardIndexedFat(doc17,
        IndexBuild.gazetteerGridFat(gaz, Geocode.ZPlace, Geocode.ZRegion), 30)
    ).foreach { case (path, df) =>
      val got = df.collect()
      assert(rows(df) == want, path)
      assert(got.length == 18 && got.filter(_.getLong(1) == 101L).head.getLong(5) == -1L,
        s"$path: px's only stacking region is capped away")
    }
  }

  test("multi-level Geocoder surfaces the chain path through the options pipeline") {
    import spark.implicits._
    val g = Geocoder.multi(spark)
    val page = Seq((1L, "customer value slow line data hash join", 0.0, 0.0))
      .toDF("doc_id", "text", "qlon", "qlat")
    val out = g.forward(page, GeocodeOptions(limit = 20)).collect()
    assert(out.nonEmpty && out.head.schema.fieldNames.contains("chain"))
    val hj = out.find(_.getLong(1) == 101L).get
    assert(hj.getAs[String]("chain") == "501>601>1>101")
    assert(hj.getAs[String]("place_name") == "hash join, data") // ctx = immediate parent
    // options still compose: types filter over the 4-level candidates
    val onlyCountries = g.forward(page,
      GeocodeOptions(types = Some(Seq("country")), limit = 20)).collect()
    assert(onlyCountries.nonEmpty && onlyCountries.forall(_.getString(2) == "country"))
  }

  test("coalesceN at 2 levels is row-identical to coalesce2") {
    val docs = Synth.docPages(spark, "/root/testdata/sf0.001")
    val gaz = Synth.gazDf(spark)
    val m = Geocode.mentions(docs, gaz).persist()
    val a = Geocode.rank(Geocode.coalesce2(m)).collect().map(_.toString).sorted.toSeq
    val b = Geocode.rank(Geocode.coalesceN(m,
        Seq(Geocode.IndexLevel("region", Geocode.ZRegion),
          Geocode.IndexLevel("place", Geocode.ZPlace))))
      .collect().map(_.toString).sorted.toSeq
    m.unpersist()
    assert(a.nonEmpty && a == b)
  }

  test("coalesceN: 4-level chains form, levels can be skipped") {
    import spark.implicits._
    // literal pages: mentions are fully controlled, so chain shapes are exact
    val docs = Seq(
      (1L, "customer value slow line data hash join", 0.0, 0.0), // all 4 levels
      (2L, "slow line hash join", 0.0, 0.0),       // place skips absent region
      (3L, "customer value data", 0.0, 0.0))       // region skips absent country
      .toDF("doc_id", "text", "qlon", "qlat")
    val m = Geocode.mentions(docs, Synth.gazMultiDf(spark))
    val out = Geocode.rank(Geocode.coalesceN(m), k = 10, extraCols = Seq("chain"))
      .collect()
    def chainOf(doc: Long, fid: Long): String =
      out.find(r => r.getLong(0) == doc && r.getLong(1) == fid).get.getString(6)
    // doc 1: "hash join" (place 101, under region 1 "data", country 601,
    // continent 501) chains 4 deep
    assert(chainOf(1L, 101L) == "501>601>1>101")
    // doc 2: no region mentioned -> place stacks straight on the country
    assert(chainOf(2L, 101L) == "601>101")
    // doc 3: no country mentioned -> region stacks straight on the continent
    assert(chainOf(3L, 1L) == "501>1")
  }

  /** The sf0.001 events plus each customer rect's centre as a probe point:
    * no sf0.001 event falls in a customer rect, so without the centres a
    * reverse-PIP equivalence compares two empty sets. */
  private def eventsAndRectCentres(sf: String) = {
    val events = Synth.eventPoints(spark, sf)
    val off = events.agg(max("event_id")).head().getLong(0) + 1
    events.union(Synth.custFeatures(spark, sf).select((col("feature_id") + off).as("event_id"),
      col("flon").as("elon"), col("flat").as("elat")))
  }

  test("pre-clipped reverse PIP equals unclipped") {
    val pts = eventsAndRectCentres("/root/testdata/sf0.001")
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
    val a = Geocode.reversePipClipped(pts, feats, 8)
      .select("event_id", "feature_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Geocode.reversePip(pts, feats, 8)
      .select("event_id", "feature_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.nonEmpty && b.nonEmpty)
    assert(a == b)
  }

  test("reverse_pip, reverse_bcast, reverse_salted, reverse_compact ≡ a brute half-open rect test at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val cust = Synth.custFeatures(spark, sf)
    val events = Synth.eventPoints(spark, sf)
    // no sf0.001 event falls in a customer rect: each rect's centre joins
    // the events as a probe point, so every path has hits to agree on
    val off = events.agg(max("event_id")).head().getLong(0) + 1
    val pts = events.union(cust.select((col("feature_id") + off).as("event_id"),
      col("flon").as("elon"), col("flat").as("elat")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "feature_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val brute = pairs(pts.crossJoin(cust).filter(col("elon") >= col("west") && col("elon") < col("east") &&
      col("elat") >= col("south") && col("elat") < col("north")))
    assert(brute.nonEmpty && brute.forall(_._1 >= off), "only the rect centres hit")
    Seq(
      "reverse_pip" -> Geocode.reversePip(pts, cust, 8),
      "reverse_bcast" -> Geocode.reverseBcast(spark, pts, cust, 8),
      "reverse_salted" -> Geocode.reversePipSalted(pts, cust, 8, s = 4, hotK = 8, hotThreshold = 1000),
      "reverse_compact" -> graft.queries.Queries.reverseCompactOf(spark, sf, pts)
    ).foreach { case (what, df) => assert(pairs(df) == brute, what) }
  }

  test("salted reverse PIP equals unsalted") {
    val pts = eventsAndRectCentres("/root/testdata/sf0.001")
    val feats = Synth.custFeatures(spark, "/root/testdata/sf0.001")
    val a = Geocode.reversePipSalted(pts, feats, 8, s = 4, hotK = 8, hotThreshold = 2)
      .select("event_id", "feature_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Geocode.reversePip(pts, feats, 8)
      .select("event_id", "feature_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.nonEmpty && b.nonEmpty)
    assert(a == b)
  }

  test("poly_overlap: blocked self-join ≡ brute θ-join, pairs exactly-once") {
    import graft.queries.Queries
    // dense grid: 400 rects of 1.8°×1.4° over ~50°×30° — hundreds of
    // overlaps, many pairs sharing ≥2 z6 cover cells (5.625° tiles), so the
    // reference-point dedup is genuinely exercised
    val f = spark.range(400).toDF("feature_id")
      .withColumn("cx", (col("feature_id") * 37 % 100).cast("double") / 2.0)
      .withColumn("cy", (col("feature_id") * 61 % 60).cast("double") / 2.0)
      .withColumn("west", col("cx") - 0.9).withColumn("south", col("cy") - 0.7)
      .withColumn("east", col("cx") + 0.9).withColumn("north", col("cy") + 0.7)
      .withColumn("geom_wkb",
        graft.functions.F.rectWkb(col("west"), col("south"), col("east"), col("north")))
    val got = Queries.polyOverlapOf(f, z = 6).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).distinct.length == got.length,
      "a pair sharing several cover cells must report exactly once")
    def side(p: String) = f.select(col("feature_id").as(s"${p}_id"),
      col("west").as(s"${p}_w"), col("south").as(s"${p}_s"),
      col("east").as(s"${p}_e"), col("north").as(s"${p}_n"))
    val brute = side("a").crossJoin(side("b"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("a_w") < col("b_e") && col("b_w") < col("a_e") &&
        col("a_s") < col("b_n") && col("b_s") < col("a_n"))
      .select(col("a_id"), col("b_id"),
        ((round(least(col("a_e"), col("b_e")) * 1000, 0).cast("long") -
          round(greatest(col("a_w"), col("b_w")) * 1000, 0).cast("long")) *
          (round(least(col("a_n"), col("b_n")) * 1000, 0).cast("long") -
            round(greatest(col("a_s"), col("b_s")) * 1000, 0).cast("long")))
          .as("ov_area_q"))
      .collect()
    assert(got.nonEmpty && got.toSet == brute.toSet)
  }

  test("poly_overlap: salted hot-cell join is row-identical to the plain plan") {
    import graft.queries.Queries
    // skew-heavy: all 300 rects crowd a ~6°×6° patch (a handful of z6
    // cells), so every cell crosses the hot threshold
    val f = spark.range(300).toDF("feature_id")
      .withColumn("cx", (col("feature_id") * 37 % 60).cast("double") / 10.0)
      .withColumn("cy", (col("feature_id") * 61 % 60).cast("double") / 10.0)
      .withColumn("west", col("cx") - 0.4).withColumn("south", col("cy") - 0.3)
      .withColumn("east", col("cx") + 0.4).withColumn("north", col("cy") + 0.3)
      .withColumn("geom_wkb",
        graft.functions.F.rectWkb(col("west"), col("south"), col("east"), col("north")))
    val plain = Queries.polyOverlapOf(f, z = 6).collect().toSet
    val salted = Queries.polyOverlapOf(f, z = 6, salt = 4, hotThreshold = 10L)
      .collect().toSet
    assert(plain.nonEmpty && salted == plain)
  }

  test("dbscan_salted: salts hot eps cells at sf0.001, rows equal dbscan") {
    import graft.queries.Queries
    val sf = "/root/testdata/sf0.001"
    val salted = Queries.dbscanSalted(spark, sf)
    // the salt column exists only when the hot set is non-empty
    assert(salted.queryExecution.executedPlan.toString.contains("_salt"),
      s"no eps cell holds ${Queries.DbscanSaltedHot} points at sf0.001")
    val rows = salted.collect().toSet
    assert(rows.nonEmpty && rows == Queries.dbscan(spark, sf).collect().toSet)
  }

  test("dbscan: salted hot-cell self-join is row-identical to the plain plan") {
    import graft.queries.Queries
    // hot-cell fixture: the even half crowds one eps-cell (eps = 10,700 at
    // n = 400), the odd half scatters — the city-cell skew pattern D7
    // exists for
    val pts = spark.range(400).toDF("id")
      .withColumn("xq", when(col("id") % 2 === 0, (col("id") * 13) % 50)
        .otherwise((col("id") * 9973) % 300000 - 150000))
      .withColumn("yq", when(col("id") % 2 === 0, (col("id") * 7) % 50)
        .otherwise((col("id") * 104729) % 150000 - 75000))
    val plain = Queries.dbscanOf(pts, n = 400L).collect().toSet
    val salted = Queries.dbscanOf(pts, n = 400L, salt = 4, hotThreshold = 20L)
      .collect().toSet
    assert(plain.nonEmpty && salted == plain)
    // the fixture really salts: the crowded cell crosses the threshold
    val eps = math.floor(214000.0 / math.sqrt(400.0)).toLong
    val hot = graft.pipeline.Skew.hotKeys(
      pts.withColumn("ck", expr(
        s"((xq + 180000) div $eps) * 1000000 + ((yq + 80000) div $eps)")),
      "ck", 16, 20L)
    assert(hot.nonEmpty)
  }

  test("poly_overlap_geom: general kernel ≡ rect fast path on rects; blocked ≡ brute on triangles") {
    import graft.queries.Queries
    // rects: the general kernel must reproduce the rect fast path exactly
    val rects = spark.range(400).toDF("feature_id")
      .withColumn("cx", (col("feature_id") * 37 % 100).cast("double") / 2.0)
      .withColumn("cy", (col("feature_id") * 61 % 60).cast("double") / 2.0)
      .withColumn("west", col("cx") - 0.9).withColumn("south", col("cy") - 0.7)
      .withColumn("east", col("cx") + 0.9).withColumn("north", col("cy") + 0.7)
      .withColumn("geom_wkb",
        graft.functions.F.rectWkb(col("west"), col("south"), col("east"), col("north")))
    val viaGeom = Queries.polyOverlapGeomOf(
      rects.select(col("feature_id"), col("geom_wkb")), z = 6).collect().toSet
    val viaRect = Queries.polyOverlapOf(rects, z = 6).collect().toSet
    assert(viaGeom.nonEmpty && viaGeom == viaRect)
    // triangles: non-rect shells where the bbox gate over-approximates —
    // blocked join must equal the brute kernel join, exactly-once
    import spark.implicits._
    val tris = spark.range(300).toDF("feature_id")
      .withColumn("cx", (col("feature_id") * 37 % 100).cast("double") / 2.0)
      .withColumn("cy", (col("feature_id") * 61 % 60).cast("double") / 2.0)
      .withColumn("r", (col("feature_id") % 5).cast("double") / 5.0 + 0.6)
    val mk = udf((cx: Double, cy: Double, r: Double) =>
      graft.core.Geo.writeWkbPolygon(Array(Array(
        cx - r, cy - r, cx + r, cy - r, cx, cy + r, cx - r, cy - r))))
    val tf = tris.withColumn("geom_wkb", mk(col("cx"), col("cy"), col("r")))
      .select(col("feature_id"), col("geom_wkb"))
    val got = Queries.polyOverlapGeomOf(tf, z = 6)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.distinct.length == got.length, "triangle pair reported twice")
    def s2(p: String) = tf.select(col("feature_id").as(s"${p}_id"),
      col("geom_wkb").as(s"${p}_wkb"))
    val brute = s2("a").crossJoin(s2("b")).filter(col("a_id") < col("b_id"))
      .filter(graft.functions.F.polysOverlap(col("a_wkb"), col("b_wkb")))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got.toSet == brute)
  }

  test("poly_overlap: touching rects (shared edge) do not pair — overlap is open-interval") {
    import graft.queries.Queries
    import spark.implicits._
    val f = Seq(
      (1L, 0.0, 0.0, 2.0, 2.0), // A
      (2L, 2.0, 0.0, 4.0, 2.0), // B: shares A's east edge — NOT an overlap
      (3L, 1.0, 1.0, 3.0, 3.0)  // C: overlaps both A and B
    ).toDF("feature_id", "west", "south", "east", "north")
      .withColumn("geom_wkb",
        graft.functions.F.rectWkb(col("west"), col("south"), col("east"), col("north")))
    val pairs = Queries.polyOverlapOf(f, z = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (2L, 3L)))
  }

  test("stack penalties: gap / out-of-order mentions lose relev (frozen constants)") {
    import spark.implicits._
    val gaz = Synth.gazDf(spark)
    def fwd(text: String, qlon: Double = 10.0, qlat: Double = 20.0) =
      Geocode.forward(Seq((1L, text, qlon, qlat))
        .toDF("doc_id", "text", "qlon", "qlat"), gaz).collect()
    def relevOf(rows: Array[org.apache.spark.sql.Row], gid: Long) =
      rows.find(_.getLong(1) == gid).get.getDouble(3)
    val hj = Synth.places.find(_.name == "hash join").get.id
    // adjacent, natural fine->coarse order: no penalty
    assert(relevOf(fwd("hash join data"), hj) == 1.0)
    // one uncovered token between place and region: gap penalty
    assert(relevOf(fwd("hash join x data"), hj) == 1.0 - Geocode.GapPenalty)
    // region before place (touching): order penalty only
    assert(relevOf(fwd("data hash join"), hj) == 1.0 - Geocode.OrderPenalty)
    // gappy AND out of order: both penalties
    assert(relevOf(fwd("data x hash join"), hj) ==
      1.0 - Geocode.GapPenalty - Geocode.OrderPenalty)
  }

  test("stack penalties change a winner the scoredist would otherwise pick") {
    import spark.implicits._
    val gaz = Synth.gazDf(spark)
    val hj = Synth.places.find(_.name == "hash join").get
    val sm = Synth.places.find(_.name == "sort merge").get
    // proximity pinned AT "sort merge": without penalties both stacks mask
    // to 3/3 and sort merge wins rank 1 on scoredist (higher score, zero
    // distance). Its region mention is gappy ("sort merge x spark"), hash
    // join's is adjacent — the 0.01 penalty must flip rank 1 to hash join.
    val rows = Geocode.forward(
      Seq((1L, "sort merge x spark hash join data", sm.lon, sm.lat))
        .toDF("doc_id", "text", "qlon", "qlat"), gaz).collect()
    def row(gid: Long) = rows.find(_.getLong(1) == gid).get
    assert(row(sm.id).getDouble(3) == 1.0 - Geocode.GapPenalty)
    assert(row(hj.id).getDouble(3) == 1.0)
    assert(row(sm.id).getDouble(6) > row(hj.id).getDouble(6),
      "fixture must make sort merge the scoredist winner for the flip to be the penalty's")
    assert(row(hj.id).getInt(7) < row(sm.id).getInt(7))
  }
}
