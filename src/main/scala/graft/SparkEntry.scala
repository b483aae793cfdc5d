package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.index.TableIO
import graft.queries.Queries
import graft.ops.{TextOps, Ann, Multimodal}
import graft.synth.Synth

/** Driver contract — see /root/repo/SURVEY.md §2 (operator inventory) and §7
  * (build plan). Every SQL-expressible operator has a DuckDB oracle mirror;
  * non-SQL-expressible ops (sketch hashing, LSH) get rows-only checks here
  * and golden/property coverage in the test suite.
  */
object SparkEntry {

  /** Flagship: full forward geocode (mentions → coalesce → rank) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Queries.fwdGeocode(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- geocoding core (SURVEY.md §2.B/C/D/E/F/H) ---
    "fwd_geocode" -> ((s, d) => Queries.fwdGeocode(s, d)),
    "fwd_geocode_indexed" -> ((s, d) => Queries.fwdGeocodeIndexed(s, d)),
    "fwd_geocode_fat" -> ((s, d) => Queries.fwdGeocodeFat(s, d)),
    "fwd_geocode_bucketed" -> ((s, d) => Queries.fwdGeocodeBucketed(s, d)),
    "fwd_geocode_multi" -> ((s, d) => Queries.fwdGeocodeMulti(s, d)),
    "fwd_geocode_multi_indexed" -> ((s, d) => Queries.fwdGeocodeMultiIndexed(s, d)),
    "fwd_dedup" -> ((s, d) => Queries.fwdDedup(s, d)),
    "fwd_stacks" -> ((s, d) => Queries.fwdStacks(s, d)),
    "fwd_geocode_idf" -> ((s, d) => Queries.fwdGeocodeIdf(s, d)),
    "cell_assign" -> ((s, d) => Queries.cellAssign(s, d)),
    "parent_cells" -> ((s, d) => Queries.parentCells(s, d)),
    // multi-zoom rollup: the z12 base is the only corpus-wide pass; every
    // coarser level re-aggregates the previous level's cell counts
    "tile_pyramid" -> ((s, d) => Queries.tilePyramid(s, d)),
    "tile_cover_rect" -> ((s, d) => Queries.tileCoverRect(s, d)),
    // distributed spatial self-join: cell-cover blocking + reference-point
    // dedup (exactly-once with zero dedup shuffle); oracle = raw θ-join
    "poly_overlap" -> ((s, d) => Queries.polyOverlap(s, d)),
    // same join, GENERAL-polygon kernel (bbox-cover blocking + exact
    // shell-overlap verify); row-identical on rects, shares the oracle
    "poly_overlap_geom" -> ((s, d) => Queries.polyOverlapGeom(s, d)),
    // hole-aware interior overlap over frame (donut) features: even-odd
    // kernel; oracle = integer inclusion-exclusion band-area positivity
    "poly_overlap_holes" -> ((s, d) => Queries.polyOverlapHoles(s, d)),
    "poly_centroid" -> ((s, d) => Queries.polyCentroid(s, d)),
    // segment×segment proper-crossing join: cover blocking + exact integer
    // orientation tests; emits the exact rational intersection point
    "seg_join" -> ((s, d) => Queries.segJoin(s, d)),
    // grid DBSCAN over event points: eps-grid blocking, CC core clusters,
    // deterministic min-label border attachment
    "dbscan" -> ((s, d) => Queries.dbscan(s, d)),
    // D7 on the eps-grid self-join: hot eps cells salted, rows identical to dbscan
    "dbscan_salted" -> ((s, d) => Queries.dbscanSalted(s, d)),
    // trajectory analytics: OD cell-transition matrix and time-gap trip
    // segmentation (one user-keyed exchange each)
    "od_flows" -> ((s, d) => Queries.odFlows(s, d)),
    "trip_segments" -> ((s, d) => Queries.tripSegments(s, d)),
    // spatio-temporal co-location: (cell, Δ-bucket) blocked self-join,
    // earlier event probes {b, b+1}; oracle = unblocked θ-join
    "co_locate" -> ((s, d) => Queries.coLocate(s, d)),
    // 3×3 box smoothing over per-cell counts (heatmap/KDE raster pass)
    "cell_smooth" -> ((s, d) => Queries.cellSmooth(s, d)),
    // distributed convex hull: per-bucket partial hulls → hull of hulls
    // (exact merge); oracle = Carathéodory extreme-point test
    "convex_hull" -> ((s, d) => Queries.convexHull(s, d)),
    // Bing quadkey string encoding (prefix-ordered tile keys, zero shuffle)
    "quadkey" -> ((s, d) => Queries.quadkey(s, d)),
    // geohash base32 encoding (lon-first interleave, zero shuffle)
    "geohash" -> ((s, d) => Queries.geohash(s, d)),
    // hexagonal (H3-style axial) binning via cube rounding, zero shuffle
    "hex_bin" -> ((s, d) => Queries.hexBin(s, d)),
    // 6-neighbor axial smoothing over the hex counts (cell_smooth analogue)
    "hex_smooth" -> ((s, d) => Queries.hexSmooth(s, d)),
    // recency heatmap: int-quantized exp(-age/tau) summed per cell
    "decay_heat" -> ((s, d) => Queries.decayHeat(s, d)),
    // incremental-maintenance diff: changed z6 cells between snapshot halves
    "tile_diff" -> ((s, d) => Queries.tileDiff(s, d)),
    // implied-speed teleport flags per consecutive fix pair
    "speed_filter" -> ((s, d) => Queries.speedFilter(s, d)),
    // Getis-Ord Gi* hotspot z-scores over z6 cell counts
    "gi_star" -> ((s, d) => Queries.giStar(s, d)),
    // Mann-Kendall trend per z5 cell over 8 global time bins
    "mk_trend" -> ((s, d) => Queries.mkTrend(s, d)),
    // Theil-Sen median pairwise slope over the same 8-bin series
    "theil_sen" -> ((s, d) => Queries.theilSen(s, d)),
    // ESRI-style emerging-hotspot classes: per-bin Gi* + MK over z series
    "emerging_hotspot" -> ((s, d) => Queries.emergingHotspot(s, d)),
    // per-user fence enter/exit/switch transitions (nation rects, lag window)
    "geofence_events" -> ((s, d) => Queries.geofenceEvents(s, d)),
    // areal interpolation: milli-lattice rect pop onto a 15x10-deg grid
    "areal_interp" -> ((s, d) => Queries.arealInterp(s, d)),
    // Ripley's K over a radius ladder: one cell-blocked pair join
    "ripley_k" -> ((s, d) => Queries.ripleyK(s, d)),
    // Knox space-time interaction: two blocked pair joins, 1-row stats
    "knox" -> ((s, d) => Queries.knox(s, d)),
    // empirical semivariogram over annular distance bins
    "variogram" -> ((s, d) => Queries.variogram(s, d)),
    // Moran's I global autocorrelation, integer-exact moments
    "moran_i" -> ((s, d) => Queries.moranI(s, d)),
    // Geary's C contiguity ratio: 9-probe neighbor SSD, no pair join
    "geary_c" -> ((s, d) => Queries.gearyC(s, d)),
    // local Moran / LISA per cell with integer-sign quadrant labels
    "local_moran" -> ((s, d) => Queries.localMoran(s, d)),
    // quartic KDE onto a fixed node lattice, quantized-exact kernel mass
    "kde_grid" -> ((s, d) => Queries.kdeGrid(s, d)),
    // standard deviational ellipse per event type, exact BIGINT moments
    "std_ellipse" -> ((s, d) => Queries.stdEllipse(s, d)),
    // Weiszfeld geometric median per type, 3 quantized-replay iterations
    "median_center" -> ((s, d) => Queries.medianCenter(s, d)),
    // points covered by NO feature: cell-blocked PIP + skinny id anti-join
    "pip_anti" -> ((s, d) => Queries.pipAnti(s, d)),
    // zonal statistics: per-feature aggregation of a z10 cell value field
    "zonal_stats" -> ((s, d) => Queries.zonalStats(s, d)),
    // Pareto front via x-bucket decomposition; sweep-algorithm oracle
    "skyline" -> ((s, d) => Queries.skyline(s, d)),
    // smoothed IDW interpolation — all-BIGINT weights (10^12 div (d²+1)),
    // R-width cell blocking, order-independent integer sums
    "idw_grid" -> ((s, d) => Queries.idwGrid(s, d)),
    // per-pair great-circle bearing + distance along each user's track
    "track_heading" -> ((s, d) => Queries.trackHeading(s, d)),
    // geodesic midpoint between consecutive fixes (track densification)
    "track_resample" -> ((s, d) => Queries.trackResample(s, d)),
    // nearest-segment snap (map matching): cover/disk cell blocking, exact
    // rational distance output; oracle = raw θ-join over the R-gate
    "snap_points" -> ((s, d) => Queries.snapPoints(s, d)),
    // 3-round integer PageRank over the OD cell-transition graph;
    // oracle replays the power iteration as unrolled CTEs
    "cell_pagerank" -> ((s, d) => Queries.cellPagerank(s, d)),
    // gravity-model regression over OD flows (quantized-exact moments)
    "gravity_fit" -> ((s, d) => Queries.gravityFit(s, d)),
    // 4-round Bellman–Ford from the min source cell, integer edge costs
    "sssp_khop" -> ((s, d) => Queries.ssspKhop(s, d)),
    // degree-oriented triangle count (the orientation bounds hub fan-out)
    "triangle_count" -> ((s, d) => Queries.triangleCount(s, d)),
    // radial-distance track simplification as a per-user sequential fold
    "traj_simplify" -> ((s, d) => Queries.trajSimplify(s, d)),
    // stay-point detection: anchor-reset fold per user track (Li et al.)
    "stay_points" -> ((s, d) => Queries.stayPoints(s, d)),
    // per-user mobility entropy (quantized nano-nat terms, one exchange)
    "user_entropy" -> ((s, d) => Queries.userEntropy(s, d)),
    // day-of-week seasonality per cell with integer chi-square numerator
    "dow_profile" -> ((s, d) => Queries.dowProfile(s, d)),
    // ordered funnel view->click->signup->purchase per user (fold + min-chain)
    "funnel_steps" -> ((s, d) => Queries.funnelSteps(s, d)),
    // per-origin-cell transition entropy over the OD matrix
    "trans_entropy" -> ((s, d) => Queries.transEntropy(s, d)),
    // true Douglas-Peucker: iterative chord refinement to convergence
    "dp_simplify" -> ((s, d) => Queries.dpSimplify(s, d)),
    "cell_compact" -> ((s, d) => Queries.cellCompact(s, d)),
    "reverse_pip" -> ((s, d) => Queries.reversePip(s, d)),
    "reverse_bcast" -> ((s, d) =>
      ops.Geocode.reverseBcast(s, Synth.eventPoints(s, d), Synth.custFeatures(s, d), 8)
        .select(col("event_id"), col("feature_id"))),
    "reverse_salted" -> ((s, d) =>
      // D7 in the driver surface: hot-cell salted reverse join — row-identical
      // to reverse_pip (shares its oracle); the salt replicates the cover
      // index for the measured-hot cells only
      ops.Geocode.reversePipSalted(Synth.eventPoints(s, d), Synth.custFeatures(s, d), 8,
        s = 4, hotK = 8, hotThreshold = 1000)
        .select(col("event_id"), col("feature_id"))),
    "reverse_compact" -> ((s, d) => Queries.reverseCompact(s, d)),
    "asof_epoch" -> ((s, d) => Queries.asofEpoch(s, d)),
    "interval_join" -> ((s, d) => Queries.intervalJoin(s, d)),
    "quantiles_lang" -> ((s, d) =>
      TextOps.quantilesByLang(TableIO.read(s, s"$d/documents.parquet"))),
    "knn_expand" -> ((s, d) =>
      ops.Geocode.knnExpanding(Synth.eventPoints(s, d),
        Synth.custFeatures(s, d).select(col("feature_id"), col("flon"), col("flat")), 8)),
    "knn_disk" -> ((s, d) => Queries.knnDisk(s, d)),
    "reverse_topk" -> ((s, d) => Queries.reverseTopK(s, d)),
    // k-NN majority-vote classification over the reverse-top-3 neighbors
    "knn_classify" -> ((s, d) => Queries.knnClassify(s, d)),
    // spatial Gini of the per-cell event distribution (integer numerator)
    "cell_gini" -> ((s, d) => Queries.cellGini(s, d)),
    // join-count statistics per event-type pair (categorical autocorr)
    "join_counts" -> ((s, d) => Queries.joinCounts(s, d)),
    // pairwise host vocabulary Jaccard (mirror-site detector, top-20)
    "host_sim" -> ((s, d) => Queries.hostSim(s, d)),
    // home-location inference: modal night-time cell per user
    "home_cell" -> ((s, d) => Queries.homeCell(s, d)),
    // cohort retention: first-seen-week cohorts x active-week user counts
    "cohort_retention" -> ((s, d) => Queries.cohortRetention(s, d)),
    "context_chain" -> ((s, d) => Queries.contextChain(s, d)),
    "context_assemble" -> ((s, d) => Queries.contextAssemble(s, d)),
    "bbox_filter" -> ((s, d) => Queries.bboxFilter(s, d)),
    "grid_index" -> ((s, d) => Queries.gridIndex(s, d)),
    "grid_lists" -> ((s, d) => Queries.gridLists(s, d)),
    "freq_index" -> ((s, d) => Queries.freqIndex(s, d)),
    "hot_cells" -> ((s, d) => Queries.hotCells(s, d)),
    "phrase_prefix" -> ((s, d) => Queries.phrasePrefix(s, d)),
    "phrase_degens" -> ((s, d) => Queries.phraseDegens(s, d)),
    "fuzzy_match" -> ((s, d) => Queries.fuzzyMatch(s, d)),
    "extract_text" -> ((s, d) => Queries.extractTextQ(s, d)),
    "page_pipeline" -> ((s, d) => Queries.pagePipeline(s, d)),
    // page-level geotag: quantized weighted centroid + packed-argmax top
    // feature in ONE map-combined doc_id aggregate
    "page_geotag" -> ((s, d) => Queries.pageGeotag(s, d)),
    // context-coherence toponym disambiguation over the two-candidate
    // ambiguous gazetteer; anchor sums ride a doc_id window
    "toponym_resolve" -> ((s, d) => Queries.toponymResolve(s, d)),
    // href extraction from html bytes → host→host edge weights
    "link_graph" -> ((s, d) => Queries.linkGraph(s, d)),
    // HITS hubs/authorities over the host graph, integer-exact 3 rounds
    "hits_rank" -> ((s, d) => Queries.hitsRank(s, d)),
    // anchor-text aggregation per target host (top-3 labels, seeded oracle)
    "anchor_text" -> ((s, d) => Queries.anchorText(s, d)),
    // per-host geo profile: exact integer centroid + cleared-denominator spread
    "host_geo" -> ((s, d) => Queries.hostGeo(s, d)),
    // term co-occurrence PMI over bounded doc windows, top-50 collocations
    "pmi_pairs" -> ((s, d) => Queries.pmiPairs(s, d)),
    // politeness-batched crawl scheduling: per-(host,batch) rank + slots
    "crawl_frontier" -> ((s, d) => Queries.crawlFrontier(s, d)),
    // KMV k-minimum-values distinct sketch per lang (bigram hashes)
    "kmv_distinct" -> ((s, d) => TextOps.kmvDistinct(TableIO.read(s, s"$d/documents.parquet"))),
    // union area per group via coordinate-compression sweep (dissolve)
    "rect_dissolve" -> ((s, d) => Queries.rectDissolve(s, d)),
    // Sort-Tile-Recursive leaf packing of the feature dim (partitioner build)
    "str_pack" -> ((s, d) => Queries.strPack(s, d)),
    // Horn 3x3 gradient (slope/aspect) over the z6 event-count surface
    "slope_aspect" -> ((s, d) => Queries.slopeAspect(s, d)),
    // per-z4-cell characteristic terms via Laplace log-odds, top-5
    "region_terms" -> ((s, d) => Queries.regionTerms(s, d)),
    // DTW trajectory-similarity join, origin-blocked + candidate-capped
    "dtw_tracks" -> ((s, d) => Queries.dtwTracks(s, d)),
    // per-(term, crawl-batch) burstiness z-scores, integer deviations
    "term_burst" -> ((s, d) => TextOps.termBurst(TableIO.read(s, s"$d/documents.parquet"))),
    // HMM map matching: Viterbi decode over snap candidates, 7 DP rounds
    "viterbi_match" -> ((s, d) => Queries.viterbiMatch(s, d)),
    // overlay analysis: Liang-Barsky clipped road length per zone rect
    "clip_length" -> ((s, d) => Queries.clipLength(s, d)),
    // occupancy-adaptive quadtree tiling (split-while-over-cap, z4..z8)
    "quad_tree" -> ((s, d) => Queries.quadTree(s, d)),
    // street-orientation histogram + entropy per z3 district
    "bearing_hist" -> ((s, d) => Queries.bearingHist(s, d)),
    // spherical rect area + perimeter (geodesic measures per feature)
    "geodesic_area" -> ((s, d) => Queries.geodesicArea(s, d)),
    // one-pass OLAP rollup lattice over (event_type, z4 cell)
    "event_rollup" -> ((s, d) => Queries.eventRollup(s, d)),
    // render z4 supertile count grids to REAL PNGs, stats from the decode
    "tile_render" -> ((s, d) => Multimodal.tileRender(s, Synth.eventPoints(s, d))),
    // time-to-next-fix dwell aggregation per z6 cell
    "cell_dwell" -> ((s, d) => Queries.cellDwell(s, d)),
    "fuzzy_mentions" -> ((s, d) => Queries.fuzzyMentions(s, d)),
    "addr_interp" -> ((s, d) => ops.Address.interpolate(s, d)),
    "addr_interp_arr" -> ((s, d) => ops.Address.interpolateArrays(s, d)),
    "fwd_address" -> ((s, d) => ops.Address.forwardAddress(s, d)),
    "fwd_autocomplete" -> ((s, d) => Queries.fwdAutocomplete(s, d)),
    "fwd_autocomplete_fuzzy" -> ((s, d) => Queries.fwdAutocompleteFuzzy(s, d)),
    "place_name_fmt" -> ((s, d) => Queries.placeNameFmt(s, d)),
    "lang_fallback" -> ((s, d) => Queries.langFallback(s, d)),
    "raster_mask" -> ((s, d) =>
      // FULL corpus (r2 sampled a tenth): the scanline kernel now skips
      // rows outside the feature's lat extent and reuses its crossing
      // scratch — warm full-corpus rasterization is ~4 s at sf0.1
      ops.Raster.rasterTiles(s, Synth.custFeatures(s, d), 8)
        .select(col("cell"), col("n_features"), col("pop"))),
    // --- training-data pipeline ops ---
    "dedup_exact" -> ((s, d) => TextOps.dedupExact(TableIO.read(s, s"$d/documents.parquet"))),
    "dedup_minhash" -> ((s, d) =>
      TextOps.dedupMinHash(TextOps.withMutatedCopies(TableIO.read(s, s"$d/documents.parquet")))),
    "dedup_simhash" -> ((s, d) =>
      TextOps.dedupSimHash(TextOps.withMutatedCopies(TableIO.read(s, s"$d/documents.parquet")))),
    "dedup_winnow" -> ((s, d) =>
      TextOps.dedupWinnow(TextOps.withMutatedCopies(TableIO.read(s, s"$d/documents.parquet")))),
    "ngram_jaccard" -> ((s, d) =>
      TextOps.ngramJaccard(TextOps.withMutatedCopies(TableIO.read(s, s"$d/documents.parquet")))),
    "dup_clusters" -> ((s, d) =>
      TextOps.dupClusters(TextOps.ngramJaccard(
        TextOps.withMutatedCopies(TableIO.read(s, s"$d/documents.parquet"))))),
    "sample_stratified" -> ((s, d) =>
      TextOps.stratifiedSample(TableIO.read(s, s"$d/documents.parquet"))),
    // Efraimidis-Spirakis weighted sample per lang (exponential keys)
    "sample_weighted" -> ((s, d) =>
      TextOps.weightedSample(TableIO.read(s, s"$d/documents.parquet"))),
    // DSIR importance resampling: hashed-unigram target/raw models,
    // quantized log-ratio weights, deterministic Gumbel-top-k
    "dsir_select" -> ((s, d) =>
      TextOps.dsirSelect(TableIO.read(s, s"$d/documents.parquet"))),
    "lang_id" -> ((s, d) => TextOps.langId(TableIO.read(s, s"$d/documents.parquet"))),
    "lang_id_ngram" -> ((s, d) =>
      TextOps.langIdNgram(TableIO.read(s, s"$d/documents.parquet"))),
    "lang_id_wide" -> ((s, d) =>
      TextOps.langIdNgramJoin(TableIO.read(s, s"$d/documents.parquet"),
        TextOps.langNgramProfilesWide)),
    "quality_score" -> ((s, d) => TextOps.qualityScore(TableIO.read(s, s"$d/documents.parquet"))),
    "quality_repetition" -> ((s, d) =>
      TextOps.qualityRepetition(TableIO.read(s, s"$d/documents.parquet"))),
    "pii_scrub" -> ((s, d) =>
      TextOps.piiScrub(TextOps.withPiiPlanted(TableIO.read(s, s"$d/documents.parquet")))),
    "url_dedup" -> ((s, d) =>
      TextOps.urlDedup(TextOps.syntheticUrls(TableIO.read(s, s"$d/documents.parquet")))),
    // C4-style cross-doc line dedup: boilerplate lines (planted by the
    // withLines fixture) survive only at their corpus-wide first occurrence
    "line_dedup" -> ((s, d) =>
      TextOps.lineDedup(TextOps.withLines(TableIO.read(s, s"$d/documents.parquet")))),
    // exact substring dedup (Lee et al. ExactSubstr, k-gram granular): the
    // mutated clones plant long shared substrings at any SF
    "dedup_substr" -> ((s, d) =>
      TextOps.dedupSubstr(TextOps.withMutatedCopies(
        TableIO.read(s, s"$d/documents.parquet")))),
    // data-mixing stage: per-domain stats + temperature-sampled mixture
    // weights (α=1/2 — the one exponent that is oracle-exact) over a
    // skewed synthetic host histogram
    "domain_mix" -> ((s, d) =>
      TextOps.domainMix(TextOps.syntheticHosts(TableIO.read(s, s"$d/documents.parquet")))),
    "token_count" -> ((s, d) => TextOps.tokenCount(TableIO.read(s, s"$d/documents.parquet"))),
    // HLL distinct-token sketch per language — fully mirrored integer
    // registers (SqlHash FNV + bin()-rho), exact count alongside
    "hll_distinct" -> ((s, d) => TextOps.hllDistinct(TableIO.read(s, s"$d/documents.parquet"))),
    // Count-Min sketch (4×1024, Kirsch–Mitzenmacher row hashes) — point
    // estimates vs exact counts for the frozen vocab terms; fully mirrored
    "cms_topk" -> ((s, d) => TextOps.cmsTopk(TableIO.read(s, s"$d/documents.parquet"))),
    // positional phrase search: slot-vote aggregation (one shuffle)
    // replaces the n-way postings self-join; broadcast phrase-slot dim
    "phrase_search" -> ((s, d) => TextOps.phraseSearch(TableIO.read(s, s"$d/documents.parquet"))),
    // Zipf rank-frequency power-law fit over the top-k vocabulary —
    // integer-quantized regression sums, exact until the final division
    "zipf_fit" -> ((s, d) => TextOps.zipfFit(TableIO.read(s, s"$d/documents.parquet"))),
    // global bigram LM counts, top-100 (map-combined groupBy + TakeOrdered)
    "ngram_counts" -> ((s, d) => TextOps.ngramCounts(TableIO.read(s, s"$d/documents.parquet"))),
    // full-text retrieval: BM25 top-k per fixed query set; per-doc TF-IDF
    // keywords — per-term scores int-quantized BEFORE summing so the agg is
    // order-independent (same discipline as ann_cosine's integer dot)
    "bm25_topk" -> ((s, d) =>
      TextOps.bm25TopK(TableIO.read(s, s"$d/documents.parquet"))),
    "keywords_tfidf" -> ((s, d) =>
      TextOps.keywordsTfIdf(TableIO.read(s, s"$d/documents.parquet"))),
    // unigram-LM perplexity gate (CCNet-style) and eval-set n-gram
    // decontamination (GPT-3-style) — the two classic corpus scrubs
    "lm_perplexity" -> ((s, d) =>
      TextOps.lmPerplexity(TableIO.read(s, s"$d/documents.parquet"))),
    // planted contamination: the mutated copies share 5-gram shingles with
    // their originals, so eval-slice members flag their train-side twins
    "decontaminate" -> ((s, d) =>
      TextOps.decontaminate(TextOps.withMutatedCopies(
        TableIO.read(s, s"$d/documents.parquet")))),
    // the COMPOSED curation scrub: every gate above as independent per-doc
    // flags conjoined into the final keep (the sequential materialized form
    // is graft.jobs.CurationJob)
    "corpus_curate" -> ((s, d) =>
      TextOps.curate(TextOps.curationFixture(
        TableIO.read(s, s"$d/documents.parquet")))),
    "doc_fingerprint" -> ((s, d) =>
      TextOps.docFingerprints(TableIO.read(s, s"$d/documents.parquet"))),
    "ann_cosine" -> ((s, d) =>
      Ann.bruteForceTopK(TableIO.read(s, s"$d/embeddings.parquet"), 50, 5)),
    "ann_lsh" -> ((s, d) =>
      Ann.lshTopK(TableIO.read(s, s"$d/embeddings.parquet"), 50, 5)),
    // occupancy-adaptive multi-probe: probe list per (query, table) cut once
    // the probed buckets already hold `budget` corpus vectors
    "ann_lsh_adaptive" -> ((s, d) =>
      Ann.lshTopKAdaptive(TableIO.read(s, s"$d/embeddings.parquet"), 50, 5)),
    // nList=16 is the frozen ORACLE variant (the SQL mirror's centroid CTE);
    // the library default derives nList from the corpus count — see
    // Ann.derivedNList* and the AnnSpec sub-quadratic guard
    "ann_ivf" -> ((s, d) =>
      Ann.ivfTopK(TableIO.read(s, s"$d/embeddings.parquet"), 50, 5, nList0 = 16)),
    // one-Lloyd-round trained centroids (spherical k-means step, exact
    // reproducible arithmetic — the oracle replays the training round)
    "ann_ivf_trained" -> ((s, d) =>
      Ann.ivfTopKTrained(TableIO.read(s, s"$d/embeddings.parquet"), 50, 5, nList0 = 16)),
    // product quantization + ADC (per-subspace trained codebooks; corpus
    // scored through its 4-int codes and a broadcast query lookup table)
    "ann_pq" -> ((s, d) =>
      Ann.pqTopK(TableIO.read(s, s"$d/embeddings.parquet"), 50, 5)),
    "dedup_embed" -> ((s, d) =>
      Ann.dedupEmbed(TableIO.read(s, s"$d/embeddings.parquet"), nList0 = 16)),
    // multi-round Lloyd k-means (the oracle replays all 3 training rounds
    // in unrolled CTEs) and SemDeDup-style within-cluster semantic dedup
    "embed_kmeans" -> ((s, d) =>
      Ann.kmeansAssign(TableIO.read(s, s"$d/embeddings.parquet"), nList0 = 16)),
    "semantic_dedup" -> ((s, d) =>
      Ann.semanticDedup(TableIO.read(s, s"$d/embeddings.parquet"), nList0 = 16)),
    // SSL-prototypes pruning: keep the least prototypical examples per
    // trained cluster (cosine-to-centroid rank, hardest-first)
    "proto_prune" -> ((s, d) =>
      Ann.protoPrune(TableIO.read(s, s"$d/embeddings.parquet"), nList0 = 16)),
    // REAL media decode (JDK ImageIO): deterministic PNG synthesis is the
    // ground truth; decode/resize/frame-parse must recover it (oracles are
    // closed forms over the synthesis parameters / pixel formula)
    "mm_decode" -> ((s, d) => Multimodal.decodeMeta(s, TableIO.read(s, s"$d/documents.parquet"))),
    "mm_frames" -> ((s, d) => Multimodal.frameSample(s, TableIO.read(s, s"$d/documents.parquet"))),
    "mm_decode_jpeg" -> ((s, d) => Multimodal.decodeJpeg(s, TableIO.read(s, s"$d/documents.parquet"))),
    "mm_frames_gif" -> ((s, d) => Multimodal.frameSampleGif(s, TableIO.read(s, s"$d/documents.parquet"))),
    "mm_features" -> ((s, d) => Multimodal.features(s, TableIO.read(s, s"$d/documents.parquet"))),
    "mm_resize" -> ((s, d) => Multimodal.resize(s, TableIO.read(s, s"$d/documents.parquet"))),
    "mm_audio" -> ((s, d) => Multimodal.decodeAudio(s, TableIO.read(s, s"$d/documents.parquet"))),
    // --- generic window/agg coverage (F2/F3 shape) ---
    "window_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Synth.events(s, d)
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id").asc)))
        .filter(col("rank") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rank"))
    }),
  )

  /** Run `body` on each query in `names` (default: the comma-separated
    * `SPARK_GRAFT_QUERIES`, else every query by name), in that order,
    * handing it the query's frame builder; the session's cache is cleared
    * after each. Queries persist frames they never unpersist, and a later
    * query must not plan over an earlier one's cache. */
  def eachQuery[A](spark: SparkSession, sfDir: String,
                   names: Seq[String] = sys.env.get("SPARK_GRAFT_QUERIES")
                     .fold(queries.keys.toSeq.sorted)(_.split(",").toSeq))
                  (body: (String, () => DataFrame) => A): Seq[(String, A)] = {
    val all = queries
    names.map { name =>
      val fn = all.getOrElse(name, throw new IllegalArgumentException(s"no query named $name"))
      try name -> body(name, () => fn(spark, sfDir)) finally spark.catalog.clearCache()
    }
  }

  /** DuckDB mirrors over the bare table names (driver registers views).
    * EVERY query has a bit-exact mirror — including the sketch family
    * (mix64/FNV-1a/SimHash/MinHash/winnowing via queries.SqlHash HUGEINT
    * limb arithmetic), LSH (SQL-side hyperplane sign tests), IVF (exact
    * integer dot products), and rect rasterization (closed-form box union —
    * rasterMaskSql). */
  def oracleSql: Map[String, String] = Map(
    "fwd_geocode" -> Queries.fwdGeocodeSql,
    // the fat grid-index paths (shuffled, fused, bucketed) are row-identical
    // to fwd_geocode by D4-verify equivalence
    "fwd_geocode_indexed" -> Queries.fwdGeocodeSql,
    "fwd_geocode_fat" -> Queries.fwdGeocodeSql,
    "fwd_geocode_bucketed" -> Queries.fwdGeocodeSql,
    "fwd_geocode_multi" -> Queries.fwdGeocodeMultiSql,
    "fwd_geocode_multi_indexed" -> Queries.fwdGeocodeMultiSql,
    "fwd_dedup" -> Queries.fwdDedupSql,
    "fwd_stacks" -> Queries.fwdStacksSql,
    "fwd_geocode_idf" -> Queries.fwdGeocodeIdfSql,
    "knn_expand" -> Queries.knnExpandSql,
    "cell_assign" -> Queries.cellAssignSql,
    "parent_cells" -> Queries.parentCellsSql,
    "tile_pyramid" -> Queries.tilePyramidSql,
    "tile_cover_rect" -> Queries.tileCoverRectSql,
    "poly_overlap" -> Queries.polyOverlapSql,
    "poly_overlap_geom" -> Queries.polyOverlapSql,
    "poly_overlap_holes" -> Queries.polyOverlapHolesSql,
    "poly_centroid" -> Queries.polyCentroidSql,
    "seg_join" -> Queries.segJoinSql,
    "dbscan" -> Queries.dbscanSql,
    "dbscan_salted" -> Queries.dbscanSql,
    "od_flows" -> Queries.odFlowsSql,
    "trip_segments" -> Queries.tripSegmentsSql,
    "co_locate" -> Queries.coLocateSql,
    "cell_smooth" -> Queries.cellSmoothSql,
    "convex_hull" -> Queries.convexHullSql,
    "quadkey" -> Queries.quadkeySql,
    "geohash" -> Queries.geohashSql,
    "hex_bin" -> Queries.hexBinSql,
    "hex_smooth" -> Queries.hexSmoothSql,
    "decay_heat" -> Queries.decayHeatSql,
    "tile_diff" -> Queries.tileDiffSql,
    "speed_filter" -> Queries.speedFilterSql,
    "gi_star" -> Queries.giStarSql,
    "mk_trend" -> Queries.mkTrendSql,
    "theil_sen" -> Queries.theilSenSql,
    "emerging_hotspot" -> Queries.emergingHotspotSql,
    "geofence_events" -> Queries.geofenceEventsSql,
    "areal_interp" -> Queries.arealInterpSql,
    "ripley_k" -> Queries.ripleyKSql,
    "knox" -> Queries.knoxSql,
    "variogram" -> Queries.variogramSql,
    "moran_i" -> Queries.moranISql,
    "geary_c" -> Queries.gearyCSql,
    "local_moran" -> Queries.localMoranSql,
    "kde_grid" -> Queries.kdeGridSql,
    "std_ellipse" -> Queries.stdEllipseSql,
    "median_center" -> Queries.medianCenterSql,
    "pip_anti" -> Queries.pipAntiSql,
    "zonal_stats" -> Queries.zonalStatsSql,
    "skyline" -> Queries.skylineSql,
    "idw_grid" -> Queries.idwGridSql,
    "track_heading" -> Queries.trackHeadingSql,
    "track_resample" -> Queries.trackResampleSql,
    "snap_points" -> Queries.snapPointsSql,
    "cell_pagerank" -> Queries.cellPagerankSql,
    "gravity_fit" -> Queries.gravityFitSql,
    "sssp_khop" -> Queries.ssspKhopSql,
    "triangle_count" -> Queries.triangleCountSql,
    "traj_simplify" -> Queries.trajSimplifySql,
    "stay_points" -> Queries.stayPointsSql,
    "user_entropy" -> Queries.userEntropySql,
    "dow_profile" -> Queries.dowProfileSql,
    "funnel_steps" -> Queries.funnelStepsSql,
    "trans_entropy" -> Queries.transEntropySql,
    "dp_simplify" -> Queries.dpSimplifySql,
    "cell_compact" -> Queries.cellCompactSql,
    "reverse_pip" -> Queries.reversePipSql,
    "reverse_bcast" -> Queries.reversePipSql, // same semantics, shuffle-free plan
    "reverse_salted" -> Queries.reversePipSql, // same semantics, skew-salted plan
    "reverse_compact" -> Queries.reversePipSql, // compacted-index lookup ≡ direct PIP
    "asof_epoch" -> Queries.asofEpochSql,
    "interval_join" -> Queries.intervalJoinSql,
    "quantiles_lang" -> TextOps.quantilesByLangSql,
    "knn_disk" -> Queries.knnDiskSql,
    "reverse_topk" -> Queries.reverseTopKSql,
    "knn_classify" -> Queries.knnClassifySql,
    "cell_gini" -> Queries.cellGiniSql,
    "join_counts" -> Queries.joinCountsSql,
    "host_sim" -> Queries.hostSimSql,
    "home_cell" -> Queries.homeCellSql,
    "cohort_retention" -> Queries.cohortRetentionSql,
    "context_chain" -> Queries.contextChainSql,
    "context_assemble" -> Queries.contextAssembleSql,
    "bbox_filter" -> Queries.bboxFilterSql,
    "grid_index" -> Queries.gridIndexSql,
    "grid_lists" -> Queries.gridListsSql,
    "freq_index" -> Queries.freqIndexSql,
    "hot_cells" -> Queries.hotCellsSql,
    "phrase_prefix" -> Queries.phrasePrefixSql,
    "phrase_degens" -> Queries.phraseDegensSql,
    "fuzzy_match" -> Queries.fuzzyMatchSql,
    "extract_text" -> Queries.extractTextQSql,
    "page_pipeline" -> Queries.pagePipelineSql,
    "page_geotag" -> Queries.pageGeotagSql,
    "toponym_resolve" -> Queries.toponymResolveSql,
    "link_graph" -> Queries.linkGraphSql,
    "hits_rank" -> Queries.hitsRankSql,
    "anchor_text" -> Queries.anchorTextSql,
    "host_geo" -> Queries.hostGeoSql,
    "pmi_pairs" -> Queries.pmiPairsSql,
    "crawl_frontier" -> Queries.crawlFrontierSql,
    "kmv_distinct" -> TextOps.kmvDistinctSql,
    "rect_dissolve" -> Queries.rectDissolveSql,
    "str_pack" -> Queries.strPackSql,
    "slope_aspect" -> Queries.slopeAspectSql,
    "region_terms" -> Queries.regionTermsSql,
    "dtw_tracks" -> Queries.dtwTracksSql,
    "term_burst" -> TextOps.termBurstSql,
    "viterbi_match" -> Queries.viterbiMatchSql,
    "clip_length" -> Queries.clipLengthSql,
    "quad_tree" -> Queries.quadTreeSql,
    "bearing_hist" -> Queries.bearingHistSql,
    "geodesic_area" -> Queries.geodesicAreaSql,
    "event_rollup" -> Queries.eventRollupSql,
    "tile_render" -> Multimodal.tileRenderSql(Synth.eventPointsSql,
      Synth.cellSql(8, "elon", "elat")),
    "cell_dwell" -> Queries.cellDwellSql,
    "fuzzy_mentions" -> Queries.fuzzyMentionsSql,
    "addr_interp" -> ops.Address.interpolateSql,
    "addr_interp_arr" -> ops.Address.interpolateArraysSql,
    "fwd_address" -> ops.Address.forwardAddressSql,
    "fwd_autocomplete" -> Queries.fwdAutocompleteSql,
    "fwd_autocomplete_fuzzy" -> Queries.fwdAutocompleteFuzzySql,
    "place_name_fmt" -> Queries.placeNameFmtSql,
    "lang_fallback" -> Queries.langFallbackSql,
    // rect-feature rasterization has a closed form: row-range × col-range
    // boxes per (tile, feature), popcount = per-scanline interval union
    "raster_mask" -> Queries.rasterMaskSql,
    "dedup_exact" ->
      """SELECT doc_id, CAST(cnt AS BIGINT) AS group_n FROM (
        |  SELECT doc_id, count(*) OVER (PARTITION BY text) AS cnt,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,
    "ngram_jaccard" -> TextOps.ngramJaccardSql,
    "dup_clusters" -> TextOps.dupClustersSql,
    "sample_stratified" -> TextOps.stratifiedSampleSql,
    "sample_weighted" -> TextOps.weightedSampleSql,
    "dsir_select" -> TextOps.dsirSelectSql,
    // 64-bit sketch hashing IS SQL-expressible after all: HUGEINT limb
    // arithmetic reproduces mix64/FNV-1a/SimHash bit-exactly (SqlHash)
    "doc_fingerprint" -> TextOps.docFingerprintSql,
    "dedup_simhash" -> TextOps.dedupSimHashSql,
    "dedup_minhash" -> TextOps.dedupMinHashSql,
    "dedup_winnow" -> TextOps.dedupWinnowSql,
    "lang_id" -> TextOps.langIdSql,
    "lang_id_ngram" -> TextOps.langIdNgramSql,
    "lang_id_wide" -> TextOps.langIdNgramWideSql,
    "quality_score" -> TextOps.qualityScoreSql,
    "quality_repetition" -> TextOps.qualityRepetitionSql,
    "pii_scrub" -> TextOps.piiScrubSql,
    "url_dedup" -> TextOps.urlDedupSql,
    "line_dedup" -> TextOps.lineDedupSql,
    "dedup_substr" -> TextOps.dedupSubstrSql,
    "domain_mix" -> TextOps.domainMixSql,
    "token_count" -> TextOps.tokenCountSql,
    "hll_distinct" -> TextOps.hllDistinctSql,
    "cms_topk" -> TextOps.cmsTopkSql,
    "phrase_search" -> TextOps.phraseSearchSql,
    "zipf_fit" -> TextOps.zipfFitSql,
    "ngram_counts" -> TextOps.ngramCountsSql,
    "bm25_topk" -> TextOps.bm25Sql,
    "keywords_tfidf" -> TextOps.keywordsTfIdfSql,
    "lm_perplexity" -> TextOps.lmPerplexitySql,
    "decontaminate" -> TextOps.decontaminateSql,
    "corpus_curate" -> TextOps.curateSql,
    "ann_cosine" -> Ann.bruteForceTopKSql(50, 5),
    // full mirror: integer hyperplane sign test + SQL-side mix64 planes
    "ann_lsh" -> Ann.lshTopKSql(50, 5),
    "ann_lsh_adaptive" -> Ann.lshTopKAdaptiveSql(50, 5),
    "ann_pq" -> Ann.pqTopKSql(50, 5),
    "ann_ivf" -> Ann.ivfTopKSql(50, 5),
    "ann_ivf_trained" -> Ann.ivfTopKTrainedSql(50, 5),
    "dedup_embed" -> Ann.dedupEmbedSql,
    "embed_kmeans" -> Ann.kmeansAssignSql,
    "proto_prune" -> Ann.protoPruneSql,
    "semantic_dedup" -> Ann.semanticDedupSql,
    "mm_decode" -> Multimodal.decodeMetaSql,
    "mm_frames" -> Multimodal.frameSampleSql,
    "mm_decode_jpeg" -> Multimodal.decodeJpegSql,
    "mm_frames_gif" -> Multimodal.frameSampleGifSql,
    "mm_features" -> Multimodal.featuresSql,
    "mm_resize" -> Multimodal.resizeSql,
    "mm_audio" -> Multimodal.decodeAudioSql,
    "window_topk" ->
      """SELECT user_id, event_id, value, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
        |  FROM events) WHERE rank <= 3""".stripMargin,
  )
}
